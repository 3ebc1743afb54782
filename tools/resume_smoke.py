"""Resume smoke at scale (SURVEY §5.4): prove the manifest/resume protocol
at 1M docs with wall times for every leg, and crash-consistency under a
real SIGKILL.

Legs:
A. single-shot: run_extraction_job over the full corpus -> digest.
B. partial+resume: attempt 1 over the docs hashing into the first half of
   the partition space (the state a killed job leaves after those
   partitions manifested), attempt 2 over the FULL corpus -> the
   driver-side partition list (resume_partitions) must leave out the
   manifested partitions; final digest == A.
C. crash: a subprocess runs the full job and is SIGKILLed mid-extraction
   (whole process group). The resume run afterwards must converge to
   digest == A regardless of what the kill left behind (the driver commit
   replaces whole partitions, leftover staging files are deleted, and
   chunk ids are deterministic = idempotent).

Prints one JSON line; rewrites the '## Resume smoke' section of
BENCH/BASELINE.md.

Usage: python tools/resume_smoke.py [n_docs] [cores] [partitions]
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def digest(spark, path: str):
    from pyspark.sql import functions as F

    t = spark.read.parquet(path)
    row = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.conv(
            F.expr(
                "bit_xor(xxhash64(concat(url, '|', cast(chunk_idx as string),"
                " '|', content_hash)))"
            ).cast("string"), 10, 16,
        ).alias("h"),
    ).first()
    return int(row.n), row.h


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1 << 20
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    parts = int(sys.argv[3]) if len(sys.argv) > 3 else 256

    from pyspark.sql import functions as F

    from ragflow_spark.operators.extract import run_extraction_job
    from ragflow_spark.plans.manifest import read_manifest
    from ragflow_spark.session import get_spark
    from ragflow_spark.sources.pages import write_pages

    spark = get_spark(app_name="resume_smoke", master=f"local[{cores}]",
                      shuffle_partitions=parts,
                      # 32 threads × array-heavy join buffers: the 8g default heap is
                      # borderline at 1M docs (observed GCLocker OOM in the verify join)
                      extra_conf={"spark.driver.memory": "24g"})
    spark.sparkContext.setLogLevel("ERROR")

    from ragflow_spark.sources.pages import corpus_cache_name

    corpus = os.path.join(REPO, ".cache", corpus_cache_name("web", n_docs))
    if not os.path.exists(corpus):
        write_pages(spark, n_docs, corpus, parallelism=4 * cores,
                    profile="web")
    pages = spark.read.parquet(corpus)
    CFG = {"ocr_backend": "fake"}  # web rev-2 scanned slice
    base = os.path.join(REPO, ".cache", "resume_smoke")
    shutil.rmtree(base, ignore_errors=True)
    result: dict = {"n_docs": n_docs, "cores": cores, "partitions": parts}

    def leg(tag):
        return (os.path.join(base, tag, "chunks"),
                os.path.join(base, tag, "manifest"))

    # ---- A: single shot
    out_a, man_a = leg("single")
    t0 = time.perf_counter()
    run_extraction_job(pages, out_a, man_a, num_partitions=parts,
                       template_cfg=CFG)
    result["single_sec"] = round(time.perf_counter() - t0, 1)
    n_a, h_a = digest(spark, out_a)
    result["single_rows"], result["single_digest"] = n_a, h_a

    # ---- B: partial attempt + resumed attempt
    out_b, man_b = leg("resumed")
    half = pages.filter(
        F.pmod(F.xxhash64("url"), F.lit(parts)) < parts // 2
    )
    t0 = time.perf_counter()
    run_extraction_job(half, out_b, man_b, num_partitions=parts, attempt=1,
                       template_cfg=CFG)
    result["partial_sec"] = round(time.perf_counter() - t0, 1)
    man = read_manifest(spark, man_b)
    result["partial_partitions_done"] = man.select(
        "partition_id").distinct().count()

    t0 = time.perf_counter()
    run_extraction_job(pages, out_b, man_b, num_partitions=parts, attempt=2,
                       template_cfg=CFG)
    result["resume_sec"] = round(time.perf_counter() - t0, 1)
    man = read_manifest(spark, man_b)
    by_attempt = {
        int(r.attempt): int(r.n)
        for r in man.groupBy("attempt").agg(
            F.countDistinct("partition_id").alias("n")).collect()
    }
    result["partitions_by_attempt"] = by_attempt
    n_b, h_b = digest(spark, out_b)
    result["resumed_rows"], result["resumed_digest"] = n_b, h_b
    result["resume_match"] = (n_a, h_a) == (n_b, h_b)
    # the resumed attempt must not have re-manifested attempt-1 partitions
    result["resume_skipped_ok"] = (
        by_attempt.get(1, 0) == parts // 2
        and by_attempt.get(2, 0) == parts - parts // 2
    )

    # ---- C: SIGKILL mid-run, then resume
    out_c, man_c = leg("crashed")
    driver = (
        "import sys; sys.path.insert(0, {repo!r})\n"
        "from ragflow_spark.session import get_spark\n"
        "from ragflow_spark.operators.extract import run_extraction_job\n"
        "spark = get_spark(app_name='resume_crash', master='local[{cores}]',"
        " shuffle_partitions={parts})\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "pages = spark.read.parquet({corpus!r})\n"
        "run_extraction_job(pages, {out!r}, {man!r}, num_partitions={parts},"
        " template_cfg={{'ocr_backend': 'fake'}})\n"
    ).format(repo=REPO, cores=cores, parts=parts, corpus=corpus,
             out=out_c, man=man_c)
    kill_after = max(20.0, result["single_sec"] * 0.5)
    t0 = time.perf_counter()
    proc = subprocess.Popen([sys.executable, "-c", driver],
                            stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL,
                            start_new_session=True)
    time.sleep(kill_after)
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    result["killed_after_sec"] = round(time.perf_counter() - t0, 1)
    staging = os.path.join(out_c, "_staging-*")
    result["crash_staging_dirs_at_kill"] = len(glob.glob(staging))
    man = read_manifest(spark, man_c)
    result["crash_partitions_manifested"] = (
        0 if man is None else man.select("partition_id").distinct().count()
    )
    t0 = time.perf_counter()
    run_extraction_job(pages, out_c, man_c, num_partitions=parts, attempt=2,
                       template_cfg=CFG)
    result["crash_resume_sec"] = round(time.perf_counter() - t0, 1)
    n_c, h_c = digest(spark, out_c)
    result["crash_rows"], result["crash_digest"] = n_c, h_c
    result["crash_match"] = (n_a, h_a) == (n_c, h_c)
    result["crash_staging_dirs_left"] = len(glob.glob(staging))

    result["ts"] = time.strftime("%Y-%m-%d %H:%M:%S")
    print(json.dumps(result))

    ok = result["resume_match"] and result["crash_match"] \
        and result["resume_skipped_ok"] \
        and result["crash_staging_dirs_left"] == 0
    md = f"""## Resume smoke ({n_docs:,} docs, {parts} partitions, local[{cores}])

Measured {result['ts']}; digest = count + XOR of xxhash64(url, chunk_idx,
content_hash) over the final chunk table.

| leg | wall sec | outcome |
|---|---|---|
| A single-shot full job | {result['single_sec']} | {result['single_rows']:,} rows, digest {result['single_digest']} |
| B1 partial attempt ({parts // 2}/{parts} partitions' docs) | {result['partial_sec']} | {result['partial_partitions_done']} partitions manifested |
| B2 resume over full corpus | {result['resume_sec']} | attempt 2 manifested {result['partitions_by_attempt'].get(2, 0)} partitions (attempt 1's {result['partitions_by_attempt'].get(1, 0)} SKIPPED); digest match: {result['resume_match']} |
| C SIGKILL after {result['killed_after_sec']} s (whole process group) | — | {result['crash_partitions_manifested']} partitions manifested, {result['crash_staging_dirs_at_kill']} staging dirs left at kill |
| C resume after crash | {result['crash_resume_sec']} | digest match: {result['crash_match']}; staging dirs left: {result['crash_staging_dirs_left']} |

Resume leg B2 cost {result['resume_sec']} s vs {result['single_sec']} s
single-shot — the manifested half is never reprocessed (count-verified
driver-side partition list, `plans/manifest.py:resume_partitions`). The crash leg proves
convergence is independent of what a SIGKILL leaves behind: deterministic
chunk ids + whole-partition replacement at commit make the retry idempotent.
**PASS: {ok}**
"""
    out_md = os.path.join(REPO, "BENCH", "BASELINE.md")
    if os.path.exists(out_md):
        prev = open(out_md).read()
        pat = re.compile(r"## Resume smoke.*?(?=\n## |\Z)", re.S)
        if pat.search(prev):
            prev = pat.sub(md.rstrip() + "\n", prev, count=1)
        else:
            prev = prev.rstrip() + "\n\n" + md
        with open(out_md, "w") as f:
            f.write(prev)
        print("updated BENCH/BASELINE.md")
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
