"""The manifest ``run_extraction_job`` computes from the chunk files its
parse tasks report (per-file summaries, summed per partition on the
driver) must equal the reference aggregate ``build_manifest`` over the
chunk table it committed, row for row — also when a task fails and
retries, or a page has no url; the XXH64 twin behind its content hash
must equal Spark's ``xxhash64``; and the job must run no pre-scan, no
readback and no Spark job for the manifest."""

import hashlib
import json
import os
import subprocess
import sys
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ragflow_spark.operators.extract import run_extraction_job
from ragflow_spark.plans.manifest import build_manifest, spark_xxhash64
from ragflow_spark.plans.partitioning import GIANT_BYTES, with_partition_id
from ragflow_spark.sources import pages as pages_src

P = 8
OCR_CFG = {"ocr_backend": "fake"}
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pages(spark, docs):
    return spark.createDataFrame(pd.DataFrame(docs), pages_src.PAGES_SCHEMA)


def _manifested(spark, man, attempt):
    return sorted(tuple(r) for r in spark.read.parquet(man)
                  .filter(F.col("attempt") == attempt).drop("ts").collect())


def _reference(spark, out, pids, attempt):
    written = spark.read.parquet(out).filter(F.col("partition_id").isin(pids))
    return sorted(tuple(r) for r in build_manifest(
        written, attempt, P).drop("ts").collect())


def _check_fresh(spark, pages, tmp, cfg=None):
    out, man = os.path.join(tmp, "chunks"), os.path.join(tmp, "manifest")
    run_extraction_job(pages, out, man, num_partitions=P, template_cfg=cfg)
    got = _manifested(spark, man, 1)
    pids = sorted({r.partition_id for r in spark.read.parquet(out)
                   .select("partition_id").distinct().collect()})
    assert [r[0] for r in got] == pids
    assert got == _reference(spark, out, pids, 1)
    return got


def test_spark_xxhash64_twin_matches_spark(spark):
    """Every tail path of XXH64 (lengths 0-100 cover the 32-byte stripes,
    8- and 4-byte words and single bytes), multi-byte UTF-8, and the
    32-char md5 hex chunk ids the manifest actually hashes."""
    vals = ["".join(chr(33 + (i * 7 + j) % 90) for j in range(i))
            for i in range(101)]
    vals += ["数据查询引擎", "é", "naïve café — ünïcödé ✓", "🙂" * 9,
             "a\x00b", "\x7f\x80"]
    vals += [hashlib.md5(str(i).encode()).hexdigest() for i in range(64)]
    rows = spark.createDataFrame([(v,) for v in vals], "v string").select(
        "v", F.xxhash64("v").alias("h")).collect()
    assert len(rows) == len(vals)
    assert [(r.v, spark_xxhash64(r.v.encode("utf-8"))) for r in rows] == \
        [(r.v, r.h) for r in rows]


@pytest.mark.parametrize("profile", ["web", "mixed"])
def test_manifest_matches_reference_per_profile(spark, tmpdir_path,
                                                profile):
    pages = pages_src.generate_pages_df(spark, 44, parallelism=2,
                                        profile=profile)
    got = _check_fresh(spark, pages, tmpdir_path, OCR_CFG)
    assert sum(r[1] for r in got) == 44


def test_manifest_matches_reference_with_giants(spark, tmpdir_path):
    # doc 1000 is a 1-2 MB page, doc 13 a 100-400 KB one: the giant lane
    docs = [pages_src.make_doc(i, "web") for i in (1000, 13, *range(10))]
    assert len(docs[0]["html"]) >= GIANT_BYTES
    _check_fresh(spark, _pages(spark, docs), tmpdir_path)


def test_manifest_matches_reference_with_error_and_empty_rows(
        spark, tmpdir_path):
    def doc(name, blob, fmt):
        return {"url": f"https://x/{name}", "warc_ts": pages_src.EPOCH,
                "html": blob, "text": None, "lang": "English",
                "parser": "naive", "fmt": fmt}

    docs = [doc("bad.json", b"{not valid json", "json"),
            doc("empty.txt", b"", "txt"),
            doc("null.txt", None, "txt"),
            doc("unknown.bin", b"\x00\x01\x02", "exe"),
            doc("good.txt", b"plain fine text.", "txt")]
    _check_fresh(spark, _pages(spark, docs), tmpdir_path)
    rows = spark.read.parquet(os.path.join(tmpdir_path, "chunks")).collect()
    assert any(r.error is not None and r.error.startswith("EmptyDocument")
               for r in rows)
    assert any(r.error is not None and not r.error.startswith("Empty")
               for r in rows)


def test_manifest_matches_reference_with_duplicate_url(spark, tmpdir_path):
    docs = [pages_src.make_doc(i) for i in range(12)]
    twin = dict(docs[3], html=docs[5]["html"], fmt=docs[5]["fmt"],
                parser=docs[5]["parser"])
    got = _check_fresh(spark, _pages(spark, docs + [docs[3], twin]),
                       tmpdir_path)
    assert sum(r[1] for r in got) == 12


def test_null_url_is_one_error_row(spark, tmpdir_path):
    """A page without a url shares a batch with good pages: the task
    finishes, the page is one error row, and it counts in no doc_count
    (``countDistinct`` skips nulls, like the input count of a resume,
    so rerunning the job is a no-op)."""
    docs = [pages_src.make_doc(i) for i in range(40)]
    docs.insert(3, dict(docs[0], url=None))
    staged = with_partition_id(_pages(spark, docs), P).toPandas()
    null_pid = staged[staged.url.isna()].partition_id.iloc[0]
    assert (staged.partition_id == null_pid).sum() > 1
    pages = _pages(spark, docs)
    got = _check_fresh(spark, pages, tmpdir_path)
    assert sum(r[1] for r in got) == 40
    out = os.path.join(tmpdir_path, "chunks")
    bad = spark.read.parquet(out).filter(F.col("url").isNull()).collect()
    assert [(r.chunk_idx, r.content_hash, r.error) for r in bad] == [
        (-1, "", "NullUrl: page has no url")]
    before = sorted(os.listdir(out))
    run_extraction_job(pages, out, os.path.join(tmpdir_path, "manifest"),
                       num_partitions=P, attempt=2)
    assert sorted(os.listdir(out)) == before


def test_extract_batches_null_url_keeps_columns_aligned():
    from ragflow_spark.operators.extract import _extract_batches

    docs = [pages_src.make_doc(i) for i in range(2)]
    docs[1]["url"] = None
    batch = pd.DataFrame([dict(d, partition_id=0) for d in docs])
    (out,) = list(_extract_batches([batch]))
    assert out["url"].isna().sum() == 1
    assert out[out["url"].isna()]["error"].tolist() == [
        "NullUrl: page has no url"]
    assert out[out["url"].notna()]["error"].isna().all()


def test_manifest_matches_reference_on_partial_resume(spark, tmpdir_path):
    """Two new urls re-run at most 2 of 8 partitions, so each splits into
    at least 4 salted sub-buckets: several tasks report one partition."""
    out, man = (os.path.join(tmpdir_path, "chunks"),
                os.path.join(tmpdir_path, "manifest"))
    docs = [pages_src.make_doc(i) for i in range(42)]
    run_extraction_job(_pages(spark, docs[:40]), out, man, num_partitions=P)
    grown = _pages(spark, docs)
    run_extraction_job(grown, out, man, num_partitions=P, attempt=2)
    drifted = sorted({r.partition_id for r in with_partition_id(
        _pages(spark, docs[40:]), P).collect()})
    got = _manifested(spark, man, 2)
    assert [r[0] for r in got] == drifted
    assert got == _reference(spark, out, drifted, 2)


_FLAKY_JOB = """
import glob, json, os, re, sys

from ragflow_spark.operators import extract
from ragflow_spark.plans.manifest import build_manifest
from ragflow_spark.session import get_spark
from ragflow_spark.sources import pages as pages_src

tmp, marker = sys.argv[1], sys.argv[2]
spark = get_spark(master="local[2,2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("OFF")
orig = extract._extract_batches
orig_commit = extract._commit
out, man = os.path.join(tmp, "chunks"), os.path.join(tmp, "manifest")
name = re.compile(r"part-(\\d+)-(\\d+)-")
staged = []


def flaky(batches, *args):
    # the first task to get here after emitting a batch fails, once
    for out in orig(batches, *args):
        yield out
        try:
            os.remove(marker)
        except FileNotFoundError:
            continue
        raise RuntimeError("injected task failure")


def commit(*args):
    # the staged files of every task attempt, before the commit
    staged.extend(glob.glob(os.path.join(out, "_staging-*", "*", "*")))
    return orig_commit(*args)


def attempts(paths):
    return {tuple(map(int, name.match(os.path.basename(p)).groups()))
            for p in paths}


def multiset(df):
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                             default=str) for r in df.collect())


extract._extract_batches = flaky
extract._commit = commit
pages = pages_src.generate_pages_df(spark, 24, parallelism=2)
extract.run_extraction_job(pages, out, man, num_partitions=4)
chunks = spark.read.parquet(out)
got = sorted(tuple(r) for r in spark.read.parquet(man).drop("ts").collect())
ref = sorted(tuple(r) for r in build_manifest(chunks, 1, 4).drop("ts")
             .collect())
tried = attempts(staged)
failed = {(t, 0) for t, a in tried if a == 1}
committed = attempts(glob.glob(os.path.join(out, "partition_id=*", "*")))
print(json.dumps({
    "failed_once": not os.path.exists(marker),
    "failed_attempt_staged": bool(failed) and failed <= tried,
    "failed_attempt_committed": bool(failed & committed),
    "staging_left": glob.glob(os.path.join(out, "_staging-*")),
    "rows_equal": multiset(chunks) == multiset(
        extract.extract_chunks(pages, num_partitions=4)),
    "equal": got == ref, "docs": sum(r[1] for r in got)}))
spark.stop()
"""


def test_manifest_exact_when_a_task_fails_and_retries(tmpdir_path):
    """local[2,2] allows one retry per task; one task raises after its
    first output batch went into its staged chunk file. The failed
    attempt's file is neither committed nor counted: the chunk rows equal
    ``extract_chunks``' multiset, the manifest equals ``build_manifest``
    over them, and no staging dir is left."""
    script = os.path.join(tmpdir_path, "flaky_job.py")
    with open(script, "w") as f:
        f.write(_FLAKY_JOB)
    marker = os.path.join(tmpdir_path, "fail-once")
    open(marker, "w").close()
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, script, tmpdir_path, marker],
                          cwd=tmpdir_path, env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res == {"failed_once": True, "failed_attempt_staged": True,
                   "failed_attempt_committed": False, "staging_left": [],
                   "rows_equal": True, "equal": True, "docs": 24}


def _job_count(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"extract-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_extraction_job_counts(spark, tmpdir_path):
    """A fresh run is the parse job (its shuffle stage and its result
    stage, a collect of the written files): no input count, no chunk
    readback, no Spark write and no manifest job. A resume adds the
    manifest's schema read and collect and the input's per-partition
    count (three jobs under AQE)."""
    out, man = (os.path.join(tmpdir_path, "chunks"),
                os.path.join(tmpdir_path, "manifest"))
    first = pages_src.generate_pages_df(spark, 24, parallelism=2).cache()
    grown = pages_src.generate_pages_df(spark, 32, parallelism=2).cache()
    first.count(), grown.count()
    try:
        fresh = _job_count(spark, lambda: run_extraction_job(
            first, out, man, num_partitions=P))
        resume = _job_count(spark, lambda: run_extraction_job(
            grown, out, man, num_partitions=P, attempt=2))
    finally:
        first.unpersist()
        grown.unpersist()
    assert (fresh, resume) == (2, 7)
