"""End-to-end Spark pipeline tests: golden parity, determinism across
parallelism, skew partitioning, manifest/resume (SURVEY.md §5 items 1,3,4)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from ragflow_spark.operators.extract import extract_chunks, run_extraction_job
from ragflow_spark.plans.manifest import build_manifest, read_manifest
from ragflow_spark.plans.partitioning import with_partition_id
from ragflow_spark.sources import pages as pages_src

N_DOCS = 160


@pytest.fixture(scope="module")
def pages_df(spark):
    df = pages_src.generate_pages_df(spark, N_DOCS, parallelism=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def chunks_df(spark, pages_df):
    df = extract_chunks(pages_df, num_partitions=8).cache()
    df.count()
    return df


def _golden_chunks(doc_id: int):
    """Goldens straight from the parity core, independent of Spark."""
    from ragflow_spark.core.templates import run_template

    doc = pages_src.make_doc(doc_id)
    return doc, run_template(doc["parser"], doc["html"], doc["fmt"], doc["lang"])


def test_no_errors_and_coverage(chunks_df, pages_df):
    assert chunks_df.filter("error is not null").count() == 0
    # every non-empty doc yields at least one chunk
    urls_in = {r.url for r in pages_df.select("url").collect()}
    urls_out = {r.url for r in chunks_df.select("url").distinct().collect()}
    missing = urls_in - urls_out
    assert not missing, f"docs with no chunks: {sorted(missing)[:5]}"


def test_byte_identical_vs_golden(chunks_df):
    """The BASELINE.json gate: per-url chunk text is byte-identical to the
    parity-core golden, and chunk order/indices match."""
    got = {}
    for r in chunks_df.select("url", "chunk_idx", "chunk_text", "tag_text").collect():
        got.setdefault(r.url, {})[r.chunk_idx] = (r.chunk_text, r.tag_text)
    mismatches = []
    for doc_id in range(N_DOCS):
        doc, golden = _golden_chunks(doc_id)
        g = got.get(doc["url"], {})
        if len(g) != len(golden):
            mismatches.append((doc["url"], "count", len(g), len(golden)))
            continue
        for ck in golden:
            spark_text, spark_tag = g[ck.chunk_idx]
            spark_tag = spark_tag if spark_tag is not None else spark_text
            if spark_text.encode() != ck.chunk_text.encode() or spark_tag != ck.tag_text:
                mismatches.append((doc["url"], ck.chunk_idx, "bytes"))
    assert not mismatches, mismatches[:5]


def test_determinism_across_parallelism(spark, pages_df):
    """Same input ⇒ same output set at different partition counts
    (the local[8]/local[32] invariance proxy)."""
    a = extract_chunks(pages_df, num_partitions=3)
    b = extract_chunks(pages_df, num_partitions=13)
    def h(df):
        return df.select(F.sha2(F.concat_ws(
            "|", "url", "chunk_idx",
            F.coalesce("tag_text", "chunk_text")), 256).alias("h"))
    ha, hb = h(a), h(b)
    assert ha.exceptAll(hb).count() == 0
    assert hb.exceptAll(ha).count() == 0


def test_partition_id_stable_and_bounded(chunks_df):
    rows = chunks_df.select("partition_id").distinct().collect()
    assert all(0 <= r.partition_id < 8 for r in rows)


def test_giant_docs_scatter(spark):
    """Size-bucketed repartition: giants spread across partitions instead of
    hashing into one hot task."""
    from ragflow_spark.plans.partitioning import partition_for_extract

    big = with_partition_id(spark.range(0, 32).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.lit(b"x" * 300_000).alias("html"),
    ), 8)
    parts = (
        partition_for_extract(big, 8)
        .withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    counts = [r["count"] for r in parts]
    assert max(counts) <= 12  # 32 giants over 8 partitions, no pileup


def _files_per_partition(path) -> dict[int, list[str]]:
    out = {}
    for d in glob.glob(os.path.join(path, "partition_id=*")):
        pid = int(d.rsplit("=", 1)[1])
        out[pid] = sorted(glob.glob(os.path.join(d, "*.parquet")))
    return out


def _same_rows(a, b):
    b = b.select(*a.columns)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_write_layout_one_file_per_partition_plus_giant(
        spark, pages_df, tmpdir_path):
    """The task that parses a doc owns its partition_id, so the sink
    writes one file per partition directory; the one giant parses on its
    own lane and may add one file to its partition."""
    from ragflow_spark.plans.partitioning import GIANT_BYTES

    giant_doc = pages_src.make_doc(1000)
    assert len(giant_doc["html"]) >= GIANT_BYTES
    giant = spark.createDataFrame([giant_doc], pages_df.schema)
    pages = pages_df.unionByName(giant)
    out = os.path.join(tmpdir_path, "chunks")
    run_extraction_job(pages, out, os.path.join(tmpdir_path, "manifest"),
                       num_partitions=8)
    giant_pid = with_partition_id(giant, 8).first().partition_id
    files = _files_per_partition(out)
    assert sorted(files) == list(range(8))
    assert all(len(fs) == 1 for pid, fs in files.items() if pid != giant_pid)
    assert 1 <= len(files[giant_pid]) <= 2
    _same_rows(spark.read.parquet(out),
               extract_chunks(pages, num_partitions=8))


def test_partial_resume_spreads_subbuckets_keeps_untouched_files(
        spark, pages_df, tmpdir_path):
    """Two of eight partitions drift: the resume splits each over
    8 // 2 = 4 sub-bucket tasks (every task gets rows, each still writes
    one directory) and leaves the other directories' files untouched."""
    from ragflow_spark.plans.manifest import resume_partitions
    from ragflow_spark.plans.partitioning import partition_for_extract

    staged = with_partition_id(pages_df, 8)
    by_pid = {}
    for r in staged.select("url", "partition_id").orderBy("url").collect():
        by_pid.setdefault(r.partition_id, r.url)
    drifted = sorted(by_pid)[2:4]
    late = [by_pid[p] for p in drifted]
    out = os.path.join(tmpdir_path, "chunks")
    man = os.path.join(tmpdir_path, "manifest")
    run_extraction_job(pages_df.filter(~F.col("url").isin(late)), out, man,
                       num_partitions=8)
    before = _files_per_partition(out)
    assert sorted(before) == list(range(8))
    assert all(len(fs) == 1 for fs in before.values())  # no giants here
    mtimes = {f: os.stat(f).st_mtime_ns for fs in before.values() for f in fs}

    todo = resume_partitions(staged, read_manifest(spark, man), 8)
    assert todo == drifted
    tasks = (partition_for_extract(staged.filter(F.col("partition_id").isin(
        todo)), 8, todo).select(F.spark_partition_id()).distinct().count())
    assert tasks == 8

    run_extraction_job(pages_df, out, man, num_partitions=8, attempt=2)
    after = _files_per_partition(out)
    for pid in set(range(8)) - set(drifted):
        assert after[pid] == before[pid]
        assert all(os.stat(f).st_mtime_ns == mtimes[f] for f in after[pid])
    for pid in drifted:
        assert 1 <= len(after[pid]) <= 4
        assert not set(after[pid]) & set(before[pid])
    _same_rows(spark.read.parquet(out),
               extract_chunks(pages_df, num_partitions=8))


def test_content_hash_is_deterministic_md5(chunks_df):
    import hashlib

    r = chunks_df.filter("chunk_idx >= 0").select("url", "chunk_text", "content_hash").first()
    expect = hashlib.md5((r.chunk_text + r.url).encode()).hexdigest()
    assert r.content_hash == expect


def test_manifest_and_resume(spark, pages_df, tmpdir_path):
    out = os.path.join(tmpdir_path, "chunks")
    man = os.path.join(tmpdir_path, "manifest")

    # simulate a killed job: process only partitions 0-3, manifest them
    staged = with_partition_id(pages_df, 8)
    first_half = staged.filter("partition_id < 4")
    partial = extract_chunks(first_half, num_partitions=8)
    # partial extraction recomputes partition ids — they match the staged ones
    partial.write.mode("overwrite").partitionBy("partition_id").parquet(out)
    build_manifest(spark.read.parquet(out)).write.parquet(man)

    # relaunch: full job with resume
    run_extraction_job(pages_df, out, man, num_partitions=8, attempt=2)

    final = spark.read.parquet(out)
    single_shot = extract_chunks(pages_df, num_partitions=8)
    # resumed result equals a single-shot run (set equality incl. tag text)
    d1 = final.select("url", "chunk_idx", F.coalesce("tag_text", "chunk_text").alias("t"))
    d2 = single_shot.select("url", "chunk_idx", F.coalesce("tag_text", "chunk_text").alias("t"))
    assert d1.exceptAll(d2).count() == 0
    assert d2.exceptAll(d1).count() == 0

    mf = read_manifest(spark, man)
    assert mf is not None
    # attempt-2 rows cover exactly the partitions not manifested in attempt 1
    att2 = {r.partition_id for r in mf.filter("attempt = 2").collect()}
    assert att2 == set(range(4, 8))


def test_manifest_content_hash_order_independent(spark, pages_df):
    c1 = extract_chunks(pages_df, num_partitions=8)
    m1 = {r.partition_id: r.content_hash for r in build_manifest(c1).collect()}
    c2 = extract_chunks(pages_df.orderBy(F.rand(7)), num_partitions=8)
    m2 = {r.partition_id: r.content_hash for r in build_manifest(c2).collect()}
    assert m1 == m2


def test_error_isolation(spark):
    """A malformed doc yields an error row, not a job failure."""
    import pandas as pd

    bad = spark.createDataFrame(
        pd.DataFrame({
            "url": ["https://x/bad.json", "https://x/good.txt"],
            "warc_ts": [pages_src.EPOCH] * 2,
            "html": [b"{not valid json", b"plain fine text."],
            "text": [None, None],
            "lang": ["English"] * 2,
            "parser": ["naive"] * 2,
            "fmt": ["json", "txt"],
        })
    )
    out = extract_chunks(bad, num_partitions=2)
    rows = {r.url: r for r in out.collect()}
    assert rows["https://x/bad.json"].error is not None
    assert rows["https://x/good.txt"].error is None


def test_extract_invariants_hold(spark):
    """The structural-oracle queries don't just cross-check engines — the
    invariant VALUES must hold: every staged doc appears, chunk ids are
    globally unique, span first-pages are monotone per url, manifest
    counts reconcile."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    both = qs["extract_invariants"](spark, "unused").toPandas()
    # chunks tier: m1=n_rows m2=n_chunks m3=n_chunk_ids m4=span violations
    inv = both[both["tier"] == "chunks"]
    assert len(inv) == 256  # every staged doc has >=1 row (even errors)
    assert int(inv["m4"].sum()) == 0
    ok = inv[inv["m2"] > 0]
    # within a doc every chunk id is distinct (+1 allowed for an error row
    # whose content_hash is empty)
    assert ((ok["m3"] - ok["m2"]).abs() <= 1).all()
    # manifest tier: m1=doc_count m2=chunk_count m3=bytes
    man = both[both["tier"] == "manifest"]
    assert int(man["m1"].sum()) == 256
    assert int(man["m2"].sum()) == int(inv["m1"].sum())
