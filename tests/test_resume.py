"""Resume decision of the extraction job (``plans.manifest.resume_partitions``)
and the job's side effects: a shrunk input re-runs its partition (grown
inputs: test_scale_guards), legacy manifests are accepted, a no-op resume writes nothing,
a broken manifest raises instead of passing for absent, and the caller's
session conf is left alone."""

import os

import pytest
from pyspark.sql import functions as F

from ragflow_spark.operators.extract import run_extraction_job
from ragflow_spark.plans.manifest import (
    read_manifest,
    resume_partitions,
)
from ragflow_spark.plans.partitioning import with_partition_id
from ragflow_spark.sources import pages as pages_src

P = 8


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_src.generate_pages_df(spark, 24, parallelism=2).cache()
    yield df
    df.unpersist()


def _staged(pages):
    return with_partition_id(pages.select("url", "html"), P)


def _counts(pages) -> dict[int, int]:
    return {r.partition_id: r.n for r in _staged(pages).groupBy(
        "partition_id").agg(F.countDistinct("url").alias("n")).collect()}


def _manifest(spark, rows, with_modulus=True):
    schema = "partition_id int, doc_count long, status string, attempt int"
    if with_modulus:
        schema += ", num_partitions int"
    return spark.createDataFrame(rows, schema)


def _listing(path) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def test_no_manifest_processes_every_partition_with_input(pages):
    assert resume_partitions(_staged(pages), None, P) == sorted(_counts(pages))


def test_latest_done_count_decides(spark, pages):
    counts = _counts(pages)
    pid, n = sorted(counts.items())[0]
    other = sorted(counts)[1]
    rows = [
        # pid: an older attempt recorded a different count; the latest
        # done row matches the input -> skip
        (pid, n + 5, "done", 1, P), (pid, n, "done", 2, P),
        # other: the latest done row is stale -> re-run; a newer non-done
        # row does not count
        (other, counts[other], "done", 1, P),
        (other, counts[other] + 1, "done", 2, P),
        (other, counts[other], "running", 3, P),
    ]
    todo = resume_partitions(_staged(pages), _manifest(spark, rows), P)
    assert pid not in todo and other in todo
    assert todo == sorted(set(counts) - {pid})


@pytest.mark.parametrize("legacy", ["no_column", "minus_one", "null"])
def test_legacy_manifest_rows_are_accepted(spark, pages, legacy):
    counts = _counts(pages)
    if legacy == "no_column":
        m = _manifest(spark, [(k, v, "done", 1) for k, v in counts.items()],
                      with_modulus=False)
    else:
        mod = -1 if legacy == "minus_one" else None
        m = _manifest(spark,
                      [(k, v, "done", 1, mod) for k, v in counts.items()])
    assert resume_partitions(_staged(pages), m, P) == []


def test_modulus_mismatch_raises(spark, pages):
    m = _manifest(spark, [(0, 1, "done", 1, P), (1, 1, "done", 1, 16)])
    with pytest.raises(ValueError, match=r"num_partitions=\[16\]"):
        resume_partitions(_staged(pages), m, P)


def test_shrunk_input_reruns_partition_and_drops_removed_url(
        spark, pages, tmpdir_path):
    out = os.path.join(tmpdir_path, "chunks")
    man = os.path.join(tmpdir_path, "manifest")
    run_extraction_job(pages, out, man, num_partitions=P)
    counts = _counts(pages)
    pid = next(k for k, v in sorted(counts.items()) if v >= 2)
    victim = (_staged(pages).filter(F.col("partition_id") == pid)
              .orderBy("url").first().url)
    shrunk = pages.filter(F.col("url") != victim)

    run_extraction_job(shrunk, out, man, num_partitions=P, attempt=2)
    urls = {r.url for r in spark.read.parquet(out).select("url").distinct()
            .collect()}
    assert victim not in urls
    assert urls == {r.url for r in shrunk.select("url").collect()}
    att2 = read_manifest(spark, man).filter("attempt = 2").collect()
    assert [(r.partition_id, r.doc_count) for r in att2] == [
        (pid, counts[pid] - 1)]


def test_noop_resume_writes_nothing(spark, pages, tmpdir_path):
    out = os.path.join(tmpdir_path, "chunks")
    man = os.path.join(tmpdir_path, "manifest")
    run_extraction_job(pages, out, man, num_partitions=P)
    before = (_listing(out), _listing(man))
    run_extraction_job(pages, out, man, num_partitions=P, attempt=2)
    # no chunk partition rewritten, no _SUCCESS marker, no manifest append
    assert (_listing(out), _listing(man)) == before


def test_session_overwrite_mode_is_left_alone(spark, pages, tmpdir_path):
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    out = os.path.join(tmpdir_path, "chunks")
    run_extraction_job(pages, out, os.path.join(tmpdir_path, "manifest"),
                       num_partitions=P)
    assert spark.conf.get(key) == mode
    # the caller's partitioned overwrite still replaces the whole path
    assert mode.upper() == "STATIC"
    other = os.path.join(tmpdir_path, "other")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string") \
        .write.partitionBy("k").parquet(other)
    spark.createDataFrame([(3, "c")], "k int, v string") \
        .write.mode("overwrite").partitionBy("k").parquet(other)
    assert [r.k for r in spark.read.parquet(other).collect()] == [3]


def test_read_manifest_missing_or_empty_is_none(spark, tmpdir_path):
    assert read_manifest(spark, os.path.join(tmpdir_path, "absent")) is None
    empty = os.path.join(tmpdir_path, "empty")
    os.makedirs(empty)
    open(os.path.join(empty, "_SUCCESS"), "w").close()
    assert read_manifest(spark, empty) is None


def test_corrupt_manifest_raises_instead_of_reparsing(spark, pages,
                                                      tmpdir_path):
    bad = os.path.join(tmpdir_path, "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        read_manifest(spark, bad)

    # a corrupt file next to good manifest files fails the resume decision
    # before any chunk partition is rewritten
    out = os.path.join(tmpdir_path, "chunks")
    man = os.path.join(tmpdir_path, "manifest")
    run_extraction_job(pages, out, man, num_partitions=P)
    with open(os.path.join(man, "part-zzzzz.parquet"), "wb") as f:
        f.write(b"not a parquet file either")
    before = _listing(out)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_extraction_job(pages, out, man, num_partitions=P, attempt=2)
    assert _listing(out) == before
