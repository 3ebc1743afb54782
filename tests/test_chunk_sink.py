"""The chunk table ``run_extraction_job``'s parse tasks write and its
driver commits must read back exactly like the table Spark's own
``partitionBy`` writer made before: the same schema, the same
``warc_ts`` instants under any session time zone, and old Spark-written
partitions (and manifest files) next to task-written ones must read,
resume and verify as one table. Uncommitted staging files stay hidden
from readers and are removed by the next run that writes."""

import datetime as dt
import glob
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from ragflow_spark.operators.extract import (
    CHUNKS_SCHEMA,
    STAGING_PREFIX,
    extract_chunks,
    run_extraction_job,
)
from ragflow_spark.plans.manifest import MANIFEST_SCHEMA, build_manifest
from ragflow_spark.plans.partitioning import with_partition_id
from ragflow_spark.sources import pages as pages_src

P = 8


def _pages(spark, docs):
    return spark.createDataFrame(pd.DataFrame(docs), pages_src.PAGES_SCHEMA)


def _multiset(df):
    return sorted(
        repr(sorted(r.asDict(recursive=True).items())) for r in df.collect())


def _listing(path):
    return sorted(os.path.relpath(os.path.join(d, f), path)
                  for d, _s, fs in os.walk(path) for f in fs)


def _paths(tmp):
    return os.path.join(tmp, "chunks"), os.path.join(tmp, "manifest")


def test_read_back_schema_is_the_spark_partitioned_layout(spark,
                                                         tmpdir_path):
    pages = pages_src.generate_pages_df(spark, 24, parallelism=2)
    out, man = _paths(tmpdir_path)
    run_extraction_job(pages, out, man, num_partitions=P)
    chunks = DataType.fromDDL(CHUNKS_SCHEMA)
    expect = [f for f in chunks.fields if f.name != "partition_id"]
    expect.append(chunks["partition_id"])
    got = spark.read.parquet(out).schema
    assert got.fields == expect
    other = os.path.join(tmpdir_path, "spark_written")
    extract_chunks(pages, num_partitions=P).write \
        .partitionBy("partition_id").parquet(other)
    assert spark.read.parquet(other).schema == got
    assert spark.read.parquet(man).schema == DataType.fromDDL(
        MANIFEST_SCHEMA)


WARC_TS = [
    dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
    dt.datetime(2024, 7, 15, 12, 34, 56, 789012, tzinfo=dt.timezone.utc),
    # the 2024 spring-forward instant of the US Pacific zone
    dt.datetime(2024, 3, 10, 10, 0, 0, 1, tzinfo=dt.timezone.utc),
    dt.datetime(1999, 12, 31, 23, 59, 59, 999999, tzinfo=dt.timezone.utc),
    None,
]


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles",
                                "Asia/Kolkata"])
def test_warc_ts_round_trips_under_session_time_zone(spark, tmpdir_path,
                                                     tz):
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    docs = [dict(pages_src.make_doc(i), warc_ts=ts)
            for i, ts in enumerate(WARC_TS)]
    spark.conf.set(key, tz)
    try:
        pages = _pages(spark, docs)
        out, man = _paths(tmpdir_path)
        run_extraction_job(pages, out, man, num_partitions=P)
        got = {(r.url, r.us) for r in spark.read.parquet(out).select(
            "url", F.unix_micros("warc_ts").alias("us")).distinct()
            .collect()}
        want = {(r.url, r.us) for r in pages.select(
            "url", F.unix_micros("warc_ts").alias("us")).collect()}
        assert got == want
        assert sum(us is None for _u, us in got) == 1
    finally:
        spark.conf.set(key, prev)


def _spark_written_history(spark, pages, out, man):
    """The layout the Spark writer left: chunks by ``partitionBy``,
    manifest rows by a Spark append."""
    extract_chunks(pages, num_partitions=P).write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("partition_id").parquet(out)
    build_manifest(spark.read.parquet(out), 1, P).write.mode("append") \
        .parquet(man)


def test_spark_written_and_task_written_files_form_one_table(
        spark, tmpdir_path):
    docs = [pages_src.make_doc(i, "mixed") for i in range(40)]
    first, grown = _pages(spark, docs[:36]), _pages(spark, docs)
    out, man = _paths(tmpdir_path)
    _spark_written_history(spark, first, out, man)
    spark_files = set(glob.glob(os.path.join(out, "*", "*.parquet")))

    run_extraction_job(grown, out, man, num_partitions=P, attempt=2)
    drifted = sorted({r.partition_id for r in with_partition_id(
        _pages(spark, docs[36:]), P).collect()})
    assert 0 < len(drifted) < P
    files = set(glob.glob(os.path.join(out, "*", "*.parquet")))
    kept = files & spark_files
    assert {int(f.split("partition_id=")[1].split("/")[0]) for f in kept} \
        == set(range(P)) - set(drifted)
    assert files - spark_files

    chunks = spark.read.parquet(out)
    assert _multiset(chunks) == _multiset(
        extract_chunks(grown, num_partitions=P).select(*chunks.columns))
    manifest = spark.read.parquet(man)
    assert manifest.schema == DataType.fromDDL(MANIFEST_SCHEMA)
    att2 = sorted(tuple(r) for r in manifest.filter("attempt = 2")
                  .drop("ts").collect())
    assert [r[0] for r in att2] == drifted
    assert att2 == sorted(tuple(r) for r in build_manifest(
        chunks.filter(F.col("partition_id").isin(drifted)), 2, P)
        .drop("ts").collect())

    before = (_listing(out), _listing(man))
    run_extraction_job(grown, out, man, num_partitions=P, attempt=3)
    assert (_listing(out), _listing(man)) == before


def test_leftover_staging_is_hidden_and_removed(spark, tmpdir_path):
    """A killed run leaves its staged files behind: readers never list
    them, and the next run that writes deletes them."""
    docs = [pages_src.make_doc(i) for i in range(26)]
    first, grown = _pages(spark, docs[:24]), _pages(spark, docs)
    out, man = _paths(tmpdir_path)
    run_extraction_job(first, out, man, num_partitions=P)
    n = spark.read.parquet(out).count()
    dead = os.path.join(out, f"{STAGING_PREFIX}killedrun", "partition_id=0")
    os.makedirs(dead)
    for f in glob.glob(os.path.join(out, "partition_id=0", "*.parquet")):
        shutil.copy(f, dead)
    assert os.listdir(dead)
    assert spark.read.parquet(out).count() == n

    run_extraction_job(grown, out, man, num_partitions=P, attempt=2)
    assert not glob.glob(os.path.join(out, f"{STAGING_PREFIX}*"))
    chunks = spark.read.parquet(out)
    assert _multiset(chunks) == _multiset(
        extract_chunks(grown, num_partitions=P).select(*chunks.columns))


def test_table_fs_makes_local_paths_absolute(tmp_path, monkeypatch):
    from pyarrow.fs import LocalFileSystem

    from ragflow_spark.plans.manifest import table_fs

    monkeypatch.chdir(tmp_path)
    for path in ("chunks", str(tmp_path / "chunks"),
                 f"file://{tmp_path}/chunks"):
        fs, root = table_fs(path)
        assert isinstance(fs, LocalFileSystem)
        assert root == str(tmp_path / "chunks")
