"""Checkpoint manifest + resume protocol (SURVEY.md §2.1 K3, §4).

The reference gets at-least-once resume from a Redis consumer group with
manual ack (rag/svr/task_executor.py:137-188, 582-585). The Spark-native
equivalent is a *manifest table* keyed by the data-derived ``partition_id``:

- after the chunk table is written, a second aggregation job derives one
  manifest row per partition: doc/chunk counts, bytes, an order-independent
  content hash (bit_xor of per-chunk xxhash64), status='done';
- a relaunch decides on the driver which partitions to process
  (``resume_partitions``): it collects the manifest (at most P rows per
  attempt) and one per-partition distinct-url count of the input (at most
  P rows), and skips a partition only while its latest done doc_count
  still equals the input's count. The job then filters the pages with
  ``partition_id IN (ids)``, returns before any write when the list is
  empty, and manifests exactly those ids;
- idempotency comes from deterministic chunk ids — ``md5(chunk_text||url)``
  mirrors the reference's ``md5(content + doc_id)``
  (rag/svr/task_executor.py:260-263) — so re-writing a partition produces
  identical rows and dynamic partition overwrite (or an Iceberg
  ``overwritePartitions``) is exact.

On Iceberg the chunk write + manifest append become a single atomic
snapshot commit; parquet mode (this sandbox) writes chunks first, manifest
second, and resume trusts only manifested partitions — the same
crash-consistency contract at-least-once semantics require.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "partition_id int, doc_count long, chunk_count long, bytes long, "
    "content_hash string, status string, attempt int, num_partitions int, "
    "ts timestamp"
)


def build_manifest(chunks: DataFrame, attempt: int = 1,
                   num_partitions: int | None = None) -> DataFrame:
    """One row per partition_id over an extracted-chunk DataFrame.

    ``num_partitions`` is the modulus used by ``with_partition_id`` when the
    chunks were produced. It is RECORDED in every row because partition_id =
    pmod(xxhash64(url), num_partitions): resuming under a different modulus
    would remap every id, silently skipping never-processed documents —
    ``resume_partitions`` fails fast on that instead."""
    return (
        chunks.groupBy("partition_id")
        .agg(
            F.countDistinct("url").alias("doc_count"),
            F.count(F.lit(1)).alias("chunk_count"),
            F.sum(F.length("chunk_text")).cast("long").alias("bytes"),
            F.conv(
                F.expr("bit_xor(xxhash64(content_hash))").cast("string"), 10, 16
            ).alias("content_hash"),
        )
        .withColumn("status", F.lit("done"))
        .withColumn("attempt", F.lit(attempt))
        .withColumn(
            "num_partitions",
            F.lit(-1 if num_partitions is None else int(num_partitions)),
        )
        .withColumn("ts", F.current_timestamp())
    )


def write_manifest(chunks: DataFrame, path: str, attempt: int = 1,
                   num_partitions: int | None = None) -> None:
    build_manifest(chunks, attempt, num_partitions).write.mode(
        "append").parquet(path)


def read_manifest(spark: SparkSession, path: str) -> DataFrame | None:
    """The manifest table, or None when there is none yet: the path does
    not exist or holds no data files (e.g. only ``_SUCCESS``). Any other
    failure — a corrupt or unreadable file — raises: treating a broken
    manifest as absent would silently re-parse everything and append to
    the broken table."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def check_resume_compatible(rows, num_partitions: int) -> None:
    """Fail fast when collected manifest ``rows`` were written under a
    different partition modulus (see build_manifest). Legacy rows without
    the field (or recorded as -1) are accepted for backward compat."""
    recorded = {r.get("num_partitions") for r in rows}
    bad = sorted(n for n in recorded
                 if n is not None and n >= 0 and n != num_partitions)
    if bad:
        raise ValueError(
            f"manifest was written with num_partitions={bad} "
            f"but this run uses {num_partitions}; partition ids would remap "
            "and resume would silently skip documents. Re-run with the "
            "recorded value or start a fresh manifest path."
        )


def resume_partitions(
    pages_with_pid: DataFrame,
    manifest: DataFrame | None,
    num_partitions: int,
) -> list[int]:
    """Sorted partition ids this attempt must (re)process.

    A partition is skipped only while its latest ``done`` row's doc_count
    equals the input's distinct-url count for that partition. A doc
    appended (or removed) after the partition was manifested changes the
    count, and the partition re-runs wholesale — exact, because chunk ids
    are deterministic and the write is a dynamic partition overwrite.
    Partitions with input but no manifest row always run; a manifest
    written under another modulus raises ``ValueError``.

    The decision is made on the driver from two small collects: the
    manifest's rows (at most ``num_partitions`` per attempt) and one
    per-partition count-distinct over (partition_id, url) — map-side
    combinable, no text bytes shuffled, at most ``num_partitions`` rows.
    The caller filters with ``isin`` on the returned ids, skips the job
    when the list is empty, and manifests exactly these ids."""
    latest: dict[int, tuple] = {}
    if manifest is not None:
        cols = [c for c in ("partition_id", "doc_count", "attempt", "status",
                            "num_partitions") if c in manifest.columns]
        rows = [r.asDict() for r in manifest.select(*cols).collect()]
        check_resume_compatible(rows, num_partitions)
        for r in rows:
            # max_by(doc_count, attempt) over the done rows
            if r["status"] != "done" or r["attempt"] is None:
                continue
            prev = latest.get(r["partition_id"])
            if prev is None or r["attempt"] > prev[0]:
                latest[r["partition_id"]] = (r["attempt"], r["doc_count"])
    counts = (
        pages_with_pid.groupBy("partition_id")
        .agg(F.countDistinct("url").alias("n"))
        .collect()
    )
    return sorted(
        r.partition_id for r in counts
        if r.partition_id not in latest or latest[r.partition_id][1] != r.n
    )
