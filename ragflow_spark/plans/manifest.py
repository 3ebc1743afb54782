"""Checkpoint manifest + resume protocol (SURVEY.md §2.1 K3, §4).

The reference gets at-least-once resume from a Redis consumer group with
manual ack (rag/svr/task_executor.py:137-188, 582-585). The Spark-native
equivalent is a *manifest table* keyed by the data-derived ``partition_id``:

- the manifest is computed from the chunk files the extraction tasks
  write (``operators.extract.run_extraction_job``): each task folds every
  row it writes into a partial state per partition (distinct urls, rows,
  text bytes, XOR of ``spark_xxhash64`` over the chunk ids —
  ``add_chunk_stats``) and returns it with each file's path. The driver
  collects those rows — exactly one successful attempt per task, so a
  retried or speculative duplicate is never counted — and
  ``write_manifest`` sums them per partition and writes one row per
  partition (doc/chunk counts, bytes, the order-independent content
  hash, status='done') as one parquet file with pyarrow: no readback or
  aggregation of the chunk table, and no Spark job. This is the
  mergeable partition summary of "Differential Data Quality
  Verification on Partitioned Data" (ICDE 2019). ``build_manifest`` is
  the same summary recomputed from the data, the reference the tests
  hold the job's rows to;
- a relaunch decides on the driver which partitions to process
  (``resume_partitions``): it collects the manifest (at most P rows per
  attempt) and one per-partition distinct-url count of the input (at most
  P rows), and skips a partition only while its latest done doc_count
  still equals the input's count. The job then filters the pages with
  ``partition_id IN (ids)``, returns before any write when the list is
  empty, and manifests exactly those ids. A run without a manifest skips
  the count and parses every partition;
- idempotency comes from deterministic chunk ids — ``md5(chunk_text||url)``
  mirrors the reference's ``md5(content + doc_id)``
  (rag/svr/task_executor.py:260-263) — so re-writing a partition produces
  identical rows and replacing a partition's files (the driver commit,
  or an Iceberg ``overwritePartitions``) is exact.

On Iceberg the chunk commit + manifest append become a single atomic
snapshot commit; in plain parquet the driver commits chunks first and
writes the manifest second, and resume trusts only manifested partitions
— the same crash-consistency contract at-least-once semantics require.
"""

from __future__ import annotations

import os
import struct

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "partition_id int, doc_count long, chunk_count long, bytes long, "
    "content_hash string, status string, attempt int, num_partitions int, "
    "ts timestamp"
)

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def spark_xxhash64(data: bytes) -> int:
    """Spark's ``xxhash64()`` of one string or binary value (XXH64 over
    its bytes — UTF-8 for a string — with Spark's seed 42) as a signed
    64-bit int: the per-chunk term of the manifest's content hash."""
    seed = 42
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, seed + _P2, seed,
             (seed - _P1) & _M64]
        while i <= n - 32:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
             + _rotl64(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl64(h ^ _round(0, k), 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl64(h ^ (k * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl64(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def add_chunk_stats(state: dict, rows) -> None:
    """Fold one batch of extraction rows (a pandas frame with the
    ``CHUNKS_SCHEMA`` columns) into a task's partial manifest state,
    ``{partition_id: [url set, chunk_count, bytes, content hash XOR]}`` —
    ``build_manifest``'s four aggregates, kept mergeable."""
    for pid, url, text, ch in zip(rows["partition_id"], rows["url"],
                                  rows["chunk_text"], rows["content_hash"]):
        s = state.get(pid)
        if s is None:
            s = state[pid] = [set(), 0, 0, 0]
        if url is not None:
            s[0].add(url)
        s[1] += 1
        s[2] += len(text)
        s[3] ^= spark_xxhash64(ch.encode("utf-8"))


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


def table_fs(path: str):
    """``(pyarrow FileSystem, path inside it)`` for a table path: a URI
    (``file:``, ``hdfs://``, ``s3://``, …) or a local path. A path
    without a scheme is local and is made absolute here, on the driver,
    so the tasks it is handed to resolve it the same way."""
    from pyarrow.fs import FileSystem

    if ":" not in path.split("/", 1)[0]:
        path = os.path.abspath(path)
    return FileSystem.from_uri(path)


def write_manifest(files, path: str, attempt: int = 1,
                   num_partitions: int | None = None) -> None:
    """Write one manifest row per partition from the chunk files the
    extraction tasks reported (``FILES_SCHEMA`` rows of
    ``operators.extract``: ``partition_id``, ``doc_count``,
    ``chunk_count``, ``bytes``, ``xor``), summed per partition on the
    driver; the rows equal ``build_manifest`` over the committed chunks.
    The rows go to one parquet file, written with pyarrow under a hidden
    temporary name and then renamed into ``path`` — no Spark job. An
    empty ``files`` writes nothing.

    ``doc_count`` sums each file's distinct urls. That is exact because
    ``partition_for_extract`` places every row of a url on one task —
    except a url staged twice with one payload at or above ``GIANT_BYTES``
    and one below, which counts once per lane; resume then re-parses its
    partition, and the chunk table stays correct."""
    import uuid
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    parts: dict[int, list] = {}
    for f in files:
        p = parts.setdefault(f.partition_id, [0, 0, 0, 0])
        p[0] += f.doc_count
        p[1] += f.chunk_count
        p[2] += f.bytes
        p[3] ^= f.xor
    if not parts:
        return
    pids = sorted(parts)
    cols = list(zip(*(parts[p] for p in pids)))
    n = len(pids)
    table = pa.table({
        "partition_id": pa.array(pids, pa.int32()),
        "doc_count": pa.array(cols[0], pa.int64()),
        "chunk_count": pa.array(cols[1], pa.int64()),
        "bytes": pa.array(cols[2], pa.int64()),
        # conv(bit_xor(...), 10, 16): the unsigned 64-bit hex spelling
        "content_hash": [format(h & _M64, "X") for h in cols[3]],
        "status": ["done"] * n,
        "attempt": pa.array([attempt] * n, pa.int32()),
        "num_partitions": pa.array(
            [-1 if num_partitions is None else int(num_partitions)] * n,
            pa.int32()),
        "ts": pa.array([datetime.now(timezone.utc)] * n,
                       pa.timestamp("us", tz="UTC")),
    })
    fs, root = table_fs(path)
    fs.create_dir(root)
    name = f"part-{attempt:05d}-{uuid.uuid4().hex}.parquet"
    # a leading "_" hides the half-written file from Spark's listing
    pq.write_table(table, f"{root}/_{name}", filesystem=fs)
    fs.move(f"{root}/_{name}", f"{root}/{name}")


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
    are deterministic and the commit replaces the partition's files.
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
