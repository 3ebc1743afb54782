"""Partitioning & skew strategy (SURVEY.md §4).

Two distinct concerns, kept separate on purpose:

1. ``partition_id`` — the *logical* unit of work for checkpoint/resume:
   ``pmod(xxhash64(url), P)``. Purely data-derived, so it is stable across
   cluster sizes, retries, and input ordering; the manifest protocol keys on
   it (the reference's Redis-task analog — api/db/services/task_service.py
   queues a row per task; our task IS the hash bucket).

2. The *physical* shuffle placement for the extraction UDF stage. UDF cost
   skew (one 2 MB PDF vs a thousand 10 KB pages) is invisible to AQE, which
   only rebalances shuffle *bytes* — so giants are split out by a size
   predicate and hash-scattered independently of the normal docs, giving an
   expected ≤⌈G/P⌉ giants per task instead of a birthday-collision pileup.
   (SURVEY.md §4 "salted size-bucketed repartition".)

At 10^12-document scale both operations are single-shuffle, no driver
state, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# payloads above this are "giant" for UDF-cost purposes: a handful of MB of
# HTML/PDF costs 100-1000× the median parse time
GIANT_BYTES = 256 * 1024


def with_partition_id(df: DataFrame, num_partitions: int) -> DataFrame:
    """Attach the stable logical partition id (resume/manifest key)."""
    return df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col("url")), F.lit(num_partitions)).cast("int"),
    )


def partition_for_extract(df: DataFrame, num_partitions: int) -> DataFrame:
    """Physical repartition for the UDF stage: normals hash on url; giants
    (``html`` of at least ``GIANT_BYTES``) hash on a distinct salt lane so
    they spread uniformly and independently.

    Implemented as a single repartition on a composite key (no union → one
    shuffle, one stage)."""
    shuffle_key = F.when(
        F.length(F.col("html")) >= F.lit(GIANT_BYTES),
        # giants: spread by url hash in a disjoint key-space lane
        F.xxhash64(F.col("url"), F.lit("giant-lane")),
    ).otherwise(F.xxhash64(F.col("url")))
    return df.repartition(num_partitions, shuffle_key)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Scale-ADAPTIVE cost-equalizing exchange before per-row-heavy
    compute (optimization guide §2: derive partitioning from the input,
    not a constant).

    A small input parquet arrives as one or two scan splits (a 15 MB
    documents table under the session's 8 MB ``maxPartitionBytes``),
    which serializes expensive per-row work — signature hashing, LM
    scoring, quality expressions — onto a couple of cores while the
    other 30 idle; measured r8 at sf1.0: doc_curation 9.6 s → ~1 s,
    simhash 16 s → ~1 s, same rows. The earlier fix (doc_repetition /
    doc_dsir, r7) repartitioned UNCONDITIONALLY, which at crawl scale
    would re-shuffle the whole corpus for nothing; this helper checks
    the actual scan split count first and is a plan no-op whenever the
    scan is already at least as parallel as the session (the 100 TB
    case), so it never adds an exchange at scale."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)
