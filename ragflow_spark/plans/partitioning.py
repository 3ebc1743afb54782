"""Partitioning & skew strategy (SURVEY.md §4).

Two distinct concerns, kept separate on purpose:

1. ``partition_id`` — the *logical* unit of work for checkpoint/resume:
   ``pmod(xxhash64(url), P)``. Purely data-derived, so it is stable across
   cluster sizes, retries, and input ordering; the manifest protocol keys on
   it (the reference's Redis-task analog — api/db/services/task_service.py
   queues a row per task; our task IS the hash bucket).

2. The *physical* shuffle placement for the extraction UDF stage, which is
   also the write placement: the task that parses a document writes its
   chunks. Each row gets a target slot in [0, n):

   - normal docs go to the task that owns their ``partition_id``, so the
     ``partitionBy("partition_id")`` sink opens one file per partition
     instead of one per (task, partition), which at n = P = 10^4 would be
     10^8 small files. When a resume re-parses only k
     of the P partitions, each of them is split into s = n // k
     sub-buckets by a salted url hash, so all n tasks still get work and
     each still writes into a single directory;
   - giants (``html`` of at least ``GIANT_BYTES``) keep their own lane,
     hash-scattered on a salted url hash independently of the normal
     docs: UDF cost skew (one 2 MB PDF vs a thousand 10 KB pages) is
     invisible to AQE, which only rebalances shuffle *bytes*, and the lane
     gives an expected ≤⌈G/n⌉ giants per task instead of a
     birthday-collision pileup (SURVEY.md §4 "salted size-bucketed
     repartition"). Each giant adds at most one file.

   Spark's ``HashPartitioning`` sends a row to ``pmod(hash(key), n)``, so
   shuffling on the slot itself collides (at n = 8 the keys 0..7 reach
   only tasks {1, 2, 3, 6, 7}). The shuffle key is instead
   ``slot_keys(n)[slot]``: the smallest int that ``hash()`` sends to that
   task, found on the driver by ``spark_hash_int``, a twin of Spark's
   Murmur3 ``hashInt`` — no Spark job, cached per n.

At 10^12-document scale both operations are single-shuffle and collect
nothing; the driver state is two int tables of at most n entries.
"""

from __future__ import annotations

from bisect import bisect_left
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# payloads above this are "giant" for UDF-cost purposes: a handful of MB of
# HTML/PDF costs 100-1000× the median parse time
GIANT_BYTES = 256 * 1024

_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def spark_hash_int(k: int) -> int:
    """Spark's ``hash()`` of an int value (``Murmur3_x86_32.hashInt``,
    seed 42) as a signed 32-bit int — what ``HashPartitioning`` reduces
    ``pmod n`` to place a row keyed on an int column."""
    k1 = _rotl32((k & _M32) * 0xCC9E2D51 & _M32, 15) * 0x1B873593 & _M32
    h = _rotl32(42 ^ k1, 13) * 5 + 0xE6546B64 & _M32
    h ^= 4  # the key length in bytes
    h = (h ^ (h >> 16)) * 0x85EBCA6B & _M32
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@lru_cache(maxsize=None)
def slot_keys(n: int) -> tuple[int, ...]:
    """Entry t is the smallest non-negative int key that a hash
    repartition into n partitions sends to partition t."""
    keys: dict[int, int] = {}
    k = 0
    while len(keys) < n:
        keys.setdefault(spark_hash_int(k) % n, k)
        k += 1
    return tuple(keys[t] for t in range(n))


def _int_array(values) -> Column:
    # one parsed literal instead of one JVM round trip per element
    return F.expr(f"array({', '.join(map(str, values))})")


def with_partition_id(df: DataFrame, num_partitions: int) -> DataFrame:
    """Attach the stable logical partition id (resume/manifest key)."""
    return df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col("url")), F.lit(num_partitions)).cast("int"),
    )


def partition_for_extract(df: DataFrame, num_partitions: int,
                          pids: list[int] | None = None) -> DataFrame:
    """Physical repartition of ``with_partition_id`` rows into
    ``num_partitions`` = n UDF (and write) tasks, one shuffle.

    Target slot per row:

    - giants (``html`` of at least ``GIANT_BYTES``):
      ``pmod(xxhash64(url, "giant-lane"), n)``;
    - normal rows, with ``pids`` the partitions being parsed (default:
      all n) and s = n // len(pids): when s = 1 (a fresh run, or a
      resume of more than half the partitions) the slot is the
      ``partition_id`` itself; otherwise it is ``rank(partition_id in
      sorted pids) * s + pmod(xxhash64(url, "pid-sub"), s)``, splitting
      each partition into s salted sub-buckets (the salt keeps them
      independent of ``partition_id``, which is the same url hash mod n)
      so a resume of k partitions still fills k·s tasks, each writing one
      directory. A row whose ``partition_id`` is not in ``pids`` takes
      the rank of the next listed one (callers filter on ``pids`` first).

    Both branches yield an int slot, and the exchange hashes
    ``slot_keys(n)[slot]`` — an int key that Spark's hash partitioner
    maps to exactly that slot (a raw slot key collides; see the module
    docstring)."""
    n = num_partitions
    pid = F.col("partition_id")
    pids = sorted(set(pids or range(n)))
    s = n // len(pids)
    if s == 1:
        normal = pid
    else:
        ranks = [min(bisect_left(pids, p), len(pids) - 1) for p in range(n)]
        normal = (F.element_at(_int_array(ranks), pid + 1) * s
                  + F.pmod(F.xxhash64(F.col("url"), F.lit("pid-sub")),
                           F.lit(s)).cast("int"))
    slot = F.when(
        F.length(F.col("html")) >= F.lit(GIANT_BYTES),
        # giants: spread by url hash in a disjoint key-space lane
        F.pmod(F.xxhash64(F.col("url"), F.lit("giant-lane")),
               F.lit(n)).cast("int"),
    ).otherwise(normal.cast("int"))
    return df.repartition(n, F.element_at(_int_array(slot_keys(n)), slot + 1))


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
