"""SparkSession factory with the engine's standard configuration.

Tuned for the extraction workload: AQE on (skew-join + partition
coalescing), small Arrow batches because rows carry megabyte-scale binary
payloads (SURVEY.md §4 — batching constants), and Python-worker reuse so
per-executor parser state (compiled regexes, codec tables) is initialized
once.

Worker reuse alone did not make the per-task cost small: PySpark still
calls ``importlib.invalidate_caches()`` at the start of every task, and on
CPython < 3.12 that eagerly re-reads the directory of every zip archive on
the worker's ``sys.path`` (pyspark.zip once per imported sub-package, the
spark-core jar) — about 0.1 s per task in a bare mapInPandas worker on a
4-core box (16 importers), more once a task has imported more of pyspark,
and more than a small task's parse work. Importing ``ragflow_spark`` in the worker (every
UDF unpickle does) installs ``ragflow_spark._zipcache``, which skips the
re-read while the archive is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Rows entering the extraction UDF can be multi-MB HTML/PDF blobs; a 10k-row
# default Arrow batch would hold gigabytes. 256 rows balances per-batch
# overhead against worst-case batch bytes — and with 8 MB scan splits a
# batch can never exceed its split's bytes anyway.
# measured at sf0.1 (4096 web docs, local[32]): 64-row batches beat 256
# (2.1 s vs 2.8 s steady-state) — smaller batches keep python workers fed
# around giant documents instead of stalling a whole 256-row batch behind
# one multi-MB PDF; 32 is too fine (per-batch overhead wins again)
ARROW_BATCH_ROWS = 64


def get_spark(
    app_name: str = "ragflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scans: allow filter/column pushdown to do its job
        .config("spark.sql.parquet.filterPushdown", "true")
        # blob tables: UDF cost per byte is enormous, so a 128 MB scan split
        # serializes the whole feed stage behind one task. 8 MB keeps scan →
        # exchange → UDF parallel at every cluster width (SURVEY.md §4).
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
