"""Loaders for the sandbox test tables and the pages corpus.

The production source per BASELINE.json ``input_hint`` is an Iceberg table
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
This sandbox has no Iceberg runtime jars, so the same contract is carried by
partitioned parquet (identical schema and partition semantics; swapping
``spark.read.parquet`` for ``spark.read.format("iceberg")`` is the only
change on a real cluster — the manifest/resume protocol in
``ragflow_spark.plans.manifest`` is engine-agnostic and documents what
Iceberg snapshots would subsume).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver-provided parquet table under ``sf_dir`` and
    register each as a temp view."""
    out = {}
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
