"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from gen_query_goldens import SF_DIR as GOLDEN_SF_DIR
from ragflow_spark.session import get_spark
from ragflow_spark.sources.tables import TPCH_TABLES


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        else:
            try:
                df[c] = pd.to_numeric(df[c])
            except Exception:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(sdf.columns) != sorted(ddf.columns):
        issues.append(f"columns: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
        return issues
    if len(sdf) != len(ddf):
        issues.append(f"rows: spark={len(sdf)} duck={len(ddf)}")
    a, b = canon(sdf), canon(ddf)
    if len(a) == len(b):
        neq = ~(a.eq(b) | (a.isna() & b.isna()))
        bad = neq.any(axis=1)
        if bad.any():
            i = bad.idxmax()
            issues.append(
                f"values differ in {int(bad.sum())} rows; first at {i}:\n"
                f"  spark: {a.loc[i].to_dict()}\n  duck:  {b.loc[i].to_dict()}"
            )
    return issues


# Golden-parquet oracles whose VALUES are anchored to the sf0.01 corpus
# (tools/gen_query_goldens.py: SF_DIR = sf0.01, the driver's compare
# scale). At any other sf their inputs are different documents, so a
# value compare is meaningless by design — report rows-only instead of
# a false FAIL. (extract_pipeline_pages / extract_manifest also use
# goldens but their inputs are fixed synthetic pages, sf-independent.)
GOLDEN_SF001_ANCHORED = {"doc_tokenize", "extract_chunks_docs"}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else GOLDEN_SF_DIR
    only = set(sys.argv[2:])
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # the goldens' own corpus whatever path names it (symlink, trailing
    # slash); any other directory, even one named sf0.01, is rows-only
    golden_skip = (GOLDEN_SF001_ANCHORED
                   if os.path.realpath(sf_dir) != os.path.realpath(GOLDEN_SF_DIR)
                   else set())

    con = duckdb.connect()
    for t in TPCH_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    n_ok = n_bad = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            n_bad += 1
            continue
        if name not in oracles or name in golden_skip:
            tag = ("rows-only(golden@sf0.01)" if name in golden_skip
                   else "rows-only")
            print(f"{tag} {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            if len(sdf) == 0:
                print(f"  WARN {name}: 0 rows")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            n_bad += 1
            continue
        issues = compare(name, sdf, ddf)
        if issues:
            n_bad += 1
            print(f"FAIL {name} ({len(sdf)} vs {len(ddf)} rows)")
            for i in issues:
                print("  ", i)
        else:
            n_ok += 1
            print(f"OK   {name}: {len(sdf)} rows")
    print(f"\n{n_ok} ok, {n_bad} bad")
    # registry-vs-record completeness (VERDICT r4 #1): when running the
    # full set, flag any registered query the newest driver CORRECTNESS
    # record silently dropped (r04 dropped media_detector_plan).
    if not only:
        import json as _json
        import re as _re
        rdir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        corr = sorted(f for f in os.listdir(rdir)
                      if _re.fullmatch(r"CORRECTNESS_r\d+\.json", f))
        if corr:
            # a malformed record must not crash the tool past the summary
            try:
                with open(os.path.join(rdir, corr[-1])) as f:
                    recorded = set(_json.load(f))
            except Exception as exc:
                print(f"RECORD UNREADABLE {corr[-1]}: {exc}")
            else:
                missing = sorted(set(qs) - recorded)
                if missing:
                    print(f"RECORD DRIFT vs {corr[-1]}: registered but "
                          f"unrecorded: {missing}")
                else:
                    print(f"record complete vs {corr[-1]}: "
                          f"all {len(qs)} registered queries recorded")
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
