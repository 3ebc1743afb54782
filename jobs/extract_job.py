#!/usr/bin/env python
"""Cluster entrypoint for the extraction pipeline.

    spark-submit --py-files dist/ragflow_spark.zip jobs/extract_job.py \
        --input  <pages table path or iceberg identifier> \
        --output <chunk table path> \
        --manifest <manifest table path> \
        [--partitions 4096] [--attempt 1] [--iceberg] [--url-dedup]
        [--max-per-host N]

Resumable: relaunching with the same --manifest skips partitions already
manifested as done (the driver collects the list of partition ids still to
do and filters the pages with isin on it); chunk ids are deterministic
(md5(chunk_text||url)) so replacing a partition's files is idempotent.

Write layout: the parse tasks write the chunk files themselves (pyarrow,
into a hidden ``<output>/_staging-<uuid>/`` dir) and the driver commits
them: each re-run partition's files are replaced by the new ones, the
others stay untouched, then the manifest rows are written from the
counts the tasks reported. The task that parses a document owns its
partition_id, so each attempt writes one parquet file per partition
(plus at most one per giant document, which parse on their own scattered
lane). When a resume re-runs only k of the partitions, each is split over
--partitions // k tasks and gets that many files. --output and
--manifest are URIs or local paths (a path without a scheme is local);
one job writes to a given --output at a time.

Build the zip with: python tools/package.py
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--attempt", type=int, default=1)
    ap.add_argument("--iceberg", action="store_true",
                    help="read --input via the iceberg catalog")
    ap.add_argument("--url-dedup", action="store_true",
                    help="collapse re-fetches before parsing: keep the "
                         "newest (warc_ts) row per canonical URL — the "
                         "cheap identity pass that pays for itself before "
                         "the expensive parse tier")
    ap.add_argument("--max-per-host", type=int, default=None,
                    help="per-domain anti-spam cap: keep at most N pages "
                         "per host (deterministic raw-url rank), applied "
                         "after --url-dedup and before parsing")
    ap.add_argument("--respect-noindex", action="store_true",
                    help="drop pages whose head carries a meta-robots "
                         "noindex/none directive (page author opted out "
                         "of indexing) before any parse work")
    ap.add_argument("--template-cfg", default=None,
                    help="JSON parser config passed to every template, "
                         "e.g. '{\"ocr_backend\": \"fake\"}' to route "
                         "scanned PDFs through the OCR fallback")
    args = ap.parse_args()
    template_cfg = json.loads(args.template_cfg) if args.template_cfg else None

    from ragflow_spark.operators.extract import run_extraction_job
    from ragflow_spark.session import get_spark

    spark = get_spark(app_name="ragflow_spark_extract")
    if args.iceberg:
        pages = spark.read.format("iceberg").load(args.input)
    else:
        pages = spark.read.parquet(args.input)

    if args.url_dedup:
        from ragflow_spark.operators.weburl import url_dedup_latest

        pages = url_dedup_latest(pages, "url", "warc_ts")
    if args.max_per_host is not None:
        from ragflow_spark.operators.weburl import cap_per_host

        pages = cap_per_host(pages, "url", args.max_per_host)

    run_extraction_job(
        pages,
        out_path=args.output,
        manifest_path=args.manifest,
        num_partitions=args.partitions,
        attempt=args.attempt,
        template_cfg=template_cfg,
        respect_noindex=args.respect_noindex,
    )
    spark.stop()


if __name__ == "__main__":
    main()
