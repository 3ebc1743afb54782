"""The benchmark's metric catalogue: names, units, direction and (for
end-to-end metrics) the regression bound, as BENCHMARK.json records them.

Per-layer metrics are printed for every workload; a layer the workload
does not exercise reads 0.
"""

from __future__ import annotations

# (name, unit, better, bound)
END_TO_END = (
    ("job_wall_s", "s", "lower", 0.24),
    ("docs_per_s", "1/s", "higher", 0.24),
    ("byte_identical_ratio", "ratio", "higher", 0.01),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("setup_s", "s", "lower", 0.25),
)

_CORE = tuple(
    (f"core.{c}_ms_{q}", "ms", "lower")
    for c in ("html", "pdf_text", "office", "txt_md_json", "giant")
    for q in ("p50", "p99")
)

# (name, unit, better)
PER_LAYER = (
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.py_worker_start_s", "s", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.input_mb", "MB", "lower"),
    ("sources.input_rows", "count", "lower"),
    ("partitioning.shuffle_write_mb", "MB", "lower"),
    ("partitioning.shuffle_s", "s", "lower"),
    ("partitioning.udf_task_p50_s", "s", "lower"),
    ("partitioning.udf_task_p99_s", "s", "lower"),
    ("partitioning.udf_task_skew", "ratio", "lower"),
    ("extract.udf_executor_s", "s", "lower"),
    ("extract.python_run_s", "s", "lower"),
    ("extract.udf_cpu_s", "s", "lower"),
    ("extract.rows_out", "count", "higher"),
    ("extract.overhead_s", "s", "lower"),
    *_CORE,
    ("core.replay_s", "s", "lower"),
    ("core.merge_s", "s", "lower"),
    ("core.tokens_calls", "count", "lower"),
    ("core.tokens_s", "s", "lower"),
    ("core.codec_s", "s", "lower"),
    ("ocr.pages", "count", "higher"),
    ("ocr.s", "s", "lower"),
    ("ocr.ms_per_page", "ms", "lower"),
    ("sink.write_s", "s", "lower"),
    ("sink.output_mb", "MB", "lower"),
    ("sink.files", "count", "lower"),
    ("manifest.build_s", "s", "lower"),
    ("manifest.resume_filter_s", "s", "lower"),
    ("manifest.partitions_skipped", "count", "higher"),
    ("manifest.docs_parsed", "count", "lower"),
    ("manifest.useful_parse_ratio", "ratio", "higher"),
    ("curate.s", "s", "lower"),
    ("curate.rows", "count", "higher"),
    ("curate.kept_rows", "count", "higher"),
    ("dedup.signature_s", "s", "lower"),
    ("dedup.pairs_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.verify_ratio", "ratio", "higher"),
    ("dedup.dropped_bands", "count", "lower"),
    ("dedup.cluster_s", "s", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("worker.peak_rss_mb", "MB", "lower"),
    ("gate.failed_docs_ratio", "ratio", "lower"),
    ("trace.job_wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("baseline.local1_docs_per_s", "1/s", "higher"),
    ("baseline.speedup", "ratio", "higher"),
)


def render(values: dict, catalogue) -> dict:
    """{name: {"value", "unit"}} for every catalogue entry, 0 if absent."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit, *_ in catalogue
    }
