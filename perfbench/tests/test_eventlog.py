"""Event-log attribution on a captured log (see make_fixture.py)."""

import gzip
import json
import os

import pytest

import metrics
import tracing

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "eventlog_extract.json.gz")


@pytest.fixture(scope="module")
def captured():
    with gzip.open(FIXTURE, "rt", encoding="utf-8") as f:
        return json.load(f)


def _layers(captured, kind):
    w = next(j for j in captured["jobs"] if j["kind"] == kind)
    return tracing.spark_layers(captured["events"], w["t0_ms"], w["t1_ms"],
                                w["wall_s"])


def _classes(captured, kind):
    w = next(j for j in captured["jobs"] if j["kind"] == kind)
    jobs, stages, tasks = tracing._index(captured["events"])
    jobs = {k: v for k, v in jobs.items()
            if w["t0_ms"] <= v["submit"] <= w["t1_ms"]}
    return tracing.classify_jobs(jobs, stages, tasks)


def test_fresh_job_layers(captured):
    cls = _classes(captured, "fresh")
    names = sorted(cls.values())
    assert names.count("udf") == 1
    assert names.count("partitioning") == 1
    assert "manifest" in names
    # a fresh job reads no manifest, so nothing precedes the repartition
    assert "resume" not in names
    m = _layers(captured, "fresh")
    assert m["spark.jobs"] == len(cls)
    assert m["spark.tasks"] >= m["spark.stages"] >= m["spark.jobs"]
    assert 0.0 <= m["spark.driver_gap_s"] <= next(
        j["wall_s"] for j in captured["jobs"] if j["kind"] == "fresh")
    assert m["sources.input_rows"] >= 32
    assert m["sources.input_mb"] > 0
    assert m["partitioning.shuffle_write_mb"] > 0
    assert m["partitioning.udf_task_p99_s"] >= m["partitioning.udf_task_p50_s"] > 0
    assert m["partitioning.udf_task_skew"] >= 1.0
    assert m["extract.udf_executor_s"] >= m["extract.python_run_s"] > 0
    assert m["extract.rows_out"] > 32
    assert m["sink.output_mb"] > 0
    assert m["manifest.build_s"] > 0
    assert m["manifest.resume_filter_s"] == 0.0


def test_resumed_job_reads_the_manifest_first(captured):
    cls = _classes(captured, "resume")
    order = [cls[j] for j in sorted(cls)]
    assert order.index("resume") < order.index("partitioning") \
        < order.index("udf")
    m = _layers(captured, "resume")
    assert m["manifest.resume_filter_s"] > 0
    # the resumed job rewrites only the partitions its 8 new docs drifted
    assert 0 < m["extract.rows_out"] < captured["chunk_rows_after_resume"]


def test_layer_names_are_in_the_catalogue(captured):
    known = {n for n, *_ in metrics.PER_LAYER}
    assert set(_layers(captured, "fresh")) <= known


def test_jobs_outside_the_window_are_ignored(captured):
    assert tracing.spark_layers(captured["events"], 0, 1, 1.0)[
        "spark.jobs"] == 0
