"""Tiny-corpus smoke of every workload through the real entry point, plus
the refusal to run without the program."""

import json
import os
import shutil
import subprocess
import sys

import pytest

import run
import workloads

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)

TINY = {
    workloads.WebCrawl: {"n_docs": 24},
    workloads.RecrawlResume: {"n_docs": 24, "n_new": 4},
    workloads.CurateDedup: {"n_pages": 12},
}


@pytest.fixture
def tiny(monkeypatch):
    for cls, attrs in TINY.items():
        for k, v in attrs.items():
            monkeypatch.setattr(cls, k, v)
    monkeypatch.setattr(run, "MIN_JOBS", 1)
    monkeypatch.setattr(run, "MIN_TRACED_JOBS", 1)
    monkeypatch.setattr(run, "SETUP_REPS", 1)
    monkeypatch.chdir(ROOT)
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR", "JAVA_TOOL_OPTIONS",
              "PYTHONPATH", "PYSPARK_PYTHON"):
        monkeypatch.setenv(k, os.environ.get(k, ""))


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_workload_smoke_traced(tiny, capsys, name):
    assert run.main(["--workload", name, "--seed", "0", "--seconds", "0",
                     "--trace", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    assert set(out["metrics"]) == {n for n, *_ in run.metrics.PER_LAYER}
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["gate.failed_docs_ratio"] == 0.0
    assert m["spark.jobs"] > 0
    if name == "curate_dedup":
        assert m["curate.rows"] > 0 and m["dedup.signature_s"] > 0
    else:
        assert m["extract.udf_executor_s"] > 0 and m["core.replay_s"] > 0
        assert m["manifest.docs_parsed"] > 0
    if name == "recrawl_resume":
        assert m["manifest.useful_parse_ratio"] < 1.0
        assert m["core.office_ms_p50"] > 0
    assert not os.path.exists(os.path.join(ROOT, run.WORK_DIR))


def test_untraced_prints_end_to_end_metrics(tiny, capsys):
    assert run.main(["--workload", "web_crawl", "--seed", "3",
                     "--seconds", "0", "--trace", "0"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == {n for n, *_ in run.metrics.END_TO_END}
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert out["metrics"]["byte_identical_ratio"]["value"] == 1.0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "web_crawl",
         "--seed", "0", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
