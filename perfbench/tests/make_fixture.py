"""Regenerate ``fixtures/eventlog_extract.json.gz``: a trimmed Spark event
log of two labelled extraction jobs (a fresh job over 32 web docs, then a
resumed job over those plus 8 new docs) with each job's time window.

    python3 perfbench/tests/make_fixture.py    # from the repository root
"""

from __future__ import annotations

import gzip
import json
import os
import re
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.getcwd()]

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

OUT = os.path.join(HERE, "fixtures", "eventlog_extract.json.gz")
ACCS = {"scan time", "time to run Python workers",
        "time to start Python workers"}
PROPS = ("spark.job.description", "callSite.short", "spark.sql.execution.id")


def _trim_plan(node: dict) -> dict:
    return {
        "nodeName": node.get("nodeName", ""),
        "metrics": [m for m in node.get("metrics", ())
                    if m["name"] == "size of files read"],
        "children": [_trim_plan(c) for c in node.get("children", ())],
    }


def trim(e: dict) -> dict:
    ev = e["Event"]
    if ev == "SparkListenerJobStart":
        return {"Event": ev, "Job ID": e["Job ID"],
                "Submission Time": e["Submission Time"],
                "Stage IDs": e["Stage IDs"],
                # call sites keep the file name, not the checkout path
                "Properties": {k: re.sub(r" at .*/", " at ", v)
                               for k, v in e["Properties"].items()
                               if k in PROPS}}
    if ev == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        return {"Event": ev, "Stage Info": {
            "Stage ID": si["Stage ID"],
            "Submission Time": si["Submission Time"],
            "Completion Time": si["Completion Time"],
            "RDD Info": [{"Scope": r["Scope"]} for r in si["RDD Info"]
                         if r.get("Scope")]}}
    if ev == "SparkListenerTaskEnd":
        ti, tm = e["Task Info"], e["Task Metrics"]
        return {"Event": ev, "Stage ID": e["Stage ID"], "Task Info": {
            "Launch Time": ti["Launch Time"],
            "Finish Time": ti["Finish Time"],
            "Accumulables": [a for a in ti["Accumulables"]
                             if a.get("Name") in ACCS]},
            "Task Metrics": {k: tm[k] for k in (
                "Executor Run Time", "JVM GC Time", "Disk Bytes Spilled",
                "Shuffle Read Metrics", "Shuffle Write Metrics",
                "Input Metrics", "Output Metrics")}}
    if "sparkPlanInfo" in e:
        return {"Event": ev, "sparkPlanInfo": _trim_plan(e["sparkPlanInfo"])}
    return e


class _Args:
    seed, seconds, trace = 0, 0, 1


def main() -> None:
    ctx = run.Ctx(_Args())
    ctx.work = tempfile.mkdtemp(prefix="perfbench_fixture_")
    os.environ["PYTHONPATH"] = os.getcwd()
    ev_dir = os.path.join(ctx.work, "eventlog")
    os.makedirs(ev_dir)
    try:
        spark = ctx.start(event_dir=ev_dir)
        docs = workloads.make_docs("web", range(40))
        old = os.path.join(ctx.work, "old")
        new = os.path.join(ctx.work, "new")
        workloads.write_pages(docs[:32], old)
        workloads.write_pages(docs, new)
        job = workloads.Job(os.path.join(ctx.work, "job"))
        workloads._extract(spark, old, job)         # warm, unlabelled
        shutil.rmtree(job.base)
        ctx.labels = True
        windows = []
        with run.manifest_labels(ctx):
            for kind, pages, attempt in (("fresh", old, 1),
                                         ("resume", new, 2)):
                t0, t = time.time() * 1e3, time.perf_counter()
                with ctx.label("extract"):
                    workloads._extract(spark, pages, job, attempt=attempt)
                windows.append({"kind": kind, "t0_ms": t0,
                                "t1_ms": time.time() * 1e3,
                                "wall_s": time.perf_counter() - t})
        rows = spark.read.parquet(job.out).count()
        ctx.labels = False
        ctx.stop_session()
        events = [trim(e) for e in tracing.load_events(ev_dir)]
        with gzip.open(OUT, "wt", encoding="utf-8") as f:
            json.dump({"jobs": windows, "chunk_rows_after_resume": rows,
                       "events": events}, f)
    finally:
        ctx.shutdown()
        shutil.rmtree(ctx.work, ignore_errors=True)


if __name__ == "__main__":
    main()
