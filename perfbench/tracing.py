"""Per-layer attribution for a traced run, measured from outside the
program:

- Spark side: the benchmark labels each call into a public function with a
  job description (``bench:<layer>``); the Spark event log then gives per
  job, stage and task the wall intervals and task metrics, which
  ``spark_layers`` folds into per-layer numbers.
- Core side: ``CallTimer`` wraps module-level entry points of the parity
  core for a driver-side replay of the run's documents through
  ``templates.run_template``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

from stats import interval_union_s, percentile, ratio

LABEL = "bench:"
# event types the summary reads (suffix match); the rest is skipped
_KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd",
         "SparkListenerStageCompleted", "SparkListenerTaskEnd",
         "SparkListenerSQLExecutionStart",
         "SparkListenerSQLAdaptiveExecutionUpdate",
         "SparkListenerDriverAccumUpdates")


def load_events(path: str) -> list[dict]:
    """Parse an uncompressed, non-rolling Spark event log (a file, or a
    directory holding exactly one)."""
    if os.path.isdir(path):
        files = [f for f in glob.glob(os.path.join(path, "*"))
                 if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise ValueError(f"expected one finished event log in {path}, "
                             f"found {files}")
        path = files[0]
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            if e.get("Event", "").endswith(_KEEP):
                out.append(e)
    return out


def _acc(task: dict, name: str) -> float:
    """Sum of a named accumulable's per-task update (SQL metrics)."""
    return float(sum(
        float(a.get("Update") or 0)
        for a in task["Task Info"].get("Accumulables", [])
        if a.get("Name") == name
    ))


def _scan_bytes(events) -> dict[int, float]:
    """SQL execution id -> bytes of files its parquet scans read (a
    driver-side scan metric: task input metrics undercount local reads)."""
    acc_ids: set = set()

    def walk(node):
        if node.get("nodeName", "").startswith("Scan"):
            acc_ids.update(m["accumulatorId"] for m in node.get("metrics", ())
                           if m["name"] == "size of files read")
        for c in node.get("children", ()):
            walk(c)

    for e in events:
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    out: dict[int, float] = defaultdict(float)
    for e in events:
        if e["Event"].endswith("SparkListenerDriverAccumUpdates"):
            for acc, v in e["accumUpdates"]:
                if acc in acc_ids:
                    out[e["executionId"]] += v
    return out


def _index(events):
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "id": e["Job ID"],
                "desc": props.get("spark.job.description") or "",
                "callsite": props.get("callSite.short") or "",
                "exec": props.get("spark.sql.execution.id"),
                "submit": e["Submission Time"],
                "end": e["Submission Time"],
                "stage_ids": list(e["Stage IDs"]),
            }
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            scopes = set()
            for r in si.get("RDD Info", []):
                if r.get("Scope"):
                    scopes.add(json.loads(r["Scope"]).get("name", ""))
            stages[si["Stage ID"]] = {
                "id": si["Stage ID"],
                "submit": si.get("Submission Time", 0),
                "complete": si.get("Completion Time", 0),
                "scopes": scopes,
            }
        elif ev == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(e)
    return jobs, stages, tasks


def classify_jobs(jobs: dict, stages: dict, tasks: dict) -> dict[int, str]:
    """Layer of each ``bench:``-labelled job.

    Labels set around manifest calls map directly. Inside
    ``bench:extract`` (one ``run_extraction_job`` call) jobs are ordered:
    the input's listing/schema job, resume-filter work, the repartition's
    map stage, the UDF+write job (the one holding the MapInPandas stage),
    then manifest bookkeeping (partition-id collect, readback listing)."""
    layer: dict[int, str] = {}
    extract_jobs = []
    for jid, j in sorted(jobs.items()):
        d = j["desc"]
        if not d.startswith(LABEL):
            continue
        name = d[len(LABEL):]
        if name in ("manifest.read", "manifest.check"):
            layer[jid] = "resume"
        elif name.startswith("manifest"):
            layer[jid] = "manifest"
        elif name == "extract":
            extract_jobs.append(jid)
        else:
            layer[jid] = name
    udf_job = next((jid for jid in extract_jobs if any(
        "MapInPandas" in stages.get(s, {}).get("scopes", ())
        for s in jobs[jid]["stage_ids"])), None)
    pre = [j for j in extract_jobs if udf_job is not None and j < udf_job
           and not jobs[j]["callsite"].startswith("collect")]

    def shuffle_bytes(jid):
        return sum(
            t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for s in jobs[jid]["stage_ids"] for t in tasks.get(s, ()))

    repart = max(pre, key=shuffle_bytes) if pre else None
    for jid in extract_jobs:
        if jid == udf_job:
            layer[jid] = "udf"
        elif jid == repart:
            layer[jid] = "partitioning"
        elif jid in pre:
            scopes = set().union(*(stages[s]["scopes"] for s in
                                   jobs[jid]["stage_ids"] if s in stages))
            # a job without a scan or exchange only lists files / reads
            # footers: the pages source resolving its schema
            layer[jid] = "resume" if any(
                x.startswith(("Scan", "Exchange", "BroadcastExchange"))
                for x in scopes) else "sources"
        else:
            layer[jid] = "manifest"
    return layer


def spark_layers(events: list[dict], t0_ms: float, t1_ms: float,
                 wall_s: float) -> dict:
    """Per-layer Spark numbers for the labelled jobs submitted inside
    [t0_ms, t1_ms] (epoch milliseconds of one timed job, whose driver
    wall time is ``wall_s``)."""
    jobs, stages, tasks = _index(events)
    jobs = {k: v for k, v in jobs.items() if t0_ms <= v["submit"] <= t1_ms}
    layer = classify_jobs(jobs, stages, tasks)
    by_layer: dict[str, list[int]] = defaultdict(list)
    stage_layer: dict[int, str] = {}
    for jid, name in layer.items():
        by_layer[name].append(jid)
        for s in jobs[jid]["stage_ids"]:
            if s in stages:
                stage_layer[s] = name
    done = list(stage_layer)
    all_tasks = [t for s in done for t in tasks.get(s, ())]

    def tm(t):
        return t["Task Metrics"]

    def job_wall(names):
        return interval_union_s(
            (jobs[j]["submit"] / 1e3, jobs[j]["end"] / 1e3)
            for n in names for j in by_layer.get(n, ()))

    stage_cover = interval_union_s(
        (stages[s]["submit"] / 1e3, stages[s]["complete"] / 1e3)
        for s in done)
    m = {
        "spark.jobs": len(layer),
        "spark.stages": len(done),
        "spark.tasks": len(all_tasks),
        "spark.driver_gap_s": max(0.0, wall_s - stage_cover),
        "spark.gc_s": sum(tm(t)["JVM GC Time"] for t in all_tasks) / 1e3,
        "spark.spill_mb": sum(tm(t)["Disk Bytes Spilled"]
                              for t in all_tasks) / 1e6,
        "spark.py_worker_start_s": sum(
            _acc(t, "time to start Python workers") for t in all_tasks) / 1e3,
    }
    src = [t for s in done if stage_layer[s] != "manifest"
           for t in tasks.get(s, ())]
    m["sources.scan_s"] = (sum(_acc(t, "scan time") for t in src) / 1e3
                           + job_wall(["sources"]))
    scan = _scan_bytes(events)
    src_execs = {int(jobs[j]["exec"]) for j, n in layer.items()
                 if n != "manifest" and jobs[j]["exec"] is not None}
    m["sources.input_mb"] = sum(scan.get(x, 0.0) for x in src_execs) / 1e6
    m["sources.input_rows"] = sum(
        tm(t)["Input Metrics"]["Records Read"] for t in src)

    udf_stages = [s for s in done if stage_layer[s] == "udf"
                  and "MapInPandas" in stages[s]["scopes"]]
    udf_tasks = [t for s in udf_stages for t in tasks.get(s, ())]
    rep_tasks = [t for s in done if stage_layer[s] == "partitioning"
                 for t in tasks.get(s, ())]
    durs = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"])
            / 1e3 for t in udf_tasks]
    fetch_wait = sum(tm(t)["Shuffle Read Metrics"]["Fetch Wait Time"]
                     for t in udf_tasks) / 1e3
    m["partitioning.shuffle_write_mb"] = sum(
        tm(t)["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        for t in rep_tasks) / 1e6
    m["partitioning.shuffle_s"] = sum(
        tm(t)["Shuffle Write Metrics"]["Shuffle Write Time"]
        for t in rep_tasks) / 1e9 + fetch_wait
    if durs:
        p50 = statistics.median(durs)
        m["partitioning.udf_task_p50_s"] = p50
        m["partitioning.udf_task_p99_s"] = percentile(durs, 99)
        m["partitioning.udf_task_skew"] = max(durs) / p50 if p50 else 0.0
    else:
        m["partitioning.udf_task_p50_s"] = 0.0
        m["partitioning.udf_task_p99_s"] = 0.0
        m["partitioning.udf_task_skew"] = 0.0
    run_s = sum(tm(t)["Executor Run Time"] for t in udf_tasks) / 1e3
    py_s = sum(_acc(t, "time to run Python workers") for t in udf_tasks) / 1e3
    m["extract.udf_executor_s"] = run_s
    m["extract.python_run_s"] = py_s
    m["extract.rows_out"] = sum(
        tm(t)["Output Metrics"]["Records Written"] for t in udf_tasks)
    # JVM side of the UDF+write stage: dynamic-partition sort, parquet
    # encoding and task commit (the write shares the UDF's tasks)
    m["sink.write_s"] = max(0.0, run_s - py_s - fetch_wait)
    m["sink.output_mb"] = sum(
        tm(t)["Output Metrics"]["Bytes Written"] for t in udf_tasks) / 1e6
    m["manifest.build_s"] = job_wall(["manifest"])
    m["manifest.resume_filter_s"] = job_wall(["resume"])
    m["dedup.signature_s"] = interval_union_s(
        (stages[s]["submit"] / 1e3, stages[s]["complete"] / 1e3)
        for s in done if stage_layer[s] == "dedup.pairs"
        and "MapInPandas" in stages[s]["scopes"])
    return m


# ----------------------------------------------------- core-side replay

WRAPPED = (
    ("ragflow_spark.core.html_extract", "parse_html_bytes", "html_parse"),
    ("ragflow_spark.core.pdf_layout", "scanned_pdf_pages", "ocr"),
    ("ragflow_spark.core.merges", "naive_merge", "merge"),
    ("ragflow_spark.core.tokens", "num_tokens_from_string", "tokens"),
    ("ragflow_spark.core.codec", "find_codec", "codec"),
)


class CallTimer:
    """Wraps the ``WRAPPED`` entry points in every loaded ``ragflow_spark``
    module that bound them (``from x import f`` copies the name), counting
    calls and inclusive seconds; ``ocr`` also counts pages returned.
    Restores the originals on exit."""

    def __init__(self):
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.ocr_pages = 0
        self._patched: list[tuple] = []

    def _wrap(self, key, fn):
        def wrapper(*a, **kw):
            t = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                self.seconds[key] += time.perf_counter() - t
                self.calls[key] += 1
            if key == "ocr" and out:
                self.ocr_pages += len(out)
            return out
        return wrapper

    def __enter__(self):
        import importlib

        for mod_name, attr, key in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(key, orig)
            for name, mod in list(sys.modules.items()):
                if not name.startswith("ragflow_spark") or mod is None:
                    continue
                for a, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, a, wrapper)
                        self._patched.append((mod, a, orig))
        return self

    def __exit__(self, *exc):
        for mod, a, orig in reversed(self._patched):
            setattr(mod, a, orig)
        self._patched.clear()
        return False


CORE_CLASSES = ("html", "pdf_text", "office", "txt_md_json", "giant")


def replay_core(docs, cfg: dict) -> dict:
    """Time every doc through ``run_template`` in this process under a
    ``CallTimer``; returns the core/ocr metrics. ``docs`` rows carry html,
    parser, fmt, lang and ``cls`` (a CORE_CLASSES name, or "ocr" for
    scanned PDFs). Output correctness is the gate's job, not this one's."""
    from ragflow_spark.core.templates import run_template

    per_cls: dict[str, list[float]] = defaultdict(list)
    total = 0.0
    with CallTimer() as ct:
        for d in docs:
            t = time.perf_counter()
            run_template(d["parser"], d["html"], d["fmt"], d["lang"],
                         cfg=dict(cfg))
            dt = time.perf_counter() - t
            total += dt
            per_cls[d["cls"]].append(dt)
    m = {}
    for c in CORE_CLASSES:
        xs = [x * 1e3 for x in per_cls.get(c, ())]
        m[f"core.{c}_ms_p50"] = statistics.median(xs) if xs else 0.0
        m[f"core.{c}_ms_p99"] = percentile(xs, 99) if xs else 0.0
    m["core.replay_s"] = total
    m["core.merge_s"] = ct.seconds["merge"]
    m["core.tokens_calls"] = ct.calls["tokens"]
    m["core.tokens_s"] = ct.seconds["tokens"]
    m["core.codec_s"] = ct.seconds["codec"]
    m["ocr.pages"] = ct.ocr_pages
    m["ocr.s"] = ct.seconds["ocr"]
    m["ocr.ms_per_page"] = ratio(ct.seconds["ocr"] * 1e3, ct.ocr_pages)
    return m
