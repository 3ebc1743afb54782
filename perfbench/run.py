#!/usr/bin/env python3
"""The repository benchmark: resumable-extraction workloads measured end to
end, with a correctness gate on every run and an optional traced run for
per-layer numbers.

    python3 perfbench/run.py --workload web_crawl --seed 0 --seconds 10 \
        --trace 0

Run from the repository root. One process drives ``local[<cpus>]`` as a
closed loop with one job in flight: set-up, warm passes, then timed jobs
until ``--seconds`` have passed (at least ``MIN_JOBS``). The last line of
stdout is one JSON object: ``correct``, ``attempted`` and ``failed``
(documents), and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Diagnostics go to stderr.
Scratch lives under ``.perfbench_work/`` in the working directory and is
removed on exit. Exit code 0 means every gate passed; 1 a gate failed; 2
the program or its reference data could not be loaded.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

import metrics
import procs
from stats import ratio, timing_summary

SETUP_REPS = 3
# the first job after start-up forks the Python workers and loads their
# modules; later jobs keep speeding up slightly as the JVM compiles, which
# every run repeats identically, so one warm pass and a median suffice
WARM_JOBS = 1
MIN_JOBS = 3
MIN_TRACED_JOBS = 2
WORK_DIR = ".perfbench_work"
# a fixed-size heap (-Xms = -Xmx): a growable one ends each run at a
# different committed size, which makes peak memory vary by ±15% per run
HEAP = "1g"


class Ctx:
    """Run-wide state: arguments, scratch directory and the Spark session."""

    def __init__(self, args):
        self.root = os.getcwd()
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(self.root, WORK_DIR, f"run-{os.getpid()}")
        self.spark = None
        self.labels = False
        self._gateway_proc = None

    def start(self, master: str | None = None, event_dir: str | None = None):
        """(Re)start the session; the JVM is launched once and reused."""
        from ragflow_spark.session import get_spark

        import workloads

        self.stop_session()
        conf = {
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name="perfbench",
            master=master or f"local[{self.nproc}]",
            shuffle_partitions=workloads.PARTITIONS,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = self.spark.sparkContext._gateway.proc
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self._gateway_proc.pid

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @contextlib.contextmanager
    def label(self, name: str):
        """Job description ``bench:<name>`` for jobs inside (traced runs)."""
        if not self.labels:
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"bench:{name}")
        try:
            yield
        finally:
            sc.setJobDescription(prev)

    def shutdown(self) -> list[int]:
        """Stop Spark, end the JVM and wait for it and its workers."""
        proc = self._gateway_proc
        if proc is None:
            return []
        workers = procs.descendants(proc.pid)
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
        return procs.wait_gone(workers + [proc.pid])


def parse_args(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(
        workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def preflight(root: str) -> None:
    """Refuse to run without the program or its reference goldens."""
    import workloads

    for name, _n in (workloads.WEB_GOLDEN, workloads.MIXED_GOLDEN):
        path = os.path.join(root, workloads.GOLDEN_DIR, name)
        if not os.path.isfile(path):
            raise RuntimeError(f"reference golden missing: {path}")
    import ragflow_spark.operators.extract  # noqa: F401
    import ragflow_spark.plans.manifest  # noqa: F401


def _log(obj) -> None:
    print(json.dumps(obj, default=str), file=sys.stderr, flush=True)


def timed_loop(ctx, wl, tag: str, min_jobs: int, on_job=None):
    """Closed loop: prepare (untimed) then run one job at a time until
    ``ctx.seconds`` have passed and at least ``min_jobs`` ran."""
    from workloads import Job

    jobs, walls = [], []
    start = time.perf_counter()
    while len(jobs) < min_jobs or time.perf_counter() - start < ctx.seconds:
        job = Job(os.path.join(ctx.work, f"{tag}{len(jobs)}"))
        wl.prepare(job)
        before = on_job() if on_job else None
        t = time.perf_counter()
        with ctx.label(wl.label) if wl.label else contextlib.nullcontext():
            wl.run(ctx.spark, job)
        walls.append(time.perf_counter() - t)
        if on_job:
            job.window = (before, on_job())
        jobs.append(job)
    return jobs, walls


def setup(ctx, wl) -> float:
    """Set up ``SETUP_REPS`` times (session start + corpus), then the
    snapshot and the warm passes; returns the median set-up plus the rest."""
    from workloads import Job

    reps = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        ctx.start()
        wl.make_corpus()
        reps.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.snapshot()
    for k in range(WARM_JOBS):
        warm = Job(os.path.join(ctx.work, f"warm{k}"))
        wl.prepare(warm)
        wl.run(ctx.spark, warm)
    once = time.perf_counter() - t
    _log({"setup_reps_s": reps, "snapshot_and_warm_s": once})
    return statistics.median(reps) + once


@contextlib.contextmanager
def manifest_labels(ctx):
    """Label the manifest calls ``run_extraction_job`` makes (it imports
    them from ``plans.manifest`` at call time); restored on exit."""
    from ragflow_spark.plans import manifest

    saved = {}
    for attr, name in (("read_manifest", "manifest.read"),
                       ("check_resume_compatible", "manifest.check"),
                       ("write_manifest", "manifest.build")):
        saved[attr] = fn = getattr(manifest, attr)

        def wrapped(*a, _fn=fn, _name=name, **kw):
            with ctx.label(_name):
                return _fn(*a, **kw)
        setattr(manifest, attr, wrapped)
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(manifest, attr, fn)


def traced(ctx, wl, jobs, walls) -> dict:
    """Per-layer numbers: event-log attribution of a traced loop, the
    driver-side core replay, workload counters, and (web_crawl) a
    ``local[1]`` pass."""
    import tracing
    from workloads import OCR_CFG, Job

    m = wl.layer_counts(ctx.spark, jobs[-1])
    untraced = statistics.median(walls)
    if hasattr(jobs[-1], "times"):
        for k in jobs[-1].times:
            m[k] = statistics.median(j.times[k] for j in jobs)

    ev_dir = os.path.join(ctx.work, "eventlog")
    os.makedirs(ev_dir)
    ctx.start(event_dir=ev_dir)
    # the JVM is warm; this only restarts the new session's Python workers
    wl.run_tiny(ctx.spark, Job(os.path.join(ctx.work, "twarm")))

    def mark():
        return (time.time() * 1e3,
                procs.workers_cpu_s(ctx.jvm_pid))

    ctx.labels = True
    try:
        with manifest_labels(ctx):
            tjobs, twalls = timed_loop(ctx, wl, "tjob", MIN_TRACED_JOBS, mark)
    finally:
        ctx.labels = False
    ctx.stop_session()
    events = tracing.load_events(ev_dir)
    per_job = [
        tracing.spark_layers(events, j.window[0][0], j.window[1][0], w)
        for j, w in zip(tjobs, twalls)
    ]
    for k in per_job[0]:
        m[k] = statistics.median(p[k] for p in per_job)
    m["trace.job_wall_s"] = statistics.median(twalls)
    m["trace.overhead_s"] = m["trace.job_wall_s"] - untraced

    if wl.label == "extract":
        m["extract.udf_cpu_s"] = statistics.median(
            j.window[1][1] - j.window[0][1] for j in tjobs)
        core = tracing.replay_core(wl.replay_docs(), OCR_CFG)
        m.update(core)
        m["extract.overhead_s"] = m["extract.udf_executor_s"] - core[
            "core.replay_s"]
    if wl.name == "web_crawl":
        ctx.start(master="local[1]")
        tiny = Job(os.path.join(ctx.work, "l1warm"))
        wl.run_tiny(ctx.spark, tiny)
        one = Job(os.path.join(ctx.work, "l1job"))
        t = time.perf_counter()
        wl.run(ctx.spark, one)
        wall1 = time.perf_counter() - t
        m["baseline.local1_docs_per_s"] = len(wl.docs) / wall1
        m["baseline.speedup"] = wall1 / untraced
    return m


def measure(ctx, wl) -> dict:
    setup_s = setup(ctx, wl)
    jobs, walls = timed_loop(ctx, wl, "job", MIN_JOBS)
    jvm_mem, worker_mem = procs.peak_memory(ctx.jvm_pid)
    res = wl.check(ctx.spark, jobs)
    n_docs = len(wl.docs)
    attempted = n_docs * len(jobs)
    failed = len(res.failed)
    summary = timing_summary(walls)
    _log({"job_wall_s": walls, "summary": summary,
          "peak_mb": [jvm_mem / 1e6, worker_mem / 1e6],
          "checked": res.checked, "identical": res.identical,
          "failed": failed, "problems": res.problems})
    if ctx.trace:
        values = traced(ctx, wl, jobs, walls)
        values["jvm.peak_rss_mb"] = jvm_mem / 1e6
        values["worker.peak_rss_mb"] = worker_mem / 1e6
        # base: documents attempted across the timed jobs
        values["gate.failed_docs_ratio"] = ratio(failed, attempted)
        out_metrics = metrics.render(values, metrics.PER_LAYER)
    else:
        med = summary["p50"]
        out_metrics = metrics.render({
            "job_wall_s": med,
            "docs_per_s": n_docs / med,
            # base: documents checked against a reference
            "byte_identical_ratio": ratio(res.identical, res.checked),
            "peak_rss_mb": (jvm_mem + worker_mem) / 1e6,
            "setup_s": setup_s,
        }, metrics.END_TO_END)
    return {
        "correct": failed == 0 and res.checked > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)
    try:
        preflight(root)
    except (ImportError, RuntimeError) as exc:
        print(f"perfbench: cannot run here: {exc}", file=sys.stderr)
        return 2
    import workloads

    ctx = Ctx(args)
    os.makedirs(os.path.join(ctx.work, "tmp"))
    # keep every scratch write of Spark, its JVM and workers in the checkout;
    # the JVM runs in this directory and splits its options on whitespace
    # (and local dirs on commas), so it gets relative paths: the checkout's
    # own path may hold either
    rel_work = os.path.relpath(ctx.work, root)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rel_work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(rel_work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    _log({"stamp": {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": ctx.nproc,
        "loadavg": procs.loadavg(),
        "leftover_spark_processes": procs.leftover_spark_processes(),
    }})
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        result = measure(ctx, wl)
    finally:
        alive = ctx.shutdown()
        if alive:
            _log({"processes_still_alive": alive})
        shutil.rmtree(ctx.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(root, WORK_DIR))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
