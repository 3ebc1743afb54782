"""Process-tree accounting from /proc: the Spark JVM and the Python
workers it forks. Gives peak resident memory, Python worker CPU time,
leftover processes from earlier runs, and a bounded wait for every
process the benchmark started to end."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, utime+stime+cutime+cstime seconds) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return ppid, cpu


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _all_pids():
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not including it)."""
    children: dict[int, list[int]] = {}
    for pid in _all_pids():
        st = _stat(pid)
        if st is not None:
            children.setdefault(st[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm(pid: int) -> int:
    """Peak resident set size (VmHWM) in bytes, tracked by the kernel for
    the life of the process, so no sampling can miss a short spike."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def peak_memory(jvm_pid: int) -> tuple[int, int]:
    """(JVM peak RSS, Σ peak RSS of its live Python workers) in bytes."""
    return _hwm(jvm_pid), sum(_hwm(p) for p in descendants(jvm_pid))


def workers_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python workers, including reaped ones."""
    total = 0.0
    for pid in descendants(jvm_pid):
        st = _stat(pid)
        if st is not None:
            total += st[1]
    return total


def leftover_spark_processes() -> list[dict]:
    """Spark JVMs and PySpark workers not started by this process."""
    mine = set(descendants(os.getpid())) | {os.getpid()}
    out = []
    for pid in _all_pids():
        if pid in mine:
            continue
        cmd = _cmdline(pid)
        if "org.apache.spark" in cmd or "pyspark.daemon" in cmd \
                or "pyspark.worker" in cmd:
            out.append({"pid": pid, "cmd": cmd[:120]})
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it first if it is our zombie child."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    st = None
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return False
    return st[st.rindex(")") + 2] != "Z"


def wait_gone(pids, timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid in ``pids`` and every descendant of this
    process has ended; kill stragglers after ``timeout_s``. Workers are
    listed up front because they are re-parented once their JVM exits.
    Returns the pids still alive at the end."""
    deadline = time.monotonic() + timeout_s
    pending = set(pids)
    while time.monotonic() < deadline:
        pending = {p for p in pending | set(descendants(os.getpid()))
                   if _alive(p)}
        if not pending:
            return []
        time.sleep(0.2)
    for pid in pending:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    time.sleep(0.5)
    return sorted(p for p in pending if _alive(p))
