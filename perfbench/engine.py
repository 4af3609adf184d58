"""Measurement plumbing that sits outside the engine: spans, Spark's
event log, and CPU time of the process tree from /proc.

Nothing here imports crawlfe; every number is taken from the outside of
the calls the benchmark makes.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent), written out at exit.

    Disabled tracers still run the body; they record nothing, so the
    untraced and traced passes execute the same Python calls.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "start": time.perf_counter(),
            "end": None, "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextmanager
def wrapped(owner, attr: str, tracer: Tracer, name: str, sink=None):
    """Temporarily wrap ``owner.attr`` so each call runs inside a span
    (and, if ``sink`` is a list, appends its wall time). The engine's
    own module is looked up at call time, so wrapping the attribute
    times the real call path without editing the package."""
    orig = getattr(owner, attr)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        with tracer.span(name):
            out = orig(*args, **kwargs)
        if sink is not None:
            sink.append(time.perf_counter() - t0)
        return out

    setattr(owner, attr, timed)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


# -- Spark event log ---------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(path: str) -> dict[str, dict]:
    """Per job group: task counts and SparkListenerTaskEnd sums.

    Job groups are set by the benchmark (``setJobGroup``) around every
    action, so each task is attributed to exactly one measured step.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"), "")
                acc = groups.setdefault(g, _empty_group())
                _add_task(acc, ev)
    return groups


def _empty_group() -> dict:
    return {k: 0 for k in (
        "tasks", "tasks_failed", "run_ms", "cpu_ns", "gc_ms",
        "shuffle_write", "shuffle_read", "spill", "py_sent", "py_recv",
    )}


def _add_task(acc: dict, ev: dict) -> None:
    acc["tasks"] += 1
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["tasks_failed"] += 1
    m = ev.get("Task Metrics") or {}
    acc["run_ms"] += m.get("Executor Run Time", 0)
    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        if a.get("Name") == _PY_SENT:
            acc["py_sent"] += int(a.get("Update", 0))
        elif a.get("Name") == _PY_RECV:
            acc["py_recv"] += int(a.get("Update", 0))


def merge_groups(groups: dict[str, dict], prefix: str) -> tuple[dict, int]:
    """Sum every group whose name starts with ``prefix``; returns the
    sum and how many groups went into it."""
    out, n = _empty_group(), 0
    for g, acc in groups.items():
        if g.startswith(prefix):
            n += 1
            for k, v in acc.items():
                out[k] += v
    return out, n


# -- CPU time from /proc -------------------------------------------------------

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks): user and system time of the
    process and of the children it has reaped."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended meanwhile
            continue
        # after the name: state, ppid, ..., utime, stime, cutime, cstime
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds spent so far by ``root`` and every live descendant,
    their reaped children included: the driver, Spark's JVM and its
    Python workers. Unlike wall time it leaves out the time the host
    gave the CPUs to someone else."""
    table = proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += table.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks * _TICK_S
