"""One benchmark run: set-up, measured passes, checks, result line.

Set-up starts a Spark session with ``get_spark`` and checks the
fixture's fingerprint SETUP_REPS times (only the last session stays up;
the first start also launches the JVM), then runs WARMUP_PASSES
warm-up passes on the run's own fixture: the first pass after one
warm-up was still about 25 % slower than the ones after it, and a
warm-up on the tiny fixture warmed too little. ``setup_s`` is the
median start-and-check plus the warm-up; a warm-up in every repetition
would cost a run more than its measured passes. The measured passes then
repeat until ``--seconds`` have gone by, at least MIN_PASSES times.
Each pass is timed by the clock and by the CPU time of the process tree
(driver, JVM, Python workers); ``cpu_s`` is the median CPU time. Wall
time is in the summary line and in the traced run: on a shared host it
follows how much CPU the host hands out (whole runs moved by a quarter
with the steal time), and the CPU time of a pass moved about half as
much. A
traced run alternates untraced and traced passes, then adds the layer
ladder, the single-process kernels and the engine metrics read from
Spark's event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from crawlfe.conf import get_spark

from . import fixtures, layers
from .engine import Tracer, read_event_log, tree_cpu_s
from .workloads import (DEFAULT_STRATEGY, PassContext, check, faulty_output,
                        parity, run_pass, table_stats)

SETUP_REPS = 3
WARMUP_PASSES = 2
MIN_PASSES = 4  # of each kind, untraced and traced, when the run is traced
DEADLINE_S = 150  # stop starting passes this long after the run began
LADDER_RESERVE_S = 60  # a traced run's ladder and kernels come after them

END_TO_END = {"setup_s": "s", "cpu_s": "s", "pages_per_cpu_s": "1/s"}
PER_LAYER = {
    "pass.wall_s": "s", "pass.pages_per_s": "1/s",
    "conf.get_spark_s": "s",
    "features.scan_s": "s", "features.transport_s": "s",
    "extract.stage_s": "s", "textfeat.stage_s": "s", "features.encode_s": "s",
    "features.python_bytes_sent": "bytes",
    "features.python_bytes_received": "bytes",
    "extract.us_per_doc": "us", "extract.fallback_frac": "frac",
    "extract.attr_us_per_doc": "us", "extract.attr_fallback_frac": "frac",
    "textfeat.us_per_doc": "us", "textfeat.sha256_us_per_doc": "us",
    "textfeat.attr_us_per_doc": "us", "textfeat.attr_sha256_us_per_doc": "us",
    "windows.s": "s", "asof.kernel_s": "s", "asof.rejoin_s": "s",
    "asof.matched_frac": "frac", "pipeline.s": "s",
    "pipeline.commit_p50_s": "s",
    "io.stage_s": "s", "io.lineage_s": "s", "io.commit_s": "s",
    "io.read_s": "s", "io.bytes_written": "bytes",
    "io.files_committed": "count", "io.bytes_per_page": "bytes",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.tasks": "count", "spark.tasks_failed": "count",
    "spark.core_busy_frac": "frac",
    "spark.python_bytes_sent": "bytes", "spark.python_bytes_received": "bytes",
    "trace.overhead_s": "s", "trace.overhead_frac": "frac",
    "ladder.sum_s": "s", "ladder.reconcile_frac": "frac",
}


def spark_confs(run_dir: str) -> dict[str, str]:
    events = os.path.join(run_dir, "eventlog")
    os.makedirs(events)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


class Run:
    def __init__(self, args, root: str, work: str, run_dir: str):
        self.args = args
        self.root, self.work, self.run_dir = root, work, run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.pid = os.getpid()
        self.t_begin = time.monotonic()
        self.tracer = Tracer(enabled=False)
        self.ctx = PassContext(self.tracer, os.path.join(run_dir, "tables"))
        self.failures: list[str] = []
        self.attempted = 0
        self.io_stats: dict = {}
        self.commit_s: list[float] = []
        self.first: dict | None = None  # first correct pass output

    # -- set-up --------------------------------------------------------------

    def setup(self):
        a = self.args
        confs = spark_confs(self.run_dir)
        digest = fixtures.source_digest(self.root)
        self.start_s, self.session_s = [], []
        for rep in range(SETUP_REPS):
            if rep:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app=f"perfbench-{a.workload}", cores=self.cores,
                              extra=confs)
            spark.sparkContext.setLogLevel("ERROR")
            self.session_s.append(time.perf_counter() - t0)
            if rep == 0:  # generation is input making, not set-up
                self.fx = fixtures.ensure(spark, self.work, a.workload,
                                          a.scale, a.seed, digest)
            t1 = time.perf_counter()
            spark.sparkContext.setJobGroup("setup", "setup")
            if fixtures.fingerprint(spark, self.fx) != self.fx.fingerprint:
                raise RuntimeError("fixture changed on disk during set-up")
            self.start_s.append(self.session_s[-1] + time.perf_counter() - t1)
        t2 = time.perf_counter()
        warm = PassContext(Tracer(False), os.path.join(self.run_dir, "warm"))
        for _ in range(WARMUP_PASSES):
            run_pass(spark, self.fx, warm)
        self.warmup_s = time.perf_counter() - t2
        self.spark = spark

    # -- measured passes -----------------------------------------------------

    def measure(self) -> tuple[list[float], list[float], list[float]]:
        """Passes until --seconds have gone by, at least MIN_PASSES (of
        each kind when traced). A traced run alternates an untraced and a
        traced pass, so warm-up drift falls on both sides alike. Returns
        the untraced passes' wall and CPU times and the traced walls."""
        modes = (False, True) if self.args.trace else (False,)
        deadline = DEADLINE_S - (LADDER_RESERVE_S if self.args.trace else 0)
        walls: dict[bool, list[float]] = {m: [] for m in modes}
        cpus: list[float] = []
        t_end = time.perf_counter() + self.args.seconds
        while len(walls[False]) < MIN_PASSES or time.perf_counter() < t_end:
            if time.monotonic() - self.t_begin > deadline and walls[False]:
                break
            for traced in modes:
                group = "pass.traced" if traced else "pass.untraced"
                wall, cpu = self._pass(f"{group}.{len(walls[traced])}", traced)
                walls[traced].append(wall)
                if not traced:
                    cpus.append(cpu)
        return walls[False], cpus, walls.get(True, [])

    def _pass(self, group: str, traced: bool) -> tuple[float, float]:
        """One pass, timed by the clock and by the process tree's CPU
        time; its output is checked after both stop."""
        spark, fx, ctx = self.spark, self.fx, self.ctx
        self.tracer.enabled = traced
        ctx.commit_s = []
        spark.sparkContext.setJobGroup(group, group)
        c0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        try:
            got, bad = run_pass(spark, fx, ctx), []
        except Exception:  # a pass that raises is a failed pass
            got, bad = None, [traceback.format_exc(limit=3)]
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(self.pid) - c0
        self.tracer.enabled = False
        spark.sparkContext.setJobGroup("check", "check")
        if got is not None:
            bad = check(spark, fx, got, self.first, ctx)
            self.first = self.first or (got if not bad else None)
        self.attempted += 1
        if bad:
            self.failures.append(f"{group}: " + "; ".join(bad))
        if group.startswith("pass.untraced"):
            self.commit_s.extend(ctx.commit_s)
        if fx.workload == "incremental_commit" and ctx.last_table:
            if not self.io_stats and got is not None:
                self.io_stats = table_stats(ctx.last_table, got["rows"])
                self._parity()
            shutil.rmtree(ctx.last_table.path, ignore_errors=True)
            ctx.last_table = None
        return wall, cpu

    def _parity(self):
        self.attempted += 1
        try:
            parity(self.spark, self.fx, self.ctx)
        except AssertionError as e:
            self.failures.append(f"oracle parity: {e}")

    # -- result --------------------------------------------------------------

    def execute(self) -> tuple[dict, dict]:
        a = self.args
        self.setup()
        sc = self.spark.sparkContext
        app_id = sc.applicationId
        walls, cpus, traced = self.measure()
        commit_s = self.commit_s
        if a.workload == "flagship":
            sc.setJobGroup("check", "check")
            self._parity()
        wall = statistics.median(walls)
        cpu = statistics.median(cpus)
        pages = self.fx.pages
        summary = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "scale": a.scale, "cores": self.cores,
            "strategy": DEFAULT_STRATEGY, "fingerprint": self.fx.fingerprint,
            "setup_starts_s": self.start_s, "warmup_s": self.warmup_s,
            "passes_s": walls, "cpu_passes_s": cpus,
            "wall_s": wall, "pages_per_s": pages / wall,
        }
        if commit_s:
            summary.update(_commit_latency(commit_s))
        if a.trace:
            summary["traced_passes_s"] = traced
            metrics = self._traced(wall, traced, commit_s)
            metrics["pass.wall_s"] = wall
            metrics["pass.pages_per_s"] = pages / wall
        else:
            metrics = {
                "setup_s": statistics.median(self.start_s) + self.warmup_s,
                "cpu_s": cpu,
                "pages_per_cpu_s": pages / cpu,
            }
        self.spark.stop()  # flushes the event log
        if a.trace:
            events = read_event_log(os.path.join(self.run_dir, "eventlog", app_id))
            metrics.update(layers.engine_metrics(events, walls, self.cores))
            spans = os.path.join(self.run_dir, "spans.json")
            self.tracer.write(spans)
            summary["spans"] = spans
            for k in ("ladder.sum_s", "ladder.reconcile_frac",
                      "trace.overhead_frac"):
                summary[k] = metrics[k]
        summary["failed_frac"] = len(self.failures) / self.attempted
        summary["failures"] = self.failures
        return summary, metrics

    def _traced(self, wall, traced, commit_s) -> dict:
        fx = self.fx
        traced_wall = statistics.median(traced)
        m = {"conf.get_spark_s": statistics.median(self.session_s)}
        m.update(layers.ladder(self.spark, fx, self.tracer, len(traced)))
        m.update(layers.kernels(self.args.seed))
        m["ladder.sum_s"] = sum(m[k] for k in layers.LADDER_KEYS)
        m["ladder.reconcile_frac"] = abs(m["ladder.sum_s"] - wall) / wall
        m["trace.overhead_s"] = traced_wall - wall
        m["trace.overhead_frac"] = (traced_wall - wall) / wall
        exp = fx.expected
        m["asof.matched_frac"] = (exp["matched"] / exp["rows"]
                                  if "matched" in exp else 0.0)
        m["pipeline.commit_p50_s"] = (statistics.median(commit_s)
                                      if commit_s else 0.0)
        m.update(dict.fromkeys(("io.bytes_written", "io.files_committed",
                                "io.bytes_per_page"), 0.0))
        m.update(self.io_stats)
        return m


def _commit_latency(samples: list[float]) -> dict:
    """Median per-snapshot commit_batch latency, and the highest
    percentile that still has ten samples above it."""
    out = {"commit_p50_s": statistics.median(samples),
           "commit_samples": len(samples)}
    n = len(samples)
    if n >= 20:
        q = int(100 * (1 - 10 / n))
        out[f"commit_p{q}_s"] = statistics.quantiles(samples, n=100)[q - 1]
    return out


def run(args, root: str, work: str, run_dir: str) -> int:
    r = Run(args, root, work, run_dir)
    with faulty_output(args.fault) if args.fault else contextlib.nullcontext():
        summary, metrics = r.execute()
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps(summary))
    print(json.dumps({
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": len(r.failures),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    sys.stdout.flush()
    return 0
