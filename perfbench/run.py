"""crawlfe benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Runs from any working directory. Everything it writes (fixtures, Spark's
scratch and event log, temp files) goes under ``.bench_build/perfbench``
in the checkout that holds this file, and the Python workers import
``crawlfe`` from that checkout. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones; the line before the result is
a JSON summary (fingerprint, per-pass times, failures, strategy).

The run itself happens in a child process; this one waits until every
process the run started (Spark's JVM and its Python workers) has ended.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.engine import proc_table  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("flagship", "incremental_commit")
PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 30  # for the JVM's own shutdown after the run's Python exits


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="how long the measured passes run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: about sf0.001 inputs, for the self-test")
    ap.add_argument("--fault", choices=("rows", "text"),
                    help="corrupt the program's output (self-test): drop "
                         "rows, or give rows a wrong text_sha256")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point Python's, the JVM's and Spark's scratch space into the run
    directory, and let the Python workers import crawlfe from ROOT."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # a fixed JVM heap, ample for the fixtures and a quarter of the
    # 8 GiB default, so runs on a shared host stay small
    os.environ["CRAWLFE_DRIVER_MEM"] = "2g"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
    )))


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child and return once every process it
    started has ended.

    Spark's JVM outlives the Python process that launched it: it sees
    the gateway pipe close only then, and runs its shutdown hooks
    (scratch-dir removal, stopping Python workers) afterwards. As child
    subreaper this process inherits every such orphan, waits for it, and
    kills whatever still runs GRACE_S after the child, or at once when
    this process is told to stop.
    """
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    grace = 0.0
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                                  "--child", *argv])
        rc = child.wait()
        grace = GRACE_S
        return rc
    finally:
        reap_all(grace)


def reap_all(grace_s: float) -> None:
    """Wait for every descendant; SIGKILL the ones left after grace_s."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left, and every orphaned descendant became one
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def children() -> list[int]:
    me = os.getpid()
    return [pid for pid, (ppid, _) in proc_table().items() if ppid == me]


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "crawlfe", "__init__.py")):
        print(f"perfbench: no crawlfe package in {ROOT}", file=sys.stderr)
        return 2
    if not args.child:
        return supervise(argv)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.scale}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    from perfbench.harness import run

    return run(args, ROOT, WORK, run_dir)


if __name__ == "__main__":
    sys.exit(main())
