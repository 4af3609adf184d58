"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json on its tiny (about sf0.001)
fixture, once untraced and once traced, and checks that each result
line is correct, failure-free, and names exactly the metrics of
BENCHMARK.json with their units. Then runs each workload once per
deliberately wrong output (``--fault rows``: rows dropped; ``--fault
text``: a wrong ``text_sha256``, as a broken extractor gives) and checks
that the run reports it. Exits 0 when everything holds; takes about ten
minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload: str, trace: int, fault: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny"] + (["--fault", fault] if fault else [])
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n"
                         f"{p.stderr[-4000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def problems_in(result: dict, want: dict[str, str], nonzero: bool) -> list[str]:
    out = []
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        out.append(f"run not clean: correct={result['correct']} "
                   f"failed={result['failed']} attempted={result['attempted']}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        diff = sorted(set(got) ^ set(want))
        out.append(f"metrics differ from BENCHMARK.json: {diff}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)) or (nonzero and not v["value"]):
            out.append(f"{k} = {v['value']!r}")
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in spec[key]}
            for p in problems_in(bench(w, trace), want, nonzero=not trace):
                problems.append(f"{w} trace={trace}: {p}")
        for fault in ("rows", "text"):
            r = bench(w, 0, fault=fault)
            if r["correct"] or not r["failed"]:
                problems.append(f"{w}: wrong output ({fault}) not reported")
        print(f"{w}: checked", file=sys.stderr)
    for p in problems:
        print(p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
