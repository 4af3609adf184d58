"""r5 scaling-exponent study (VERDICT.md r4 next-round item #1).

Runs the most expensive registry keys plus the flagship pipeline at TWO
tiers produced by scripts/gen_tier.py — a 0.1-equivalent and the 10x
1.0-equivalent — and records the runtime-vs-scale exponent per key:

    e = log10(t_sf1 / t_sf0.1)        (rows scale x10 between tiers)

e <= ~1.0 means at-worst-linear scaling in data size; e ~ 2 flags a
quadratic (expected ONLY for output-bound keys whose RESULT grows
quadratically, e.g. simhash_pairs on a fixture with a constant
per-pair near-dup probability).
Both tiers come from the same generator/seed so the exponent is not
confounded by distribution differences; best-of-N per (key, tier) with
the tier order interleaved so VM drift hits both tiers equally.

Usage:
    python scripts/gen_tier.py --sf 0.1 --out .scratch/gsf0.1
    python scripts/gen_tier.py --sf 1.0 --out .scratch/gsf1
    python scripts/scaling_exponents.py [--reps 2] [--keys k1,k2,...]
Output: BENCH/scaling_exponents_r05.json (+ one summary line on stdout)
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The registry keys among the top of the r4 sf0.1 suite by wall time
# (BENCH/suite_r04_final.json) plus the flagship pipeline key. Every
# per-query docstring makes an O-claim; this list is the keys where a
# wrong claim would hurt most.
DEFAULT_KEYS = [
    "pipeline_featurize_asof", "ewma", "span_dedup", "kmeanspp_seeds",
    "simhash_pairs", "asof_count_window", "sql_recursive",
    "asof_decay_feature", "pit_features",
    # engine-spine sanity anchors (cheap, should be ~linear scan-bound)
    "asof_join", "tpch_q3", "dedup_exact", "sessionize",
]

# Keys whose WORK grows super-linearly by semantics, so a super-linear
# runtime exponent is the correct behavior, not a defect.
# simhash_pairs: true near-dup pairs grow ~x90 when documents grow x10
# on the tier fixture (BENCH/scaling_exponents_r05_decade2.json,
# simhash_pairs_output_bound_proof).
OUTPUT_BOUND = {"simhash_pairs"}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--keys", type=str, default="")
    ap.add_argument("--lo", default=".scratch/gsf0.1")
    ap.add_argument("--hi", default=".scratch/gsf1")
    ap.add_argument("--out", default="BENCH/scaling_exponents_r05.json")
    a = ap.parse_args()
    keys = [k for k in a.keys.split(",") if k] or DEFAULT_KEYS

    from crawlfe.conf import get_spark
    from crawlfe.queries import REGISTRY

    spark = get_spark(cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    # warm the JVM/session on an unrelated key at the small tier
    REGISTRY["agg_basic"][0](spark, a.lo).collect()

    results = {}
    for key in keys:
        if key == "pipeline_featurize_asof":
            # flagship pipeline: bench.py's own synth fixture scaled to
            # each tier (~260k pages at 0.1, ~2.6M at 1.0); generation
            # is untimed, the timed section is scan->featurize->as-of
            import bench as _bench

            paths = {}
            for tier, sf in ((a.lo, 0.1), (a.hi, 1.0)):
                paths[tier] = f".scratch/pipe_pages_sf{sf}"
                _bench.materialize_pages(spark, sf, paths[tier])
            times = {a.lo: [], a.hi: []}
            for _ in range(a.reps):
                for tier in (a.lo, a.hi):
                    n, _m, dt = _bench.run_pipeline(spark, paths[tier])
                    times[tier].append(dt)
        else:
            fn = REGISTRY[key][0]
            times = {a.lo: [], a.hi: []}
            # interleave tiers so drift lands on both equally
            for _ in range(a.reps):
                for tier in (a.lo, a.hi):
                    t0 = time.time()
                    n = len(fn(spark, tier).collect())
                    times[tier].append(time.time() - t0)
        t_lo, t_hi = min(times[a.lo]), min(times[a.hi])
        e = math.log10(t_hi / t_lo)
        results[key] = {
            "t_sf0.1_sec": round(t_lo, 3),
            "t_sf1_sec": round(t_hi, 3),
            "exponent": round(e, 3),
            "rows_out_sf1": n,
            "output_bound": key in OUTPUT_BOUND,
        }
        flag = " OUTPUT-BOUND" if key in OUTPUT_BOUND else (
            " **SUPER-LINEAR**" if e > 1.1 else "")
        print(f"{key:28s} {t_lo:7.2f}s -> {t_hi:8.2f}s  e={e:+.3f}{flag}",
              flush=True)
    spark.stop()

    bad = [k for k, v in results.items()
           if v["exponent"] > 1.1 and not v["output_bound"]]
    summary = {
        "tiers": {"lo": a.lo, "hi": a.hi, "rows_ratio": 10},
        "reps_per_tier": a.reps,
        "n_keys": len(results),
        "super_linear_non_output_bound": bad,
        "per_key": results,
    }
    with open(a.out, "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({"n_keys": len(results), "super_linear": bad}))


if __name__ == "__main__":
    main()
