"""spark-submit entry: featurize pages -> features table -> asof_features.

Usage (sandbox):
    spark-submit --py-files crawlfe.zip jobs/featurize.py \
        --output /tmp/crawlfe_out --n-urls 2000 --batches 4 [--crash-after N]

Production shape (BASELINE.json:6/14): identical, with --input pointing at
an Iceberg pages table instead of the deterministic synthesizer and the
IcebergLite shim swapped for the real catalog (crawlfe/io.py docstring).

The job is resume-aware: rerunning with the same --output picks up after
the last committed input snapshot (exactly-once per snapshot). Prints one
JSON summary line to stdout, with the table's html bytes, text bytes,
empty-text docs and extractor fallbacks summed from the committed lineage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlfe.conf import engine_confs  # noqa: E402
from crawlfe.io import IcebergLite  # noqa: E402
from crawlfe.pipeline import feature_pipeline, run_incremental  # noqa: E402
from crawlfe.synth import SynthConfig, synth_pages  # noqa: E402


def _positive_int(s: str) -> int:
    k = int(s)
    if k < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {k}")
    return k


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--output", required=True, help="table root directory")
    ap.add_argument("--n-urls", type=_positive_int, default=2000)
    ap.add_argument("--batches", type=_positive_int, default=4)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--session-gap-s", type=int, default=86400)
    ap.add_argument("--salt-k", type=_positive_int, default=1)
    ap.add_argument(
        "--crash-after", type=int, default=None,
        help="simulate dying after N commits (resume testing)",
    )
    args = ap.parse_args()
    if args.batches > args.n_urls:
        # each batch must own at least one url id of the universe
        ap.error(
            f"--batches ({args.batches}) must not exceed --n-urls "
            f"({args.n_urls})"
        )

    builder = SparkSession.builder.appName("crawlfe-featurize")
    spark = builder.getOrCreate()
    for k, v in engine_confs(spark.sparkContext.defaultParallelism).items():
        spark.conf.set(k, v)

    t0 = time.time()
    per_batch = args.n_urls // args.batches
    batches = []
    for b in range(args.batches):
        lo = b * per_batch
        hi = args.n_urls if b == args.batches - 1 else (b + 1) * per_batch
        cfg = SynthConfig(seed=args.seed, n_urls=args.n_urls)
        # each batch covers url ids [lo, hi) of the same seed universe
        pages = synth_pages(spark, cfg, url_lo=lo, url_hi=hi)
        batches.append((f"snap-{b:04d}", pages))

    features_table = IcebergLite(os.path.join(args.output, "features"))
    committed = run_incremental(
        spark, batches, features_table, crash_after=args.crash_after
    )
    feats = features_table.read(spark)
    n_features = feats.count() if feats is not None else 0
    # data totals from the committed lineage (manifests written before
    # lineage carried these counts add nothing)
    lineage = [r for m in features_table.manifests() for r in m["lineage"]]
    totals = {
        k: sum(r.get(k, 0) for r in lineage)
        for k in ("html_bytes", "text_bytes", "empty_text", "extract_fallback")
    }

    n_asof = 0
    if feats is not None and args.crash_after is None:
        from pyspark.sql import functions as F

        probe = feats.select(
            "url", (F.col("warc_ts") + F.expr("interval 1 hour")).alias("join_ts")
        )
        out = feature_pipeline(
            feats.select(
                "url", "warc_ts", "text_sha256", "feat"
            ),
            probe,
            session_gap_s=args.session_gap_s,
            salt_k=args.salt_k,
        )
        asof_dir = os.path.join(args.output, "asof_features")
        out.write.mode("overwrite").parquet(asof_dir)
        n_asof = spark.read.parquet(asof_dir).count()

    elapsed = time.time() - t0
    print(
        json.dumps(
            {
                "committed_snapshots": committed,
                "n_features": n_features,
                "n_asof_rows": n_asof,
                **totals,
                "elapsed_sec": round(elapsed, 2),
                "features_per_sec": round(n_features / elapsed, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
