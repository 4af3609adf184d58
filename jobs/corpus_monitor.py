"""spark-submit entry: corpus monitoring — dataset cards + drift + audit.

Usage (sandbox):
    spark-submit --py-files crawlfe.zip jobs/corpus_monitor.py \
        --input /root/testdata/sf0.1 --output /tmp/crawlfe_monitor

Production shape: --input points at the Iceberg documents/events
tables; the job writes five small report tables (per-source dataset
cards, per-event-type KS drift statistics, Benford first-digit audit,
binned PSI drift, lang x source mutual information) in ONE pass each
and prints a single JSON summary line — the nightly monitoring job a
training-data pipeline schedules between ingest and training. Every
report is a registry query from the crawlfe/queries package
(dataset_card, ks_drift, benford_audit, psi_drift, mutual_info), so
what this job ships is exactly what the DuckDB oracles verify. Alert
logic is deliberately threshold-only (max KS, max |obs-exp| Benford
gap) — the job computes statistics, a human owns the paging policy.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlfe.conf import engine_confs  # noqa: E402
from crawlfe.queries import (  # noqa: E402
    q_benford_audit,
    q_dataset_card,
    q_ks_drift,
    q_mutual_info,
    q_psi_drift,
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--input",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--ks-alert", type=float, default=0.1,
        help="flag event types whose KS statistic exceeds this",
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("crawlfe-corpus-monitor").getOrCreate()
    for k, v in engine_confs(spark.sparkContext.defaultParallelism).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs can't change post-start under spark-submit

    t0 = time.time()
    cards = q_dataset_card(spark, args.input)
    drift = q_ks_drift(spark, args.input)
    benford = q_benford_audit(spark, args.input)
    psi = q_psi_drift(spark, args.input)
    mi = q_mutual_info(spark, args.input)

    cards.write.mode("overwrite").parquet(
        os.path.join(args.output, "dataset_cards")
    )
    drift.write.mode("overwrite").parquet(
        os.path.join(args.output, "ks_drift")
    )
    benford.write.mode("overwrite").parquet(
        os.path.join(args.output, "benford_audit")
    )
    psi.write.mode("overwrite").parquet(
        os.path.join(args.output, "psi_drift")
    )
    mi.write.mode("overwrite").parquet(
        os.path.join(args.output, "mutual_info")
    )

    card_rows = cards.collect()  # O(sources) — report-size only
    drift_rows = drift.collect()  # O(event types)
    worst_benford = (
        benford.select(
            F.max(F.abs(F.col("obs_share") - F.col("exp_share"))).alias("g")
        ).collect()[0]["g"]
    )
    worst_psi = (
        psi.select(F.max("psi_total").alias("p")).collect()[0]["p"]
    )
    mi_total = float(
        mi.select(F.max("mi_total").alias("m")).collect()[0]["m"]
    )
    summary = {
        "n_sources": len(card_rows),
        "total_docs": int(sum(r["n_docs"] for r in card_rows)),
        "total_tokens": int(sum(r["total_tokens"] for r in card_rows)),
        "max_dup_rate": max(float(r["dup_rate"]) for r in card_rows),
        "max_ks": max(float(r["ks_stat"]) for r in drift_rows),
        "ks_alerts": sorted(
            r["event_type"]
            for r in drift_rows
            if r["ks_stat"] > args.ks_alert
        ),
        "max_benford_gap": round(float(worst_benford), 6),
        "max_psi": round(float(worst_psi), 6),
        "lang_source_mi": round(mi_total, 6),
        "elapsed_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
