"""Feature-eng pack #76 (r4): bitemporal correctness + late-data
auditing.

The north-rule's zero-temporal-leakage contract has a second axis in
production: INGEST time.  A crawl row with warc_ts=T may only become
visible hours later; training-data correctness then depends on both
"as of event time" AND "as known at knowledge time".  The trio below
derives a deterministic ingest delay (md5-dyadic seconds in [0,7200))
and audits that axis with exact integer-microsecond arithmetic
(``_us`` == DuckDB ``epoch_us`` — no interval/timezone parity risk):

* ``asof_bitemporal`` — the bitemporal point-in-time join: per user,
  the as-of row at join_ts 2024-01-13 under knowledge time T0
  (= join_ts: only rows already ingested) vs T1 (+24 h: late rows
  now visible).  Rows whose match CHANGES between scenarios are
  exactly the late-data corrections a naive (event-time-only) as-of
  silently backfills into history — the leakage mirror image.
* ``watermark_lag_audit`` — the per-day ingest-lag distribution a
  streaming watermark is tuned from: max and mean delay plus the
  share of rows later than a 1-hour watermark (the rows
  ``withWatermark("1 hour")`` would drop).
* ``late_arrival_impact`` — which (day) partitions a midnight-cut
  batch pipeline must RESTATE: rows whose ingest crosses midnight,
  their exact cents mass, and the distinct users affected.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t, _us

_DELAY_MAX_S = 7200
_JOIN_US = 1_705_104_000_000_000  # 2024-01-13T00:00:00Z
_KT1_US = _JOIN_US + 86_400_000_000  # +24 h knowledge horizon
_WM_SECONDS = 3600
_DAY_US = 86_400_000_000


def _delayed(spark, sf_dir):
    """events + deterministic ingest delay: delay_s = md5-dyadic
    uniform in [0, 7200), ingest_us = event_us + delay."""
    e = _t(spark, sf_dir, "events")
    h16 = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            _us("ts").alias("ts_us"),
            (h16 * _DELAY_MAX_S).alias("h_scaled"),
        )
        .withColumn("delay_s", F.expr("h_scaled DIV 65536"))
        .drop("h_scaled")
        .withColumn(
            "ingest_us",
            F.col("ts_us") + F.col("delay_s") * 1_000_000,
        )
    )


def q_asof_bitemporal(spark, sf_dir):
    """Bitemporal as-of at join_ts = 2024-01-13T00Z: per user and
    knowledge scenario (T0 = join_ts, T1 = +24 h), the latest row
    with ts ≤ join_ts AND ingest ≤ knowledge_ts.  Output: scenario,
    user_id, event_id, ts_us, cents — diff the scenarios to see the
    late-data corrections."""
    d = _delayed(spark, sf_dir).where(F.col("ts_us") <= _JOIN_US)
    rk = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    out = None
    for label, kt in (("T0", _JOIN_US), ("T1", _KT1_US)):
        s = (
            d.where(F.col("ingest_us") <= kt)
            .withColumn("rk", F.row_number().over(rk))
            .where(F.col("rk") == 1)
            .select(
                F.lit(label).alias("scenario"),
                "user_id",
                "event_id",
                "ts_us",
                "cents",
            )
        )
        out = s if out is None else out.unionAll(s)
    return out


def q_watermark_lag_audit(spark, sf_dir):
    """Per event-day ingest-lag profile: n_rows, max/mean delay
    seconds, and the share of rows a 1-hour watermark would treat as
    too late.  Integer delay sums → exact mean."""
    d = _delayed(spark, sf_dir).withColumn(
        "day", F.expr(f"ts_us DIV {_DAY_US}")
    )
    return d.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("delay_s").cast("bigint").alias("max_delay_s"),
        F.round(F.sum("delay_s") / F.count(F.lit(1)), 2).alias(
            "mean_delay_s"
        ),
        F.round(
            F.sum((F.col("delay_s") > _WM_SECONDS).cast("int"))
            / F.count(F.lit(1)),
            4,
        ).alias("frac_past_watermark"),
    )


def q_late_arrival_impact(spark, sf_dir):
    """Which day partitions a midnight-cut batch must restate: rows
    whose ingest lands on a LATER epoch-day than their event time,
    the exact cents mass arriving late, and distinct users touched.
    All-integer; the restatement worklist of an incremental
    featurize job."""
    d = _delayed(spark, sf_dir).withColumn(
        "day", F.expr(f"ts_us DIV {_DAY_US}")
    ).withColumn(
        "late",
        (
            F.expr(f"ingest_us DIV {_DAY_US}")
            > F.expr(f"ts_us DIV {_DAY_US}")
        ).cast("int"),
    )
    return d.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("late").cast("bigint").alias("late_rows"),
        F.sum(F.col("late") * F.col("cents")).cast("bigint").alias(
            "late_cents"
        ),
        F.countDistinct(
            F.when(F.col("late") == 1, F.col("user_id"))
        ).cast("bigint").alias("affected_users"),
    )
