"""Feature-eng pack #57 (r4): point-in-time pipeline DIAGNOSTICS.

The operators a production PIT/as-of pipeline runs about ITSELF: match
staleness profiling (how old are the features each probe is served?),
a leakage audit as a first-class operator (not just a test), daily
crawl-coverage accounting, and consecutive-snapshot churn. All exact
integer arithmetic until final rounded divisions; the as-of legs ride
the same merge-scan kernel as the flagship pipeline, so these double
as end-to-end oracle checks of the kernel itself (DuckDB twin uses its
native ASOF JOIN).
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..asof import asof_join
from ._shared import _t, _us


def q_asof_staleness(spark, sf_dir):
    """Per-user staleness profile of the click->latest-prior-purchase
    as-of join: how stale is the feature each probe gets? n_probes /
    n_matched plus min/max/sum staleness seconds (exact integer µs
    div). The stale-feature monitor every online feature store runs;
    at 100 TB this is the flagship as-of (bucketed merge scan) plus
    ONE map-side-combinable hash agg on the key."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), "event_id"
    )
    build = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pv")
    )
    j = asof_join(
        probe, build, key="user_id", ts_probe="click_ts", ts_build="ts",
        build_cols=["pv"],
    )
    stale_s = F.expr(
        "(unix_micros(CAST(click_ts AS TIMESTAMP))"
        " - unix_micros(CAST(ts AS TIMESTAMP))) div 1000000"
    )
    return j.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.count("ts").cast("bigint").alias("n_matched"),
        F.min(stale_s).alias("min_stale_s"),
        F.max(stale_s).alias("max_stale_s"),
        F.sum(stale_s).alias("sum_stale_s"),
    )


SQL_ASOF_STALENESS = """
WITH probe AS (
  SELECT user_id, ts AS click_ts, event_id FROM events
  WHERE event_type = 'click'
), build AS (
  SELECT user_id, ts, value AS pv FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.user_id, p.click_ts, b.ts
  FROM probe p ASOF LEFT JOIN build b
    ON p.user_id = b.user_id AND p.click_ts >= b.ts
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(count(ts) AS BIGINT) AS n_matched,
       CAST(min((epoch_us(click_ts) - epoch_us(ts)) // 1000000) AS BIGINT)
         AS min_stale_s,
       CAST(max((epoch_us(click_ts) - epoch_us(ts)) // 1000000) AS BIGINT)
         AS max_stale_s,
       CAST(sum((epoch_us(click_ts) - epoch_us(ts)) // 1000000) AS BIGINT)
         AS sum_stale_s
FROM j GROUP BY user_id
"""


def q_leakage_audit(spark, sf_dir):
    """Temporal-leakage audit AS AN OPERATOR (BASELINE.json:6 "zero
    temporal leakage", verified from the join's own output instead of
    assumed): per user, n_clicks; n_leaks = matched build rows with
    ts > probe ts (must be 0 everywhere — the audit column); and
    n_future_1h = build rows a leaky join COULD have seen (strictly
    after the click, within 1h) — the live denominator showing the
    audit bites. As-of merge scan + one interval-bounded equi join
    pre-shrunk to (user_id, ts) pairs."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), "event_id"
    )
    build = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pv")
    )
    j = asof_join(
        probe, build, key="user_id", ts_probe="click_ts", ts_build="ts",
        build_cols=["pv"],
    )
    per_probe = j.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicks"),
        F.sum(
            F.when(F.col("ts") > F.col("click_ts"), 1).otherwise(0)
        ).cast("bigint").alias("n_leaks"),
    )
    fut = (
        probe.join(build.select("user_id", "ts"), "user_id")
        .where(
            (F.col("ts") > F.col("click_ts"))
            & (
                _us("ts") - _us("click_ts")
                <= F.lit(3_600_000_000)
            )
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_future_1h"))
    )
    return (
        per_probe.join(fut, "user_id", "left")
        .select(
            "user_id", "n_clicks", "n_leaks",
            F.coalesce("n_future_1h", F.lit(0)).cast("bigint").alias(
                "n_future_1h"
            ),
        )
    )


SQL_LEAKAGE_AUDIT = """
WITH probe AS (
  SELECT user_id, ts AS click_ts, event_id FROM events
  WHERE event_type = 'click'
), build AS (
  SELECT user_id, ts, value AS pv FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.user_id, p.click_ts, b.ts
  FROM probe p ASOF LEFT JOIN build b
    ON p.user_id = b.user_id AND p.click_ts >= b.ts
), per_probe AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_clicks,
         CAST(sum(CASE WHEN ts > click_ts THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaks
  FROM j GROUP BY user_id
), fut AS (
  SELECT p.user_id, CAST(count(*) AS BIGINT) AS n_future_1h
  FROM probe p JOIN build b ON p.user_id = b.user_id
  WHERE b.ts > p.click_ts
    AND epoch_us(b.ts) - epoch_us(p.click_ts) <= 3600000000
  GROUP BY p.user_id
)
SELECT pp.user_id, pp.n_clicks, pp.n_leaks,
       CAST(coalesce(f.n_future_1h, 0) AS BIGINT) AS n_future_1h
FROM per_probe pp LEFT JOIN fut f ON pp.user_id = f.user_id
"""


def q_crawl_coverage(spark, sf_dir):
    """Daily coverage accounting per key (the snapshot-cadence health
    report backfill depends on): active-day count, span days, exact
    coverage ppm (BIGINT div — no float share), and the longest
    dark gap in days (lag over the distinct active-day set). Distinct
    active days first (map-side combinable), then ONE window on the
    key — the grid itself is never materialized (contrast: `backfill`
    fills it; this audits whether filling is even sane)."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    gaps = days.withColumn(
        "gap_d", F.datediff(F.col("d"), F.lag("d").over(w))
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active_days"),
        (F.datediff(F.max("d"), F.min("d")) + 1)
        .cast("bigint")
        .alias("span_days"),
        F.expr(
            "CAST(count(1) * 1000000 DIV"
            " (CAST(datediff(max(d), min(d)) AS BIGINT) + 1) AS BIGINT)"
        ).alias("coverage_ppm"),
        F.coalesce(F.max("gap_d"), F.lit(1))
        .cast("bigint")
        .alias("longest_gap_days"),
    )


SQL_CRAWL_COVERAGE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), gaps AS (
  SELECT user_id, d,
         date_diff('day', lag(d) OVER (PARTITION BY user_id ORDER BY d), d)
           AS gap_d
  FROM days
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_active_days,
       CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) AS span_days,
       CAST(count(*) * 1000000 //
            (date_diff('day', min(d), max(d)) + 1) AS BIGINT)
         AS coverage_ppm,
       CAST(coalesce(max(gap_d), 1) AS BIGINT) AS longest_gap_days
FROM gaps GROUP BY user_id
"""


def q_snapshot_churn(spark, sf_dir):
    """Consecutive-snapshot churn per key (the crawl-scheduling
    signal: how often does a page actually change between visits?):
    over each user's 'view' history in (ts, event_id) order, the
    share of consecutive pairs whose cent-value changed and the mean
    absolute cent delta. Exact integer cents through the lag window
    and sums; two rounded divides at the end. One window shuffle on
    the key + one hash agg."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "view")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("bigint")
    v = ev.select("user_id", "ts", "event_id", cents.alias("c"))
    pairs = v.withColumn("prev_c", F.lag("c").over(w)).where(
        F.col("prev_c").isNotNull()
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(F.col("c") != F.col("prev_c"), 1).otherwise(0)
        ).cast("bigint").alias("n_changed"),
        F.round(
            F.sum(
                F.when(F.col("c") != F.col("prev_c"), 1).otherwise(0)
            ) / F.count(F.lit(1)),
            6,
        ).alias("churn_rate"),
        F.round(
            F.sum(F.abs(F.col("c") - F.col("prev_c"))).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_abs_delta_cents"),
    )


SQL_SNAPSHOT_CHURN = """
WITH v AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE event_type = 'view'
), pairs AS (
  SELECT user_id, c,
         lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_c
  FROM v
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN c <> prev_c THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       round(sum(CASE WHEN c <> prev_c THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS churn_rate,
       round(sum(abs(c - prev_c)) / CAST(count(*) AS DOUBLE), 4)
         AS mean_abs_delta_cents
FROM pairs WHERE prev_c IS NOT NULL
GROUP BY user_id
"""
