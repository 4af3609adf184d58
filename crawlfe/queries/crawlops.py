"""Feature-eng pack #66 (r4): crawl-operations & planner statistics.

The operational queries a continuously-running crawl/feature pipeline
computes ABOUT ITSELF — scheduling, skew planning, and join-size
estimation.  The events table stands in for the crawl log
(user_id ~ url, ts ~ fetch time, value ~ content signal), the same
entity/time mapping every B-group operator uses (FIXTURES.md §B).

* ``recrawl_priority`` — change-rate × staleness recrawl scoring: the
  classic freshness-driven scheduling policy (Cho & Garcia-Molina
  2003): entities that change often and haven't been fetched recently
  rank first.
* ``salt_plan`` — the skew-salting PLANNER: per-key row counts turned
  into a per-key salt factor (ceil(count/target), capped) — the table
  the salted as-of join (`skew_salted`) consumes instead of a global
  guess.  One map-side-combinable count agg.
* ``join_cardinality_est`` — exact equi-join output-size statistic
  sum(c_left·c_right) from per-key counts, the estimator a planner
  runs BEFORE committing to a shuffle strategy.  Computing it costs
  two count aggs + one slim join — nothing of the fat payload moves.
* ``freshness_sla`` — per event_type share of entities whose latest
  event is older than an SLA horizon relative to the corpus watermark:
  the staleness dashboard number.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t, _us

_SALT_TARGET = 40  # rows per task-slice the planner aims for
_SALT_CAP = 8
_SLA_HOURS = 72


def q_recrawl_priority(spark, sf_dir):
    """Per-entity recrawl priority: change_rate = distinct observed
    values / fetches, staleness_h = hours since the entity's last
    event at the corpus watermark, priority = round(change_rate *
    ln(1 + staleness_h), 4).  One groupBy + a 1-row broadcast
    watermark; the score is a pure function of two aggregates."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fetches"),
        F.countDistinct("value").cast("bigint").alias("n_values"),
        F.max(_us(F.col("ts"))).alias("last_us"),
    )
    wm = ev.agg(F.max(_us(F.col("ts"))).alias("wm_us"))
    change_rate = F.col("n_values") / F.col("n_fetches").cast("double")
    stale_h = (F.col("wm_us") - F.col("last_us")) / F.lit(3600.0 * 1e6)
    return per.crossJoin(F.broadcast(wm)).select(
        "user_id",
        "n_fetches",
        "n_values",
        F.round(change_rate, 6).alias("change_rate"),
        F.round(stale_h, 4).alias("staleness_h"),
        F.round(change_rate * F.log(1.0 + stale_h), 4).alias("priority"),
    )


def q_salt_plan(spark, sf_dir):
    """Skew-salting plan: per-key salt factor ceil(n/target) capped at
    8, emitted only for keys that actually need salting (salt_k > 1) —
    the broadcastable side table a salted join consumes.  At 10^12
    rows the hot-key set is tiny by definition, so the plan table
    always broadcasts."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    salt = F.least(
        F.ceil(F.col("n_rows") / F.lit(float(_SALT_TARGET))).cast("bigint"),
        F.lit(_SALT_CAP).cast("bigint"),
    )
    return per.select(
        "user_id", "n_rows", salt.alias("salt_k")
    ).where(F.col("salt_k") > 1)


def q_join_cardinality_est(spark, sf_dir):
    """Exact equi-join output-cardinality statistic for the
    events-purchases x events-clicks self-join on user_id:
    sum(c_click * c_purchase) over matching keys, plus the per-side
    totals and matched-key count — the numbers a planner compares
    against the broadcast threshold before picking a join strategy.
    Two count aggs and one slim count-to-count join; no event rows
    move."""
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c_click"))
    )
    buys = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c_buy"))
    )
    j = clicks.join(buys, "user_id")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched_keys"),
        F.sum("c_click").cast("bigint").alias("left_rows_matched"),
        F.sum("c_buy").cast("bigint").alias("right_rows_matched"),
        F.sum(F.col("c_click") * F.col("c_buy"))
        .cast("bigint")
        .alias("est_join_rows"),
    )


def q_freshness_sla(spark, sf_dir):
    """Per event_type freshness-SLA report: share of entities whose
    LATEST event of that type is older than 72h at the corpus
    watermark.  Two aggs + a 1-row broadcast — the staleness number a
    recrawl scheduler alarms on."""
    ev = _t(spark, sf_dir, "events")
    last = ev.groupBy("event_type", "user_id").agg(
        F.max(_us(F.col("ts"))).alias("last_us")
    )
    wm = ev.agg(F.max(_us(F.col("ts"))).alias("wm_us"))
    horizon_us = _SLA_HOURS * 3600 * 10**6
    return (
        last.crossJoin(F.broadcast(wm))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_entities"),
            F.sum(
                (F.col("wm_us") - F.col("last_us") > horizon_us).cast("int")
            )
            .cast("bigint")
            .alias("n_stale"),
        )
        .select(
            "event_type",
            "n_entities",
            "n_stale",
            F.round(
                F.col("n_stale") / F.col("n_entities").cast("double"), 4
            ).alias("stale_share"),
        )
    )
