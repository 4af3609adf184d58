"""Feature-eng pack #90 (r4): distributional treatment effects and
distribution distance — what an experimenter reads AFTER the mean
effect, plus the renewal-rate contrast.

* ``qte_deciles`` — quantile treatment effects: per arm (the
  event_study hash assignment, user_id % 3 == 0 treated) the
  value-cents decile ORDER STATISTICS (type-1, rank ceil(q n) — no
  interpolation, so every quantile is an exact BIGINT cent value from
  a rank window) and their treated-minus-control differences — the
  Doksum (1974) QTE curve that shows WHERE in the distribution an
  effect lives.
* ``exp_hazard_ratio`` — exponential-renewal rate ratio: per arm the
  MLE event rate lambda = (events - users) / total active span
  (renewals over exposure, both exact BIGINTs in µs), the
  treated/control ratio and its log-scale 95% CI from
  SE = sqrt(1/E1 + 1/E0) — the constant-hazard first look at
  activity-frequency effects.
* ``hellinger_hist`` — Bhattacharyya coefficient / Hellinger distance
  between the purchase and click value histograms over fixed
  2000-cent bins: BC = sum sqrt(p q) (exact counts, one sqrt per
  bin), H = sqrt(1 - BC) — the bounded [0,1] distribution distance a
  drift monitor can threshold.

Scale shape: rank windows per arm (2 partitions), single hash aggs
elsewhere; all raw-row reductions are partial-aggregable.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t, _us
from .causal2 import _ES_TREAT_MOD

_QTE_DECILES = tuple(range(1, 10))
_HH_BIN = 2_000  # cents per histogram bin
_Z95 = 1.959964


def q_qte_deciles(spark, sf_dir):
    """QTE at the deciles: exact type-1 order statistics per arm via
    one rank window over (cents, event_id); qte = q_treat - q_ctrl
    in exact cents."""
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % _ES_TREAT_MOD == 0).cast("int").alias("treat"),
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    w = Window.partitionBy("treat").orderBy("c", "event_id")
    r = e.select(
        "treat",
        "c",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("treat"))
        .cast("bigint")
        .alias("n"),
    )
    dec = r.select(
        "treat",
        "c",
        "rn",
        "n",
        F.explode(
            F.sequence(F.lit(1), F.lit(len(_QTE_DECILES)))
        ).alias("d"),
    ).where(
        # type-1 quantile: the smallest rank >= ceil(d/10 * n)
        F.col("rn") == -F.floor(-(F.col("d") * F.col("n")) / 10)
    )
    per = dec.groupBy("d").agg(
        F.max(F.when(F.col("treat") == 1, F.col("c"))).alias("qt"),
        F.max(F.when(F.col("treat") == 0, F.col("c"))).alias("qc"),
    )
    return per.select(
        F.col("d").cast("bigint").alias("decile"),
        F.col("qt").alias("q_treat_cents"),
        F.col("qc").alias("q_ctrl_cents"),
        (F.col("qt") - F.col("qc")).alias("qte_cents"),
    ).orderBy("decile")


def q_exp_hazard_ratio(spark, sf_dir):
    """EXPONENTIAL RATE RATIO: per arm, renewals = sum(events_u - 1),
    exposure = sum(max ts - min ts) in exact µs per user; lambda in
    events/day, ratio and log-normal 95% CI."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.col("user_id") % _ES_TREAT_MOD == 0).cast("int").alias("treat"),
        _us("ts").alias("us"),
    )
    per = e.groupBy("treat", "user_id").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("renewals"),
        (F.max("us") - F.min("us")).cast("bigint").alias("span_us"),
    )
    arm = per.groupBy("treat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("renewals").cast("bigint").alias("ev"),
        F.sum("span_us").cast("bigint").alias("exp_us"),
    )
    a = arm.where(F.col("treat") == 1).select(
        F.col("n_users").alias("u1"), F.col("ev").alias("e1"),
        F.col("exp_us").alias("x1"),
    )
    b = arm.where(F.col("treat") == 0).select(
        F.col("n_users").alias("u0"), F.col("ev").alias("e0"),
        F.col("exp_us").alias("x0"),
    )
    j = a.crossJoin(F.broadcast(b))
    day_us = 86_400_000_000.0
    l1 = F.col("e1") * day_us / F.col("x1").cast("double")
    l0 = F.col("e0") * day_us / F.col("x0").cast("double")
    ratio = l1 / l0
    se = F.sqrt(1 / F.col("e1").cast("double") + 1 / F.col("e0"))
    return j.select(
        "e1",
        "e0",
        F.round(l1, 6).alias("rate_treat_per_day"),
        F.round(l0, 6).alias("rate_ctrl_per_day"),
        F.round(ratio, 6).alias("rate_ratio"),
        F.round(F.exp(F.log(ratio) - _Z95 * se), 6).alias("lo95"),
        F.round(F.exp(F.log(ratio) + _Z95 * se), 6).alias("hi95"),
    )


def q_hellinger_hist(spark, sf_dir):
    """HELLINGER / BHATTACHARYYA between the purchase and click
    value histograms (2000-cent bins): BC = sum sqrt(p_i q_i) over the
    joint bin grid (exact counts; one sqrt per bin), H = sqrt(1-BC)."""
    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_type",
            (F.expr("CAST(round(value * 100) AS BIGINT)") / _HH_BIN)
            .cast("bigint")
            .alias("bin"),
        )
    )
    cells = e.groupBy("bin").agg(
        F.sum((F.col("event_type") == "purchase").cast("bigint"))
        .cast("bigint")
        .alias("np"),
        F.sum((F.col("event_type") == "click").cast("bigint"))
        .cast("bigint")
        .alias("nc"),
    )
    tot = cells.agg(
        F.sum("np").cast("bigint").alias("tp"),
        F.sum("nc").cast("bigint").alias("tc"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    bc_term = F.sqrt(
        (F.col("np").cast("double") / F.col("tp"))
        * (F.col("nc").cast("double") / F.col("tc"))
    )
    agg = j.groupBy("tp", "tc", "n_bins").agg(
        F.sum(bc_term).alias("bc")
    )
    return agg.select(
        F.col("tp").alias("n_purchase"),
        F.col("tc").alias("n_click"),
        "n_bins",
        F.round("bc", 6).alias("bhattacharyya"),
        F.round(F.sqrt(1 - F.least(F.col("bc"), F.lit(1.0))), 6).alias(
            "hellinger"
        ),
    )
