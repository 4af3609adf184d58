"""Feature-eng pack #104 (r4): survival analysis III — the weighted
two-sample test, the actuarial life table, and the proportional-
hazards diagnostic, all on the standard duration table (time from a
user's first event to first purchase, right-censored at the last
event; arms = even/odd user_id — the same construction as
``logrank_test`` / ``km_hazard`` so the family is comparable).

* ``fh_logrank`` — Peto-Peto / Fleming-Harrington weighted logrank:
  weight at the j-th death time is the pooled modified KM survival
  S~_j = prod_{i<=j} (1 - d_i/(n_i+1)); early differences count for
  more than late ones (the complement of the plain logrank's equal
  weights).  Z = sum w_j (d1_j - e_j) / sqrt(sum w_j^2 v_j) with the
  usual hypergeometric e_j, v_j.
* ``life_table`` — actuarial estimate on weekly intervals: effective
  exposure n' = n - c/2 (censored count half-weighted), conditional
  q_k = d_k/n'_k, cumulative survival S_k = prod(1 - q_i).
* ``schoenfeld_trend`` — PH-assumption check: the per-death-time
  standardized score residual u_j = (d1_j - e_j)/sqrt(v_j) is
  correlated against the event-time rank; a large |z| means the arm
  effect drifts with time (hazards not proportional).

Scale shape: the O(#users) duration table collapses to per-distinct-
time counts; risk sets are one descending prefix sum; every
cumulative product is exp(sum(ln)) over the tiny death-time relation.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t, _us

_LT_WEEK_US = 7 * 86400 * 1_000_000  # actuarial interval width


def _durations(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.select(
        "user_id",
        "event_id",
        "event_type",
        _us("ts").alias("us"),
    ).withColumn("rn", F.row_number().over(wo))
    first = marked.where(F.col("rn") == 1).select(
        "user_id",
        F.col("us").alias("t0"),
        (F.col("user_id") % 2).cast("bigint").alias("g"),
    )
    firstbuy = (
        marked.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_buy"))
    )
    lastev = marked.groupBy("user_id").agg(F.max("us").alias("t_last"))
    return (
        first.join(lastev, "user_id")
        .join(firstbuy, "user_id", "left")
        .select(
            "g",
            F.coalesce(
                F.col("t_buy") - F.col("t0"),
                F.col("t_last") - F.col("t0"),
            ).alias("t"),
            F.when(F.col("t_buy").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("ev"),
        )
    )


def _risk(dur):
    bytime = dur.groupBy("t").agg(
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.count(F.lit(1)).cast("bigint").alias("x"),
    )
    wt = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return bytime.select(
        "t",
        "d1",
        "d",
        (F.sum("x1").over(wall) - F.sum("x1").over(wt) + F.col("x1"))
        .cast("bigint")
        .alias("n1"),
        (F.sum("x").over(wall) - F.sum("x").over(wt) + F.col("x"))
        .cast("bigint")
        .alias("n"),
    )


def q_fh_logrank(spark, sf_dir):
    """PETO-PETO weighted logrank between the even/odd arms: weight
    w_j = pooled modified KM prod_{i<=j}(1 - d_i/(n_i+1)) over death
    times; Z and chi2 reported with the death-time count."""
    risk = _risk(_durations(spark, sf_dir)).where(F.col("d") > 0)
    wd = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wj = F.exp(
        F.sum(
            F.log(
                F.lit(1.0)
                - F.col("d").cast("double") / (F.col("n") + 1)
            )
        ).over(wd)
    )
    nd = F.col("n").cast("double")
    e = F.col("d") * F.col("n1") / nd
    v = (
        F.col("d")
        * (F.col("n1") / nd)
        * (1 - F.col("n1") / nd)
        * (F.col("n") - F.col("d"))
        / (nd - 1)
    )
    terms = risk.where(F.col("n") > 1).select(
        wj.alias("w"),
        (F.col("d1") - e).alias("oe"),
        v.alias("v"),
    )
    m = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_times"),
        F.sum(F.col("w") * F.col("oe")).alias("_num"),
        F.sum(F.col("w") * F.col("w") * F.col("v")).alias("_den"),
    )
    z = F.col("_num") / F.sqrt(F.col("_den"))
    return m.select(
        "n_times",
        F.round(z, 6).alias("z"),
        F.round(z * z, 6).alias("chi2"),
    )


def q_life_table(spark, sf_dir):
    """ACTUARIAL LIFE TABLE on weekly intervals: entering n, deaths
    d, censored c, effective exposure n - c/2, conditional q and the
    cumulative survival prod(1 - q) through each interval."""
    dur = _durations(spark, sf_dir)
    byint = dur.groupBy(
        F.floor(F.col("t") / _LT_WEEK_US).cast("bigint").alias("week")
    ).agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("bigint").alias("c"),
    )
    wcum = Window.orderBy("week").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.partitionBy()
    r = byint.select(
        "week",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wall)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(wcum), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("entering"),
    )
    q = F.col("d") / (
        F.col("entering").cast("double") - F.col("c") / F.lit(2.0)
    )
    r = r.select(
        "week",
        "entering",
        "d",
        "c",
        F.round(q, 6).alias("q"),
        # q = 1 (a closing interval with no censoring) would be ln(0):
        # carry a flag instead and pin surv to 0 from there on
        F.when(q < 1, F.log(F.lit(1.0) - q)).alias("_lp"),
        (q >= 1).cast("int").alias("_dead"),
    )
    wsurv = Window.orderBy("week").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return r.select(
        "week",
        "entering",
        "d",
        "c",
        "q",
        F.when(F.max("_dead").over(wsurv) == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum("_lp").over(wsurv)), 6))
        .alias("surv"),
    ).orderBy("week")


def q_schoenfeld_trend(spark, sf_dir):
    """PH-ASSUMPTION TREND TEST: Pearson correlation of the
    standardized score residual u_j = (d1_j - e_j)/sqrt(v_j) with
    the death-time rank j; z = r sqrt(m-2)/sqrt(1-r^2)."""
    risk = _risk(_durations(spark, sf_dir)).where(
        (F.col("d") > 0) & (F.col("n") > 1)
    )
    nd = F.col("n").cast("double")
    e = F.col("d") * F.col("n1") / nd
    v = (
        F.col("d")
        * (F.col("n1") / nd)
        * (1 - F.col("n1") / nd)
        * (F.col("n") - F.col("d"))
        / (nd - 1)
    )
    wj = Window.orderBy("t")
    terms = risk.select(
        "t", (F.col("d1") - e).alias("oe"), v.alias("v")
    ).where(F.col("v") > 0)
    u = terms.select(
        F.row_number().over(wj).cast("double").alias("j"),
        (F.col("oe") / F.sqrt("v")).alias("u"),
    )
    m = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.avg("j").alias("mj"),
        F.avg("u").alias("mu"),
        F.avg(F.col("j") * F.col("u")).alias("mju"),
        F.avg(F.col("j") * F.col("j")).alias("mjj"),
        F.avg(F.col("u") * F.col("u")).alias("muu"),
    )
    r = (F.col("mju") - F.col("mj") * F.col("mu")) / F.sqrt(
        (F.col("mjj") - F.col("mj") * F.col("mj"))
        * (F.col("muu") - F.col("mu") * F.col("mu"))
    )
    z = r * F.sqrt((F.col("m") - 2) / (1 - r * r))
    return m.select(
        "m",
        F.round(r, 6).alias("corr"),
        F.round(z, 6).alias("z"),
    )
