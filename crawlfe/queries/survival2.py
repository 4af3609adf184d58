"""Feature-eng pack #91 (r4): the survival-CURVE layer over the
registry's KM life table, plus an inequality index.

``km_hazard`` (crawlfe/queries/stats_behave.py) emits the exact life
table (at-risk / events per duration); these queries add the curve
quantities every retention report needs, with the registry's
fixed-point discipline so the KM PRODUCT is engine-exact: each step's
ln(1 - d/n) is ONE identically-computed double rounded to an e12
BIGINT, the cumulative sum is exact integer addition, and
S(t) = exp(cum/1e12) is one double per row.

* ``km_greenwood`` — KM survival with Greenwood (1926) 95% CI per
  duration step (up to 14 days): var(S)/S^2 = cumsum d/(n(n-d)) is
  the same e12 fixed-point cumulative; CI clamped to [0,1].
* ``km_rmst`` — restricted mean survival time (Royston & Parmar
  2013 popularized; the area under KM up to tau = 14 days): each
  rectangle S(t_{i-1}) * (t_i - t_{i-1}) rounds to an e6 BIGINT
  before the final exact sum, so the area is bit-deterministic.
* ``atkinson_index`` — Atkinson (1970) inequality index at
  epsilon = 0.5 over order totalprice cents: the equally-distributed
  equivalent is (mean sqrt)^2 with per-row sqrt fixed-pointed to e6;
  A = 1 - EDE/mean.

Scale shape: the duration relation is bounded by the corpus day span
(same bounded-window idiom as km_hazard); atkinson is one hash agg of
exact sums.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_KM_TAU = 14  # days horizon for the CI table and RMST
_Z95 = 1.959964


def _life(spark, sf_dir):
    """Exact first->second-order duration life table (same
    construction as q_km_hazard), with per-step ln-survival and
    Greenwood increments as e12 fixed-point BIGINTs."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    rk = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    ).withColumn("rk", F.row_number().over(w))
    per = rk.where(F.col("rk") <= 2).groupBy("o_custkey").agg(
        F.min(F.when(F.col("rk") == 1, F.col("d"))).alias("first_d"),
        F.min(F.when(F.col("rk") == 2, F.col("d"))).alias("second_d"),
    )
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("max_d"))
    dur = per.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("second_d").isNotNull(),
            F.datediff(F.col("second_d"), F.col("first_d")),
        )
        .otherwise(F.datediff(F.col("max_d"), F.col("first_d")))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("second_d").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("event"),
    )
    g = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("exits"),
        F.sum("event").cast("bigint").alias("d_ev"),
    )
    wdesc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    g = g.withColumn("n_at", F.sum("exits").over(wdesc).cast("bigint"))
    lnterm = F.round(
        F.lit(1e12)
        * F.log(
            1.0 - F.col("d_ev").cast("double") / F.col("n_at")
        )
    ).cast("bigint")
    gw = F.round(
        F.lit(1e12)
        * F.col("d_ev").cast("double")
        / (F.col("n_at") * (F.col("n_at") - F.col("d_ev"))).cast("double")
    ).cast("bigint")
    # d_ev == n_at is the terminal S=0 step: ln(0) and Greenwood's
    # n(n-d) denominator are both undefined there — excluded, as in
    # standard KM software (the curve is reported up to the last
    # step with survivors)
    stepped = g.where(
        (F.col("d_ev") > 0) & (F.col("d_ev") < F.col("n_at"))
    ).select(
        "t",
        "n_at",
        "d_ev",
        lnterm.alias("ln_e12"),
        gw.alias("gw_e12"),
    )
    wasc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return stepped.select(
        "t",
        "n_at",
        "d_ev",
        F.sum("ln_e12").over(wasc).cast("bigint").alias("cumln_e12"),
        F.sum("gw_e12").over(wasc).cast("bigint").alias("cumgw_e12"),
    )


def q_km_greenwood(spark, sf_dir):
    """KM SURVIVAL + GREENWOOD 95% CI per event step up to 14 days:
    S = exp(cumln/1e12), se = S*sqrt(cumgw/1e12), CI clamped to
    [0,1] — the curve a retention dashboard plots with its band."""
    life = _life(spark, sf_dir).where(F.col("t") <= _KM_TAU)
    s = F.exp(F.col("cumln_e12") / 1e12)
    se = s * F.sqrt(F.col("cumgw_e12") / 1e12)
    return life.select(
        "t",
        "n_at",
        "d_ev",
        F.round(s, 6).alias("surv"),
        F.round(se, 6).alias("se"),
        F.round(F.greatest(F.lit(0.0), s - _Z95 * se), 6).alias("lo95"),
        F.round(F.least(F.lit(1.0), s + _Z95 * se), 6).alias("hi95"),
    )


def q_km_rmst(spark, sf_dir):
    """RESTRICTED MEAN SURVIVAL TIME at tau = 14 days: the KM area
    sum S(t_{i-1}) * (t_i - t_{i-1}) over event steps <= tau plus the
    tail rectangle to tau; every rectangle rounds to an e6 BIGINT
    before the exact final sum."""
    life = _life(spark, sf_dir).where(F.col("t") <= _KM_TAU)
    w = Window.orderBy("t")
    r = life.select(
        "t",
        F.lag("t", 1, 0).over(w).cast("bigint").alias("t_prev"),
        F.coalesce(F.lag("cumln_e12").over(w), F.lit(0))
        .cast("bigint")
        .alias("prev_cumln"),
        "cumln_e12",
    )
    area = F.round(
        F.lit(1e6)
        * (F.col("t") - F.col("t_prev"))
        * F.exp(F.col("prev_cumln") / 1e12)
    ).cast("bigint")
    tail = r.groupBy().agg(
        F.max("t").cast("bigint").alias("t_last"),
        F.min("cumln_e12").cast("bigint").alias("min_cumln"),
    )
    # survival is nonincreasing so last (largest t) has the MIN cumln
    steps = r.agg(
        F.sum(area).cast("bigint").alias("area_e6"),
        F.count(F.lit(1)).cast("bigint").alias("n_steps"),
    )
    j = steps.crossJoin(F.broadcast(tail))
    tail_area = F.round(
        F.lit(1e6)
        * (F.lit(_KM_TAU) - F.col("t_last"))
        * F.exp(F.col("min_cumln") / 1e12)
    ).cast("bigint")
    return j.select(
        "n_steps",
        "t_last",
        "area_e6",
        tail_area.alias("tail_e6"),
        F.round(
            (F.col("area_e6") + tail_area) / 1e6, 6
        ).alias("rmst_days"),
    )


def q_atkinson_index(spark, sf_dir):
    """ATKINSON INDEX (epsilon = 0.5) over order totalprice cents:
    EDE = (mean of sqrt x)^2 with per-row sqrt fixed-pointed to e6;
    A = 1 - EDE/mean — the welfare-weighted concentration readout
    next to theil_index/lorenz_curve."""
    o = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c")
    )
    sq_e6 = F.round(F.lit(1e6) * F.sqrt(F.col("c"))).cast("bigint")
    agg = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(sq_e6).cast("bigint").alias("ssq_e6"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    ede = (
        F.col("ssq_e6").cast("double") / (F.col("n") * 1e6)
    ) * (F.col("ssq_e6").cast("double") / (F.col("n") * 1e6))
    return agg.select(
        "n",
        "s",
        "ssq_e6",
        F.round(mean, 4).alias("mean_cents"),
        F.round(ede, 4).alias("ede_cents"),
        F.round(1 - ede / mean, 6).alias("atkinson_05"),
    )
