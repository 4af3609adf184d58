"""Feature-eng pack #132 (r4): intervention & structural breaks on
the daily-cents series — the "did something change, when, and how"
trio next to cusum_changepoint / binseg_sse / page_hinkley /
band_anomaly_days.

* ``its_segmented`` — interrupted time series with the policy day
  at t0 = 16: separate OLS trends for days < 16 and >= 16, the
  level jump at the boundary (post intercept at t0 minus the
  pre-trend projection) and the slope change — the classic
  segmented-regression readout.
* ``pettitt_test`` — the nonparametric Pettitt changepoint:
  U_t = sum_{i<=t, j>t} sign(x_i - x_j), K = max |U_t|, the argmax
  day and the approximate p = 2 exp(-6K^2/(n^3+n^2)).
* ``chow_test`` — the Chow structural-break F test at day 16:
  pooled-vs-split RSS with k = 2 parameters per segment.

Scale shape: the daily fold is one hash agg; Pettitt's pair grid is
O(days^2) over ~30 rows; the regressions are closed-form moment
reductions.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_BRK_T0 = 16


def _daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("bigint").alias(
            "day"
        ),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    return e.groupBy("day").agg(
        F.sum("cents").cast("double").alias("y")
    ).select(F.col("day").cast("double").alias("t"), "y", "day")


def _seg_fit(d):
    """Per-segment OLS (seg = 0 pre / 1 post) as a 2-row frame."""
    m = d.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("t").alias("mt"),
        F.avg("y").alias("my"),
        F.avg(F.col("t") * F.col("t")).alias("mtt"),
        F.avg(F.col("t") * F.col("y")).alias("mty"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    b = (F.col("mty") - F.col("mt") * F.col("my")) / (
        F.col("mtt") - F.col("mt") * F.col("mt")
    )
    return m.select(
        "seg",
        "n",
        b.alias("b"),
        (F.col("my") - b * F.col("mt")).alias("a"),
        (
            F.col("n")
            * (
                (F.col("myy") - F.col("my") * F.col("my"))
                - (F.col("mty") - F.col("mt") * F.col("my"))
                * (F.col("mty") - F.col("mt") * F.col("my"))
                / (F.col("mtt") - F.col("mt") * F.col("mt"))
            )
        ).alias("rss"),
    )


def q_its_segmented(spark, sf_dir):
    """SEGMENTED ITS at t0 = 16: pre/post trends, boundary level
    jump vs the pre-trend projection, slope change."""
    d = _daily(spark, sf_dir).select(
        "t", "y", (F.col("t") >= _BRK_T0).cast("int").alias("seg")
    )
    fit = _seg_fit(d)
    pre = fit.where(F.col("seg") == 0).select(
        F.col("a").alias("a0"), F.col("b").alias("b0")
    )
    post = fit.where(F.col("seg") == 1).select(
        F.col("a").alias("a1"), F.col("b").alias("b1")
    )
    j = pre.crossJoin(post)
    jump = (
        F.col("a1")
        + F.col("b1") * _BRK_T0
        - (F.col("a0") + F.col("b0") * _BRK_T0)
    )
    return j.select(
        F.round("b0", 4).alias("pre_slope"),
        F.round("b1", 4).alias("post_slope"),
        F.round(jump, 4).alias("level_jump_at_t0"),
        F.round(F.col("b1") - F.col("b0"), 4).alias("slope_change"),
    )


def q_pettitt_test(spark, sf_dir):
    """PETTITT nonparametric changepoint: argmax |U_t|, K and the
    approximate two-sided p."""
    d = _daily(spark, sf_dir)
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.day") < F.col("b.day")
    ).select(
        F.col("a.day").alias("i"),
        F.col("b.day").alias("j"),
        F.signum(F.col("a.y") - F.col("b.y")).alias("s"),
    )
    # U_t = sum over pairs with i <= t < j
    ts = d.select(F.col("day").alias("tcut"))
    u = (
        pairs.join(
            F.broadcast(ts),
            (F.col("i") <= F.col("tcut"))
            & (F.col("j") > F.col("tcut")),
        )
        .groupBy("tcut")
        .agg(F.sum("s").cast("double").alias("u"))
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = Window.orderBy(F.desc(F.abs(F.col("u"))), F.asc("tcut"))
    top = u.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    return top.crossJoin(F.broadcast(n)).select(
        F.col("tcut").cast("bigint").alias("change_day"),
        F.round(F.abs("u"), 1).alias("k_stat"),
        F.round(
            2
            * F.exp(
                -6
                * F.col("u")
                * F.col("u")
                / (
                    F.col("n") * F.col("n") * F.col("n")
                    + F.col("n") * F.col("n")
                )
            ),
            6,
        ).alias("p_approx"),
    )


def q_chow_test(spark, sf_dir):
    """CHOW structural-break F at day 16: pooled vs split RSS,
    k = 2 per segment."""
    d = _daily(spark, sf_dir).select(
        "t", "y", (F.col("t") >= _BRK_T0).cast("int").alias("seg")
    )
    fit = _seg_fit(d)
    split = fit.agg(
        F.sum("rss").alias("rss_split"),
        F.sum("n").alias("n"),
    )
    pooled = _seg_fit(
        d.select("t", "y", F.lit(0).alias("seg"))
    ).select(F.col("rss").alias("rss_pool"))
    j = split.crossJoin(pooled)
    k = 2.0
    fstat = ((F.col("rss_pool") - F.col("rss_split")) / k) / (
        F.col("rss_split") / (F.col("n") - 2 * k)
    )
    return j.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("rss_pool") / F.col("n"), 4).alias(
            "rss_pooled_per_n"
        ),
        F.round(F.col("rss_split") / F.col("n"), 4).alias(
            "rss_split_per_n"
        ),
        F.round(fstat, 6).alias("chow_f"),
    )
