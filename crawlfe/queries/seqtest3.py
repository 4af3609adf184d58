"""Feature-eng pack #115 (r4): sequential monitoring II — the
group-sequential boundary missing next to ``obrien_fleming``, the
anytime-valid interval next to ``msprt_evalue``, and the SPC chart
next to ``cusum_changepoint`` / ``page_hinkley``.

* ``pocock_boundary`` — 3-look Pocock monitoring (critical value
  2.289 at alpha = .05) of the even/odd-arm daily-cents difference,
  looks after days 10/20/30: cumulative counts/sums are exact
  BIGINTs, z from the pooled-variance two-sample formula.
* ``always_valid_ci`` — normal-mixture confidence sequence on the
  running mean of daily cents: radius_t = sigma-hat *
  sqrt((t+1)/t^2 * ln((t+1)/alpha^2)) — valid at EVERY look
  simultaneously, the fix for peeking that motivates the
  anytime-inference family.  sigma-hat is the full-series plug-in
  (documented diagnostic convention).
* ``cusum_spc`` — two-sided decision-interval CUSUM (k = 0.5 sigma,
  h = 5 sigma) on the standardized daily series.  The recursion
  S+_t = max(0, S+_{t-1} + z_t - k) is evaluated WITHOUT a
  sequential loop via the running-min identity S+_t = W_t -
  min(0, min_{j<=t} W_j), W = cumsum(z - k) — one window scan.

Scale shape: everything folds to the O(days) daily relation; looks
and recursions are window scans over ~30 rows.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_POCOCK_CRIT = 2.289  # K=3, alpha=.05 two-sided
_POCOCK_LOOKS = (10, 20, 30)
_AVCI_ALPHA = 0.05
_CUSUM_K = 0.5
_CUSUM_H = 5.0


def q_pocock_boundary(spark, sf_dir):
    """POCOCK 3-LOOK monitoring of the even/odd arm difference in
    per-event cents at days <=10/20/30; constant boundary 2.289."""
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth(F.col("ts").cast("timestamp")).alias("day"),
        (F.col("user_id") % 2 == 0).alias("a"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    looks = None
    for i, d in enumerate(_POCOCK_LOOKS, 1):
        cut = e.where(F.col("day") <= d)
        m = cut.agg(
            F.lit(i).cast("bigint").alias("look"),
            F.lit(d).cast("bigint").alias("through_day"),
            F.sum(F.when(F.col("a"), 1).otherwise(0))
            .cast("bigint")
            .alias("na"),
            F.sum(F.when(F.col("a"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("sa"),
            F.sum(
                F.when(F.col("a"), F.col("c") * F.col("c")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("qa"),
            F.sum(F.when(~F.col("a"), 1).otherwise(0))
            .cast("bigint")
            .alias("nb"),
            F.sum(F.when(~F.col("a"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("sb"),
            F.sum(
                F.when(
                    ~F.col("a"), F.col("c") * F.col("c")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("qb"),
        )
        looks = m if looks is None else looks.unionByName(m)
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("sa") / na
    mb = F.col("sb") / nb
    va = (F.col("qa") - F.col("sa") * F.col("sa") / na) / (na - 1)
    vb = (F.col("qb") - F.col("sb") * F.col("sb") / nb) / (nb - 1)
    z = (ma - mb) / F.sqrt(va / na + vb / nb)
    return looks.select(
        "look",
        "through_day",
        (F.col("na") + F.col("nb")).cast("bigint").alias("n"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > _POCOCK_CRIT).alias("reject"),
    ).orderBy("look")


def _daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("bigint").alias(
            "day"
        ),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    return e.groupBy("day").agg(
        F.sum("cents").cast("bigint").alias("x")
    )


def q_always_valid_ci(spark, sf_dir):
    """ALWAYS-VALID (normal-mixture) confidence sequence on the
    running mean of daily cents at alpha = .05; every row's [lo,hi]
    holds simultaneously."""
    d = _daily(spark, sf_dir)
    sig = d.agg(
        F.stddev_samp(F.col("x").cast("double")).alias("sig")
    )
    wt = Window.orderBy("day")
    wcum = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = d.crossJoin(F.broadcast(sig)).select(
        "day",
        "sig",
        F.sum("x").over(wcum).cast("bigint").alias("cum"),
        F.row_number().over(wt).cast("bigint").alias("t"),
    )
    t = F.col("t").cast("double")
    mean = F.col("cum") / t
    rad = F.col("sig") * F.sqrt(
        (t + 1)
        / (t * t)
        * F.log((t + 1) / F.lit(_AVCI_ALPHA**2))
    )
    return r.select(
        "day",
        "t",
        F.round(mean, 4).alias("running_mean"),
        F.round(mean - rad, 4).alias("lo"),
        F.round(mean + rad, 4).alias("hi"),
        F.round(2 * rad, 4).alias("width"),
    ).orderBy("day")


def q_cusum_spc(spark, sf_dir):
    """TWO-SIDED DECISION-INTERVAL CUSUM (k=0.5, h=5) on the
    standardized daily series via the running-min/max identity —
    no sequential loop."""
    d = _daily(spark, sf_dir)
    m = d.agg(
        F.avg(F.col("x").cast("double")).alias("mu"),
        F.stddev_samp(F.col("x").cast("double")).alias("sig"),
    )
    wt = Window.orderBy("day")
    wcum = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    z = (F.col("x") - F.col("mu")) / F.col("sig")
    r = d.crossJoin(F.broadcast(m)).select(
        "day",
        F.sum(z - _CUSUM_K).over(wcum).alias("wp"),
        F.sum(-z - _CUSUM_K).over(wcum).alias("wm"),
    )
    sp = F.col("wp") - F.least(
        F.lit(0.0), F.min("wp").over(wcum)
    )
    sm = F.col("wm") - F.least(
        F.lit(0.0), F.min("wm").over(wcum)
    )
    return r.select(
        "day",
        F.round(sp, 4).alias("s_plus"),
        F.round(sm, 4).alias("s_minus"),
        ((sp > _CUSUM_H) | (sm > _CUSUM_H)).alias("alarm"),
    ).orderBy("day")
