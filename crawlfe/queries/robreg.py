"""Feature-eng pack #125 (r4): robust regression on the daily trend
— the outlier-resistant complement of grouped_ols / theil_sen /
durbin_watson, all on y = daily cents vs x = day index.

* ``qreg_median`` — LAD (median) regression via 4 IRLS rounds
  (w = 1/max(|e|, eps)): the conditional-median trend next to the
  OLS conditional-mean trend, both reported.
* ``huber_trend`` — Huber M-estimate of the trend via 4 IRLS rounds
  (k = 1.345 sigma_mad): w = min(1, k/|e|); the efficiency-
  preserving middle ground.
* ``regression_influence`` — OLS influence: leverage h_ii = 1/n +
  (x-xbar)^2/Sxx and Cook's distance D_i = e_i^2 h_ii /
  (p s^2 (1-h_ii)^2), top-5 most influential days — which days own
  the trend estimate.

Scale shape: the daily fold is one hash agg; each IRLS round is one
weighted-moment reduction (fixed 4 rounds, plan-cut via
localCheckpoint); influence is a per-row closed form.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_IRLS_ROUNDS = 4
_LAD_EPS = 1e-6
_HUBER_K = 1.345
_INFL_TOPK = 5


def _daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("bigint").alias(
            "day"
        ),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    return e.groupBy("day").agg(
        F.sum("cents").cast("double").alias("y")
    ).select(F.col("day").cast("double").alias("x"), "y", "day")


def _wls(d, wcol):
    """Closed-form weighted least squares slope/intercept."""
    m = d.agg(
        F.sum(wcol).alias("sw"),
        F.sum(wcol * F.col("x")).alias("swx"),
        F.sum(wcol * F.col("y")).alias("swy"),
        F.sum(wcol * F.col("x") * F.col("x")).alias("swxx"),
        F.sum(wcol * F.col("x") * F.col("y")).alias("swxy"),
    )
    b = (
        F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swy")
    ) / (
        F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")
    )
    a = (F.col("swy") - b * F.col("swx")) / F.col("sw")
    return m.select(b.alias("b"), a.alias("a"))


def q_qreg_median(spark, sf_dir):
    """LAD MEDIAN REGRESSION via 4 IRLS rounds vs the OLS trend."""
    d = _daily(spark, sf_dir).localCheckpoint(eager=True)
    fit = _wls(d, F.lit(1.0)).localCheckpoint(eager=True)
    ols = fit
    for _ in range(_IRLS_ROUNDS):
        j = d.crossJoin(F.broadcast(fit))
        w = 1.0 / F.greatest(
            F.abs(
                F.col("y") - F.col("a") - F.col("b") * F.col("x")
            ),
            F.lit(_LAD_EPS),
        )
        fit = _wls(j, w).localCheckpoint(eager=True)
    return (
        fit.select(
            F.round("b", 4).alias("lad_slope"),
            F.round("a", 4).alias("lad_intercept"),
        )
        .crossJoin(
            ols.select(F.round("b", 4).alias("ols_slope"))
        )
    )


def q_huber_trend(spark, sf_dir):
    """HUBER M-TREND via 4 IRLS rounds, k = 1.345 sigma_mad."""
    d = _daily(spark, sf_dir).localCheckpoint(eager=True)
    fit = _wls(d, F.lit(1.0)).localCheckpoint(eager=True)
    ols = fit
    for _ in range(_IRLS_ROUNDS):
        j0 = d.crossJoin(F.broadcast(fit)).select(
            "x",
            "y",
            "day",
            F.abs(
                F.col("y") - F.col("a") - F.col("b") * F.col("x")
            ).alias("ae"),
        )
        # scale = MAD of residuals / 0.6745 (median via interpolation)
        wr = Window.orderBy("ae", "day")
        rr = j0.select(
            "ae",
            (F.row_number().over(wr) - 1).cast("double").alias("r"),
            (F.count(F.lit(1)).over(Window.partitionBy()) - 1)
            .cast("double")
            .alias("m"),
        )
        mad = rr.where(
            (F.col("r") == F.floor(F.col("m") * 0.5))
            | (F.col("r") == F.ceil(F.col("m") * 0.5))
        ).agg((F.avg("ae") / 0.6745).alias("s"))
        j = j0.crossJoin(F.broadcast(mad))
        w = F.least(
            F.lit(1.0),
            _HUBER_K * F.col("s") / F.greatest(
                F.col("ae"), F.lit(_LAD_EPS)
            ),
        )
        fit = _wls(j, w).localCheckpoint(eager=True)
    return (
        fit.select(
            F.round("b", 4).alias("huber_slope"),
            F.round("a", 4).alias("huber_intercept"),
        )
        .crossJoin(
            ols.select(F.round("b", 4).alias("ols_slope"))
        )
    )


def q_regression_influence(spark, sf_dir):
    """LEVERAGE + COOK'S DISTANCE for the daily OLS trend; top-5
    influential days."""
    d = _daily(spark, sf_dir)
    m = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
    )
    b = (F.col("mxy") - F.col("mx") * F.col("my")) / (
        F.col("mxx") - F.col("mx") * F.col("mx")
    )
    a = F.col("my") - b * F.col("mx")
    mm = m.select(
        "n",
        "mx",
        b.alias("b"),
        a.alias("a"),
        (
            F.col("n")
            * (F.col("mxx") - F.col("mx") * F.col("mx"))
        ).alias("sxx"),
    )
    j = d.crossJoin(F.broadcast(mm)).select(
        "day",
        "x",
        "y",
        "n",
        (F.col("y") - F.col("a") - F.col("b") * F.col("x")).alias(
            "e"
        ),
        (
            1 / F.col("n")
            + (F.col("x") - F.col("mx"))
            * (F.col("x") - F.col("mx"))
            / F.col("sxx")
        ).alias("h"),
    )
    s2 = j.agg(
        (F.sum(F.col("e") * F.col("e")) / (F.max("n") - 2)).alias(
            "s2"
        )
    )
    out = j.crossJoin(F.broadcast(s2)).select(
        "day",
        F.round("e", 4).alias("resid"),
        F.round("h", 6).alias("leverage"),
        F.round(
            F.col("e")
            * F.col("e")
            * F.col("h")
            / (
                2
                * F.col("s2")
                * (1 - F.col("h"))
                * (1 - F.col("h"))
            ),
            6,
        ).alias("cooks_d"),
    )
    return out.orderBy(F.desc("cooks_d"), F.asc("day")).limit(
        _INFL_TOPK
    )
