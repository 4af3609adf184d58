"""Feature-eng pack #119 (r4): revenue concentration + classical
series decomposition — the reporting layer on top of the anomaly
queries (band_anomaly_days, seasonal_anomaly_days, dow_seasonal).

* ``abc_analysis`` — inventory-style ABC classification of
  customers by revenue: cumulative-share classes A (<=80%),
  B (<=95%), C (rest); per class: customer count, revenue share —
  the 80/20 report every ops review starts with.
* ``stl_decompose`` — additive moving-average decomposition of the
  daily-cents series: trend = centered 7-day MA, seasonal = mean
  of detrended by day-of-week (re-centered to sum 0), residual —
  the classical-decomposition core of STL without loess.
* ``seasonal_strength`` — Hyndman's strength-of-component measures
  on that decomposition: F_seasonal = max(0, 1 - var(R)/var(S+R)),
  F_trend = max(0, 1 - var(R)/var(T+R)).

Scale shape: ABC is one hash agg + one ordered cumulative window;
the decomposition is O(days) windows; variances are single
reductions on ~30 rows.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_ABC_A, _ABC_B = 0.80, 0.95
_STL_W = 7  # centered MA window (3 before, 3 after)


def q_abc_analysis(spark, sf_dir):
    """ABC CLASSES of customers by order revenue: cumulative-share
    cuts at 80%/95%; count and revenue share per class."""
    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("cents")
    )
    tot = rev.agg(F.sum("cents").cast("bigint").alias("tot"))
    w = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    r = rev.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "cents",
        "tot",
        (
            F.sum("cents").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            / F.col("tot").cast("double")
        ).alias("cumshare"),
    )
    cls = F.when(F.col("cumshare") <= _ABC_A, "A").otherwise(
        F.when(F.col("cumshare") <= _ABC_B, "B").otherwise("C")
    )
    return (
        r.select(cls.alias("abc"), "cents", "tot")
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(
                F.sum("cents") / F.max("tot").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc")
    )


def _daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("tts"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    return e.groupBy(
        F.dayofmonth("tts").cast("bigint").alias("day"),
        F.dayofweek("tts").cast("bigint").alias("dow"),
    ).agg(F.sum("cents").cast("bigint").alias("x"))


# NOTE: Spark dayofweek is 1=Sunday..7; DuckDB dayofweek is
# 0=Sunday..6, hence the +1 in the oracle.


def _decomp(spark, sf_dir):
    d = _daily(spark, sf_dir)
    half = _STL_W // 2
    wma = Window.orderBy("day").rowsBetween(-half, half)
    wcnt = Window.orderBy("day").rowsBetween(-half, half)
    t = d.select(
        "day",
        "dow",
        "x",
        F.when(
            F.count(F.lit(1)).over(wcnt) == _STL_W,
            F.avg(F.col("x").cast("double")).over(wma),
        ).alias("trend"),
    )
    det = t.select(
        "day",
        "dow",
        "x",
        "trend",
        (F.col("x") - F.col("trend")).alias("det"),
    )
    sdow = det.where(F.col("det").isNotNull()).groupBy("dow").agg(
        F.avg("det").alias("sraw")
    )
    smean = sdow.agg(F.avg("sraw").alias("smean"))
    sdow = sdow.crossJoin(F.broadcast(smean)).select(
        "dow", (F.col("sraw") - F.col("smean")).alias("seasonal")
    )
    return det.join(sdow, "dow").select(
        "day",
        "dow",
        "x",
        "trend",
        "seasonal",
        (F.col("x") - F.col("trend") - F.col("seasonal")).alias(
            "resid"
        ),
    )


def q_stl_decompose(spark, sf_dir):
    """CLASSICAL ADDITIVE DECOMPOSITION per day: centered-MA trend,
    re-centered day-of-week seasonal, residual."""
    return (
        _decomp(spark, sf_dir)
        .select(
            "day",
            "dow",
            "x",
            F.round("trend", 4).alias("trend"),
            F.round("seasonal", 4).alias("seasonal"),
            F.round("resid", 4).alias("resid"),
        )
        .orderBy("day")
    )


def q_seasonal_strength(spark, sf_dir):
    """HYNDMAN STRENGTHS on the interior days (trend defined):
    F_seasonal vs detrended, F_trend vs deseasonalized."""
    d = _decomp(spark, sf_dir).where(F.col("trend").isNotNull())
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.var_pop("resid").alias("vr"),
        F.var_pop(F.col("seasonal") + F.col("resid")).alias("vsr"),
        F.var_pop(F.col("trend") + F.col("resid")).alias("vtr"),
    )
    fs = F.greatest(F.lit(0.0), 1 - F.col("vr") / F.col("vsr"))
    ft = F.greatest(F.lit(0.0), 1 - F.col("vr") / F.col("vtr"))
    return m.select(
        "n",
        F.round(fs, 6).alias("f_seasonal"),
        F.round(ft, 6).alias("f_trend"),
    )
