"""Feature-eng pack #113 (r4): spectral analysis of the daily series
— the frequency-domain complement of fold_period_strength (time-
domain folding), pacf_daily and dow_strength.

Engine-portability discipline: cos/sin weights are LITERALS rounded
to 12 decimals and generated once on the driver (Java Math.cos and
libm cos can disagree in the last ulp), and every float fold is a
day-ordered running sum so the association order is identical in
both engines.  The AR(2) fit uses exact BIGINT cross-moments.

* ``periodogram_peak`` — the classical periodogram I(p) =
  (2/n)(Sc^2 + Ss^2) of the demeaned daily-cents series at integer
  trial periods p = 2..14 days, with the power rank.
* ``ar2_yule_walker`` — AR(2) coefficients from the Yule-Walker
  equations on exact lag-1/lag-2 autocorrelations; when the
  characteristic roots are complex the implied stochastic-cycle
  pseudo-period 2*pi/acos(phi1/(2 sqrt(-phi2))) is reported.
* ``spectral_entropy`` — normalized Shannon entropy of the
  periodogram mass: 1 = white noise, ->0 = a single dominant cycle;
  the peak share comes along as the concentration statistic.

Scale shape: one hash agg to the O(days) relation; the trig grid is
a <=420-row literal broadcast; everything downstream is windows over
<=13 x 31 rows.
"""
from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_SP_PMIN, _SP_PMAX = 2, 14
_SP_DAYS = 31


def _trig_rows():
    rows = []
    for p in range(_SP_PMIN, _SP_PMAX + 1):
        for t in range(1, _SP_DAYS + 1):
            ang = 2 * math.pi * t / p
            rows.append(
                (p, t, round(math.cos(ang), 12), round(math.sin(ang), 12))
            )
    return rows


_TRIG = _trig_rows()


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


def _periodogram(spark, sf_dir):
    d = _daily(spark, sf_dir)
    m = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    trig = spark.createDataFrame(
        _TRIG, "p int, t int, cs double, sn double"
    )
    j = (
        d.crossJoin(F.broadcast(m))
        .join(
            F.broadcast(trig), F.col("day") == F.col("t")
        )
        .select(
            "p",
            "day",
            "n",
            (
                (
                    F.col("x")
                    - F.col("sx").cast("double") / F.col("n")
                )
                * F.col("cs")
            ).alias("tc"),
            (
                (
                    F.col("x")
                    - F.col("sx").cast("double") / F.col("n")
                )
                * F.col("sn")
            ).alias("ts"),
        )
    )
    wcum = Window.partitionBy("p").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlast = Window.partitionBy("p").orderBy(F.desc("day"))
    return (
        j.select(
            "p",
            "n",
            F.sum("tc").over(wcum).alias("sc"),
            F.sum("ts").over(wcum).alias("ss"),
            F.row_number().over(wlast).alias("_rd"),
        )
        .where(F.col("_rd") == 1)
        .select(
            "p",
            (
                2.0
                / F.col("n")
                * (
                    F.col("sc") * F.col("sc")
                    + F.col("ss") * F.col("ss")
                )
            ).alias("power"),
        )
    )


def q_periodogram_peak(spark, sf_dir):
    """PERIODOGRAM at trial periods 2..14 days, reported as the
    scale-free power SHARE (raw power grows with cents^2, putting a
    fixed-decimal round at the fp noise floor); rank 1 is the
    dominant cycle length."""
    pg = _periodogram(spark, sf_dir)
    wcum = Window.orderBy("p").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = (
        pg.select(
            F.sum("power").over(wcum).alias("tot"),
            F.row_number()
            .over(Window.orderBy(F.desc("p")))
            .alias("_rd"),
        )
        .where(F.col("_rd") == 1)
        .select("tot")
    )
    wr = Window.orderBy(F.desc("power"), F.asc("p"))
    return (
        pg.crossJoin(F.broadcast(tot))
        .select(
            "p",
            F.round(F.col("power") / F.col("tot"), 6).alias(
                "power_share"
            ),
            F.row_number()
            .over(wr)
            .cast("bigint")
            .alias("power_rank"),
        )
        .orderBy("p")
    )


def q_ar2_yule_walker(spark, sf_dir):
    """AR(2) VIA YULE-WALKER from exact integer cross-moments:
    phi1, phi2, complex-root flag and the implied pseudo-period."""
    d = _daily(spark, sf_dir)
    w = Window.orderBy("day")
    lagged = d.select(
        "day",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
    )
    m = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("x1")).cast("bigint").alias("s1"),
        F.sum(
            F.when(F.col("x1").isNotNull(), F.col("x"))
        ).cast("bigint").alias("a1"),
        F.sum("x1").cast("bigint").alias("b1"),
        F.count("x1").cast("bigint").alias("n1"),
        F.sum(F.col("x") * F.col("x2")).cast("bigint").alias("s2"),
        F.sum(
            F.when(F.col("x2").isNotNull(), F.col("x"))
        ).cast("bigint").alias("a2"),
        F.sum("x2").cast("bigint").alias("b2"),
        F.count("x2").cast("bigint").alias("n2"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    c0 = F.col("sxx") - F.col("n") * mu * mu
    c1 = (
        F.col("s1")
        - mu * (F.col("a1") + F.col("b1"))
        + F.col("n1") * mu * mu
    )
    c2 = (
        F.col("s2")
        - mu * (F.col("a2") + F.col("b2"))
        + F.col("n2") * mu * mu
    )
    r1 = c1 / c0
    r2 = c2 / c0
    phi1 = r1 * (1 - r2) / (1 - r1 * r1)
    phi2 = (r2 - r1 * r1) / (1 - r1 * r1)
    disc = phi1 * phi1 + 4 * phi2
    period = F.when(
        disc < 0,
        F.round(
            2 * math.pi
            / F.acos(phi1 / (2 * F.sqrt(-phi2))),
            4,
        ),
    )
    return m.select(
        "n",
        F.round(r1, 6).alias("r1"),
        F.round(r2, 6).alias("r2"),
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        (disc < 0).alias("complex_roots"),
        period.alias("pseudo_period"),
    )


def q_spectral_entropy(spark, sf_dir):
    """NORMALIZED SPECTRAL ENTROPY of the periodogram mass over the
    trial periods, with the dominant-peak share."""
    pg = _periodogram(spark, sf_dir)
    wcum = Window.orderBy("p").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlast = Window.orderBy(F.desc("p"))
    tot = (
        pg.select(
            F.sum("power").over(wcum).alias("tot"),
            F.max("power").over(
                Window.partitionBy()
            ).alias("pmax"),
            F.count(F.lit(1)).over(
                Window.partitionBy()
            ).cast("bigint").alias("k"),
            F.row_number().over(wlast).alias("_rd"),
        )
        .where(F.col("_rd") == 1)
        .select("tot", "pmax", "k")
    )
    ent = (
        pg.crossJoin(F.broadcast(tot))
        .select(
            "p",
            "k",
            "pmax",
            "tot",
            (
                -(F.col("power") / F.col("tot"))
                * F.log(F.col("power") / F.col("tot"))
            ).alias("term"),
        )
        .select(
            "k",
            "pmax",
            "tot",
            F.sum("term")
            .over(
                Window.orderBy("p").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("h"),
            F.row_number()
            .over(Window.orderBy(F.desc("p")))
            .alias("_rd"),
        )
        .where(F.col("_rd") == 1)
    )
    return ent.select(
        "k",
        F.round(
            F.col("h") / F.log(F.col("k").cast("double")), 6
        ).alias("h_norm"),
        F.round(F.col("pmax") / F.col("tot"), 6).alias("peak_share"),
    )
