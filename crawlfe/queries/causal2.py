"""Feature-eng pack #86 (r4): causal inference II — the designs an
experimentation platform reaches for when it CANNOT randomize, as
registry queries next to diff_in_diff / cuped_adjust / mantel_haenszel:

* ``rd_estimate`` — sharp regression-discontinuity (Thistlethwaite &
  Campbell 1960; local-linear form per Imbens & Lemieux 2008): local
  OLS of the purchase indicator on centered value-cents on each side
  of a fixed cutoff within a fixed bandwidth; the effect is the gap
  between the two boundary intercepts.  Every regression moment is an
  exact BIGINT; the two intercepts are closed-form doubles.
* ``iv_wald`` — the Wald (1940) instrumental-variable estimator with
  a weekend instrument: (E[y|z=1] - E[y|z=0]) / (E[x|z=1] - E[x|z=0])
  — exact integer sums, three final divisions.
* ``event_study`` — dynamic difference-in-differences event-study
  coefficients: hash-assigned treated users vs controls, weekly
  relative periods around a Jan-15 policy date, each coefficient the
  double difference vs the r = -1 baseline week (the parallel-trends
  readout; pre-period coefficients near 0 validate the design).

Scale shape: each query is one partial-aggregable hash agg down to
O(1) moments or O(weeks x 2) cells; no shuffle carries raw rows.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_RD_CUT = 15_000  # cents cutoff
_RD_BW = 5_000  # cents bandwidth each side
_ES_POLICY_DAY = 15  # treatment turns on Jan 15
_ES_WEEKS = (-2, -1, 0, 1)  # relative weeks reported
_ES_TREAT_MOD = 3  # user_id % 3 == 0 -> treated


def _xy(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "user_id",
        "ts",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("x"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("y"),
    )


def q_rd_estimate(spark, sf_dir):
    """SHARP RD: local-linear fits of y (purchase indicator) on
    centered x = cents - cutoff within |x| <= bandwidth, one per
    side; tau = intercept_right - intercept_left at the cutoff.
    Side moments (n, Sx, Sy, Sxy, Sxx) are exact BIGINTs."""
    d = (
        _xy(spark, sf_dir)
        .select((F.col("x") - _RD_CUT).alias("xc"), "y")
        .where(
            (F.col("xc") >= -_RD_BW) & (F.col("xc") <= _RD_BW)
        )
        .withColumn("side", (F.col("xc") >= 0).cast("int"))
    )
    m = d.groupBy("side").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("xc") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("sxx"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    a = (F.col("sy") - b * F.col("sx")) / F.col("n").cast("double")
    sides = m.select("side", "n", F.round(a, 6).alias("icept"))
    piv = sides.groupBy().pivot("side", [0, 1]).agg(
        F.first("n").alias("n"), F.first("icept").alias("icept")
    )
    return piv.select(
        F.col("0_n").alias("n_left"),
        F.col("1_n").alias("n_right"),
        F.col("0_icept").alias("icept_left"),
        F.col("1_icept").alias("icept_right"),
        F.round(F.col("1_icept") - F.col("0_icept"), 6).alias("tau_rd"),
    )


def q_iv_wald(spark, sf_dir):
    """WALD IV ESTIMATOR: instrument z = weekend indicator;
    first stage E[x|z], reduced form E[y|z]; wald = dy/dx ratio.
    Four exact BIGINT sums, three final divisions."""
    d = _xy(spark, sf_dir).withColumn(
        "z",
        F.dayofweek(F.col("ts").cast("timestamp")).isin(1, 7).cast("int"),
    )
    m = d.groupBy("z").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    one = m.where(F.col("z") == 1).select(
        F.col("n").alias("n1"), F.col("sx").alias("sx1"),
        F.col("sy").alias("sy1"),
    )
    zero = m.where(F.col("z") == 0).select(
        F.col("n").alias("n0"), F.col("sx").alias("sx0"),
        F.col("sy").alias("sy0"),
    )
    j = one.crossJoin(F.broadcast(zero))
    dy = F.col("sy1") / F.col("n1").cast("double") - F.col("sy0") / F.col(
        "n0"
    ).cast("double")
    dx = F.col("sx1") / F.col("n1").cast("double") - F.col("sx0") / F.col(
        "n0"
    ).cast("double")
    return j.select(
        "n1",
        "n0",
        F.round(dy, 6).alias("reduced_form"),
        F.round(dx, 6).alias("first_stage"),
        F.round(dy / dx, 6).alias("wald_iv"),
    )


def q_event_study(spark, sf_dir):
    """EVENT-STUDY dynamic DiD: treated = user_id % 3 == 0; relative
    week r = floor((day - 15)/7) clipped to the reported window;
    coefficient(r) = (treated_mean(r) - control_mean(r))
                   - (treated_mean(-1) - control_mean(-1)).
    Cents sums exact; the r = -1 baseline gap joins back broadcast."""
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % _ES_TREAT_MOD == 0).cast("int").alias("treat"),
        F.floor(
            (F.dayofmonth(F.col("ts").cast("timestamp")) - _ES_POLICY_DAY)
            / 7.0
        )
        .cast("bigint")
        .alias("rw"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    ).where(F.col("rw").isin(*_ES_WEEKS))
    cells = e.groupBy("rw", "treat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    gaps = (
        cells.groupBy("rw")
        .pivot("treat", [0, 1])
        .agg(F.first("n").alias("n"), F.first("s").alias("s"))
        .select(
            "rw",
            (F.col("1_n") + F.col("0_n")).alias("n_week"),
            (
                F.col("1_s") / F.col("1_n").cast("double")
                - F.col("0_s") / F.col("0_n").cast("double")
            ).alias("gap"),
        )
    )
    base = gaps.where(F.col("rw") == -1).select(
        F.col("gap").alias("base_gap")
    )
    out = gaps.crossJoin(F.broadcast(base))
    return out.select(
        "rw",
        "n_week",
        F.round("gap", 6).alias("gap"),
        F.round(F.col("gap") - F.col("base_gap"), 6).alias("es_coef"),
    )
