"""Feature-eng pack #116 (r4): probabilistic forecast evaluation —
scoring the DISTRIBUTION, not the point (the tier above pack #95's
point-forecast panel and pack #103's scale-free errors).

The probabilistic forecaster under test: weekly seasonal naive
f_t = x_{t-7} with a Gaussian predictive N(f_t, sigma^2), sigma =
sample SD of historical seasonal-naive errors (plug-in).  The
standard-normal CDF is the Abramowitz-Stegun 7.1.26 erf polynomial
written as the SAME literal expression in both engines (neither
DuckDB nor Spark SQL exposes erf), so every double matches bitwise.

* ``crps_eval`` — closed-form Gaussian CRPS
  sigma [z(2 Phi(z) - 1) + 2 phi(z) - 1/sqrt(pi)] per day, with the
  MAE alongside (CRPS <= MAE, equality iff a point mass).
* ``pit_histogram`` — probability integral transform uniformity:
  PIT_t = Phi((x_t - f_t)/sigma) in 10 bins with the chi-square
  uniformity statistic — the calibration check.
* ``winkler_score`` — 80% central-interval evaluation: empirical
  coverage, mean width, and the Winkler interval score
  (width + 2/alpha x overshoot) that trades them off properly.

Scale shape: O(days) relation, one lag window, one plug-in sigma
reduction; the erf polynomial is per-row scalar math.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_FP_LAG = 7
_PIT_BINS = 10
_WK_ALPHA = 0.2  # 80% central interval
_WK_Z = 1.2816  # z_{0.90}

# Abramowitz-Stegun 7.1.26 erf constants
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027,
         1.061405429)
_INV_SQRT2 = 0.7071067811865476
_INV_SQRT_2PI = 0.3989422804014327
_INV_SQRT_PI = 0.5641895835477563


def _phi_cdf_col(z):
    """Phi(z) via A&S 7.1.26: 0.5 (1 + sign(z) erf(|z|/sqrt(2)))."""
    x = F.abs(z) * _INV_SQRT2
    t = 1.0 / (1.0 + _AS_P * x)
    a1, a2, a3, a4, a5 = _AS_A
    poly = (
        a1 * t
        + a2 * t * t
        + a3 * t * t * t
        + a4 * t * t * t * t
        + a5 * t * t * t * t * t
    )
    erf = 1.0 - poly * F.exp(-x * x)
    return 0.5 * (
        1.0 + F.when(z < 0, -erf).otherwise(erf)
    )


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


def _scored(spark, sf_dir):
    d = _daily(spark, sf_dir)
    w = Window.orderBy("day")
    p = d.select(
        "day", "x", F.lag("x", _FP_LAG).over(w).alias("f")
    ).where(F.col("f").isNotNull())
    sig = p.agg(
        F.stddev_samp(
            (F.col("x") - F.col("f")).cast("double")
        ).alias("sig")
    )
    return p.crossJoin(F.broadcast(sig)).select(
        "day",
        "x",
        "f",
        "sig",
        ((F.col("x") - F.col("f")) / F.col("sig")).alias("z"),
    )


def q_crps_eval(spark, sf_dir):
    """GAUSSIAN CRPS of the seasonal-naive probabilistic forecast:
    day-ordered deterministic fold; mean CRPS vs MAE."""
    s = _scored(spark, sf_dir)
    z = F.col("z")
    phi_pdf = _INV_SQRT_2PI * F.exp(-z * z / 2)
    crps = F.col("sig") * (
        z * (2 * _phi_cdf_col(z) - 1)
        + 2 * phi_pdf
        - _INV_SQRT_PI
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlast = Window.orderBy(F.desc("day"))
    r = (
        s.select(
            "day",
            crps.alias("crps"),
            F.abs(F.col("x") - F.col("f"))
            .cast("double")
            .alias("ae"),
        )
        .select(
            F.sum("crps").over(wcum).alias("sc"),
            F.sum("ae").over(wcum).alias("sa"),
            F.count(F.lit(1))
            .over(wcum)
            .cast("bigint")
            .alias("n"),
            F.row_number().over(wlast).alias("_rd"),
        )
        .where(F.col("_rd") == 1)
    )
    return r.select(
        "n",
        F.round(F.col("sc") / F.col("n"), 4).alias("mean_crps"),
        F.round(F.col("sa") / F.col("n"), 4).alias("mae"),
        F.round(
            1 - F.col("sc") / F.col("sa"), 6
        ).alias("crps_skill_vs_mae"),
    )


def q_pit_histogram(spark, sf_dir):
    """PIT UNIFORMITY: Phi(z) binned into 10 deciles, with the
    chi-square uniformity statistic repeated per row."""
    s = _scored(spark, sf_dir)
    pit = _phi_cdf_col(F.col("z"))
    binned = s.select(
        F.least(
            F.lit(_PIT_BINS - 1),
            F.floor(pit * _PIT_BINS).cast("int"),
        )
        .cast("bigint")
        .alias("bin")
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    grid = (
        s.sparkSession.range(_PIT_BINS)
        .select(F.col("id").cast("bigint").alias("bin"))
    )
    fullc = grid.join(counts, "bin", "left").select(
        "bin",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
    )
    tot = fullc.agg(
        F.sum("n").cast("bigint").alias("tot")
    )
    j = fullc.crossJoin(F.broadcast(tot))
    e = F.col("tot").cast("double") / _PIT_BINS
    chi = j.agg(
        F.sum(
            (F.col("n") - e) * (F.col("n") - e) / e
        ).alias("chi2")
    )
    return (
        j.crossJoin(F.broadcast(chi))
        .select(
            "bin",
            "n",
            F.round(
                F.col("n") / F.col("tot").cast("double"), 6
            ).alias("share"),
            F.round("chi2", 6).alias("chi2_uniform"),
        )
        .orderBy("bin")
    )


def q_winkler_score(spark, sf_dir):
    """80% CENTRAL-INTERVAL evaluation: coverage, mean width and the
    mean Winkler interval score."""
    s = _scored(spark, sf_dir)
    lo = F.col("f") - _WK_Z * F.col("sig")
    hi = F.col("f") + _WK_Z * F.col("sig")
    wk = (
        (hi - lo)
        + F.when(
            F.col("x") < lo, 2 / _WK_ALPHA * (lo - F.col("x"))
        ).otherwise(0.0)
        + F.when(
            F.col("x") > hi, 2 / _WK_ALPHA * (F.col("x") - hi)
        ).otherwise(0.0)
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wlast = Window.orderBy(F.desc("day"))
    r = (
        s.select(
            "day",
            ((F.col("x") >= lo) & (F.col("x") <= hi))
            .cast("bigint")
            .alias("cov"),
            (hi - lo).alias("wd"),
            wk.alias("wk"),
        )
        .select(
            F.sum("cov").over(wcum).cast("bigint").alias("sc"),
            F.sum("wd").over(wcum).alias("sw"),
            F.sum("wk").over(wcum).alias("sk"),
            F.count(F.lit(1))
            .over(wcum)
            .cast("bigint")
            .alias("n"),
            F.row_number().over(wlast).alias("_rd"),
        )
        .where(F.col("_rd") == 1)
    )
    return r.select(
        "n",
        F.round(F.col("sc") / F.col("n").cast("double"), 6).alias(
            "coverage"
        ),
        F.round(F.col("sw") / F.col("n"), 4).alias("mean_width"),
        F.round(F.col("sk") / F.col("n"), 4).alias("mean_winkler"),
    )
