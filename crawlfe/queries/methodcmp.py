"""Feature-eng pack #105 (r4): method-comparison / agreement on a
paired continuous measure — the medical-statistics trio every
instrument-swap (or logger-swap) analysis runs.  The pairs are a
test-retest split of the events stream: per user, x = mean cents over
days 1-15, y = mean cents over days 16+; users active in both halves
form the paired sample.

* ``lins_ccc`` — Lin (1989) concordance correlation coefficient:
  2 s_xy / (s_x^2 + s_y^2 + (mx - my)^2), the agreement index that
  penalizes both scatter AND location/scale shift; reported with
  Pearson r and the bias-correction factor C_b = CCC / r.
* ``bland_altman`` — Bland & Altman (1986) limits of agreement:
  mean difference, SD of differences, mean +/- 1.96 SD, and the
  share of pairs outside the limits.
* ``deming_regression`` — errors-in-both-variables fit (lambda = 1):
  slope = (Syy - Sxx + sqrt((Syy - Sxx)^2 + 4 Sxy^2)) / (2 Sxy),
  the symmetric alternative to OLS when neither half is "truth".

Scale shape: one hash agg to the per-user pair table, then a single
partial-aggregable moment reduction; every statistic is a closed form
over 6 moments.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_SPLIT_DAY = 15  # test half = days 1..15, retest half = days 16+
_BA_Z = 1.96


def _pairs(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth(F.col("ts").cast("timestamp")).alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    p = e.groupBy("user_id").agg(
        F.avg(
            F.when(F.col("day") <= _SPLIT_DAY, F.col("cents"))
        ).alias("x"),
        F.avg(
            F.when(F.col("day") > _SPLIT_DAY, F.col("cents"))
        ).alias("y"),
    )
    return p.where(F.col("x").isNotNull() & F.col("y").isNotNull())


def _moments(p):
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
    )


def q_lins_ccc(spark, sf_dir):
    """LIN'S CCC with Pearson r and the bias-correction factor C_b
    (population moments; C_b = CCC / r <= 1, equality iff no
    location/scale shift)."""
    m = _moments(_pairs(spark, sf_dir))
    sxx = F.col("mxx") - F.col("mx") * F.col("mx")
    syy = F.col("myy") - F.col("my") * F.col("my")
    sxy = F.col("mxy") - F.col("mx") * F.col("my")
    dm = F.col("mx") - F.col("my")
    ccc = 2 * sxy / (sxx + syy + dm * dm)
    r = sxy / F.sqrt(sxx * syy)
    return m.select(
        "n",
        F.round(ccc, 6).alias("ccc"),
        F.round(r, 6).alias("pearson_r"),
        F.round(ccc / r, 6).alias("c_b"),
    )


def q_bland_altman(spark, sf_dir):
    """BLAND-ALTMAN limits of agreement on d = x - y: mean, sample
    SD, mean +/- 1.96 SD, and the share of pairs outside."""
    p = _pairs(spark, sf_dir).select(
        (F.col("x") - F.col("y")).alias("d")
    )
    m = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("d").alias("md"),
        F.stddev_samp("d").alias("sd"),
    )
    lo = F.col("md") - _BA_Z * F.col("sd")
    hi = F.col("md") + _BA_Z * F.col("sd")
    base = m.select("n", "md", "sd", lo.alias("lo"), hi.alias("hi"))
    nout = p.crossJoin(F.broadcast(base.select("lo", "hi"))).agg(
        F.sum(
            (
                (F.col("d") < F.col("lo")) | (F.col("d") > F.col("hi"))
            ).cast("bigint")
        ).alias("n_out")
    )
    out = base.crossJoin(nout)
    return out.select(
        "n",
        F.round("md", 4).alias("mean_diff"),
        F.round("sd", 4).alias("sd_diff"),
        F.round("lo", 4).alias("loa_lo"),
        F.round("hi", 4).alias("loa_hi"),
        F.round(F.col("n_out") / F.col("n"), 6).alias("pct_outside"),
    )


def q_deming_regression(spark, sf_dir):
    """DEMING REGRESSION (lambda = 1): the symmetric slope
    (Syy - Sxx + sqrt((Syy - Sxx)^2 + 4 Sxy^2)) / (2 Sxy) and its
    intercept, vs the OLS slope for contrast."""
    m = _moments(_pairs(spark, sf_dir))
    sxx = F.col("mxx") - F.col("mx") * F.col("mx")
    syy = F.col("myy") - F.col("my") * F.col("my")
    sxy = F.col("mxy") - F.col("mx") * F.col("my")
    dif = syy - sxx
    slope = (dif + F.sqrt(dif * dif + 4 * sxy * sxy)) / (2 * sxy)
    return m.select(
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(F.col("my") - slope * F.col("mx"), 4).alias(
            "intercept"
        ),
        F.round(sxy / sxx, 6).alias("ols_slope"),
    )
