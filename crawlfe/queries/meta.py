"""Feature-eng pack #126 (r4): meta-analysis — pooling per-stratum
effect estimates the way evidence synthesis does, with week-of-month
strata as the "studies": effect_k = mean even-arm cents minus odd-arm
cents in week k, se_k from the two-sample pooled formula (exact
BIGINT moments per stratum).

* ``meta_analysis`` — inverse-variance fixed effect, Cochran's Q,
  I^2 heterogeneity, DerSimonian-Laird tau^2 and the random-effects
  re-pool: the full forest-plot footer in one row.
* ``egger_test`` — funnel-plot asymmetry: OLS of the standardized
  effect z_k = e_k/se_k on precision 1/se_k; the intercept's t
  statistic is the small-study-bias test.
* ``loo_meta`` — leave-one-out sensitivity: the fixed effect with
  each week removed and its delta from the full pool — does any
  single stratum own the conclusion?

Scale shape: one hash agg to the O(weeks) effect table (exact
integer sums), then O(weeks) closed forms; the LOO uses the
subtract-from-totals identity, not k re-pools.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t


def _effects(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        F.floor(
            (F.dayofmonth(F.col("ts").cast("timestamp")) - 1) / 7
        )
        .cast("bigint")
        .alias("week"),
        (F.col("user_id") % 2 == 0).alias("a"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    m = e.groupBy("week").agg(
        F.sum(F.when(F.col("a"), 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("a"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(
            F.when(F.col("a"), F.col("c") * F.col("c")).otherwise(0)
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
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    va = (F.col("qa") - F.col("sa") * F.col("sa") / na) / (na - 1)
    vb = (F.col("qb") - F.col("sb") * F.col("sb") / nb) / (nb - 1)
    return m.select(
        "week",
        (F.col("sa") / na - F.col("sb") / nb).alias("eff"),
        (va / na + vb / nb).alias("v"),
    )


def q_meta_analysis(spark, sf_dir):
    """FIXED + RANDOM (DerSimonian-Laird) pooled arm effect over
    week strata, with Q, I^2, tau^2."""
    eff = _effects(spark, sf_dir)
    w = 1 / F.col("v")
    m = eff.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(w).alias("sw"),
        F.sum(w * F.col("eff")).alias("swe"),
        F.sum(w * w).alias("sww"),
        F.sum(w * F.col("eff") * F.col("eff")).alias("swee"),
    )
    fixed = F.col("swe") / F.col("sw")
    q = F.col("swee") - F.col("swe") * F.col("swe") / F.col("sw")
    dfk = (F.col("k") - 1).cast("double")
    cc = F.col("sw") - F.col("sww") / F.col("sw")
    tau2 = F.greatest(F.lit(0.0), (q - dfk) / cc)
    i2 = F.greatest(F.lit(0.0), (q - dfk) / q)
    base = m.select(
        "k",
        F.round(fixed, 4).alias("fixed_effect"),
        F.round(F.sqrt(1 / F.col("sw")), 4).alias("fixed_se"),
        F.round(q, 4).alias("cochran_q"),
        F.round(i2, 6).alias("i2"),
        tau2.alias("_tau2"),
    )
    re = (
        eff.crossJoin(F.broadcast(base.select("_tau2")))
        .agg(
            F.sum(1 / (F.col("v") + F.col("_tau2"))).alias("swr"),
            F.sum(
                F.col("eff") / (F.col("v") + F.col("_tau2"))
            ).alias("swre"),
        )
    )
    return base.crossJoin(re).select(
        "k",
        "fixed_effect",
        "fixed_se",
        "cochran_q",
        "i2",
        F.round("_tau2", 4).alias("tau2"),
        F.round(F.col("swre") / F.col("swr"), 4).alias(
            "random_effect"
        ),
        F.round(F.sqrt(1 / F.col("swr")), 4).alias("random_se"),
    )


def q_egger_test(spark, sf_dir):
    """EGGER FUNNEL-ASYMMETRY: OLS of z = eff/se on precision 1/se;
    intercept and its t statistic."""
    eff = _effects(spark, sf_dir)
    z = F.col("eff") / F.sqrt("v")
    p = 1 / F.sqrt("v")
    m = eff.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.avg(p).alias("mp"),
        F.avg(z).alias("mz"),
        F.avg(p * p).alias("mpp"),
        F.avg(p * z).alias("mpz"),
        F.avg(z * z).alias("mzz"),
    )
    spz = F.col("mpz") - F.col("mp") * F.col("mz")
    spp = F.col("mpp") - F.col("mp") * F.col("mp")
    szz = F.col("mzz") - F.col("mz") * F.col("mz")
    b = spz / spp
    a = F.col("mz") - b * F.col("mp")
    kk = F.col("k").cast("double")
    sse = kk * (szz - spz * spz / spp)
    se_a = F.sqrt(
        sse
        / (kk - 2)
        * (1 / kk + F.col("mp") * F.col("mp") / (kk * spp))
    )
    return m.select(
        "k",
        F.round(a, 6).alias("egger_intercept"),
        F.round(a / se_a, 6).alias("t_intercept"),
        F.round(b, 6).alias("slope"),
    )


def q_loo_meta(spark, sf_dir):
    """LEAVE-ONE-OUT fixed effects: pooled estimate without each
    week via the subtract-from-totals identity, with the delta."""
    eff = _effects(spark, sf_dir)
    w = 1 / F.col("v")
    tot = eff.agg(
        F.sum(w).alias("sw"), F.sum(w * F.col("eff")).alias("swe")
    )
    j = eff.crossJoin(F.broadcast(tot))
    full = F.col("swe") / F.col("sw")
    loo = (F.col("swe") - (1 / F.col("v")) * F.col("eff")) / (
        F.col("sw") - 1 / F.col("v")
    )
    return j.select(
        "week",
        F.round(F.col("eff"), 4).alias("week_effect"),
        F.round(loo, 4).alias("loo_pooled"),
        F.round(loo - full, 4).alias("delta_vs_full"),
    ).orderBy("week")
