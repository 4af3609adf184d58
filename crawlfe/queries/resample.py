"""Feature-eng pack #135 (r4): deterministic resampling — bootstrap
and jackknife WITHOUT rand(), the oracle-parity-safe version of the
inference tools every pipeline wants (rand() is banned in this
registry because the DuckDB twin must reproduce every byte; the
replacement is an explicit integer hash-LCG both engines evaluate
identically), next to poisson_bootstrap / jackknife_ratio /
perm_test_mean.

* ``block_bootstrap_se`` — moving-block bootstrap of the daily-cents
  mean: B = 200 replicates x 10 blocks of length 3; block starts
  come from pos = ((A (97 b + j) + C) mod M) mod (n - L + 1) with
  the classic glibc constants — pure BIGINT math.
* ``jackknife_median`` — the delete-1 jackknife of the MEDIAN (the
  non-smooth case where the jackknife is famously shaky): each
  leave-one-out median is read exactly off the order statistics
  (rank shift by one past the deleted rank), jackknife SE reported
  next to the full-sample median.
* ``half_sample_stability`` — 100 deterministic half-samples of the
  per-user totals (hash parity selects each half): SD of the
  half-sample means — the quick-and-honest stability check
  (SE approx SD/sqrt(2)).

Scale shape: replicate grids are generated sequences (B x blocks
rows) joined against the tiny daily relation; the user half-samples
are one hash agg per.. no — ONE pass with the replicate grid
broadcast against the user totals.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2147483648  # 2^31
_BB_B = 200
_BB_NB = 10
_BB_L = 3
_HS_B = 100


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


def q_block_bootstrap_se(spark, sf_dir):
    """MOVING-BLOCK BOOTSTRAP SE of the daily mean, hash-LCG
    block starts (no rand())."""
    d = _daily(spark, sf_dir).localCheckpoint(eager=True)
    # rank days 1..n so block arithmetic is gap-free
    wr = Window.orderBy("day")
    ranked = d.select(
        "x", F.row_number().over(wr).cast("bigint").alias("rk")
    ).localCheckpoint(eager=True)
    n = ranked.count()
    span = n - _BB_L + 1
    grid = (
        spark.range(_BB_B)
        .select(F.col("id").cast("bigint").alias("b"))
        .select(
            "b",
            F.explode(
                F.sequence(F.lit(0), F.lit(_BB_NB - 1))
            ).alias("j"),
        )
    )
    pos = (
        (
            _LCG_A * ((97 * F.col("b") + F.col("j")) % _LCG_M)
            + _LCG_C
        )
        % _LCG_M
    ) % span
    starts = grid.select(
        "b", (pos + 1).alias("s")
    ).select(
        "b",
        F.explode(
            F.sequence(
                F.col("s"), F.col("s") + F.lit(_BB_L - 1)
            )
        ).alias("rk"),
    )
    reps = (
        starts.join(F.broadcast(ranked), "rk")
        .groupBy("b")
        .agg(
            (
                F.sum("x").cast("double") / (_BB_NB * _BB_L)
            ).alias("mean_b")
        )
    )
    base = d.agg(
        F.avg(F.col("x").cast("double")).alias("mean_full")
    )
    return (
        reps.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reps"),
            F.avg("mean_b").alias("mean_of_means"),
            F.stddev_samp("mean_b").alias("boot_se"),
        )
        .crossJoin(base)
        .select(
            F.lit(n).cast("bigint").alias("n_days"),
            "n_reps",
            F.round("mean_full", 4).alias("mean_full"),
            F.round("mean_of_means", 4).alias("mean_of_means"),
            F.round("boot_se", 4).alias("boot_se"),
        )
    )


def q_jackknife_median(spark, sf_dir):
    """DELETE-1 JACKKNIFE of the daily median via exact order
    statistics."""
    d = _daily(spark, sf_dir)
    wr = Window.orderBy("x", "day")
    ranked = d.select(
        F.col("x").cast("double").alias("v"),
        F.row_number().over(wr).cast("bigint").alias("rk"),
    ).localCheckpoint(eager=True)
    n = ranked.count()
    m = n - 1
    k1, k2 = (m + 1) // 2, (m + 2) // 2
    # for deleted rank i: remaining order stat k maps to original
    # rank k + (1 if k >= i else 0)
    dels = spark.range(1, n + 1).select(
        F.col("id").cast("bigint").alias("i")
    )
    j1 = dels.select(
        "i",
        F.when(F.lit(k1) >= F.col("i"), F.lit(k1 + 1))
        .otherwise(F.lit(k1))
        .alias("rk"),
    ).join(F.broadcast(ranked), "rk").select(
        "i", F.col("v").alias("v1")
    )
    j2 = dels.select(
        "i",
        F.when(F.lit(k2) >= F.col("i"), F.lit(k2 + 1))
        .otherwise(F.lit(k2))
        .alias("rk"),
    ).join(F.broadcast(ranked), "rk").select(
        "i", F.col("v").alias("v2")
    )
    loo = j1.join(j2, "i").select(
        "i", ((F.col("v1") + F.col("v2")) / 2).alias("med_i")
    )
    full_k1, full_k2 = (n + 1) // 2, (n + 2) // 2
    full = (
        ranked.where(F.col("rk").isin(full_k1, full_k2))
        .agg(F.avg("v").alias("median_full"))
    )
    mloo = loo.agg(F.avg("med_i").alias("mean_loo"))
    agg = (
        loo.crossJoin(F.broadcast(mloo))
        .agg(
            F.max("mean_loo").alias("mean_loo"),
            F.sum(
                (F.col("med_i") - F.col("mean_loo"))
                * (F.col("med_i") - F.col("mean_loo"))
            ).alias("_ss"),
        )
    )
    return agg.crossJoin(full).select(
        F.lit(n).cast("bigint").alias("n_days"),
        F.round("median_full", 4).alias("median_full"),
        F.round("mean_loo", 4).alias("mean_loo"),
        F.round(
            F.sqrt((n - 1) / float(n) * F.col("_ss")), 4
        ).alias("jackknife_se"),
    )


def q_half_sample_stability(spark, sf_dir):
    """100 DETERMINISTIC HALF-SAMPLES of per-user totals: SD of the
    half-sample means (SE approx SD/sqrt(2))."""
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
            ).alias("y")
        )
        .localCheckpoint(eager=True)
    )
    reps = spark.range(_HS_B).select(
        F.col("id").cast("bigint").alias("b")
    )
    j = u.crossJoin(F.broadcast(reps))
    keep = (
        (
            _LCG_A
            * ((F.col("user_id") * 131 + F.col("b")) % _LCG_M)
            + _LCG_C
        )
        % _LCG_M
    ) % 2 == 0
    means = (
        j.where(keep)
        .groupBy("b")
        .agg(
            F.avg(F.col("y").cast("double")).alias("mean_b"),
            F.count(F.lit(1)).cast("bigint").alias("nb"),
        )
    )
    full = u.agg(F.avg(F.col("y").cast("double")).alias("mean_full"))
    return means.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        F.round(F.avg("mean_b"), 4).alias("mean_of_halves"),
        F.round(F.stddev_samp("mean_b"), 4).alias("half_sd"),
        F.round(F.avg("nb"), 2).alias("mean_half_size"),
    ).crossJoin(full).select(
        "n_reps",
        F.round("mean_full", 4).alias("mean_full"),
        "mean_of_halves",
        "half_sd",
        "mean_half_size",
    )
