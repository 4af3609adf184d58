"""Feature-eng pack #92 (r4): embedding-space geometry — the three
health checks a vector pipeline runs before trusting cosine retrieval.
All use the registry's exact-quantization discipline: coordinates
become exact BIGINT micro-units q = round(v * 1e6) (float32 -> double
widening is exact), so every sum that crosses rows is integer.

* ``mean_pairwise_cosine`` — corpus anisotropy (Ethayarajh 2019): the
  mean cosine over ALL ordered pairs via the closed form
  (||sum u||^2 - sum ||u||^2) / (n(n-1)) — NO pairwise join at any
  scale.  Unit vectors are fixed-pointed per coordinate
  (u_e6 = round(1e6 q / ||q||)), per-dimension sums are exact
  BIGINTs, and only the 64 final squares are doubles.
* ``embedding_isotropy`` — the partition-function isotropy score of
  Mu & Viswanath (2018): Z(c) = sum_i exp(c . x_i) over 8
  deterministic hash-sign directions; score = min Z / max Z (1.0 =
  perfectly isotropic).  Dots are exact signed BIGINT coordinate
  sums; one exp per (vector, direction).
* ``jl_distortion`` — Johnson-Lindenstrauss audit (Achlioptas 2003
  sign projection): project to k = 8 dims with md5-sign matrix,
  distortion = (d_proj^2 / k) / d_orig^2 on the 499 consecutive
  vec_id pairs; min/mean/max reported.  Projections and both squared
  distances are exact BIGINTs; one double ratio per pair.

Scale shape: everything is posexplode -> hash agg (cells ~ n x 64 or
n x 8); the pairwise statistic is closed-form, the JL pairs come from
a lead window, never a self-join.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_ISO_DIRS = 8
_JL_K = 8


def _cells(spark, sf_dir):
    em = _t(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "vec_id",
        "dim",
        F.expr("CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT)").alias(
            "q"
        ),
    )


def q_mean_pairwise_cosine(spark, sf_dir):
    """MEAN PAIRWISE COSINE without pairs: normalize each vector to
    e6 fixed point (u_e6 = round(1e6 q/||q||) — one identically
    computed double per cell), then
    mean_cos = (sum_d S_d^2 - sum_i ||u_i||^2) / (n(n-1) * 1e12)
    with S_d the exact per-dimension BIGINT sums."""
    c = _cells(spark, sf_dir)
    norm = c.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.expr("q * q")).cast("double")).alias("nrm")
    )
    u = c.join(norm, "vec_id").select(
        "vec_id",
        "dim",
        F.round(F.lit(1e6) * F.col("q") / F.col("nrm"))
        .cast("bigint")
        .alias("u_e6"),
    )
    sd = u.groupBy("dim").agg(F.sum("u_e6").cast("bigint").alias("s_d"))
    tot = sd.agg(
        F.sum(
            F.col("s_d").cast("double") * F.col("s_d").cast("double")
        ).alias("sum_sd2")
    )
    self_ = u.agg(
        F.sum(F.expr("u_e6 * u_e6")).cast("bigint").alias("sum_self"),
        F.countDistinct("vec_id").cast("bigint").alias("n"),
    )
    j = self_.crossJoin(F.broadcast(tot))
    mc = (F.col("sum_sd2") - F.col("sum_self")) / (
        F.col("n") * (F.col("n") - 1)
    ).cast("double") / 1e12
    return j.select(
        "n",
        "sum_self",
        F.round("sum_sd2", 1).alias("sum_sd2"),
        F.round(mc, 6).alias("mean_cos"),
    )


def _sign_expr_spark(prefix, a, b):
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(prefix),
                    a.cast("string"),
                    F.lit(":"),
                    b.cast("string"),
                )
            ),
            1,
            1,
        ),
        16,
        10,
    ).cast("bigint")
    return (h % 2) * 2 - 1


def q_embedding_isotropy(spark, sf_dir):
    """PARTITION-FUNCTION ISOTROPY: 8 hash-sign directions c_k
    (entries +-1/sqrt(64) absorbed into the exp argument); per
    (vector, direction) the dot is the exact signed BIGINT coordinate
    sum; Z_k = sum_i exp(dot / (1e6 * 8)); score = min Z / max Z."""
    c = _cells(spark, sf_dir)
    cd = c.select(
        "vec_id",
        "dim",
        "q",
        F.explode(F.sequence(F.lit(1), F.lit(_ISO_DIRS))).alias("k"),
    )
    dot = cd.groupBy("vec_id", "k").agg(
        F.sum(
            F.col("q") * _sign_expr_spark("iso", F.col("k"), F.col("dim"))
        )
        .cast("bigint")
        .alias("d_e6")
    )
    z = dot.groupBy("k").agg(
        F.sum(F.exp(F.col("d_e6") / (1e6 * 8.0))).alias("z")
    )
    agg = z.agg(
        F.min("z").alias("z_min"),
        F.max("z").alias("z_max"),
        F.count(F.lit(1)).cast("bigint").alias("n_dirs"),
    )
    return agg.select(
        "n_dirs",
        F.round("z_min", 4).alias("z_min"),
        F.round("z_max", 4).alias("z_max"),
        F.round(F.col("z_min") / F.col("z_max"), 6).alias("isotropy"),
    )


def q_jl_distortion(spark, sf_dir):
    """JL SIGN-PROJECTION AUDIT: y_j = sum_d s(j,d) q_d (exact
    BIGINT, j = 1..8); for the 499 consecutive vec_id pairs,
    distortion = (||ya-yb||^2 / k) / ||qa-qb||^2; min/mean/max over
    pairs — the dimensionality-reduction QA every ANN index build
    should log."""
    c = _cells(spark, sf_dir)
    cj = c.select(
        "vec_id",
        "dim",
        "q",
        F.explode(F.sequence(F.lit(1), F.lit(_JL_K))).alias("j"),
    )
    y = cj.groupBy("vec_id", "j").agg(
        F.sum(
            F.col("q") * _sign_expr_spark("jl", F.col("j"), F.col("dim"))
        )
        .cast("bigint")
        .alias("y")
    )
    # original squared distances between consecutive vectors
    dorig = (
        c.select("vec_id", "dim", "q")
        .withColumn("q_next", F.lead("q").over(
            Window.partitionBy("dim").orderBy("vec_id")
        ))
        .where(F.col("q_next").isNotNull())
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("q") - F.col("q_next"))
                * (F.col("q") - F.col("q_next"))
            )
            .cast("bigint")
            .alias("d2_orig")
        )
    )
    dproj = (
        y.withColumn("y_next", F.lead("y").over(
            Window.partitionBy("j").orderBy("vec_id")
        ))
        .where(F.col("y_next").isNotNull())
        .groupBy("vec_id")
        .agg(
            F.sum(
                (F.col("y") - F.col("y_next"))
                * (F.col("y") - F.col("y_next"))
            )
            .cast("bigint")
            .alias("d2_proj")
        )
    )
    pairs = dorig.join(dproj, "vec_id").select(
        (
            F.col("d2_proj").cast("double")
            / _JL_K
            / F.col("d2_orig").cast("double")
        ).alias("r")
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("r").alias("rmin"),
        F.avg("r").alias("rmean"),
        F.max("r").alias("rmax"),
    )
    return agg.select(
        "n_pairs",
        F.round("rmin", 6).alias("min_distortion"),
        F.round("rmean", 6).alias("mean_distortion"),
        F.round("rmax", 6).alias("max_distortion"),
    )
