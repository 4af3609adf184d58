"""Feature-eng pack #83 (r4): frequency-moment sketches — the AMS F2
estimator and Count-Sketch point queries, benchmarked against the
exact moment profile they approximate.

The frequency vector is user_id activity over ``events`` (the same
shape as per-host page counts in a crawl corpus: F2 drives self-join
output sizing, point-frequency estimates drive hot-key salting).  All
sketch randomness is the registry's deterministic md5 hashing, so both
engines build bit-identical sketches and every comparison is exact.

* ``freq_moments`` — exact F0/F1/F2/F3/F_inf per event_type over the
  per-user frequency vector (the ground truth a sketch is judged by;
  F2 is the self-join size, F0 the distinct count, F_inf the skew cap).
  One two-level hash agg, all BIGINT.
* ``ams_f2`` — Alon-Matias-Szegedy (1996) F2 sketch: R=16 independent
  {-1,+1} hash projections Z_j = sum_v f_v * s_j(v); each Y_j = Z_j^2
  is an unbiased F2 estimate.  Reports the mean-of-16 and the
  median-of-means over 4 groups of 4 (the paper's boosted estimator),
  each divided by a power of two so the doubles are exact.
* ``countsketch_freq`` — Charikar-Chen-Farach-Colton (2002)
  Count-Sketch with d=5 rows x w=64 buckets: point estimate
  median_j s_j(v) * C[j, h_j(v)] for the top-10 heaviest users, next
  to the exact count (the signed-median estimator that, unlike
  count-min's min, is unbiased under cancellation).  The median of 5
  exact BIGINTs is picked by row_number, not interpolation.

Scale shape: the fat table reduces to the O(V) per-user count relation
first; sketches explode that slim relation by d<=16 hash rows and hash-
aggregate to O(d x w) cells — partial-agg shapes end to end.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_AMS_R = 16  # independent AMS estimators
_AMS_G = 4  # median-of-means groups (of 4 each)
_CS_D = 5  # Count-Sketch rows
_CS_W = 64  # Count-Sketch buckets per row
_CS_TOPK = 10  # heaviest users to point-query


def _counts(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )


def _sign(prefix, j, v):
    # deterministic {-1,+1} from one md5 hex nibble's parity
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(prefix),
                    j.cast("string"),
                    F.lit(":"),
                    v.cast("string"),
                )
            ),
            1,
            1,
        ),
        16,
        10,
    ).cast("bigint")
    return (h % 2) * 2 - 1


def q_freq_moments(spark, sf_dir):
    """EXACT frequency-moment profile per event_type over the
    per-user frequency vector: F0 (distinct users), F1 (rows),
    F2 (self-join size), F3, F_inf (max frequency) — all exact
    BIGINTs from a two-level hash agg."""
    e = _t(spark, sf_dir, "events").select("event_type", "user_id")
    f = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("fv")
    )
    return (
        f.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("f0"),
            F.sum("fv").cast("bigint").alias("f1"),
            F.sum(F.col("fv") * F.col("fv")).cast("bigint").alias("f2"),
            F.sum(F.col("fv") * F.col("fv") * F.col("fv"))
            .cast("bigint")
            .alias("f3"),
            F.max("fv").cast("bigint").alias("f_inf"),
        )
        .select(
            "event_type",
            "f0",
            "f1",
            "f2",
            "f3",
            "f_inf",
            F.round(
                F.col("f2").cast("double")
                / (F.col("f1") * F.col("f1")).cast("double"),
                6,
            ).alias("gini_simpson"),
        )
    )


def q_ams_f2(spark, sf_dir):
    """AMS F2 SKETCH vs exact: R=16 deterministic {-1,+1} projections
    of the user frequency vector; Y_j = Z_j^2; mean and median-of-
    means estimates, both exact (divisors are powers of two), plus
    relative errors against the exact F2."""
    c = _counts(spark, sf_dir)
    proj = c.select(
        "user_id",
        "f",
        F.explode(F.sequence(F.lit(1), F.lit(_AMS_R))).alias("j"),
    ).select(
        "j",
        (F.col("f") * _sign("a", F.col("j"), F.col("user_id"))).alias("zf"),
    )
    z = proj.groupBy("j").agg(F.sum("zf").cast("bigint").alias("zj"))
    y = z.select(
        "j",
        ((F.col("j") - 1) / (_AMS_R // _AMS_G)).cast("bigint").alias("g"),
        (F.col("zj") * F.col("zj")).cast("bigint").alias("yj"),
    )
    gm = y.groupBy("g").agg(F.sum("yj").cast("bigint").alias("sg"))
    rn = F.row_number().over(Window.orderBy("sg", "g"))
    mids = gm.select("sg", rn.alias("rn")).where(
        F.col("rn").isin(_AMS_G // 2, _AMS_G // 2 + 1)
    )
    mom = mids.agg(
        (
            F.sum("sg").cast("double")
            / (2.0 * (_AMS_R // _AMS_G))
        ).alias("mom_est")
    )
    mean = y.agg(
        (F.sum("yj").cast("double") / float(_AMS_R)).alias("mean_est")
    )
    exact = c.agg(
        F.count(F.lit(1)).cast("bigint").alias("v_distinct"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2_exact"),
    )
    j = exact.crossJoin(F.broadcast(mean)).crossJoin(F.broadcast(mom))
    return j.select(
        "v_distinct",
        "f2_exact",
        F.round("mean_est", 4).alias("mean_est"),
        F.round("mom_est", 4).alias("mom_est"),
        F.round(
            F.abs(F.col("mean_est") - F.col("f2_exact"))
            / F.col("f2_exact"),
            6,
        ).alias("rel_err_mean"),
        F.round(
            F.abs(F.col("mom_est") - F.col("f2_exact")) / F.col("f2_exact"),
            6,
        ).alias("rel_err_mom"),
    )


def q_countsketch_freq(spark, sf_dir):
    """COUNT-SKETCH point queries: d=5 x w=64 signed-bucket table over
    the user frequency vector; estimate for user v is the MEDIAN over
    rows of s_j(v) * C[j, h_j(v)] (row_number rn=3 of 5 — exact
    BIGINT, no interpolation), reported for the 10 heaviest users next
    to their exact counts."""
    c = _counts(spark, sf_dir)
    vj = c.select(
        "user_id",
        "f",
        F.explode(F.sequence(F.lit(1), F.lit(_CS_D))).alias("j"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("h"),
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    vj = vj.select(
        "user_id",
        "f",
        "j",
        (h % _CS_W).alias("b"),
        _sign("g", F.col("j"), F.col("user_id")).alias("s"),
    )
    tab = vj.groupBy("j", "b").agg(
        F.sum(F.col("f") * F.col("s")).cast("bigint").alias("cjb")
    )
    est = vj.join(tab, ["j", "b"]).select(
        "user_id",
        "f",
        "j",
        (F.col("s") * F.col("cjb")).cast("bigint").alias("est_j"),
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("est_j", "j")
    )
    med = est.withColumn("rn", rn).where(
        F.col("rn") == (_CS_D + 1) // 2
    )
    top = med.orderBy(F.desc("f"), F.asc("user_id")).limit(_CS_TOPK)
    return top.select(
        "user_id",
        F.col("f").alias("f_exact"),
        F.col("est_j").alias("cs_est"),
        (F.col("est_j") - F.col("f")).cast("bigint").alias("err"),
    )
