"""Feature-eng pack #133 (r4): rank-1 matrix factorization of the
user x event-type interaction matrix (entries = total cents) by
alternating power iteration — the recommender-system primitive next
to embedding_pca1 (which factors the embedding covariance; this
factors a rectangular interaction matrix).

Iteration: v <- M^T u / ||.||_1, u <- M v / ||.||_1, 6 rounds from
uniform — converges to the top singular direction pair; the L1
normalization keeps every value O(1) so the usual round-6 discipline
holds (same convention as pagerank).

* ``svd_rank1`` — the 5 event-type factor loadings v with the final
  L1 growth factor (the un-normalized ||Mv||_1 — the singular-value
  scale surrogate).
* ``user_factor_topk`` — top-10 users by the left factor u: the
  "most aligned with the dominant consumption pattern" ranking.
* ``svd_recon_error`` — the least-squares sigma for the (u, v) pair
  and the relative Frobenius reconstruction error of sigma u v^T —
  how much of the interaction matrix one factor explains.

Scale shape: M stays in long form (user_id, item, cents); each half
round is one broadcast join + hash agg keyed on the small side (5
items) or the user key; rounds are plan-cut with localCheckpoint /
MATERIALIZED CTEs.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_SVD_ROUNDS = 6
_SVD_TOPK = 10


def _m_long(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            "user_id", F.col("event_type").alias("item")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)"
            ).alias("m")
        )
    )


def _factor(spark, sf_dir):
    """6 alternating L1-normalized power rounds -> (u, v, growth)."""
    ml = _m_long(spark, sf_dir).localCheckpoint(eager=True)
    users = ml.select("user_id").distinct().localCheckpoint(
        eager=True
    )
    n_u = users.count()
    u = users.select("user_id", F.lit(1.0 / n_u).alias("u"))
    v = None
    growth = None
    for _ in range(_SVD_ROUNDS):
        vr = (
            ml.join(u, "user_id")
            .groupBy("item")
            .agg(F.sum(F.col("m") * F.col("u")).alias("vr"))
        )
        vt = vr.agg(F.sum(F.abs("vr")).alias("nv"))
        v = (
            vr.crossJoin(F.broadcast(vt))
            .select("item", (F.col("vr") / F.col("nv")).alias("v"))
            .localCheckpoint(eager=True)
        )
        ur = (
            ml.join(F.broadcast(v), "item")
            .groupBy("user_id")
            .agg(F.sum(F.col("m") * F.col("v")).alias("ur"))
        )
        ut = ur.agg(F.sum(F.abs("ur")).alias("nu"))
        growth = ut.select(F.col("nu").alias("growth"))
        u = (
            ur.crossJoin(F.broadcast(ut))
            .select(
                "user_id", (F.col("ur") / F.col("nu")).alias("u")
            )
            .localCheckpoint(eager=True)
        )
    return ml, u, v, growth


def q_svd_rank1(spark, sf_dir):
    """RANK-1 FACTOR item loadings with the final L1 growth."""
    _, _, v, growth = _factor(spark, sf_dir)
    return (
        v.crossJoin(F.broadcast(growth))
        .select(
            "item",
            F.round("v", 6).alias("v_score"),
            F.round("growth", 4).alias("l1_growth"),
        )
        .orderBy(F.desc("v_score"), F.asc("item"))
    )


def q_user_factor_topk(spark, sf_dir):
    """TOP-10 users by the left rank-1 factor u."""
    _, u, _, _ = _factor(spark, sf_dir)
    return (
        u.select("user_id", F.round("u", 6).alias("u_score"))
        .orderBy(F.desc("u_score"), F.asc("user_id"))
        .limit(_SVD_TOPK)
    )


def q_svd_recon_error(spark, sf_dir):
    """LEAST-SQUARES sigma for (u, v) and the relative Frobenius
    error of the rank-1 reconstruction."""
    ml, u, v, _ = _factor(spark, sf_dir)
    j = ml.join(u, "user_id").join(F.broadcast(v), "item")
    m = j.agg(
        F.sum(
            F.col("m") * F.col("u") * F.col("v")
        ).alias("umv"),
        F.sum(F.col("m") * F.col("m")).alias("fro2_m"),
    )
    norms = u.agg(F.sum(F.col("u") * F.col("u")).alias("uu")).crossJoin(
        v.agg(F.sum(F.col("v") * F.col("v")).alias("vv"))
    )
    g = m.crossJoin(norms)
    sigma = F.col("umv") / (F.col("uu") * F.col("vv"))
    # ||M - s u v'||_F^2 = ||M||^2 - 2 s u'Mv + s^2 ||u||^2 ||v||^2
    resid2 = (
        F.col("fro2_m")
        - 2 * sigma * F.col("umv")
        + sigma * sigma * F.col("uu") * F.col("vv")
    )
    return g.select(
        F.round(sigma, 4).alias("sigma"),
        F.round(F.sqrt("fro2_m"), 4).alias("fro_m"),
        F.round(
            F.sqrt(F.greatest(resid2, F.lit(0.0))), 4
        ).alias("fro_resid"),
        F.round(
            F.sqrt(F.greatest(resid2, F.lit(0.0)))
            / F.sqrt("fro2_m"),
            6,
        ).alias("rel_error"),
    )
