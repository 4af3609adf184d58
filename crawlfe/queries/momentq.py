"""Feature-eng pack #120 (r4): moment-based distribution tools on
the per-user total-cents distribution — what you can (and cannot)
get from the first four moments when the raw data is too big to
sort.

* ``cornish_fisher_q`` — the Cornish-Fisher p95 from (mean, sd,
  skew, excess kurtosis) vs the exact interpolated p95: the error
  column IS the answer ("are four moments enough for this tail?").
* ``chebyshev_audit`` — empirical tail mass P(|X-mu| >= k sigma) at
  k = 2, 3 against the Chebyshev (1/k^2) and one-sided Cantelli
  (1/(1+k^2)) bounds — how loose are the distribution-free
  guarantees on real data.
* ``box_cox`` — profile-likelihood Box-Cox selection over the
  lambda grid {-1, -0.5, 0, 0.5, 1}: LL(lambda) = -n/2 ln
  varhat(y(lambda)) + (lambda-1) sum ln x; reports the grid with
  the argmax flagged.

Scale shape: one hash agg to per-user totals, then single moment /
grid reductions; the only sort is the exact-p95 ranking for the
error audit.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_CF_P = 0.95
_CF_Z = 1.6448536269514722  # z_{0.95}
_CHEB_KS = (2.0, 3.0)
_BC_LAMBDAS = (-1.0, -0.5, 0.0, 0.5, 1.0)


def _user_cents(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
            ).alias("x")
        )
    )


def q_cornish_fisher_q(spark, sf_dir):
    """CORNISH-FISHER p95 from four moments vs the exact
    interpolated p95; relative error reported."""
    u = _user_cents(spark, sf_dir)
    m = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg(F.col("x").cast("double")).alias("m1"),
        F.avg(F.pow(F.col("x").cast("double"), F.lit(2.0))).alias(
            "r2"
        ),
        F.avg(F.pow(F.col("x").cast("double"), F.lit(3.0))).alias(
            "r3"
        ),
        F.avg(F.pow(F.col("x").cast("double"), F.lit(4.0))).alias(
            "r4"
        ),
    )
    m1 = F.col("m1")
    m2 = F.col("r2") - m1 * m1
    m3 = F.col("r3") - 3 * m1 * F.col("r2") + 2 * m1 * m1 * m1
    m4 = (
        F.col("r4")
        - 4 * m1 * F.col("r3")
        + 6 * m1 * m1 * F.col("r2")
        - 3 * m1 * m1 * m1 * m1
    )
    g1 = m3 / F.pow(m2, F.lit(1.5))
    g2 = m4 / (m2 * m2) - 3
    z = F.lit(_CF_Z)
    zcf = (
        z
        + (z * z - 1) * g1 / 6
        + (z * z * z - 3 * z) * g2 / 24
        - (2 * z * z * z - 5 * z) * g1 * g1 / 36
    )
    qcf = m1 + F.sqrt(m2) * zcf
    # exact interpolated p95
    wr = Window.orderBy("x", "user_id")
    ranked = u.select(
        F.col("x").cast("double").alias("v"),
        (F.row_number().over(wr) - 1).cast("double").alias("r"),
        (F.count(F.lit(1)).over(Window.partitionBy()) - 1)
        .cast("double")
        .alias("mm"),
    )
    pos = F.col("mm") * _CF_P
    exact = ranked.where(
        (F.col("r") == F.floor(pos)) | (F.col("r") == F.ceil(pos))
    ).agg(
        F.sum(
            F.when(
                F.col("r") == F.floor(pos),
                F.when(
                    F.ceil(pos) == F.floor(pos), F.col("v")
                ).otherwise(F.col("v") * (1 - (pos - F.floor(pos)))),
            ).otherwise(F.col("v") * (pos - F.floor(pos)))
        ).alias("q_exact")
    )
    return m.crossJoin(exact).select(
        "n",
        F.round(g1, 6).alias("skew"),
        F.round(g2, 6).alias("kurt_ex"),
        F.round(qcf, 4).alias("q95_cf"),
        F.round("q_exact", 4).alias("q95_exact"),
        F.round(
            (qcf - F.col("q_exact")) / F.col("q_exact"), 6
        ).alias("rel_error"),
    )


def q_chebyshev_audit(spark, sf_dir):
    """CHEBYSHEV/CANTELLI bound tightness: empirical two-sided and
    upper tail mass at k sigma vs 1/k^2 and 1/(1+k^2)."""
    u = _user_cents(spark, sf_dir)
    m = u.agg(
        F.avg(F.col("x").cast("double")).alias("mu"),
        F.stddev_pop(F.col("x").cast("double")).alias("sig"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    j = u.crossJoin(F.broadcast(m))
    outs = []
    for k in _CHEB_KS:
        outs.append(
            j.agg(
                F.lit(k).alias("k"),
                F.max("n").alias("n"),
                F.round(
                    F.avg(
                        (
                            F.abs(F.col("x") - F.col("mu"))
                            >= k * F.col("sig")
                        ).cast("double")
                    ),
                    6,
                ).alias("two_sided_mass"),
                F.round(F.lit(1.0 / (k * k)), 6).alias("chebyshev"),
                F.round(
                    F.avg(
                        (
                            F.col("x") - F.col("mu")
                            >= k * F.col("sig")
                        ).cast("double")
                    ),
                    6,
                ).alias("upper_mass"),
                F.round(
                    F.lit(1.0 / (1.0 + k * k)), 6
                ).alias("cantelli"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("k")


def q_box_cox(spark, sf_dir):
    """BOX-COX profile likelihood over lambda in {-1,-.5,0,.5,1}:
    LL = -n/2 ln varhat(y) + (lambda - 1) sum ln x; argmax
    flagged."""
    u = _user_cents(spark, sf_dir).select(
        F.col("x").cast("double").alias("x")
    )
    rows = []
    for lam in _BC_LAMBDAS:
        if lam == 0.0:
            y = F.log("x")
        else:
            y = (F.pow(F.col("x"), F.lit(lam)) - 1) / F.lit(lam)
        rows.append(
            u.agg(
                F.lit(lam).alias("lam"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.var_pop(y).alias("_v"),
                F.sum(F.log("x")).alias("_slx"),
            )
        )
    g = rows[0]
    for r in rows[1:]:
        g = g.unionByName(r)
    ll = (
        -F.col("n").cast("double") / 2 * F.log("_v")
        + (F.col("lam") - 1) * F.col("_slx")
    )
    scored = g.select(
        "lam", "n", F.round(ll, 4).alias("loglik")
    )
    wbest = Window.orderBy(F.desc("loglik"), F.asc("lam"))
    return scored.select(
        "lam",
        "n",
        "loglik",
        (F.row_number().over(wbest) == 1).alias("is_best"),
    ).orderBy("lam")
