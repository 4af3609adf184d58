"""Feature-eng pack #134 (r4): ordinal agreement — the
test-retest quintile of per-user spend (days 1-15 vs 16+) as two
ordinal raters, everything computed from the ONE 5x5 joint table
(pairwise statistics fold to O(k^4) = 625 table ops, never user
pairs): the ordinal tier above cohens_kappa / kendall_tau /
fleiss_kappa.

* ``weighted_kappa`` — Cohen's kappa with quadratic disagreement
  weights ((i-j)/(k-1))^2: kappa_w = 1 - sum(w O)/sum(w E); the
  standard ordinal-rating agreement.
* ``ordinal_gamma`` — Goodman-Kruskal gamma (C - D)/(C + D) from
  the concordant/discordant mass of the joint table.
* ``somers_d`` — the asymmetric Somers' D in both directions
  (ties on the dependent margin penalize), plus Kendall tau-b as
  the symmetric reference.

Scale shape: one hash agg to per-user half-spends, two rank windows
for quintiles, one 5x5 joint count table; all statistics are tiny
closed-form folds of that table.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_ORD_K = 5  # quintiles


def _joint(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth(F.col("ts").cast("timestamp")).alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    u = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("day") <= 15, F.col("cents")).otherwise(0)
        )
        .cast("bigint")
        .alias("s1"),
        F.sum(
            F.when(F.col("day") > 15, F.col("cents")).otherwise(0)
        )
        .cast("bigint")
        .alias("s2"),
    )
    w1 = Window.orderBy("s1", "user_id")
    w2 = Window.orderBy("s2", "user_id")
    n = Window.partitionBy()
    q = u.select(
        F.ceil(
            F.row_number().over(w1)
            * _ORD_K
            / F.count(F.lit(1)).over(n)
        )
        .cast("bigint")
        .alias("r1"),
        F.ceil(
            F.row_number().over(w2)
            * _ORD_K
            / F.count(F.lit(1)).over(n)
        )
        .cast("bigint")
        .alias("r2"),
    )
    return q.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def q_weighted_kappa(spark, sf_dir):
    """QUADRATIC-WEIGHTED KAPPA on the test-retest spend
    quintiles."""
    j = _joint(spark, sf_dir).localCheckpoint(eager=True)
    tot = j.agg(F.sum("c").cast("double").alias("n"))
    m1 = j.groupBy("r1").agg(F.sum("c").cast("double").alias("n1"))
    m2 = j.groupBy("r2").agg(F.sum("c").cast("double").alias("n2"))
    wobs = j.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.pow(
                (F.col("r1") - F.col("r2")).cast("double")
                / (_ORD_K - 1),
                F.lit(2.0),
            )
            * F.col("c")
            / F.col("n")
        ).alias("wo")
    )
    wexp = (
        m1.crossJoin(m2)
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.pow(
                    (F.col("r1") - F.col("r2")).cast("double")
                    / (_ORD_K - 1),
                    F.lit(2.0),
                )
                * F.col("n1")
                * F.col("n2")
                / (F.col("n") * F.col("n"))
            ).alias("we")
        )
    )
    return (
        wobs.crossJoin(wexp)
        .crossJoin(tot)
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.round("wo", 6).alias("w_observed"),
            F.round("we", 6).alias("w_expected"),
            F.round(1 - F.col("wo") / F.col("we"), 6).alias(
                "kappa_w"
            ),
        )
    )


def _cd(j):
    """Concordant/discordant/tie mass from the joint table."""
    a = j.select(
        F.col("r1").alias("i1"),
        F.col("r2").alias("j1"),
        F.col("c").alias("c1"),
    )
    b = j.select(
        F.col("r1").alias("i2"),
        F.col("r2").alias("j2"),
        F.col("c").alias("c2"),
    )
    pairs = a.crossJoin(F.broadcast(b))
    conc = (
        (F.col("i1") < F.col("i2")) & (F.col("j1") < F.col("j2"))
    ) | ((F.col("i1") > F.col("i2")) & (F.col("j1") > F.col("j2")))
    disc = (
        (F.col("i1") < F.col("i2")) & (F.col("j1") > F.col("j2"))
    ) | ((F.col("i1") > F.col("i2")) & (F.col("j1") < F.col("j2")))
    tx = (F.col("i1") == F.col("i2")) & (
        F.col("j1") != F.col("j2")
    )
    ty = (F.col("i1") != F.col("i2")) & (
        F.col("j1") == F.col("j2")
    )
    return pairs.agg(
        (
            F.sum(
                F.when(conc, F.col("c1") * F.col("c2")).otherwise(0)
            )
            / 2
        )
        .cast("bigint")
        .alias("cc"),
        (
            F.sum(
                F.when(disc, F.col("c1") * F.col("c2")).otherwise(0)
            )
            / 2
        )
        .cast("bigint")
        .alias("dd"),
        (
            F.sum(
                F.when(tx, F.col("c1") * F.col("c2")).otherwise(0)
            )
            / 2
        )
        .cast("bigint")
        .alias("tx"),
        (
            F.sum(
                F.when(ty, F.col("c1") * F.col("c2")).otherwise(0)
            )
            / 2
        )
        .cast("bigint")
        .alias("ty"),
    )


def q_ordinal_gamma(spark, sf_dir):
    """GOODMAN-KRUSKAL GAMMA from the joint quintile table."""
    cd = _cd(_joint(spark, sf_dir).localCheckpoint(eager=True))
    return cd.select(
        "cc",
        "dd",
        F.round(
            (F.col("cc") - F.col("dd"))
            / (F.col("cc") + F.col("dd")).cast("double"),
            6,
        ).alias("gamma"),
    )


def q_somers_d(spark, sf_dir):
    """SOMERS' D both directions + Kendall tau-b reference."""
    cd = _cd(_joint(spark, sf_dir).localCheckpoint(eager=True))
    num = (F.col("cc") - F.col("dd")).cast("double")
    return cd.select(
        F.round(
            num / (F.col("cc") + F.col("dd") + F.col("ty")),
            6,
        ).alias("d_r2_given_r1"),
        F.round(
            num / (F.col("cc") + F.col("dd") + F.col("tx")),
            6,
        ).alias("d_r1_given_r2"),
        F.round(
            num
            / F.sqrt(
                (
                    F.col("cc") + F.col("dd") + F.col("tx")
                ).cast("double")
                * (F.col("cc") + F.col("dd") + F.col("ty"))
            ),
            6,
        ).alias("tau_b"),
    )
