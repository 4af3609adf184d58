"""Feature-eng pack #99 (r4): experimentation III — the decision
procedures around "the test ended": proving equivalence, spending
alpha across interim looks, and de-biasing the winning arm.

Arms are the registry's deterministic hash split (user_id % 3 == 0
treated); outcomes are purchase rates; every count is an exact BIGINT
and the gaussian pieces use closed forms both engines evaluate
identically (the logistic CDF approximation 2/(1+exp(1.702|z|)) the
registry already shares across bh_fdr / holm, and the exact normal
pdf exp(-z^2/2)/sqrt(2 pi)).

* ``tost_equivalence`` — two one-sided tests (Schuirmann 1987) with
  margin delta = 2pp on the arm purchase rates: equivalent iff
  z_lo = (diff + delta)/SE > 1.645 AND z_hi = (delta - diff)/SE >
  1.645 — the "safe to ship, no regression" readout a superiority
  test cannot give.
* ``obrien_fleming`` — two-look group-sequential monitoring: interim
  z on days 1-15 vs the O'Brien-Fleming boundary 2.797, final z on
  the full month vs 1.977 (the classic 2-look constants at overall
  alpha .05); per-look rows with the stop/continue verdict.
* ``winners_curse`` — selection-bias correction for the best arm
  (Deng et al.-style shrinkage): among the three user_id % 3 arms,
  the winner's naive rate minus SE * phi(z)/Phi(z) evaluated at the
  winner-vs-runner-up gap — the conditional-bias haircut before
  anyone ships the "best" number.

Scale shape: one hash agg to per-arm counts; everything after is
scalar algebra on <= 3 rows.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_TOST_DELTA = 0.02  # equivalence margin on the rate scale
_Z_ONE_SIDED_95 = 1.644854
_OBF_INTERIM = 2.797  # O'Brien-Fleming 2-look boundaries (alpha .05)
_OBF_FINAL = 1.977
_SQRT_2PI = 2.5066282746310002


def _arm_counts(spark, sf_dir, day_lo=None, day_hi=None, mod=2):
    e = _t(spark, sf_dir, "events")
    if day_lo is not None:
        e = e.where(
            F.dayofmonth(F.col("ts").cast("timestamp")).between(
                day_lo, day_hi
            )
        )
    return e.groupBy((F.col("user_id") % mod).cast("int").alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )


def _two_arm(spark, sf_dir, day_lo=None, day_hi=None):
    c = _arm_counts(spark, sf_dir, day_lo, day_hi, mod=2)
    a = c.where(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("y").alias("y0")
    )
    b = c.where(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("y").alias("y1")
    )
    return a.crossJoin(F.broadcast(b))


def _rate_z_cols():
    p0 = F.col("y0").cast("double") / F.col("n0")
    p1 = F.col("y1").cast("double") / F.col("n1")
    diff = p1 - p0
    se = F.sqrt(
        p0 * (1 - p0) / F.col("n0") + p1 * (1 - p1) / F.col("n1")
    )
    return p0, p1, diff, se


def q_tost_equivalence(spark, sf_dir):
    """TOST: both one-sided z's must clear 1.645 for the arms to be
    declared equivalent within the 2pp margin."""
    j = _two_arm(spark, sf_dir)
    p0, p1, diff, se = _rate_z_cols()
    z_lo = (diff + _TOST_DELTA) / se
    z_hi = (_TOST_DELTA - diff) / se
    return j.select(
        "n0",
        "n1",
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.round(diff, 6).alias("diff"),
        F.round(z_lo, 6).alias("z_lower"),
        F.round(z_hi, 6).alias("z_upper"),
        (
            (z_lo > _Z_ONE_SIDED_95) & (z_hi > _Z_ONE_SIDED_95)
        )
        .cast("int")
        .alias("equivalent"),
    )


def q_obrien_fleming(spark, sf_dir):
    """O'BRIEN-FLEMING 2-LOOK monitoring: interim (days 1-15) z vs
    2.797, final (full month) z vs 1.977; one row per look."""
    looks = []
    for name, lo, hi, bound in (
        ("interim_d15", 1, 15, _OBF_INTERIM),
        ("final_d30", None, None, _OBF_FINAL),
    ):
        j = _two_arm(spark, sf_dir, lo, hi)
        _, _, diff, se = _rate_z_cols()
        z = diff / se
        looks.append(
            j.select(
                F.lit(name).alias("look"),
                "n0",
                "n1",
                F.round(z, 6).alias("z"),
                F.lit(bound).alias("boundary"),
                (F.abs(z) > bound).cast("int").alias("cross"),
            )
        )
    return looks[0].unionAll(looks[1])


def q_winners_curse(spark, sf_dir):
    """WINNER'S CURSE haircut: the best of the three user_id % 3 arms
    by purchase rate, de-biased by SE * phi(z)/Phi(z) at the winner-
    vs-runner-up gap (phi exact, Phi via the shared logistic
    approximation)."""
    c = _arm_counts(spark, sf_dir, mod=3)
    r = c.select(
        "arm",
        "n",
        "y",
        (F.col("y").cast("double") / F.col("n")).alias("p"),
    )
    w = Window.orderBy(F.desc("p"), F.asc("arm"))
    ranked = r.withColumn("rk", F.row_number().over(w))
    best = ranked.where(F.col("rk") == 1).select(
        F.col("arm").alias("win_arm"),
        F.col("n").alias("n_win"),
        F.col("p").alias("p_win"),
    )
    second = ranked.where(F.col("rk") == 2).select(
        F.col("n").alias("n_2nd"), F.col("p").alias("p_2nd")
    )
    j = best.crossJoin(F.broadcast(second))
    se = F.sqrt(
        F.col("p_win") * (1 - F.col("p_win")) / F.col("n_win")
        + F.col("p_2nd") * (1 - F.col("p_2nd")) / F.col("n_2nd")
    )
    z = (F.col("p_win") - F.col("p_2nd")) / se
    pdf = F.exp(-z * z / 2) / _SQRT_2PI
    cdf = 1 / (1 + F.exp(-1.702 * z))
    haircut = se * pdf / cdf
    return j.select(
        "win_arm",
        "n_win",
        F.round("p_win", 6).alias("p_naive"),
        F.round(z, 6).alias("z_gap"),
        F.round(haircut, 6).alias("bias_est"),
        F.round(F.col("p_win") - haircut, 6).alias("p_adjusted"),
    )
