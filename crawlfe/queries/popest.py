"""Feature-eng pack #98 (r4): population estimation from partial
observation — how big is the corpus/user base you can only sample?

* ``german_tank`` — the serial-number (German tank) problem: doc_ids
  are serials 1..N; from the deterministic 10% hash sample, the MVU
  estimator m + m/k - 1 and the moment estimator 2*mean - 1, next to
  the true N — the "how many pages does this host have" estimator
  when ids leak in URLs.
* ``capture_recapture`` — Lincoln-Petersen and the bias-corrected
  Chapman estimator: capture 1 = users seen in days 1-10, capture 2 =
  days 16-25, marked recaptures = the overlap; estimates vs the true
  distinct-user count.  The crawl-frontier size estimate from two
  crawl passes.
* ``linear_counting`` — Whang et al. (1990) linear counting, the
  third distinct-count sketch next to kmv_distinct / hll_distinct:
  hash users into m = 4096 buckets, n_hat = -m ln(V/m) from the
  empty-bucket fraction V/m; exact occupied-bucket count, one log.

All sampling/hashing is deterministic md5, so every estimate is an
exact function of the data; one hash agg per query.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_GT_MOD = 10  # 10% serial sample
_CR_W1 = (1, 10)  # capture-1 day range
_CR_W2 = (16, 25)  # capture-2 day range
_LC_M = 4096  # linear-counting buckets


def _h4(prefix, col):
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")


def q_german_tank(spark, sf_dir):
    """GERMAN TANK: serial = doc_id + 1; sample serials where
    md5 % 10 == 0; MVU m + m/k - 1 and moment 2*mean - 1 vs true N."""
    d = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") + 1).alias("serial")
    )
    tot = d.agg(F.max("serial").cast("bigint").alias("n_true"))
    samp = d.where(_h4("gt", F.col("serial")) % _GT_MOD == 0)
    m = samp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("serial").cast("bigint").alias("m"),
        F.sum("serial").cast("bigint").alias("s"),
    )
    j = m.crossJoin(F.broadcast(tot))
    mvu = F.col("m") + F.col("m").cast("double") / F.col("k") - 1
    mom = 2 * F.col("s").cast("double") / F.col("k") - 1
    return j.select(
        "n_true",
        "k",
        "m",
        F.round(mvu, 4).alias("est_mvu"),
        F.round(mom, 4).alias("est_moment"),
        F.round(
            F.abs(mvu - F.col("n_true")) / F.col("n_true"), 6
        ).alias("rel_err_mvu"),
        F.round(
            F.abs(mom - F.col("n_true")) / F.col("n_true"), 6
        ).alias("rel_err_moment"),
    )


def q_capture_recapture(spark, sf_dir):
    """LINCOLN-PETERSEN / CHAPMAN: users seen in days 1-10 (n1) vs
    days 16-25 (n2), recaptures = overlap; estimates vs true distinct
    users."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("int").alias("d"),
    )
    per = e.groupBy("user_id").agg(
        F.max(
            F.col("d").between(*_CR_W1).cast("int")
        ).alias("c1"),
        F.max(
            F.col("d").between(*_CR_W2).cast("int")
        ).alias("c2"),
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("m"),
    )
    lp = F.col("n1").cast("double") * F.col("n2") / F.col("m")
    chap = (
        (F.col("n1") + 1).cast("double")
        * (F.col("n2") + 1)
        / (F.col("m") + 1)
        - 1
    )
    return agg.select(
        "n_total",
        "n1",
        "n2",
        "m",
        F.round(lp, 4).alias("est_lp"),
        F.round(chap, 4).alias("est_chapman"),
        F.round(
            F.abs(chap - F.col("n_total")) / F.col("n_total"), 6
        ).alias("rel_err_chapman"),
    )


def q_linear_counting(spark, sf_dir):
    """LINEAR COUNTING: users hash into m = 4096 buckets; V = empty
    buckets; n_hat = -m ln(V/m) vs the exact distinct count — the
    low-cardinality-regime sketch next to kmv/hll."""
    e = _t(spark, sf_dir, "events").select("user_id")
    exact = e.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    occ = (
        e.select((_h4("lc", F.col("user_id")) % _LC_M).alias("b"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("occupied"))
    )
    j = exact.crossJoin(F.broadcast(occ))
    v = (F.lit(_LC_M) - F.col("occupied")).cast("double")
    est = -F.lit(float(_LC_M)) * F.log(v / _LC_M)
    return j.select(
        "n_exact",
        "occupied",
        F.lit(_LC_M).cast("bigint").alias("m_buckets"),
        F.round(est, 4).alias("est_lc"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_err"
        ),
    )
