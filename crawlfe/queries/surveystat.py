"""Feature-eng pack #67 (r4): survey-sampling estimators.

Corpus work at 10^12 rows is survey statistics: you can't touch every
row, so you sample, weight, and estimate.  Three classics, each fully
deterministic (hash-uniform draws, fixed iteration counts, integer
largest-remainder rounding) so the DuckDB twin is exact:

* ``ht_estimator`` — Horvitz-Thompson total estimation under
  Poisson/Bernoulli PPS sampling: each doc is sampled iff its md5
  uniform < pi_i (pi_i proportional to size, capped at 1); the
  estimator sums y_i/pi_i over the sample.  Reports the estimate next
  to the true total — the relative-error audit a sampling pipeline
  ships with every estimate.
* ``raking_ipf`` — iterative proportional fitting (Deming & Stephan
  1940): adjust the (lang, source) contingency table to UNIFORM lang
  and source marginals in 3 fixed rounds.  The cross-tab is tiny
  after the first agg, so every round is arithmetic on a
  broadcast-size relation.
* ``neyman_allocation`` — optimal stratified allocation
  n_h ∝ N_h·S_h (Neyman 1934) of a fixed sample budget across lang
  strata, with deterministic largest-remainder integer rounding so
  allocations sum EXACTLY to the budget.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_HT_RATE = 0.2  # target expected sampling fraction
_IPF_ROUNDS = 3
_NEYMAN_BUDGET = 1000


def _hash_u(col):
    """md5-derived uniform in [0,1): dyadic (hash16/65536), exact in
    both engines (the calibration_bins recipe)."""
    h16 = F.conv(
        F.substring(F.md5(col.cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    return h16 / F.lit(65536.0)


def q_ht_estimator(spark, sf_dir):
    """Horvitz-Thompson estimate of total corpus chars from a
    deterministic PPS-Bernoulli sample: pi_i = least(1, rate * n *
    size_i / total_size), include iff hash-u(doc_id) < pi_i, estimate
    = sum(y_i / pi_i).  Output: per-source true total, HT estimate,
    sample size, and relative error — one slim agg for the totals
    (broadcast back), one filtered agg for the estimate."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    tot = d.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("true_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    joined = d.join(F.broadcast(tot), "source")
    pi = F.least(
        F.lit(1.0),
        F.lit(_HT_RATE)
        * F.col("n_rows")
        * F.col("n_chars")
        / F.col("true_total"),
    )
    sampled = joined.where(_hash_u(F.col("doc_id")) < pi).select(
        "source",
        "true_total",
        "n_rows",
        (F.col("n_chars") / pi).alias("ht_term"),
    )
    return (
        sampled.groupBy("source", "true_total", "n_rows")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.round(F.sum("ht_term"), 2).alias("ht_total"),
        )
        .select(
            "source",
            "n_rows",
            "n_sampled",
            "true_total",
            "ht_total",
            F.round(
                (F.col("ht_total") - F.col("true_total"))
                / F.col("true_total").cast("double"),
                4,
            ).alias("rel_err"),
        )
    )


def q_raking_ipf(spark, sf_dir):
    """3-round IPF raking of the (lang, source) doc-count table to
    uniform lang and source marginals (target share 1/L resp. 1/S of
    the grand total).  After the first count agg the relation is
    O(L·S) rows, so each round's two marginal joins are broadcast
    arithmetic.  Output: cell weights, raked counts, and the final
    lang-marginal gap (convergence diagnostic)."""
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    gt = cells.agg(
        F.sum("n").alias("total"),
        F.countDistinct("lang").cast("double").alias("nl"),
        F.countDistinct("source").cast("double").alias("ns"),
    )
    w = cells.crossJoin(F.broadcast(gt)).select(
        "lang", "source", "n", "total", "nl", "ns", F.col("n").alias("m")
    )
    for _ in range(_IPF_ROUNDS):
        lm = w.groupBy("lang").agg(F.sum("m").alias("lang_m"))
        w = (
            w.join(F.broadcast(lm), "lang")
            .withColumn(
                "m",
                F.col("m") * (F.col("total") / F.col("nl")) / F.col("lang_m"),
            )
            .drop("lang_m")
        )
        sm = w.groupBy("source").agg(F.sum("m").alias("src_m"))
        w = (
            w.join(F.broadcast(sm), "source")
            .withColumn(
                "m",
                F.col("m") * (F.col("total") / F.col("ns")) / F.col("src_m"),
            )
            .drop("src_m")
        )
    return w.select(
        "lang",
        "source",
        F.col("n").cast("bigint").alias("n"),
        F.round("m", 4).alias("raked_n"),
        F.round(F.col("m") / F.col("n"), 6).alias("weight"),
    )


def q_neyman_allocation(spark, sf_dir):
    """Neyman-optimal allocation of a 1000-row sample budget across
    lang strata: n_h = budget * N_h*S_h / sum(N_h*S_h), integerized by
    largest-remainder (floor everything, hand the leftover units to
    the largest fractional parts; lang tie-break) so the allocations
    sum exactly to the budget.  S_h is the exact population std via
    integer moment sums."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum("n_chars").cast("double").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("double")
        .alias("s2"),
    )
    var = F.col("s2") / F.col("n_pop") - F.pow(
        F.col("s1") / F.col("n_pop"), F.lit(2.0)
    )
    scored = per.select(
        "lang", "n_pop", (F.col("n_pop") * F.sqrt(var)).alias("ns")
    )
    z = scored.agg(F.sum("ns").alias("z"))
    raw = scored.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_pop",
        (F.lit(float(_NEYMAN_BUDGET)) * F.col("ns") / F.col("z")).alias(
            "alloc_raw"
        ),
    )
    raw = raw.withColumn("fl", F.floor("alloc_raw").cast("bigint"))
    short = raw.agg(
        (F.lit(_NEYMAN_BUDGET) - F.sum("fl")).cast("bigint").alias("left")
    )
    wrk = Window.orderBy(
        (F.col("alloc_raw") - F.col("fl")).desc(), F.col("lang")
    )
    return (
        raw.crossJoin(F.broadcast(short))
        .withColumn("rk", F.row_number().over(wrk))
        .select(
            "lang",
            "n_pop",
            F.round("alloc_raw", 4).alias("alloc_raw"),
            (
                F.col("fl")
                + (F.col("rk") <= F.col("left")).cast("bigint")
            ).alias("alloc"),
        )
    )
