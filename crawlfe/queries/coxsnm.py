"""Feature-eng pack #97 (r4): one-step Cox regression, the classic
sort-based blocking strategy, and the credit-scoring KS statistic.

* ``cox_one_step`` — one-Newton-step Cox proportional hazards from
  beta = 0 (the efficient one-step estimator; score and information
  at 0 are closed forms over the life table): subjects are customers
  with first->second-order durations (the km_hazard construction),
  binary covariate x = custkey % 2; with Breslow ties
  U(0) = sum_t (dx_t - d_t s1/s0), I(0) = sum_t d_t (s1/s0)(1-s1/s0)
  over reverse-cumulative risk-set sums — every per-time term rounds
  to an e9 BIGINT before the exact final sums, so beta = U/I and the
  hazard ratio exp(beta) are engine-exact.
* ``sorted_neighborhood`` — Hernandez & Stolfo (1995) sorted-
  neighborhood blocking over the planted-duplicate corpus (pack #87):
  sort by the 20-char text prefix, compare each record with its next
  w = 3 neighbors; candidates / planted-pair recall / precision —
  the sort-based alternative to hash banding (distributed form:
  range-partition by the sort key; the window never crosses more
  than w rows past a partition boundary).
* ``ks_classifier`` — the Kolmogorov-Smirnov separation of the
  value-score classifier (purchase vs click): KS = max_v
  |F_pos(v) - F_neg(v)| with the exact BIGINT numerator
  |cp*N - cn*P|, plus the attaining threshold (smallest cents on
  ties) — the standard scorecard separation metric next to roc_auc.

Scale shape: life-table and CDF scans run on O(distinct values)
aggregates; the SNM window is w = 3 leads over a range-sorted
relation; nothing quadratic.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t
from .bucketops import _ND_MOD, _ND_OFF, _aug_corpus

_SNM_W = 3  # sorted-neighborhood window
_SNM_KEY = 20  # chars of the sort key


def q_cox_one_step(spark, sf_dir):
    """ONE-STEP COX: score U(0) and information I(0) over the
    duration life table with reverse-cumulative risk sums; each
    per-time term is one identically-computed double rounded to e9."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    rk = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    ).withColumn("rk", F.row_number().over(w))
    per = rk.where(F.col("rk") <= 2).groupBy("o_custkey").agg(
        F.min(F.when(F.col("rk") == 1, F.col("d"))).alias("first_d"),
        F.min(F.when(F.col("rk") == 2, F.col("d"))).alias("second_d"),
    )
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("max_d"))
    dur = per.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("second_d").isNotNull(),
            F.datediff(F.col("second_d"), F.col("first_d")),
        )
        .otherwise(F.datediff(F.col("max_d"), F.col("first_d")))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("second_d").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("ev"),
        (F.col("o_custkey") % 2).cast("bigint").alias("x"),
    )
    g = dur.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t"),
        F.sum("x").cast("bigint").alias("x_t"),
        F.sum("ev").cast("bigint").alias("d_t"),
        F.sum(F.col("ev") * F.col("x")).cast("bigint").alias("dx_t"),
    )
    wrev = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = g.select(
        "t",
        "d_t",
        "dx_t",
        F.sum("n_t").over(wrev).cast("bigint").alias("s0"),
        F.sum("x_t").over(wrev).cast("bigint").alias("s1"),
    ).where(F.col("d_t") > 0)
    p = F.col("s1").cast("double") / F.col("s0")
    u_term = F.round(
        F.lit(1e9) * (F.col("dx_t") - F.col("d_t") * p)
    ).cast("bigint")
    i_term = F.round(
        F.lit(1e9) * F.col("d_t") * p * (1 - p)
    ).cast("bigint")
    agg = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_times"),
        F.sum("d_t").cast("bigint").alias("n_events"),
        F.sum(u_term).cast("bigint").alias("u_e9"),
        F.sum(i_term).cast("bigint").alias("i_e9"),
    )
    beta = F.col("u_e9").cast("double") / F.col("i_e9")
    return agg.select(
        "n_times",
        "n_events",
        "u_e9",
        "i_e9",
        F.round(beta, 6).alias("beta_one_step"),
        F.round(F.exp(beta), 6).alias("hazard_ratio"),
    )


def q_sorted_neighborhood(spark, sf_dir):
    """SORTED-NEIGHBORHOOD blocking eval: sort the planted corpus by
    the 20-char text prefix, pair each record with its next 3
    neighbors; recall against the planted pairs and precision of the
    candidate set."""
    aug = _aug_corpus(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, _SNM_KEY).alias("key")
    )
    w = Window.orderBy("key", "doc_id")
    leads = aug.select(
        "doc_id",
        *[
            F.lead("doc_id", k).over(w).alias(f"n{k}")
            for k in range(1, _SNM_W + 1)
        ],
    )
    cands = None
    for k in range(1, _SNM_W + 1):
        c = leads.where(F.col(f"n{k}").isNotNull()).select(
            F.least("doc_id", f"n{k}").alias("doc_a"),
            F.greatest("doc_id", f"n{k}").alias("doc_b"),
        )
        cands = c if cands is None else cands.unionAll(c)
    cands = cands.distinct()
    truth = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % _ND_MOD).isin(0, 1))
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + _ND_OFF).alias("doc_b"),
        )
    )
    hits = cands.join(truth, ["doc_a", "doc_b"], "left_semi")
    m = (
        cands.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
        .crossJoin(
            F.broadcast(
                truth.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_truth")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
            )
        )
    )
    return m.select(
        "n_truth",
        "n_cand",
        "n_hit",
        F.round(
            F.col("n_hit") / F.col("n_cand").cast("double"), 6
        ).alias("precision"),
        F.round(
            F.col("n_hit") / F.col("n_truth").cast("double"), 6
        ).alias("recall"),
    )


def q_ks_classifier(spark, sf_dir):
    """CLASSIFIER KS: max |F_pos - F_neg| over the value-cents score
    (purchase = positive, click = negative), exact BIGINT numerator
    |cp * N - cn * P|; reports the separation and the attaining
    threshold (smallest cents on ties)."""
    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .groupBy(F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"))
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("bigint"))
            .cast("bigint")
            .alias("p_at"),
            F.sum((F.col("event_type") == "click").cast("bigint"))
            .cast("bigint")
            .alias("n_at"),
        )
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = e.select(
        "c",
        F.sum("p_at").over(w).cast("bigint").alias("cp"),
        F.sum("n_at").over(w).cast("bigint").alias("cn"),
        F.sum("p_at").over(wall).cast("bigint").alias("tp"),
        F.sum("n_at").over(wall).cast("bigint").alias("tn"),
    )
    num = F.abs(F.col("cp") * F.col("tn") - F.col("cn") * F.col("tp"))
    r = cum.select(
        "c", "tp", "tn", num.cast("bigint").alias("num")
    )
    rn = F.row_number().over(Window.orderBy(F.desc("num"), F.asc("c")))
    best = r.withColumn("rn", rn).where(F.col("rn") == 1)
    return best.select(
        F.col("tp").alias("n_pos"),
        F.col("tn").alias("n_neg"),
        F.col("c").alias("at_cents"),
        F.round(
            F.col("num") / (F.col("tp") * F.col("tn")).cast("double"), 6
        ).alias("ks"),
    )
