"""Feature-eng pack #71 (r4): stratified categorical estimators.

Corpus and experiment analysis at web scale is stratified by design
(day, domain, source shard); pooling strata naively invites Simpson
reversals.  Three classics, each a pure integer-count aggregation with
a fixed closed-form tail — bit-deterministic across engines:

* ``mantel_haenszel`` — Mantel-Haenszel pooled odds ratio (1959)
  across day-of-month strata for outcome value>=50 given exposure
  purchase-vs-click, next to the crude pooled OR so the
  confounding gap is visible.  One hash agg to O(days) rows of 2x2
  counts, then scalar arithmetic.
* ``cochran_armitage`` — Cochran-Armitage trend test (1954/55) for a
  monotone lang='en' rate trend across ordered doc-length dose groups
  (scores 0..3 via integer division of n_chars).  One O(4)-row agg,
  closed-form z².
* ``jackknife_ratio`` — delete-one-GROUP jackknife (Quenouille/Tukey;
  survey form in Wolter, *Introduction to Variance Estimation*) of the
  chars-per-doc ratio with source shards as deletion groups: per-group
  leave-one-out ratios from broadcast grand totals, then the
  (G-1)/G-scaled variance.  The fat table is touched once for the
  per-group totals; everything after is O(G) arithmetic.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_MH_OUTCOME_CENTS = 5000  # value >= 50.00
_CA_BIN_CHARS = 500  # dose-group width in chars
_CA_MAX_SCORE = 3


def q_mantel_haenszel(spark, sf_dir):
    """MH pooled odds ratio over day-of-month strata.  Per stratum the
    2x2 is (exposure = purchase vs click) x (outcome = cents >= 5000);
    or_mh = sum(a*d/n) / sum(b*c/n), reported next to the crude pooled
    OR = (A*D)/(B*C).  All inputs integer counts; one agg to O(31)
    rows then one scalar agg."""
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "click")
    )
    cells = (
        e.select(
            F.dayofmonth("ts").alias("stratum"),
            (F.col("event_type") == "purchase").alias("exposed"),
            (
                F.expr("CAST(round(value * 100) AS BIGINT)")
                >= _MH_OUTCOME_CENTS
            ).alias("hit"),
        )
        .groupBy("stratum")
        .agg(
            F.sum(
                (F.col("exposed") & F.col("hit")).cast("bigint")
            ).alias("a"),
            F.sum(
                (F.col("exposed") & ~F.col("hit")).cast("bigint")
            ).alias("b"),
            F.sum(
                (~F.col("exposed") & F.col("hit")).cast("bigint")
            ).alias("c"),
            F.sum(
                (~F.col("exposed") & ~F.col("hit")).cast("bigint")
            ).alias("d"),
        )
        .withColumn("n", F.expr("a + b + c + d"))
    )
    return cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("a_total"),
        F.sum("d").cast("bigint").alias("d_total"),
        F.round(
            F.sum(F.col("a") * F.col("d") / F.col("n"))
            / F.sum(F.col("b") * F.col("c") / F.col("n")),
            6,
        ).alias("or_mh"),
        F.round(
            (F.sum("a") * F.sum("d"))
            / (F.sum("b") * F.sum("c")).cast("double"),
            6,
        ).alias("or_crude"),
    )


def q_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage linear trend z² for P(lang='en') across
    doc-length dose groups scored s = least(3, n_chars div 500).
    T = Σ s·r, E = p·Σ s·n, V = p(1-p)(Σ s²·n − (Σ s·n)²/N); outputs
    the per-group inputs folded to one row plus chi2_ca (round 6)."""
    d = _t(spark, sf_dir, "documents").select(
        F.least(
            F.lit(_CA_MAX_SCORE),
            F.expr(f"n_chars DIV {_CA_BIN_CHARS}"),
        ).cast("bigint").alias("s"),
        (F.col("lang") == "en").cast("bigint").alias("hit"),
    )
    g = d.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("hit").cast("bigint").alias("r_i"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_i").cast("bigint").alias("n_total"),
        F.sum("r_i").cast("bigint").alias("n_event"),
        F.round(
            F.pow(
                F.sum(F.col("s") * F.col("r_i"))
                - (F.sum("r_i") / F.sum("n_i"))
                * F.sum(F.col("s") * F.col("n_i")),
                2,
            )
            / (
                (F.sum("r_i") / F.sum("n_i"))
                * (F.lit(1.0) - F.sum("r_i") / F.sum("n_i"))
                * (
                    F.sum(F.col("s") * F.col("s") * F.col("n_i"))
                    - F.pow(F.sum(F.col("s") * F.col("n_i")), 2)
                    / F.sum("n_i")
                )
            ),
            6,
        ).alias("chi2_ca"),
    )


def q_jackknife_ratio(spark, sf_dir):
    """Delete-one-source jackknife of mean chars/doc: theta_g =
    (T - t_g)/(N - n_g) from broadcast grand totals; the __TOTAL__ row
    carries theta_hat and jk_se = sqrt((G-1)/G · Σ(theta_g − mean)²).
    Output long-form: one row per deletion group + the total row."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("nn"),
        F.sum("chars_total").alias("tt"),
        F.count(F.lit(1)).cast("double").alias("gg"),
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "chars_total",
        (
            (F.col("tt") - F.col("chars_total"))
            / (F.col("nn") - F.col("n_docs")).cast("double")
        ).alias("theta_g"),
        "nn",
        "tt",
        "gg",
    )
    groups = loo.select(
        "source",
        "n_docs",
        "chars_total",
        F.round("theta_g", 6).alias("theta_loo"),
        F.lit(None).cast("double").alias("jk_se"),
    )
    total = (
        loo.groupBy("nn", "tt", "gg")
        .agg(
            F.avg("theta_g").alias("tbar"),
            F.sum(F.col("theta_g") * F.col("theta_g")).alias("t2"),
        )
        .select(
            F.lit("__TOTAL__").alias("source"),
            F.col("nn").cast("bigint").alias("n_docs"),
            F.col("tt").cast("bigint").alias("chars_total"),
            F.round(F.col("tt") / F.col("nn").cast("double"), 6).alias(
                "theta_loo"
            ),
            F.round(
                F.sqrt(
                    (F.col("gg") - 1)
                    / F.col("gg")
                    * (
                        F.col("t2")
                        - F.col("gg") * F.col("tbar") * F.col("tbar")
                    )
                ),
                6,
            ).alias("jk_se"),
        )
    )
    return groups.unionAll(total)
