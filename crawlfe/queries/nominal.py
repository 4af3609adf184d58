"""Feature-eng pack #136 (r4): nominal association on the documents
source x lang contingency table — the categorical-dependence panel
next to cramers_v / mutual_info / cohens_kappa.

* ``goodman_lambda`` — Goodman-Kruskal lambda (proportional
  reduction in prediction error) in both directions: how much does
  knowing the source improve a modal guess of the language, and
  vice versa.
* ``theils_u`` — the uncertainty coefficient U(lang|source) and
  U(source|lang): normalized conditional-entropy reduction, the
  asymmetric cousin of mutual information.
* ``cramers_v_corrected`` — Bergsma's bias-corrected Cramer's V
  next to the plain V: phi2_corr = max(0, phi2 - (r-1)(c-1)/(n-1)),
  with the correspondingly shrunk dimensions.

Scale shape: ONE hash agg to the r x c table; every statistic folds
the tiny table.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t


def _table(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )


def q_goodman_lambda(spark, sf_dir):
    """GOODMAN-KRUSKAL LAMBDA both directions from the source x
    lang table."""
    t = _table(spark, sf_dir)
    n = t.agg(F.sum("c").cast("double").alias("n"))
    # lambda(lang | source): sum of per-source max minus global
    # lang-mode, over n - mode
    row_max = t.groupBy("source").agg(
        F.max("c").cast("double").alias("mx")
    ).agg(F.sum("mx").alias("sum_row_max"))
    col_tot = t.groupBy("lang").agg(
        F.sum("c").cast("double").alias("ct")
    ).agg(F.max("ct").alias("max_col"))
    col_max = t.groupBy("lang").agg(
        F.max("c").cast("double").alias("mx")
    ).agg(F.sum("mx").alias("sum_col_max"))
    row_tot = t.groupBy("source").agg(
        F.sum("c").cast("double").alias("rt")
    ).agg(F.max("rt").alias("max_row"))
    j = (
        n.crossJoin(row_max)
        .crossJoin(col_tot)
        .crossJoin(col_max)
        .crossJoin(row_tot)
    )
    return j.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (F.col("sum_row_max") - F.col("max_col"))
            / (F.col("n") - F.col("max_col")),
            6,
        ).alias("lambda_lang_given_source"),
        F.round(
            (F.col("sum_col_max") - F.col("max_row"))
            / (F.col("n") - F.col("max_row")),
            6,
        ).alias("lambda_source_given_lang"),
    )


def q_theils_u(spark, sf_dir):
    """THEIL'S UNCERTAINTY COEFFICIENT both directions."""
    t = _table(spark, sf_dir)
    n = t.agg(F.sum("c").cast("double").alias("n"))
    jt = t.crossJoin(F.broadcast(n))
    h_joint = jt.agg(
        F.sum(
            -(F.col("c") / F.col("n"))
            * F.log2(F.col("c") / F.col("n"))
        ).alias("h_sl")
    )
    h_src = (
        t.groupBy("source")
        .agg(F.sum("c").cast("double").alias("rc"))
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                -(F.col("rc") / F.col("n"))
                * F.log2(F.col("rc") / F.col("n"))
            ).alias("h_s")
        )
    )
    h_lang = (
        t.groupBy("lang")
        .agg(F.sum("c").cast("double").alias("cc"))
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                -(F.col("cc") / F.col("n"))
                * F.log2(F.col("cc") / F.col("n"))
            ).alias("h_l")
        )
    )
    j = h_joint.crossJoin(h_src).crossJoin(h_lang)
    mi = F.col("h_s") + F.col("h_l") - F.col("h_sl")
    return j.select(
        F.round("h_s", 6).alias("h_source_bits"),
        F.round("h_l", 6).alias("h_lang_bits"),
        F.round(mi, 6).alias("mutual_info_bits"),
        F.round(mi / F.col("h_l"), 6).alias("u_lang_given_source"),
        F.round(mi / F.col("h_s"), 6).alias("u_source_given_lang"),
    )


def q_cramers_v_corrected(spark, sf_dir):
    """BERGSMA BIAS-CORRECTED Cramer's V next to the plain V."""
    t = _table(spark, sf_dir)
    n = t.agg(
        F.sum("c").cast("double").alias("n"),
        F.countDistinct("source").cast("double").alias("r"),
        F.countDistinct("lang").cast("double").alias("k"),
    )
    rt = t.groupBy("source").agg(
        F.sum("c").cast("double").alias("rt")
    )
    ct = t.groupBy("lang").agg(
        F.sum("c").cast("double").alias("ct")
    )
    # DENSE grid: zero cells still contribute their expected count
    grid = rt.crossJoin(F.broadcast(ct))
    j = (
        grid.join(t, ["source", "lang"], "left")
        .select(
            "rt",
            "ct",
            F.coalesce(F.col("c"), F.lit(0))
            .cast("double")
            .alias("c"),
        )
        .crossJoin(F.broadcast(n))
    )
    chi2 = j.agg(
        F.sum(
            F.pow(
                F.col("c") - F.col("rt") * F.col("ct") / F.col("n"),
                F.lit(2.0),
            )
            / (F.col("rt") * F.col("ct") / F.col("n"))
        ).alias("chi2")
    )
    g = chi2.crossJoin(n)
    phi2 = F.col("chi2") / F.col("n")
    v = F.sqrt(
        phi2
        / F.least(F.col("r") - 1, F.col("k") - 1)
    )
    phi2c = F.greatest(
        F.lit(0.0),
        phi2
        - (F.col("r") - 1)
        * (F.col("k") - 1)
        / (F.col("n") - 1),
    )
    rc = F.col("r") - F.pow(F.col("r") - 1, F.lit(2.0)) / (
        F.col("n") - 1
    )
    kc = F.col("k") - F.pow(F.col("k") - 1, F.lit(2.0)) / (
        F.col("n") - 1
    )
    vc = F.sqrt(phi2c / F.least(rc - 1, kc - 1))
    return g.select(
        F.col("n").cast("bigint").alias("n"),
        F.round("chi2", 4).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
        F.round(vc, 6).alias("cramers_v_corrected"),
    )
