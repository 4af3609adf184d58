"""Feature-eng pack #84 (r4): multi-rater agreement — the chance-
corrected statistics a labeling pipeline reports when several
annotators (or model versions) tag the same corpus.

Four deterministic "raters" re-label every document's language: rater
r keeps the true ``lang`` except on the ~20% of (rater, doc) pairs
where an md5 hash selects a substitute category — so agreement is
high but imperfect, and every statistic is a pure function of the
data that both engines reproduce bit-for-bit.  All three statistics
are closed forms over the same item x category rating counts n_ij
(items N, raters n=4, categories K=5), kept as exact BIGINTs until
one final double division:

* ``fleiss_kappa`` — Fleiss (1971) multi-rater kappa:
  P_i = (sum_j n_ij^2 - n)/(n(n-1)), chance = sum_j p_j^2.
* ``krippendorff_alpha`` — Krippendorff's alpha, nominal metric, no
  missing ratings: alpha = 1 - D_o/D_e with D_e from the pooled
  margins over Nn(Nn-1) pairable values.
* ``gwet_ac1`` — Gwet (2008) AC1: same observed agreement, chance
  = (1/(K-1)) sum_j pi_j (1 - pi_j) — robust to prevalence skew
  (the "kappa paradox" under imbalanced categories, which this
  corpus has: en dominates).

Scale shape: ratings = documents x 4 raters built by exploding a
4-element sequence against the slim (doc_id, lang) projection; one
hash agg to O(N x K) cells, a second to O(K) margins; everything
after is scalar algebra.  Map-side partial agg carries 100 TB.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_RATERS = 4
_CATS = 5  # en/de/es/fr/zh
_FLIP_MOD = 5  # ~20% of ratings get a hash-substituted category
_LANGS = ("en", "de", "es", "fr", "zh")


def _h(prefix, r, doc):
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(prefix),
                    r.cast("string"),
                    F.lit(":"),
                    doc.cast("string"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")


def _ratings(spark, sf_dir):
    """(doc_id, rater, label): true lang, except when h1 % 5 == 0 the
    label is _LANGS[h2 % 5] (which may coincide with the truth)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    r = d.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1), F.lit(_RATERS))).alias("r"),
    )
    h1 = _h("r", F.col("r"), F.col("doc_id"))
    h2 = _h("c", F.col("r"), F.col("doc_id"))
    sub = h2 % _CATS
    cases = F.when(sub == 0, _LANGS[0])
    for i, lg in enumerate(_LANGS[1:], start=1):
        cases = cases.when(sub == i, lg)
    return r.select(
        "doc_id",
        "r",
        F.when(h1 % _FLIP_MOD == 0, cases).otherwise(F.col("lang")).alias(
            "label"
        ),
    )


def _cells(spark, sf_dir):
    rt = _ratings(spark, sf_dir)
    cells = rt.groupBy("doc_id", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("nij")
    )
    margins = cells.groupBy("label").agg(
        F.sum("nij").cast("bigint").alias("cj")
    )
    items = cells.agg(
        F.countDistinct("doc_id").cast("bigint").alias("nitems")
    )
    obs = cells.agg(
        F.sum(F.col("nij") * F.col("nij")).cast("bigint").alias("s_nij2")
    )
    return cells, margins, items, obs


def q_fleiss_kappa(spark, sf_dir):
    """FLEISS' KAPPA: observed agreement P-bar = (S_nij2 - N n) /
    (N n (n-1)); chance Pe = sum_j cj^2 / (N n)^2; kappa =
    (P - Pe)/(1 - Pe).  All numerators exact BIGINTs."""
    _, margins, items, obs = _cells(spark, sf_dir)
    m2 = margins.agg(
        F.sum(F.col("cj") * F.col("cj")).cast("bigint").alias("s_cj2")
    )
    j = items.crossJoin(F.broadcast(obs)).crossJoin(F.broadcast(m2))
    n = F.lit(_RATERS)
    pbar = (F.col("s_nij2") - F.col("nitems") * n).cast("double") / (
        F.col("nitems") * n * (n - 1)
    ).cast("double")
    pe = F.col("s_cj2").cast("double") / (
        F.col("nitems") * n * F.col("nitems") * n
    ).cast("double")
    return j.select(
        "nitems",
        "s_nij2",
        "s_cj2",
        F.round(pbar, 6).alias("p_obs"),
        F.round(pe, 6).alias("p_exp"),
        F.round((pbar - pe) / (1 - pe), 6).alias("kappa"),
    )


def q_krippendorff_alpha(spark, sf_dir):
    """KRIPPENDORFF'S ALPHA (nominal, no missing ratings):
    D_o = (N n - S_nij2/n... ) — concretely with pairable values
    P = N n: D_o = sum_i sum_j nij (n - nij) / (N n (n-1)),
    D_e = sum_j cj (P - cj) / (P (P-1)); alpha = 1 - D_o/D_e.
    sum_ij nij(n - nij) = N n^2 - S_nij2 — exact BIGINTs throughout."""
    _, margins, items, obs = _cells(spark, sf_dir)
    de_num = margins.agg(
        F.sum(F.col("cj") * F.col("cj")).cast("bigint").alias("s_cj2"),
        F.sum("cj").cast("bigint").alias("p_tot"),
    )
    j = items.crossJoin(F.broadcast(obs)).crossJoin(F.broadcast(de_num))
    n = F.lit(_RATERS)
    do_num = (F.col("nitems") * n * n - F.col("s_nij2")).cast("double")
    d_o = do_num / (F.col("nitems") * n * (n - 1)).cast("double")
    d_e = (
        (F.col("p_tot") * F.col("p_tot") - F.col("s_cj2")).cast("double")
        / (F.col("p_tot") * (F.col("p_tot") - 1)).cast("double")
    )
    return j.select(
        "nitems",
        "p_tot",
        "s_nij2",
        "s_cj2",
        F.round(d_o, 6).alias("d_obs"),
        F.round(d_e, 6).alias("d_exp"),
        F.round(1 - d_o / d_e, 6).alias("alpha"),
    )


def q_gwet_ac1(spark, sf_dir):
    """GWET'S AC1: observed agreement as in Fleiss; chance
    pe = (1/(K-1)) sum_j pi_j (1 - pi_j) with pi_j = cj/(N n) — the
    prevalence-robust alternative when one category dominates.
    Numerator sum_j cj (Nn - cj) is an exact BIGINT."""
    _, margins, items, obs = _cells(spark, sf_dir)
    g = margins.agg(
        F.sum("cj").cast("bigint").alias("p_tot"),
        F.sum(F.col("cj") * F.col("cj")).cast("bigint").alias("s_cj2"),
    )
    j = items.crossJoin(F.broadcast(obs)).crossJoin(F.broadcast(g))
    n = F.lit(_RATERS)
    pbar = (F.col("s_nij2") - F.col("nitems") * n).cast("double") / (
        F.col("nitems") * n * (n - 1)
    ).cast("double")
    pe = (
        (F.col("p_tot") * F.col("p_tot") - F.col("s_cj2")).cast("double")
        / (F.col("p_tot") * F.col("p_tot")).cast("double")
    ) / (_CATS - 1)
    return j.select(
        "nitems",
        "s_nij2",
        "s_cj2",
        F.round(pbar, 6).alias("p_obs"),
        F.round(pe, 6).alias("pe_gwet"),
        F.round((pbar - pe) / (1 - pe), 6).alias("ac1"),
    )
