"""Feature-eng pack #114 (r4): language-model corpus eval II — the
smoothing tier above ``bigram_lm_ppl`` (add-1) plus the generation-
diversity diagnostics used on LLM training corpora.

* ``kneser_ney_bigram`` — interpolated Kneser-Ney bigram perplexity
  (absolute discount D = 0.75): p(w2|w1) = max(c12-D,0)/c1 +
  (D n1p(w1)/c1) p_cont(w2), with the continuation probability
  p_cont(w2) = (types ending in w2 + 0.5)/(bigram types + 0.5 V)
  (the +0.5 floor keeps tokens that never appear in second position
  finite).  Unseen-w1 rows back off to p_cont.  Top-20 highest-
  perplexity docs — the same review-queue shape as bigram_lm_ppl so
  the two smoothing regimes are directly comparable.
* ``distinct_n`` — corpus diversity per source: distinct-1 and
  distinct-2 (unique token / bigram types over totals), the
  standard mode-collapse metric.
* ``self_bleu_lite`` — within-source templatedness: for consecutive
  same-source doc pairs (doc_id order), the bigram-set precision
  |B(a) & B(b)| / |B(a)|; high mean overlap = boilerplate source.
  Consecutive pairing keeps the join linear — no O(docs^2) blowup.

Scale shape: one tokenize+explode pass feeds everything; count
tables join back broadcast-style; the self-BLEU join is keyed on
(source, bigram) with consecutive-pair filters, never all-pairs.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_KN_D = 0.75
_KN_TOPN = 20


def _doc_bigrams(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.col("text")), "\\s+")
        ).alias("pos", "w"),
    )
    wnext = Window.partitionBy("doc_id").orderBy("pos")
    return toks.select(
        "doc_id",
        F.col("w").alias("w1"),
        F.lead("w").over(wnext).alias("w2"),
    ).where(F.col("w2").isNotNull())


def q_kneser_ney_bigram(spark, sf_dir):
    """INTERPOLATED KNESER-NEY bigram perplexity per doc (D=0.75,
    +0.5 continuation floor); top-20 highest-perplexity docs."""
    bg = _doc_bigrams(spark, sf_dir)
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("nend")
    )
    tots = c12.agg(
        F.count(F.lit(1)).cast("bigint").alias("btypes")
    ).crossJoin(
        bg.select("w1").union(bg.select("w2")).distinct().agg(
            F.count(F.lit(1)).cast("bigint").alias("v")
        )
    )
    j = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tots))
    )
    pcont = (F.col("nend") + 0.5) / (
        F.col("btypes") + 0.5 * F.col("v")
    )
    p = (
        F.greatest(F.col("c12") - _KN_D, F.lit(0.0)) / F.col("c1")
        + _KN_D * F.col("n1p") / F.col("c1") * pcont
    )
    perdoc = (
        j.select("doc_id", (-F.log2(p)).alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.avg("nll").alias("_h"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.pow(F.lit(2.0), F.col("_h")), 4).alias("ppl"),
        )
    )
    return perdoc.orderBy(F.desc("ppl"), F.asc("doc_id")).limit(
        _KN_TOPN
    )


def q_distinct_n(spark, sf_dir):
    """DISTINCT-1 / DISTINCT-2 diversity per source: unique n-gram
    types over n-gram tokens."""
    bg = _doc_bigrams(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    j = bg.join(d, "doc_id")
    # exact token stats need the full token stream (w1 misses each
    # doc's final token) — rebuild from the token explode
    toks = (
        _t(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.split(F.trim(F.col("text")), "\\s+")
            ).alias("w"),
        )
    )
    t1 = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("w").cast("bigint").alias("types1"),
    )
    t2 = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.countDistinct("w1", "w2").cast("bigint").alias("types2"),
    )
    return (
        t1.join(t2, "source")
        .select(
            "source",
            "n_tokens",
            "types1",
            F.round(
                F.col("types1") / F.col("n_tokens").cast("double"), 6
            ).alias("distinct1"),
            "n_bigrams",
            "types2",
            F.round(
                F.col("types2") / F.col("n_bigrams").cast("double"),
                6,
            ).alias("distinct2"),
        )
        .orderBy("source")
    )


def q_self_bleu_lite(spark, sf_dir):
    """SELF-BLEU-LITE: bigram-set precision between consecutive
    same-source docs; per-source pair count and mean overlap."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    wnext = Window.partitionBy("source").orderBy("doc_id")
    pairs = d.select(
        "source",
        F.col("doc_id").alias("a"),
        F.lead("doc_id").over(wnext).alias("b"),
    ).where(F.col("b").isNotNull())
    bgs = (
        _doc_bigrams(spark, sf_dir)
        .select("doc_id", "w1", "w2")
        .distinct()
    )
    na = bgs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a")
    )
    inter = (
        pairs.join(
            bgs.select(
                F.col("doc_id").alias("a"), "w1", "w2"
            ),
            "a",
        )
        .join(
            bgs.select(
                F.col("doc_id").alias("b"), "w1", "w2"
            ),
            ["b", "w1", "w2"],
        )
        .groupBy("source", "a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_int"))
    )
    per_pair = (
        pairs.join(inter, ["source", "a", "b"], "left")
        .join(na.select(F.col("doc_id").alias("a"), "n_a"), "a")
        .select(
            "source",
            (
                F.coalesce(F.col("n_int"), F.lit(0))
                / F.col("n_a").cast("double")
            ).alias("ov"),
        )
    )
    return (
        per_pair.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.avg("ov"), 6).alias("mean_overlap"),
            F.round(F.max("ov"), 6).alias("max_overlap"),
        )
        .orderBy("source")
    )
