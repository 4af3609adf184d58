"""Feature-eng pack #130 (r4): corpus duplication & coverage
profiles — the reporting companions of the dedup operators
(dedup_exact keeps survivors; these MEASURE the duplication) and the
vocab-budget queries (vocab_topv, rare_token_share).

* ``dup_cluster_profile`` — exact-duplicate structure via md5(text)
  clusters: per cluster-size k, the number of clusters, docs and
  corpus share, plus the overall duplication factor docs/clusters
  repeated per row — the shape that decides dedup ROI.
* ``ngram_coverage_curve`` — cumulative bigram-mass coverage of the
  top-K bigram types at K in {10, 100, 1000}: how fast the Zipf
  mass concentrates, the vocab-truncation planning curve.
* ``readability_panel`` — ARI, Coleman-Liau and LIX per source
  (deterministic proxies: words = whitespace tokens, sentences =
  runs of [.!?] floored at 1, letters = [A-Za-z0-9]): the
  grade-level panel complementing ``readability``'s Flesch score.

Scale shape: one hash/ngram agg each; the coverage curve is one
ordered cumsum over ranked bigram counts.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_COV_KS = (10, 100, 1000)


def q_dup_cluster_profile(spark, sf_dir):
    """EXACT-DUP cluster-size profile over md5(text)."""
    d = _t(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("h")
    )
    cl = d.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    prof = cl.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("k").cast("bigint").alias("n_docs"),
    )
    tot = prof.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum("n_clusters").cast("bigint").alias("total_clusters"),
    )
    return (
        prof.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_clusters",
            "n_docs",
            F.round(
                F.col("n_docs") / F.col("total_docs").cast("double"),
                6,
            ).alias("doc_share"),
            F.round(
                F.col("total_docs")
                / F.col("total_clusters").cast("double"),
                6,
            ).alias("dup_factor"),
        )
        .orderBy("k")
    )


def q_ngram_coverage_curve(spark, sf_dir):
    """TOP-K BIGRAM coverage: cumulative mass share at the K grid."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.col("text")), "\\s+")
        ).alias("pos", "w"),
    )
    wnext = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        F.col("w").alias("w1"),
        F.lead("w").over(wnext).alias("w2"),
    ).where(F.col("w2").isNotNull())
    cnt = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wr = Window.orderBy(F.desc("c"), F.asc("w1"), F.asc("w2"))
    ranked = cnt.select(
        "c", F.row_number().over(wr).cast("bigint").alias("rnk")
    )
    wcum = Window.orderBy("rnk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = ranked.select(
        "rnk",
        F.sum("c").over(wcum).cast("bigint").alias("cum"),
    )
    tot = cnt.agg(
        F.sum("c").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("types"),
    )
    grid = spark.createDataFrame(
        [(k,) for k in _COV_KS], "k bigint"
    )
    j = grid.crossJoin(F.broadcast(tot)).join(
        cum, grid["k"] == cum["rnk"], "left"
    )
    return j.select(
        "k",
        "types",
        F.round(
            F.coalesce(
                F.col("cum").cast("double") / F.col("tot"),
                F.lit(1.0),
            ),
            6,
        ).alias("coverage"),
    ).orderBy("k")


def q_readability_panel(spark, sf_dir):
    """ARI / COLEMAN-LIAU / LIX per source with deterministic
    word/sentence/letter proxies."""
    d = _t(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    sents = F.greatest(
        F.lit(1),
        F.size(
            F.split(F.col("text"), "[.!?]+")
        )
        - 1,
    )
    letters = F.length(
        F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", "")
    )
    longw = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), "\\s+"),
            lambda t: F.length(t) > 6,
        )
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(words).cast("bigint").alias("w"),
        F.sum(sents).cast("bigint").alias("s"),
        F.sum(letters).cast("bigint").alias("l"),
        F.sum(longw).cast("bigint").alias("lw"),
    )
    wd = F.col("w").cast("double")
    ari = (
        4.71 * (F.col("l") / wd)
        + 0.5 * (wd / F.col("s"))
        - 21.43
    )
    cl = (
        0.0588 * (100 * F.col("l") / wd)
        - 0.296 * (100 * F.col("s") / wd)
        - 15.8
    )
    lix = wd / F.col("s") + 100.0 * F.col("lw") / wd
    return g.select(
        "source",
        "n_docs",
        F.round(ari, 4).alias("ari"),
        F.round(cl, 4).alias("coleman_liau"),
        F.round(lix, 4).alias("lix"),
    ).orderBy("source")
