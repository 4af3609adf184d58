"""Feature-eng pack #121 (r4): corpus curation III — tokenizer cost
accounting and length/language profiling for training-data prep,
next to token_count / token_budget_mix / lang_balance_sample.

* ``tokenizer_fertility`` — per language: whitespace words, BPE-ish
  regex subwords (the registry's shared ``_BPE_RE`` pre-tokenizer),
  characters; fertility = subwords/word and chars/subword — the
  numbers that decide per-language training cost and whether the
  tokenizer under-serves a language.
* ``length_ccdf`` — per source, the doc-length complementary CDF
  P(n_chars > L) at the L = {100, 300, 1000, 3000} grid — the
  length profile behind truncation/packing decisions (doc_chunk,
  seq_pack).
* ``langid_by_source`` — the marker-vote pseudo-language predictor
  (same rule as ``lang_id``) profiled against the source label:
  per (source, pred_lang) counts and within-source share — which
  sources look English-like vs code/data-like, the curation split
  report.

Scale shape: every query is one tokenize/length pass + one hash
agg; the CCDF grid and marker lists are tiny broadcast literals.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t
from .text import _BPE_RE, _LANG_MARKERS

_CCDF_GRID = (100, 300, 1000, 3000)


def q_tokenizer_fertility(spark, sf_dir):
    """TOKENIZER FERTILITY per language: subwords/word and
    chars/subword from the shared BPE-ish pre-tokenizer."""
    d = _t(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    # pattern via F.lit — a SQL string literal would eat the \\s
    # escape (same convention as q_token_count)
    subwords = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
    )
    chars = F.length(F.regexp_replace(F.col("text"), "\\s+", ""))
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(words).cast("bigint").alias("n_words"),
        F.sum(subwords).cast("bigint").alias("n_subwords"),
        F.sum(chars).cast("bigint").alias("n_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_subwords",
        F.round(
            F.col("n_subwords") / F.col("n_words").cast("double"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_chars") / F.col("n_subwords").cast("double"), 6
        ).alias("chars_per_subword"),
    ).orderBy("lang")


def q_length_ccdf(spark, sf_dir):
    """LENGTH CCDF per source at the fixed char-threshold grid."""
    d = _t(spark, sf_dir, "documents")
    grid = spark.createDataFrame(
        [(x,) for x in _CCDF_GRID], "l bigint"
    )
    j = d.crossJoin(F.broadcast(grid))
    return (
        j.groupBy("source", "l")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                (F.col("n_chars") > F.col("l")).cast("bigint")
            ).alias("n_longer"),
        )
        .select(
            "source",
            "l",
            "n_docs",
            "n_longer",
            F.round(
                F.col("n_longer") / F.col("n_docs").cast("double"),
                6,
            ).alias("ccdf"),
        )
        .orderBy("source", "l")
    )


def q_langid_by_source(spark, sf_dir):
    """LANG-ID PROFILE: marker-vote predictor (lang_id's rule)
    against the source label; per (source, pred) count + share."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")

    def score(markers):
        arr = F.array(*[F.lit(x) for x in markers])
        return F.size(
            F.filter(toks, lambda t: F.array_contains(arr, t))
        )

    en = score(_LANG_MARKERS["en-like"])
    sq = score(_LANG_MARKERS["sql-like"])
    da = score(_LANG_MARKERS["data-like"])
    pred = (
        F.when((en >= sq) & (en >= da), F.lit("en-like"))
        .when(sq >= da, F.lit("sql-like"))
        .otherwise(F.lit("data-like"))
    )
    g = d.select("source", pred.alias("pred_lang")).groupBy(
        "source", "pred_lang"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = g.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("ns")
    )
    return (
        g.join(tot, "source")
        .select(
            "source",
            "pred_lang",
            "n",
            F.round(
                F.col("n") / F.col("ns").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("source", "pred_lang")
    )
