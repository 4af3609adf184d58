"""Corpus-cleaning funnel (the pre-training data pipeline).

Composes the engine's filtering signals — exact dedup, length bounds,
Gopher-style repetition (Rae+21 §A1.1, public method), language keep-set,
PII redaction (C4/Dolma-style scrub) — into ONE flag-based pass:

  * the fat rows NEVER shuffle: exact dedup comes from a slim
    (sha, doc_id) pre-aggregation (its exchange carries 40-byte
    pairs) broadcast-joined back; every other signal is a narrow
    projection. The corpus text is read twice (slim pass + flag
    pass) but two columnar scans beat one full-row shuffle by a wide
    margin — measured: the window-shuffle design scored 0.727 N->4N
    efficiency, the slim design restored it (BENCH/clean_runs.jsonl);
  * drops are FLAGS, not per-stage filters, so the funnel report
    (rows surviving each stage, in waterfall order) comes from one
    aggregation over the flagged frame instead of N re-scans — at
    100 TB, re-filtering the corpus once per stage is the difference
    between one flag pass and five;
  * redaction never drops rows, so the cleaned output is
    `keep_lang AND NOT any-drop-flag` with the redacted text.

All predicates are JVM built-ins (whole-stage codegen, no Python), and
every ratio uses the scaled-integer rounding pattern so stage decisions
are bit-deterministic across engines, partition layouts, and cluster
sizes. Mirrors the shape of the reference's dataset-cleaning stage
(ref: acoss benchmark corpus preparation [R]) re-expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# PII patterns (Java regex == RE2 subset; shared with q_pii_redact)
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IP_RE = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"

# Funnel thresholds — calibrated so every stage is non-vacuous on the
# synthetic corpus (n_tok in [10,100], dup-frac median ~0.54, 5 langs)
# while matching the public-pipeline defaults in spirit.
MIN_TOKENS = 20
MAX_TOKENS = 90
MAX_DUP_FRAC = 0.65  # Gopher drops > 0.30 on real web text
KEEP_LANGS = ("en", "fr", "es", "de")

STAGES = ["total", "exact_dedup", "length", "repetition", "lang"]


def _n_tokens_col():
    return F.size(F.split(F.trim(F.col("text")), "\\s+"))


def _dup_frac_col():
    toks = F.split(F.trim(F.col("text")), "\\s+")
    n_t = F.size(toks)
    d_t = F.size(F.array_distinct(toks))
    # scaled-integer rounding: exact integer ratios tie identically
    # across engines (same pattern as quality_repetition)
    return (
        F.round((n_t - d_t).cast("double") * 10000.0 / n_t.cast("double"), 0)
        / 10000.0
    )


def _redact_col():
    return F.regexp_replace(
        F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>"),
        PII_IP_RE,
        "<IP>",
    )


def flag_docs(docs: DataFrame) -> DataFrame:
    """Annotate (doc_id, text, lang, ...) with cumulative keep flags.

    Adds: n_tokens, dup_frac, keep_dedup, keep_len, keep_rep,
    keep_lang (each cumulative: keep_X implies all earlier keeps),
    n_emails / n_ips and `clean_text` (redacted, never dropped).
    """
    # exact dedup: canonical row = lowest doc_id per content hash —
    # via the SLIM pattern (decide on slim columns, re-attach the fat):
    # a (sha, doc_id) projection aggregates to one row per
    # DUPLICATED content hash (unique shas are dropped — on a real
    # crawl corpus most content is unique, so this table is a small
    # fraction of the corpus), and the fat rows take a left join
    # against it that AQE converts to broadcast when it fits. The fat
    # text column therefore NEVER shuffles: the only exchange in the
    # funnel carries 40-byte (sha, doc_id) pairs. The earlier window
    # design (row_number over partitionBy(sha)) shuffled every full
    # row and measurably broke N->4N scaling (BENCH/clean_runs.jsonl:
    # 0.727 at 3M docs; shuffle bandwidth, not CPU, was the ceiling).
    sha = F.sha2("text", 256)
    dup_min = (
        docs.select(sha.alias("text_sha"), "doc_id")
        .groupBy("text_sha")
        .agg(
            F.min("doc_id").alias("_min_doc_id"),
            F.count(F.lit(1)).alias("_n_same"),
        )
        .where(F.col("_n_same") > 1)
        .select("text_sha", "_min_doc_id")
    )
    out = (
        docs.withColumn("text_sha", sha)
        .join(dup_min, "text_sha", "left")
        .withColumn(
            "keep_dedup",
            F.col("_min_doc_id").isNull()
            | (F.col("doc_id") == F.col("_min_doc_id")),
        )
        .drop("_min_doc_id")
        .withColumn("n_tokens", _n_tokens_col())
        .withColumn("dup_frac", _dup_frac_col())
    )
    out = out.withColumn(
        "keep_len",
        F.col("keep_dedup")
        & F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS),
    )
    out = out.withColumn(
        "keep_rep", F.col("keep_len") & (F.col("dup_frac") <= MAX_DUP_FRAC)
    )
    out = out.withColumn(
        "keep_lang", F.col("keep_rep") & F.col("lang").isin(*KEEP_LANGS)
    )
    return out.withColumn(
        "n_emails",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL_RE), F.lit(0))),
    ).withColumn(
        "n_ips",
        F.size(F.regexp_extract_all("text", F.lit(PII_IP_RE), F.lit(0))),
    ).withColumn("clean_text", _redact_col())


def funnel(flagged: DataFrame) -> DataFrame:
    """Waterfall report from ONE aggregation over the flagged frame.

    Returns (stage_idx, stage, n_kept, n_dropped_here) — long-form
    scalar rows, deterministic order by stage_idx.
    """
    big = F.lit(1).cast("bigint")
    agg = flagged.agg(
        F.count(big).alias("total"),
        F.sum(F.col("keep_dedup").cast("bigint")).alias("exact_dedup"),
        F.sum(F.col("keep_len").cast("bigint")).alias("length"),
        F.sum(F.col("keep_rep").cast("bigint")).alias("repetition"),
        F.sum(F.col("keep_lang").cast("bigint")).alias("lang"),
        F.sum(F.col("n_emails").cast("bigint")).alias("n_emails"),
        F.sum(F.col("n_ips").cast("bigint")).alias("n_ips"),
    )
    pairs = []
    for i, s in enumerate(STAGES):
        prev = STAGES[i - 1] if i else None
        pairs.append(
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(s).alias("n_kept"),
                (
                    (F.col(prev) - F.col(s))
                    if prev
                    else F.lit(0).cast("bigint")
                ).alias("n_dropped_here"),
            )
        )
    return (
        agg.select(F.explode(F.array(*pairs)).alias("r"))
        .select("r.*")
    )


def corpus_clean(docs: DataFrame) -> DataFrame:
    """The cleaned corpus: surviving rows with PII-redacted text."""
    return (
        flag_docs(docs)
        .where("keep_lang")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            "n_emails",
            "n_ips",
            F.col("clean_text").alias("text"),
        )
    )


def stream_clean(
    docs: DataFrame, ts: str = "ts", delay: str = "1 hour"
) -> DataFrame:
    """Streaming twin of :func:`corpus_clean` for a timestamped
    document stream: the stateless quality gates (length, repetition,
    language) and PII redaction are the SAME expressions as batch; the
    batch slim-join content dedup becomes watermarked
    ``dropDuplicatesWithinWatermark`` on sha2(text) — per-content
    state is dropped once the watermark passes it, so memory stays
    bounded on an unbounded crawl stream (an unwatermarked
    dropDuplicates grows state forever).

    Stateless gates run BEFORE the dedup state store, so dropped docs
    never cost state. Semantics vs batch: the surviving content set is
    identical (gates are content-deterministic); the surviving row per
    duplicate-content group is first-arrival here vs lowest-doc_id in
    batch. In batch mode the same function degrades to plain
    ``dropDuplicates`` for parity testing.
    """
    kept = (
        docs.withColumn("n_tokens", _n_tokens_col())
        .withColumn("dup_frac", _dup_frac_col())
        .where(
            F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS)
            & (F.col("dup_frac") <= MAX_DUP_FRAC)
            & F.col("lang").isin(*KEEP_LANGS)
        )
        .withColumn("text_sha", F.sha2("text", 256))
        .withColumn(ts, F.col(ts).cast("timestamp"))
    )
    if kept.isStreaming:
        kept = kept.withWatermark(ts, delay).dropDuplicatesWithinWatermark(
            ["text_sha"]
        )
    else:
        kept = kept.dropDuplicates(["text_sha"])
    return kept.select(
        "doc_id", ts, "lang", "n_tokens", _redact_col().alias("text")
    )
