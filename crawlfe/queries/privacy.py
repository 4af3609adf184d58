"""Feature-eng pack #65 (r4): privacy auditing + split hygiene + ORC.

* ``k_anonymity`` — k-anonymity audit over the quasi-identifier tuple
  (lang, source, length bucket): group sizes and a violates-k flag.
  The release-gating scan a corpus with user-adjacent metadata runs
  before publication (Sweeney 2002).  One hash agg — map-side
  combinable, no skew (buckets are coarse by construction).
* ``dp_counts`` — per-lang counts with deterministic Laplace noise
  (epsilon=1) via inverse-CDF over an md5-derived uniform: the
  differential-privacy release shape (Dwork et al. 2006) with the
  repo's hash-noise determinism so the oracle is exact.
* ``stratified_kfold`` — per-stratum round-robin fold assignment in
  hash order: every lang's docs split into 5 folds whose sizes differ
  by at most 1 — the class-balanced eval-split recipe (vs
  `group_kfold`, which keeps an entity's rows together; this one
  balances strata).
* ``scan_orc`` — ORC source/sink round trip (Spark's built-in
  columnar format besides parquet): documents -> distributed
  ``df.write.orc`` -> ``spark.read.orc`` -> per-source agg; the
  oracle recomputes the agg straight from the documents view, so
  parity covers the full write->scan cycle.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _scratch_dir, _t

_KANON_K = 5
_KANON_BUCKET = 200  # n_chars bucket width for the quasi-identifier
_DP_EPS = 1.0
_KFOLD = 5


def q_k_anonymity(spark, sf_dir):
    """Group sizes over the quasi-identifier (lang, source,
    floor(n_chars/200)) with a violates-k flag: any group smaller
    than k=5 re-identifies its members.  The audit is ONE partial-agg
    groupBy; at 100 TB the QI tuple cardinality is tiny relative to
    rows, so the exchange carries only group counts."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(
            "lang",
            "source",
            (F.col("n_chars") / _KANON_BUCKET)
            .cast("bigint")
            .alias("len_bucket"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "lang",
            "source",
            "len_bucket",
            "n",
            (F.col("n") < _KANON_K).cast("int").alias("violates_k"),
        )
    )


def q_dp_counts(spark, sf_dir):
    """Per-lang doc counts with Laplace(1/eps) noise, eps=1: the
    epsilon-DP count release.  Noise is DETERMINISTIC here — inverse
    Laplace CDF over u = (md5(lang)_16 + 0.5)/65536 (dyadic, exact in
    both engines) — so the oracle matches bit-for-bit; a production
    release would draw u from a CSPRNG, everything else identical."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    h16 = F.conv(F.substring(F.md5(F.col("lang")), 1, 4), 16, 10).cast(
        "bigint"
    )
    u = (h16 + F.lit(0.5)) / F.lit(65536.0)
    b = 1.0 / _DP_EPS
    noise = (
        -F.lit(b)
        * F.signum(u - 0.5)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return per.select(
        "lang",
        "n",
        F.round(noise, 4).alias("noise"),
        F.round(F.col("n") + noise, 4).alias("dp_n"),
    )


def q_stratified_kfold(spark, sf_dir):
    """Stratified 5-fold assignment: within each lang, docs ordered by
    (md5(doc_id), doc_id) get fold = (rank-1) % 5, so every stratum's
    folds are balanced to within one row and the assignment is a pure
    deterministic function of the data.  Output is the per
    (lang, fold) audit (counts), the table a training job joins
    against.  One rank window per stratum — the same shuffle the
    split itself needs."""
    d = _t(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    folds = d.select(
        "lang",
        ((F.row_number().over(w) - 1) % _KFOLD).alias("fold"),
    )
    return folds.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def q_scan_orc(spark, sf_dir):
    """ORC round trip: documents -> distributed ORC write (overwrite
    into the session scratch dir) -> spark.read.orc -> per-source agg.
    Covers Spark's second builtin columnar format end-to-end; the
    oracle aggregates the documents view directly, so any write- or
    read-side corruption breaks parity."""
    out = _scratch_dir("scan_orc")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    d.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
