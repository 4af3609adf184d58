"""Feature-eng pack #73 (r4): keyword extraction + sequential and
step-down inference.

* ``rake_keywords`` — RAKE keyword scoring (Rose et al. 2010, public
  algorithm): stopword-delimited phrase runs via a positional window
  cumsum (the sessionize trick on token streams), word degree =
  Σ phrase_len over occurrences, score = deg/freq, top-20 under a
  total (score desc, token asc) order.  All JVM tokenization —
  posexplode + two windows + one agg, no Python.
* ``msprt_evalue`` — always-valid sequential A/B monitoring (mixture
  SPRT, Johari/Pekelis/Walsh 2017 public formula): per calendar day,
  the cumulative two-arm purchase-rate difference becomes the
  Gaussian-mixture e-value Λ = sqrt(V/(V+τ²))·exp(Y²τ²/(2V(V+τ²))).
  One O(days) agg + window cumsums; reject when Λ exceeds 1/α.
  This is the streaming-decision twin of the fixed-horizon tests
  elsewhere in the registry — a crawl experiment you may stop ANY
  day without inflating false positives.
* ``holm_bonferroni`` — Holm step-down multiple-testing adjustment
  (Holm 1979) over the per-event-type weekend-vs-weekday effect
  family: two-prop z per hypothesis, p = 2(1−Φ(|z|)) through the
  Abramowitz-Stegun 26.2.17 polynomial CDF as ONE shared SQL string
  both engines evaluate verbatim (the Acklam-probit discipline from
  rank_int), then the running-max step-down.  Complements the
  registry's BH step-UP (bh_fdr): Holm controls FWER, BH controls
  FDR.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_RAKE_STOPWORDS = ("the", "a")
_RAKE_TOPK = 20
_MSPRT_TAU2 = 0.01
_MSPRT_ALPHA = 0.05
_HOLM_ALPHA = 0.05
_HOLM_OUTCOME_CENTS = 5000

# Abramowitz & Stegun 26.2.17 polynomial approximation of the standard
# normal CDF Φ(x) for x >= 0 (|err| < 7.5e-8; public formula).  One SQL
# expression over a non-negative column {x}, evaluated VERBATIM by both
# Spark and DuckDB so the doubles agree engine-to-engine.
_NCDF_SQL = """
(1.0 - (exp(-(({x}) * ({x})) / 2.0) / 2.5066282746310002)
 * (0.319381530 * (1.0 / (1.0 + 0.2316419 * ({x})))
    - 0.356563782 * pow(1.0 / (1.0 + 0.2316419 * ({x})), 2)
    + 1.781477937 * pow(1.0 / (1.0 + 0.2316419 * ({x})), 3)
    - 1.821255978 * pow(1.0 / (1.0 + 0.2316419 * ({x})), 4)
    + 1.330274429 * pow(1.0 / (1.0 + 0.2316419 * ({x})), 5)))
"""


def q_rake_keywords(spark, sf_dir):
    """RAKE top-20 keywords over documents: phrases are maximal
    stopword-free token runs (run id = cumsum of stopword flags —
    the gap-sessionize pattern applied to token position), word
    degree sums the containing phrase lengths, score = deg/freq.
    Output: token, freq, deg, rake (round 6), top-20 by
    (score desc, token asc)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias(
            "pos", "token"
        ),
    ).where(F.col("token") != "")
    flagged = toks.withColumn(
        "stop", F.col("token").isin(*_RAKE_STOPWORDS)
    ).withColumn(
        "run",
        F.sum(F.col("stop").cast("int")).over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    words = flagged.where(~F.col("stop")).withColumn(
        "plen",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "run")),
    )
    scores = words.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    return (
        scores.withColumn(
            "rake_raw", F.col("deg") / F.col("freq").cast("double")
        )
        .orderBy(F.col("rake_raw").desc(), F.col("token").asc())
        .limit(_RAKE_TOPK)
        .select(
            "token",
            "freq",
            "deg",
            F.round("rake_raw", 6).alias("rake"),
        )
    )


def q_msprt_evalue(spark, sf_dir):
    """Daily always-valid e-value for the two-arm (user_id parity)
    purchase-rate difference: cumulative counts by window cumsum,
    then the Gaussian mSPRT mixture likelihood ratio with τ²=0.01.
    Output per day: cumulative n/x per arm, e_value (round 6),
    reject_anytime = Λ > 1/α.  V=0 days report Λ=1 (no evidence)."""
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth("ts").alias("day"),
        (F.col("user_id") % 2 == 0).alias("arm_a"),
        (F.col("event_type") == "purchase").cast("bigint").alias("hit"),
    )
    daily = e.groupBy("day").agg(
        F.sum(F.when(F.col("arm_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("na_d"),
        F.sum(F.when(F.col("arm_a"), F.col("hit")).otherwise(0))
        .cast("bigint")
        .alias("xa_d"),
        F.sum(F.when(~F.col("arm_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("nb_d"),
        F.sum(F.when(~F.col("arm_a"), F.col("hit")).otherwise(0))
        .cast("bigint")
        .alias("xb_d"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("na_d").over(w).alias("na"),
        F.sum("xa_d").over(w).alias("xa"),
        F.sum("nb_d").over(w).alias("nb"),
        F.sum("xb_d").over(w).alias("xb"),
    )
    p = (F.col("xa") + F.col("xb")) / (F.col("na") + F.col("nb")).cast(
        "double"
    )
    v = p * (1 - p) * (1 / F.col("na") + 1 / F.col("nb"))
    y = F.col("xa") / F.col("na") - F.col("xb") / F.col("nb")
    lam = F.sqrt(v / (v + F.lit(_MSPRT_TAU2))) * F.exp(
        y * y * F.lit(_MSPRT_TAU2) / (2 * v * (v + F.lit(_MSPRT_TAU2)))
    )
    e_val = F.when(v > 0, lam).otherwise(F.lit(1.0))
    return cum.select(
        "day",
        F.col("na").cast("bigint").alias("na"),
        F.col("xa").cast("bigint").alias("xa"),
        F.col("nb").cast("bigint").alias("nb"),
        F.col("xb").cast("bigint").alias("xb"),
        F.round(e_val, 6).alias("e_value"),
        (e_val > F.lit(1.0 / _MSPRT_ALPHA)).alias("reject_anytime"),
    )


def q_holm_bonferroni(spark, sf_dir):
    """Holm step-down FWER adjustment over the per-event-type
    weekend-vs-weekday rate-shift family: two-prop z from integer
    cell counts, p = 2(1−Φ(|z|)) via the shared A&S 26.2.17 CDF
    string, then p_holm = min(1, running max of (m−rk+1)·p) in
    p-ascending order.  Output: event_type, z, p_raw, p_holm,
    reject (α=0.05)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek("ts").isin(1, 7).alias("weekend"),
        (
            F.expr("CAST(round(value * 100) AS BIGINT)")
            >= _HOLM_OUTCOME_CENTS
        ).cast("bigint").alias("hit"),
    )
    cells = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("weekend"), 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("weekend"), F.col("hit")).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.sum(F.when(~F.col("weekend"), 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(~F.col("weekend"), F.col("hit")).otherwise(0))
        .cast("bigint")
        .alias("x2"),
    )
    p = (F.col("x1") + F.col("x2")) / (F.col("n1") + F.col("n2")).cast(
        "double"
    )
    z = (F.col("x1") / F.col("n1") - F.col("x2") / F.col("n2")) / F.sqrt(
        p * (1 - p) * (1 / F.col("n1") + 1 / F.col("n2"))
    )
    scored = cells.withColumn("z", z).withColumn(
        "p_raw",
        2.0 * (1.0 - F.expr(_NCDF_SQL.format(x="abs(z)"))),
    )
    rk_w = Window.orderBy(F.col("p_raw").asc(), F.col("event_type").asc())
    holm = (
        scored.withColumn("rk", F.row_number().over(rk_w))
        .withColumn(
            "m",
            F.count(F.lit(1)).over(
                Window.partitionBy(F.lit(1))
            ),  # O(hypotheses) relation — the lone-partition window is fine
        )
        .withColumn(
            "p_holm",
            F.least(
                F.lit(1.0),
                F.max((F.col("m") - F.col("rk") + 1) * F.col("p_raw")).over(
                    rk_w.rowsBetween(Window.unboundedPreceding, 0)
                ),
            ),
        )
    )
    return holm.select(
        "event_type",
        "n1",
        "x1",
        "n2",
        "x2",
        F.round("z", 6).alias("z"),
        F.round("p_raw", 6).alias("p_raw"),
        F.round("p_holm", 6).alias("p_holm"),
        (F.col("p_holm") < _HOLM_ALPHA).alias("reject"),
    )
