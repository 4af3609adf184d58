"""Feature-eng pack #74 (r4): LLM data-selection + eval estimators.

* ``dsir_weights`` — hashed-n-gram importance resampling weights
  (DSIR, Xie et al. 2023, public method): hash unigrams into 64
  buckets, estimate Laplace-smoothed bucket distributions for the
  TARGET corpus (lang='en') and the RAW corpus, and score every doc
  by Σ ln(p_target(b)/p_raw(b)) over its tokens.  Per-bucket log
  ratios are rounded to exact BIGINT ten-thousandths before the
  per-doc sum (the quality_unigram_lm fixed-point discipline) so the
  score is bit-deterministic across engines, partitionings, and
  cluster sizes.  This is the data-curation primitive that upsamples
  target-like web text at 10^12-doc scale: two O(64) distributions,
  one token-stream join, no Python.
* ``pass_at_k`` — the unbiased pass@k estimator (Chen et al. 2021,
  public formula): 1 − C(n−c,k)/C(n,k) per task with k=3, computed as
  ONE exact integer rational (numerator/denominator products of 3
  fixed terms) divided once — no combinatorics library, no overflow
  at fixture scale, bit-deterministic.  Tasks are user_ids, attempts
  are events, successes are purchases; tasks with fewer than k
  attempts are excluded exactly as the estimator requires.
* ``err_ranking`` — Expected Reciprocal Rank (Chapelle et al. 2009,
  public formula) of each day's value-ranked top-10: graded relevance
  g = min(4, cents div 2500), stop probability R = (2^g−1)/2^4 (all
  dyadic-exact), ERR = Σ_r R_r/r · Π_{i<r}(1−R_i) with the prefix
  product as exp of an ORDERED window log-sum — fixed accumulation
  order in both engines, so doubles agree.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_DSIR_BUCKETS = 64
_PASSK_K = 3
_ERR_TOPN = 10
_ERR_GMAX = 4
_ERR_BIN_CENTS = 2500


def _bucket_spark(col):
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % _DSIR_BUCKETS
    )


def q_dsir_weights(spark, sf_dir):
    """Per-doc DSIR importance log-weight: hashed-unigram bucket
    counts for target (lang='en') and raw corpora -> Laplace bucket
    probs -> per-bucket lr_e4 = round(1e4·ln(pt/pr)) BIGINT -> exact
    per-doc sum over the token stream.  Output: doc_id, n_tokens,
    logw (round 4), keep = logw > 0."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
    ).where(F.col("token") != "").withColumn(
        "b", _bucket_spark(F.col("token"))
    )
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        toks.where(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    # right-join raw (every observed bucket) so unseen-in-target
    # buckets get the +1 smoothing mass
    dist = (
        raw.join(tgt, "b", "left")
        .na.fill({"ct": 0})
        .crossJoin(
            F.broadcast(
                raw.agg(F.sum("cr").alias("tr")).crossJoin(
                    tgt.agg(F.sum("ct").alias("tt"))
                )
            )
        )
        .select(
            "b",
            F.round(
                F.log(
                    ((F.col("ct") + 1) / (F.col("tt") + _DSIR_BUCKETS))
                    / ((F.col("cr") + 1) / (F.col("tr") + _DSIR_BUCKETS))
                )
                * 10000
            )
            .cast("bigint")
            .alias("lr_e4"),
        )
    )
    return (
        toks.join(F.broadcast(dist), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("lr_e4").alias("sum_e4"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("sum_e4") / 10000.0, 4).alias("logw"),
            (F.col("sum_e4") > 0).alias("keep"),
        )
    )


def q_pass_at_k(spark, sf_dir):
    """pass@3 per task (user): 1 − C(n−c,3)/C(n,3) as one exact
    integer rational — numerator (n−c)(n−c−1)(n−c−2), denominator
    n(n−1)(n−2) — divided once.  Tasks with n < 3 attempts are
    excluded (the estimator's own requirement); c ≥ n−2 gives
    pass@3 = 1 exactly (numerator clamps at 0)."""
    k = _PASSK_K
    g = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                (F.col("event_type") == "purchase").cast("bigint")
            ).alias("c"),
        )
        .where(F.col("n") >= k)
    )
    f = F.col("n") - F.col("c")
    num = (
        F.greatest(f, F.lit(0))
        * F.greatest(f - 1, F.lit(0))
        * F.greatest(f - 2, F.lit(0))
    )
    den = F.col("n") * (F.col("n") - 1) * (F.col("n") - 2)
    return g.select(
        "user_id",
        "n",
        F.col("c").cast("bigint").alias("c"),
        F.round(1.0 - num / den.cast("double"), 6).alias("pass_at_k"),
    )


def q_err_ranking(spark, sf_dir):
    """Expected Reciprocal Rank of each day's top-10 by value:
    grade g = least(4, cents div 2500), R = (2^g−1)/16 (dyadic
    exact), ERR = Σ_r R_r/r · Π_(i<r)(1−R_i).  The prefix product is
    exp(Σ ln(1−R)) over an ORDERED window — identical accumulation
    order in both engines.  R=15/16 at the top mostly decides ERR:
    the metric a ranker sweep reports per slice."""
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth("ts").alias("day"),
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    rk_w = Window.partitionBy("day").orderBy(
        F.col("cents").desc(), F.col("event_id").asc()
    )
    top = (
        e.withColumn("r", F.row_number().over(rk_w))
        .where(F.col("r") <= _ERR_TOPN)
        .withColumn(
            "g",
            F.least(
                F.lit(_ERR_GMAX), F.expr(f"cents DIV {_ERR_BIN_CENTS}")
            ),
        )
        .withColumn(
            "rel",
            (F.pow(F.lit(2.0), F.col("g")) - 1)
            / F.pow(F.lit(2.0), F.lit(_ERR_GMAX)),
        )
    )
    pre_w = (
        Window.partitionBy("day")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = top.withColumn(
        "carry",
        F.exp(
            F.coalesce(
                F.sum(F.log(1.0 - F.col("rel"))).over(pre_w), F.lit(0.0)
            )
        ),
    ).withColumn(
        "term", F.col("rel") / F.col("r") * F.col("carry")
    )
    return (
        terms.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ranked"),
            F.round(F.sum("term"), 6).alias("err"),
        )
    )
