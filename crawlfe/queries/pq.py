"""Feature-eng pack #64 (r4): product quantization + corpus mixing.

* ``pq_encode`` — product quantization (Jégou et al. 2011): the 64-dim
  embedding splits into M=4 subspaces of 16 dims; each sub-vector is
  coded as its nearest of K=4 per-subspace centroids.  PQ is THE
  compression layer of billion-scale ANN (IVF-PQ): 64 floats become
  M small codes.  The codebook here is deterministic (the K lowest
  vec_ids' sub-vectors) so the oracle is exact; at 10^12 rows it would
  be a k-means output, and the ENCODE shape — one broadcast of
  M·K tiny centroids, argmin per (row, subspace), no shuffle of the
  fat vectors — is unchanged.
* ``adc_topk`` — asymmetric distance computation over those codes:
  each probe precomputes an M×K lookup table of probe-to-centroid
  distances (a broadcast of 10·16 rows), and a corpus row's
  approximate distance is the sum of M table lookups — the corpus
  vectors themselves are never touched at query time.  Top-3 per
  probe by rounded ADC distance (vec_id tie-break).
* ``mixture_temperature`` — temperature-scaled source sampling weights
  w_s ∝ p_s^α with α=0.7 (the mT5/XLM-R multilingual recipe;
  Conneau et al. 2020): flattens the source distribution toward
  uniform without inverting it.  Distinct from `domain_weights`
  (inverse-propensity clip) and `token_budget_mix` (hard budget
  fill): temperature REshapes shares, it doesn't cap them.

Determinism: all argmins on round(·,6) distances with centroid-id
tie-breaks; ranks on rounded sums; every column aliased identically
in both engines (_shared.py conventions).
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_PQ_M = 4  # subspaces
_PQ_SUB = 16  # dims per subspace (4 x 16 = the 64-dim fixture)
_PQ_K = 4  # centroids per subspace = the K lowest vec_ids' sub-vectors
_ADC_PROBES = 10
_ADC_TOPK = 3
_MIX_ALPHA = 0.7


def _sub_l2(a, b):
    """round-6 squared L2 between two 16-dim array columns."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _pq_relations(spark, sf_dir):
    """(corpus_m, cents16): every (vector, subspace) sub-vector row and
    the M*K broadcastable codebook rows."""
    e = _t(spark, sf_dir, "embeddings")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", vec_d.alias("v"))
    ms = F.explode(F.array(*[F.lit(i) for i in range(_PQ_M)])).alias("m")
    corpus_m = base.select("vec_id", ms, "v").select(
        "vec_id",
        "m",
        F.expr(f"slice(v, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sub"),
    )
    cents16 = (
        base.where(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("k"), ms, "v")
        .select(
            "k",
            "m",
            F.expr(f"slice(v, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("cv"),
        )
    )
    return corpus_m, cents16


def _pq_codes(spark, sf_dir):
    """(vec_id, m, k, d): each sub-vector's nearest-centroid code and
    its rounded quantization error."""
    corpus_m, cents16 = _pq_relations(spark, sf_dir)
    scored = corpus_m.join(F.broadcast(cents16), "m").select(
        "vec_id", "m", "k", _sub_l2(F.col("sub"), F.col("cv")).alias("d")
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d", "k")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "m", "k", "d")
    )


def q_pq_encode(spark, sf_dir):
    """PQ codes per vector (one int per subspace) + reconstruction MSE
    (mean rounded per-subspace quantization error over all 64 dims).
    One broadcast hash join + one (vec_id,m) window — the fat vector
    column is scanned once and never shuffled."""
    codes = _pq_codes(spark, sf_dir)
    aggs = [
        F.max(F.when(F.col("m") == i, F.col("k"))).alias(f"code{i}")
        for i in range(_PQ_M)
    ]
    # fixed-point bigint sum: d carries <= 6 decimals, so the micro
    # representation is exact and the cross-subspace sum can't drift
    # by association order (the repo's BIGINT-sum recipe; a raw
    # double sum flipped the last rounded digit at sf0.01)
    d_micro = F.round(F.col("d") * 1e6, 0).cast("bigint")
    return codes.groupBy("vec_id").agg(
        *aggs,
        F.round(
            F.sum(d_micro) / F.lit(float(_PQ_M * _PQ_SUB) * 1e6), 6
        ).alias("recon_mse"),
    )


def q_adc_topk(spark, sf_dir):
    """Approximate top-3 neighbors per probe via ADC: probe-side
    M×K distance LUT (a 10·16-row broadcast), corpus side only its
    PQ codes — approx dist = sum over subspaces of LUT[m, code].
    At 10^12 rows this is the IVF-PQ inner loop: the scan reads
    4 small ints per row, never the 64 floats."""
    corpus_m, cents16 = _pq_relations(spark, sf_dir)
    codes = _pq_codes(spark, sf_dir).select("vec_id", "m", "k")
    lut = (
        corpus_m.where(F.col("vec_id") < _ADC_PROBES)
        .select(F.col("vec_id").alias("q_id"), "m", F.col("sub").alias("ps"))
        .join(F.broadcast(cents16), "m")
        .select(
            "q_id", "m", "k", _sub_l2(F.col("ps"), F.col("cv")).alias("pd")
        )
    )
    # fixed-point bigint sum (see q_pq_encode): the rank key must be
    # EXACT or cross-engine association-order drift can swap
    # neighbors whose ADC distances agree to the last rounded digit
    pd_micro = F.round(F.col("pd") * 1e6, 0).cast("bigint")
    scored = (
        codes.join(F.broadcast(lut), ["m", "k"])
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.round(F.sum(pd_micro) / 1e6, 6).alias("adc"),
            F.sum(pd_micro).alias("adc_micro"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("adc_micro", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _ADC_TOPK)
        .select("q_id", "vec_id", "adc", "rn")
    )


def q_mixture_temperature(spark, sf_dir):
    """Temperature-scaled source sampling weights: p_s = share of
    docs, w_s = p_s^alpha / sum(p_s^alpha) with alpha = 0.7 — the
    multilingual-corpus rebalancing recipe.  Two tiny aggs and a
    1-row broadcast; the upsample factor w/p says how much each
    source is over/under-sampled vs natural."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = per.agg(F.sum("n_docs").alias("n_all"))
    p = F.col("n_docs").cast("double") / F.col("n_all")
    withp = per.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", p.alias("p"), F.pow(p, _MIX_ALPHA).alias("pa")
    )
    z = withp.agg(F.sum("pa").alias("z"))
    return withp.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round("p", 6).alias("p"),
        F.round(F.col("pa") / F.col("z"), 6).alias("w"),
        F.round(F.col("pa") / F.col("z") / F.col("p"), 4).alias(
            "upsample"
        ),
    )
