"""Feature-eng pack #62 (r4): contrastive-pair mining.

HARD-NEGATIVE MINING over the embeddings table — for each probe
vector, the top-3 most-similar vectors carrying a DIFFERENT label
(the "close but wrong" examples contrastive/triplet training feeds
on), plus the margin to the best same-label positive.  The scale
shape is the broadcast-probe blocked scoring of `knn_cosine`
(driver-green since r1) with a label predicate pushed into the pair
filter; at 100 TB the probe side is the broadcast and the corpus
never shuffles.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_HN_PROBES = 20  # vec_id < 20 probe set, as in knn_cosine
_HN_K = 3


def q_hard_negatives(spark, sf_dir):
    """Top-3 HARD NEGATIVES per probe: highest-cosine corpus vectors
    whose label differs from the probe's, with each negative's margin
    below the probe's best positive (best_pos_cosine − neg_cosine;
    negative margin = a negative OUTSCORES every positive — the pairs
    a triplet loss most needs).  Broadcast of the 20-probe set,
    per-group WindowGroupLimit top-k on the negative branch; the
    positive best is a tiny max-agg branch over the same scored
    relation (Catalyst evaluates it as a second pass over the scan —
    at 100 TB fuse the two with a single groupBy(q_id) carrying a
    label-masked max if the extra scan matters)."""
    e = _t(spark, sf_dir, "embeddings")
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    base = e.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        vec_d.alias("v"),
        nrm.alias("nm"),
    )
    probes = base.where(F.col("vec_id") < _HN_PROBES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("q"),
        F.col("nm").alias("qn"),
    )
    pairs = base.join(
        F.broadcast(probes), F.col("vec_id") != F.col("q_id")
    )
    dot = F.aggregate(
        F.zip_with(F.col("q"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "q_id",
        "q_label",
        "vec_id",
        "label",
        (dot / (F.col("qn") * F.col("nm"))).alias("cosine"),
    )
    best_pos = (
        scored.where(F.col("label") == F.col("q_label"))
        .groupBy("q_id")
        .agg(F.max("cosine").alias("best_pos"))
    )
    negs = scored.where(F.col("label") != F.col("q_label"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    topn = negs.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= _HN_K
    )
    return topn.join(F.broadcast(best_pos), "q_id").select(
        "q_id",
        "vec_id",
        F.col("label").alias("neg_label"),
        F.round("cosine", 6).alias("neg_cosine"),
        F.round(F.col("best_pos") - F.col("cosine"), 6).alias("margin"),
        "rn",
    )
