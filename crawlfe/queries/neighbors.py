"""Feature-eng pack #109 (r4): embedding neighborhood statistics —
the local-density family that complements the global geometry
queries (embedding_isotropy, mean_pairwise_cosine, jl_distortion)
and the search queries (knn_cosine, ann_lsh, ann_ivf).

All three run on the deterministic 200-point reference panel
(vec_id < 200, present at every SF) with exact Euclidean distances:
the panel bounds the pairwise grid at 200 x 200 regardless of table
size, the same probe-panel discipline as ``knn_cosine``.  Distances
fold the 64-dim float list in list order in both engines, so the
doubles are bit-identical.

* ``lof_scores`` — Breunig et al. (2000) Local Outlier Factor at
  k = 5: k-distance, reachability distance, local reachability
  density, LOF; top-10 most outlying points.
* ``twonn_dim`` — Facco et al. (2017) TwoNN intrinsic-dimension
  estimator: mu_i = d2/d1, id_mle = n / sum(ln mu).
* ``hubness_skew`` — k-occurrence distribution at k = 5: how often
  each point appears in others' kNN lists; moment skewness, max
  hub size and the anti-hub count — high skew is the classic
  curse-of-dimensionality symptom that degrades ANN recall.

Scale shape: one filter to the panel, one 200^2 broadcastable pair
grid, then windows/joins on O(panel * k) rows; raw table size only
affects the initial scan.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_NB_PANEL = 200  # reference panel: vec_id < 200 at every SF
_NB_K = 5


def _pairs(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _NB_PANEL
    )
    vec_d = F.transform(
        F.col("embedding"), lambda x: x.cast("double")
    )
    base = e.select("vec_id", vec_d.alias("v"))
    a = base.select(
        F.col("vec_id").alias("i"), F.col("v").alias("vi")
    )
    b = base.select(
        F.col("vec_id").alias("j"), F.col("v").alias("vj")
    )
    d = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("vi"), F.col("vj"), lambda x, y: x - y
            ),
            F.lit(0.0),
            lambda acc, t: acc + t * t,
        )
    )
    return (
        a.join(F.broadcast(b), F.col("i") != F.col("j"))
        .select("i", "j", d.alias("d"))
    )


def _knn(spark, sf_dir):
    p = _pairs(spark, sf_dir)
    w = Window.partitionBy("i").orderBy("d", "j")
    return p.select(
        "i", "j", "d", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= _NB_K)


def q_lof_scores(spark, sf_dir):
    """LOCAL OUTLIER FACTOR (k=5) on the 200-point panel: top-10 by
    LOF with the local reachability density alongside."""
    knn = _knn(spark, sf_dir).localCheckpoint(eager=True)
    kdist = knn.where(F.col("rn") == _NB_K).select(
        F.col("i").alias("o"), F.col("d").alias("kdist")
    )
    reach = knn.join(
        kdist, knn["j"] == kdist["o"]
    ).select(
        "i",
        "j",
        F.greatest(F.col("kdist"), F.col("d")).alias("rd"),
    )
    lrd = reach.groupBy("i").agg(
        (F.lit(1.0) / F.avg("rd")).alias("lrd")
    )
    lof = (
        knn.select("i", "j")
        .join(
            lrd.select(
                F.col("i").alias("j"), F.col("lrd").alias("lrd_o")
            ),
            "j",
        )
        .groupBy("i")
        .agg(F.avg("lrd_o").alias("_m"))
        .join(lrd, "i")
        .select(
            F.col("i").alias("vec_id"),
            F.round(F.col("_m") / F.col("lrd"), 6).alias("lof"),
            F.round("lrd", 6).alias("lrd"),
        )
    )
    return lof.orderBy(F.desc("lof"), F.asc("vec_id")).limit(10)


def q_twonn_dim(spark, sf_dir):
    """TWONN intrinsic dimension: id_mle = n / sum(ln(d2/d1)) over
    panel points with d1 > 0."""
    knn = _knn(spark, sf_dir)
    two = (
        knn.where(F.col("rn") <= 2)
        .groupBy("i")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
        )
        .where(F.col("d1") > 0)
    )
    m = two.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        F.sum(F.log(F.col("d2") / F.col("d1"))).alias("_s"),
        F.avg(F.col("d2") / F.col("d1")).alias("_mu"),
    )
    return m.select(
        "n_used",
        F.round(F.col("n_used") / F.col("_s"), 4).alias("id_mle"),
        F.round("_mu", 6).alias("mean_mu"),
    )


def q_hubness_skew(spark, sf_dir):
    """HUBNESS at k=5: moment skewness of the k-occurrence counts
    (0-count anti-hubs included), max hub size, anti-hub count."""
    knn = _knn(spark, sf_dir)
    occ = knn.groupBy("j").agg(
        F.count(F.lit(1)).cast("bigint").alias("kocc")
    )
    panel = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _NB_PANEL)
        .select(F.col("vec_id").alias("j"))
    )
    full = panel.join(occ, "j", "left").select(
        F.coalesce(F.col("kocc"), F.lit(0))
        .cast("bigint")
        .alias("kocc")
    )
    m = full.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("kocc").alias("m1"),
        F.avg(F.col("kocc") * F.col("kocc")).alias("m2"),
        F.avg(
            F.col("kocc") * F.col("kocc") * F.col("kocc")
        ).alias("m3"),
        F.max("kocc").cast("bigint").alias("max_kocc"),
        F.sum((F.col("kocc") == 0).cast("bigint")).alias(
            "n_antihubs"
        ),
    )
    var = F.col("m2") - F.col("m1") * F.col("m1")
    mu3 = (
        F.col("m3")
        - 3 * F.col("m1") * F.col("m2")
        + 2 * F.col("m1") * F.col("m1") * F.col("m1")
    )
    return m.select(
        "n",
        F.round(F.col("m1"), 4).alias("mean_kocc"),
        F.round(mu3 / F.pow(var, F.lit(1.5)), 6).alias("skewness"),
        "max_kocc",
        "n_antihubs",
    )
