"""Feature-eng pack #138 (r4): diversity indices on the corpus
source distribution — the ecology-style concentration panel next to
token_entropy / supplier_hhi / theil_index / chao1_richness.

* ``simpson_diversity`` — Simpson's D (= sum p_i^2, the collision
  probability / HHI), inverse Simpson (effective number of
  sources), unbiased small-sample Simpson, Berger-Parker dominance.
* ``shannon_evenness`` — Shannon H (nats + bits) and Pielou's
  J = H/ln(k) over sources.
* ``renyi_spectrum`` — the Renyi diversity profile at alpha in
  {0, 1, 2, inf} as Hill numbers: richness, exp(H), 1/Simpson,
  1/BergerParker — one row per alpha; a flattening profile means
  even shares, a steep one means dominance.

Scale shape: ONE hash agg to per-source doc counts; every index is
a closed-form fold of that tiny relation.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t


def _shares(spark, sf_dir):
    c = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = c.agg(F.sum("c").cast("double").alias("n"))
    return c.crossJoin(F.broadcast(tot)).select(
        "source", "c", "n", (F.col("c") / F.col("n")).alias("p")
    )


def q_simpson_diversity(spark, sf_dir):
    """SIMPSON family: D, 1/D, unbiased D, Berger-Parker."""
    s = _shares(spark, sf_dir)
    m = s.agg(
        F.max("n").alias("n"),
        F.sum(F.col("p") * F.col("p")).alias("d"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("_cc"),
        F.max("p").alias("bp"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_docs"),
        "k",
        F.round("d", 6).alias("simpson_d"),
        F.round(1 / F.col("d"), 4).alias("inv_simpson"),
        F.round(
            F.col("_cc") / (F.col("n") * (F.col("n") - 1)), 6
        ).alias("simpson_unbiased"),
        F.round("bp", 6).alias("berger_parker"),
    )


def q_shannon_evenness(spark, sf_dir):
    """SHANNON H (nats/bits) and Pielou's J over sources."""
    s = _shares(spark, sf_dir)
    m = s.agg(
        F.sum(-F.col("p") * F.log("p")).alias("h"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    return m.select(
        F.col("k").cast("bigint").alias("k"),
        F.round("h", 6).alias("shannon_nats"),
        F.round(F.col("h") / F.log(F.lit(2.0)), 6).alias(
            "shannon_bits"
        ),
        # k=1 guard (r4 ADVICE): a single source makes J = 0/ln(1) =
        # 0/0 — NULL in both engines, not a NaN divergence
        F.when(
            F.col("k") > 1, F.round(F.col("h") / F.log("k"), 6)
        ).alias("pielou_j"),
    )


def q_renyi_spectrum(spark, sf_dir):
    """RENYI/HILL diversity profile at alpha 0, 1, 2, inf."""
    s = _shares(spark, sf_dir)
    m = s.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(-F.col("p") * F.log("p")).alias("h1"),
        F.sum(F.col("p") * F.col("p")).alias("d2"),
        F.max("p").alias("bp"),
    )
    rows = [
        m.select(
            F.lit("0").alias("alpha"),
            F.round(F.col("k"), 4).alias("hill_number"),
        ),
        m.select(
            F.lit("1").alias("alpha"),
            F.round(F.exp("h1"), 4).alias("hill_number"),
        ),
        m.select(
            F.lit("2").alias("alpha"),
            F.round(1 / F.col("d2"), 4).alias("hill_number"),
        ),
        m.select(
            F.lit("inf").alias("alpha"),
            F.round(1 / F.col("bp"), 4).alias("hill_number"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("alpha")
