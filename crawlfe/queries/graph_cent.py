"""Feature-eng pack #117 (r4): graph centrality II on the shared
deterministic 2-out-regular doc multigraph (``_doc_edges``, same
graph as pagerank/hits_scores so the centrality family is
comparable).

* ``eigenvector_centrality`` — 8 power-iteration rounds of
  x <- A^T x, sum-normalized each round (deterministic iterate, no
  eigensolver); top-10 docs by score.
* ``katz_centrality`` — truncated Katz series sum_{k=0..6} alpha^k
  (A^T)^k 1 at alpha = 0.05 (well inside 1/lambda_max for a
  2-out-regular graph, so the 7-term truncation is tight); top-10.
* ``rich_club`` — rich-club coefficient phi(k) = 2 E_k /
  (N_k (N_k - 1)) over the undirected simple projection, at degree
  thresholds k = 2..5 — do well-connected docs preferentially link
  to each other?

Scale shape: each round/threshold is one edge-keyed hash agg join;
rounds are plan-cut with localCheckpoint (Spark) and MATERIALIZED
CTEs (DuckDB oracle) exactly like bradley_terry.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from .graph_sources import SQL_DOC_EDGES, _doc_edges

_EV_ROUNDS = 8
_KATZ_ALPHA = 0.05
_KATZ_TERMS = 6
_RC_KS = (2, 3, 4, 5)
_CENT_TOPK = 10


def q_eigenvector_centrality(spark, sf_dir):
    """EIGENVECTOR CENTRALITY: 8 sum-normalized power-iteration
    rounds of x <- A^T x; top-10 docs."""
    edges = _doc_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct().localCheckpoint(eager=True)
    x = nodes.select("node", F.lit(1.0).alias("x"))
    for _ in range(_EV_ROUNDS):
        nxt = (
            edges.join(
                x.select(
                    F.col("node").alias("src"),
                    F.col("x").alias("xs"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("xs").alias("xr"))
        )
        full = nodes.join(nxt, "node", "left").select(
            "node", F.coalesce(F.col("xr"), F.lit(0.0)).alias("xr")
        )
        tot = full.agg(F.sum("xr").alias("tot"))
        x = (
            full.crossJoin(F.broadcast(tot))
            .select(
                "node", (F.col("xr") / F.col("tot")).alias("x")
            )
            .localCheckpoint(eager=True)
        )
    return (
        x.select(
            F.col("node").alias("doc_id"),
            F.round("x", 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(_CENT_TOPK)
    )


def q_katz_centrality(spark, sf_dir):
    """KATZ CENTRALITY: truncated series sum alpha^k (A^T)^k 1,
    k = 0..6, alpha = 0.05; top-10 docs."""
    edges = _doc_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct().localCheckpoint(eager=True)
    b = nodes.select("node", F.lit(1.0).alias("b"))
    acc = nodes.select("node", F.lit(1.0).alias("katz"))
    for _ in range(_KATZ_TERMS):
        nxt = (
            edges.join(
                b.select(
                    F.col("node").alias("src"),
                    F.col("b").alias("bs"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg((F.lit(_KATZ_ALPHA) * F.sum("bs")).alias("br"))
        )
        b = (
            nodes.join(nxt, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("br"), F.lit(0.0)).alias("b"),
            )
            .localCheckpoint(eager=True)
        )
        acc = (
            acc.join(b, "node")
            .select(
                "node", (F.col("katz") + F.col("b")).alias("katz")
            )
            .localCheckpoint(eager=True)
        )
    return (
        acc.select(
            F.col("node").alias("doc_id"),
            F.round("katz", 6).alias("katz"),
        )
        .orderBy(F.desc("katz"), F.asc("doc_id"))
        .limit(_CENT_TOPK)
    )


def q_rich_club(spark, sf_dir):
    """RICH-CLUB coefficient on the undirected simple projection at
    degree thresholds 2..5."""
    edges = _doc_edges(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint(eager=True)
    )
    outs = []
    for k in _RC_KS:
        rich = deg.where(F.col("deg") > k).select("node")
        nk = rich.count()
        ek = (
            und.join(
                rich.select(F.col("node").alias("u")), "u"
            )
            .join(rich.select(F.col("node").alias("v")), "v")
            .count()
        )
        phi = (
            2.0 * ek / (nk * (nk - 1))
            if nk > 1
            else 0.0
        )
        outs.append((k, nk, ek, round(phi, 6)))
    return spark.createDataFrame(
        outs, "k bigint, n_nodes bigint, n_edges bigint, phi double"
    ).orderBy("k")
