"""Feature-eng pack #70 (r4): crawl-graph resolution + partition quality
+ code-text detection.

Three crawl-frontier operators a web-scale corpus pipeline runs daily:

* ``redirect_chains`` — bounded redirect-chain resolution: a
  deterministic subset of docs are 301-redirects (doc_id % 5 == 0,
  target (3*(doc_id div 5)+1) mod N — chosen so chain lengths follow
  a geometric 1/5-per-hop tail with real multi-hop and budget-
  exhausted chains at every SF); every doc's terminal landing page is
  resolved by following redirects for at most 4 hops.  Spark-side this
  is 4 chained left joins against the (small) redirect map — the map
  is broadcast because redirects are a tiny fraction of any real crawl
  (here 20%; on a 10^12-page table the redirect relation is the slim
  side by construction since it carries only (src,dst) longs).  Cycles
  (possible under the modular rule) simply exhaust the hop budget and
  surface as resolved=false — no driver-side iteration, no recursion
  state.
* ``modularity_q`` — Newman directed modularity of the lang partition
  over the shared 2-out-regular doc multigraph ([R] reconstruction of
  acoss's clique-eval idea: "how well does a labeling explain the
  pairwise structure"; public formula Leicht & Newman 2008,
  Q = Σ_c [A_c/m − (dout_c·din_c)/m²]).  Two hash joins of the edge
  list against the node→lang map (the map is the same cardinality as
  documents, so these are co-partitioned shuffle joins, never a
  broadcast of the fat side), then one tiny per-community agg.
* ``code_detect`` — code-like-text detection, a standard LLM-corpus
  routing filter (C4/Gopher-style): per doc, count code-symbol chars
  ``;{}()=<>[]`` and code keywords (def/class/function/return/import/
  const/var) with JVM ``regexp_count`` — never per-row Python — and
  classify via an ALL-INTEGER predicate (1000*symbols >= 40*n_chars OR
  keywords >= 3) so the DuckDB twin is bit-exact.  Reports the routing
  mix per source.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_REDIR_HOPS = 4

_SYM_RE = r"[;{}()=<>\[\]]"
_KW_RE = r"\b(def|class|function|return|import|const|var)\b"


def _redirects(spark, sf_dir):
    """The deterministic redirect map: doc_id % 5 == 0 redirects to
    (3*(doc_id div 5) + 1) mod N.  Slim (src,dst) longs only."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    n_row = d.agg(F.count(F.lit(1)).alias("cnt"))
    return (
        d.where(F.col("doc_id") % 5 == 0)
        .crossJoin(F.broadcast(n_row))
        .select(
            F.col("doc_id").alias("src"),
            F.expr("(doc_id DIV 5 * 3 + 1) % cnt").alias("dst"),
        )
    )


def q_redirect_chains(spark, sf_dir):
    """Resolve every doc's terminal landing page through at most 4
    redirect hops.  state(doc_id, final, hops) advances via a
    broadcast left join per hop: a matched row moves final -> r.dst
    and increments hops; an unmatched row is already terminal and all
    later joins leave it untouched.  resolved = terminal is not itself
    a redirect source (cycle / budget-exhausted chains report false).
    Output: doc_id, final_id, n_hops, resolved."""
    r = _redirects(spark, sf_dir)
    state = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("final", F.col("doc_id"))
        .withColumn("hops", F.lit(0).cast("int"))
    )
    for i in range(_REDIR_HOPS):
        ri = r.select(
            F.col("src").alias(f"src_{i}"), F.col("dst").alias(f"dst_{i}")
        )
        state = (
            state.join(
                F.broadcast(ri),
                F.col("final") == F.col(f"src_{i}"),
                "left",
            )
            .select(
                "doc_id",
                F.coalesce(f"dst_{i}", "final").alias("final"),
                (
                    F.col("hops")
                    + F.when(
                        F.col(f"src_{i}").isNull(), F.lit(0)
                    ).otherwise(F.lit(1))
                ).cast("int").alias("hops"),
            )
        )
    return state.select(
        "doc_id",
        F.col("final").cast("bigint").alias("final_id"),
        F.col("hops").alias("n_hops"),
        (F.col("final") % 5 != 0).alias("resolved"),
    )


def q_modularity_q(spark, sf_dir):
    """Directed Newman modularity of the lang labeling over the shared
    2-out-regular doc multigraph: per community c,
    q_contrib = within_c/m - (dout_c*din_c)/m^2.  Edge list joins the
    node->lang map on src then dst (both co-partitioned hash joins),
    then one O(L)-row agg.  Output per lang: n_within, dout, din,
    q_contrib (round 6)."""
    from .graph_sources import _doc_edges

    langs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    e = _doc_edges(spark, sf_dir)
    lab = (
        e.join(
            langs.select(
                F.col("doc_id").alias("src"), F.col("lang").alias("src_lang")
            ),
            "src",
        )
        .join(
            langs.select(
                F.col("doc_id").alias("dst"), F.col("lang").alias("dst_lang")
            ),
            "dst",
        )
    )
    m_row = lab.agg(F.count(F.lit(1)).cast("double").alias("m"))
    out_c = lab.groupBy(F.col("src_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dout"),
        F.sum(
            F.when(F.col("src_lang") == F.col("dst_lang"), 1).otherwise(0)
        ).cast("bigint").alias("n_within"),
    )
    in_c = lab.groupBy(F.col("dst_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("din")
    )
    return (
        out_c.join(in_c, "lang", "full")
        .crossJoin(F.broadcast(m_row))
        .select(
            "lang",
            F.coalesce("n_within", F.lit(0)).alias("n_within"),
            F.coalesce("dout", F.lit(0)).alias("dout"),
            F.coalesce("din", F.lit(0)).alias("din"),
            F.round(
                F.coalesce("n_within", F.lit(0)) / F.col("m")
                - (
                    F.coalesce("dout", F.lit(0))
                    * F.coalesce("din", F.lit(0))
                )
                / (F.col("m") * F.col("m")),
                6,
            ).alias("q_contrib"),
        )
    )


def q_code_detect(spark, sf_dir):
    """Code-like-text routing filter: per doc, JVM regexp_count of
    code-symbol chars and code keywords; code_like via the all-integer
    predicate 1000*sym >= 40*n_chars OR kw >= 3.  Output per source:
    n_docs, n_code_like, code share (round 4), and symbol density per
    kchar (integer fixed-point, exact)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    scored = d.select(
        "source",
        "n_chars",
        F.regexp_count("text", F.lit(_SYM_RE)).cast("bigint").alias("sym"),
        F.regexp_count("text", F.lit(_KW_RE)).cast("bigint").alias("kw"),
    ).withColumn(
        "code_like",
        (F.col("sym") * 1000 >= F.col("n_chars") * 40) | (F.col("kw") >= 3),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("code_like").cast("int")).cast("bigint").alias(
                "n_code_like"
            ),
            F.sum("sym").cast("bigint").alias("sym_total"),
            F.sum("kw").cast("bigint").alias("kw_total"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
        )
        .select(
            "source",
            "n_docs",
            "n_code_like",
            F.round(F.col("n_code_like") / F.col("n_docs"), 4).alias(
                "code_share"
            ),
            F.expr("sym_total * 1000 DIV chars_total").alias(
                "sym_per_kchar"
            ),
            "kw_total",
        )
    )
