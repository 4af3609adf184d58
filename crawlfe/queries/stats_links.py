"""Feature-eng packs #46-#49: link-graph structure, hazard estimators, language-model features, eval sensitivity.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import SESSION_GAP_S, _t, _us  # noqa: F401
from .graph_sources import SQL_DOC_EDGES, _doc_edges  # noqa: F401


# --------------------------------------------------------------------------
# Feature-eng pack #46: link-graph structure features — clustering
# coefficient, link prediction, assortativity, reciprocity,
# fixed-point HITS, bipartite projection
# --------------------------------------------------------------------------

def _und_edges(spark, sf_dir):
    """Undirected simple graph from the shared deterministic doc
    multigraph (_doc_edges): distinct {u<v} pairs, self-loops
    dropped."""
    e = _doc_edges(spark, sf_dir)
    return (
        e.where(F.expr("src <> dst"))
        .select(
            F.least("src", "dst").cast("bigint").alias("u"),
            F.greatest("src", "dst").cast("bigint").alias("v"),
        )
        .distinct()
    )


SQL_UND_EDGES = f"""
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM ({SQL_DOC_EDGES}) raw WHERE src <> dst
"""


def q_clustering_coeff(spark, sf_dir):
    """LOCAL CLUSTERING COEFFICIENT per document node on the
    undirected doc graph — how interlinked is each page's
    neighborhood (2*tri / deg*(deg-1))), the link-spam / community
    signal that pairs with `graph_triangles`' global count and
    `graph_degrees`' raw fan-out.

    Triangles enumerate once as ordered triples a<b<c (three
    edge-list self-joins — never an open wedge fan-out kept around),
    then explode to their three corners for the per-node count; the
    graph is near-regular by construction so the joins can't skew.
    All counts exact bigints."""
    # no .cache(): the edge relation is a cheap rebuild per action, and a
    # pinned cached copy would hold executor memory for the rest of a
    # 400-query sweep session (ADVICE r3 low #2)
    und = _und_edges(spark, sf_dir)
    deg = (
        und.select(F.col("u").alias("doc_id"))
        .unionAll(und.select(F.col("v").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tris = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    corners = (
        tris.select(F.col("a").alias("doc_id"))
        .unionAll(tris.select(F.col("b").alias("doc_id")))
        .unionAll(tris.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri"))
    )
    return (
        deg.join(corners, "doc_id", "left")
        .select(
            "doc_id",
            "deg",
            F.coalesce("tri", F.lit(0)).cast("bigint").alias("tri"),
            F.round(
                F.expr(
                    "2.0 * coalesce(tri, 0)"
                    " / nullif(CAST(deg AS DOUBLE) * (deg - 1), 0.0)"
                ),
                6,
            ).alias("coeff"),
        )
    )


def q_link_pred_scores(spark, sf_dir):
    """LINK PREDICTION scores for the top non-adjacent 2-hop pairs:
    common neighbors, Jaccard, and Adamic-Adar — the three classic
    local similarity indices a "related pages" / graph-completion
    feature stage computes. Candidates come only from the 2-hop
    wedge join (never all pairs); existing edges are anti-joined
    away; the top-50 by (cn desc, u, v) is a deterministic global
    window on the tiny aggregated pair table."""
    # no .cache(): the edge relation is a cheap rebuild per action, and a
    # pinned cached copy would hold executor memory for the rest of a
    # 400-query sweep session (ADVICE r3 low #2)
    und = _und_edges(spark, sf_dir)
    adj = und.unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("a"), F.col("v").alias("b"))
    deg = adj.groupBy(F.col("a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    wedges = (
        adj.alias("x")
        .join(
            adj.alias("y"),
            F.expr("x.b = y.a AND x.a < y.b"),
        )
        .select(
            F.col("x.a").alias("u"),
            F.col("y.b").alias("w"),
            F.col("x.b").alias("mid"),
        )
    )
    cand = wedges.join(
        und,
        (wedges.u == und.u) & (wedges.w == und.v),
        "left_anti",
    )
    degm = deg.select(
        F.col("doc_id").alias("mid"), F.col("deg").alias("deg_mid")
    )
    pairs = (
        cand.join(F.broadcast(degm), "mid")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.round(
                F.sum(F.expr("1.0 / ln(CAST(deg_mid AS DOUBLE))")), 6
            ).alias("adamic_adar"),
        )
    )
    du = deg.select(F.col("doc_id").alias("u"), F.col("deg").alias("du"))
    dw = deg.select(F.col("doc_id").alias("w"), F.col("deg").alias("dw"))
    scored = (
        pairs.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            "cn",
            F.round(
                F.expr(
                    "CAST(cn AS DOUBLE) / (du + dw - cn)"
                ),
                6,
            ).alias("jaccard"),
            "adamic_adar",
        )
    )
    wr = Window.orderBy(
        F.col("cn").desc(), F.col("u").asc(), F.col("w").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 50)
        .select("rk", "u", "w", "cn", "jaccard", "adamic_adar")
    )


def q_degree_assortativity(spark, sf_dir):
    """DEGREE ASSORTATIVITY of the undirected doc graph — the
    Pearson correlation of endpoint degrees over edges (both
    orientations, the standard Newman estimator): do well-linked
    pages link to well-linked pages? One integer-moment fold:
    sums of x, x^2, xy over the directed edge incidences are exact
    bigints, r is a single float expression."""
    und = _und_edges(spark, sf_dir)
    adj = und.unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    du = deg.select(F.col("doc_id").alias("u"), F.col("deg").alias("x"))
    dv = deg.select(F.col("doc_id").alias("v"), F.col("deg").alias("y"))
    ed = adj.join(du, "u").join(dv, "v")
    agg = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("y * y")).cast("bigint").alias("syy"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    return agg.select(
        F.col("m").alias("n_incidences"),
        F.round(
            F.expr(
                "(CAST(m AS DOUBLE) * sxy"
                " - CAST(sx AS DOUBLE) * sy)"
                " / sqrt((CAST(m AS DOUBLE) * sxx"
                "         - CAST(sx AS DOUBLE) * sx)"
                "        * (CAST(m AS DOUBLE) * syy"
                "           - CAST(sy AS DOUBLE) * sy))"
            ),
            6,
        ).alias("assortativity"),
    )


def q_reciprocity(spark, sf_dir):
    """EDGE RECIPROCITY of the directed doc graph: the fraction of
    distinct directed edges (u,v) whose reverse (v,u) also exists —
    the mutual-citation signal of a link graph. One distinct-edge
    self-join on the reversed key (left-semi for the reciprocated
    count); exact bigints, single-row output."""
    e = (
        _doc_edges(spark, sf_dir)
        .where(F.expr("src <> dst"))
        .distinct()
        # no .cache(): see the clustering_coeff note (ADVICE r3 low #2)
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = e.join(rev, ["src", "dst"], "left_semi")
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    rc = recip.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reciprocated")
    )
    return tot.crossJoin(rc).select(
        "n_edges",
        "n_reciprocated",
        F.round(
            F.expr(
                "CAST(n_reciprocated AS DOUBLE) / n_edges"
            ),
            6,
        ).alias("reciprocity"),
    )


def q_hits_scores(spark, sf_dir):
    """HITS hubs & authorities (3 power iterations) on the directed
    doc graph, top-20 authorities — the link-analysis complement of
    `pagerank`, same bit-reproducible discipline: FIXED-POINT BIGINT
    arithmetic so every engine computes identical integers.

    NO per-iteration normalization (and therefore a LINEAR lineage,
    one edge-join + sum shuffle per half-step, exactly pagerank's
    Pregel-as-joins shape): out-degree is 2 by construction and
    in-degree <= 20 (the generators are affine maps mod N with
    multiplier 7/13, so <= 7+13 preimages), so three unnormalized
    rounds from a 1e9 seed stay under ~1e14 — far inside bigint.
    Ranking is invariant to the dropped scalar normalizers; the
    output re-normalizes ONCE to 1e12-scale via DECIMAL(38)/HUGEINT
    floor division for a stable cross-scale contract."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = (
        _doc_edges(spark, sf_dir)
        .where(F.expr("src <> dst"))
        .distinct()
        # no .cache(): see the clustering_coeff note (ADVICE r3 low #2)
    )
    hub = d.select("doc_id", F.lit(1000000000).alias("h"))
    auth = None
    # inside the loop the full-node left join is unnecessary — a node
    # absent from the score table contributes exactly 0 through the
    # next inner edge join — so the state stays a bare (doc_id, score)
    # aggregate; the zero-fill happens ONCE at output time
    for _ in range(3):
        auth = (
            e.join(hub, e.src == hub.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        hub = (
            e.join(auth, e.dst == auth.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
    joined = (
        d.join(auth, "doc_id", "left")
        .join(hub, "doc_id", "left")
        .select(
            "doc_id",
            F.expr("CAST(coalesce(a, 0) AS BIGINT)").alias("a"),
            F.expr("CAST(coalesce(h, 0) AS BIGINT)").alias("h"),
        )
    )
    mx = joined.agg(
        F.max("a").alias("amax"), F.max("h").alias("hmax")
    )
    wr = Window.orderBy(F.col("a").desc(), F.col("doc_id").asc())
    return (
        joined.crossJoin(F.broadcast(mx))
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 20)
        .select(
            "rk",
            "doc_id",
            F.expr(
                "CAST(CAST(a AS DECIMAL(38,0)) * 1000000000000"
                " div amax AS BIGINT)"
            ).alias("authority_fp"),
            F.expr(
                "CAST(CAST(h AS DECIMAL(38,0)) * 1000000000000"
                " div hmax AS BIGINT)"
            ).alias("hub_fp"),
        )
    )


def q_bipartite_proj(spark, sf_dir):
    """BIPARTITE PROJECTION of the user x event-type activity graph
    onto event types: for every type pair, the number of SHARED
    users plus the overlap coefficient (w / min(n_i, n_j)) and
    cosine (w / sqrt(n_i * n_j)) — the co-engagement structure
    `cooccur_lift` measures for basket items, lifted to the
    behavioral graph. The projection join runs on the distinct
    (user, type) presence table, never raw events; the pair fold is
    O(k^2) rows."""
    e = _t(spark, sf_dir, "events")
    pres = e.select("user_id", "event_type").distinct()
    nt = pres.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = pres.alias("a")
    b = pres.alias("b")
    shared = (
        a.join(b, F.expr(
            "a.user_id = b.user_id AND a.event_type < b.event_type"
        ))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_users"))
    )
    na = nt.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    nb = nt.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        shared.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "shared_users",
            F.round(
                F.expr(
                    "CAST(shared_users AS DOUBLE) / least(n_a, n_b)"
                ),
                6,
            ).alias("overlap_coef"),
            F.round(
                F.expr(
                    "CAST(shared_users AS DOUBLE)"
                    " / sqrt(CAST(n_a AS DOUBLE) * n_b)"
                ),
                6,
            ).alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# Feature-eng pack #47: Nelson-Aalen hazard, interpolated
# percentiles, mix/rate decomposition, binary-segmentation
# changepoint, Poisson bootstrap, DAU/MAU stickiness
# --------------------------------------------------------------------------

def q_nelson_aalen(spark, sf_dir):
    """NELSON-AALEN cumulative-hazard curves for time-to-first-
    purchase, per even/odd user arm — the raw-hazard complement of
    `km_hazard`'s survival curve and the curve the `logrank_test`
    statistic integrates. Same O(#users) duration collapse: per-arm
    (t, deaths, at-risk) from one agg + a descending prefix sum;
    H(t) = sum d/n is an ORDERED window cum-sum (deterministic
    summation order, engine-identical)."""
    e = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.select(
        "user_id",
        "event_id",
        "event_type",
        _us("ts").alias("us"),
    ).withColumn("rn", F.row_number().over(wo))
    first = marked.where(F.col("rn") == 1).select(
        "user_id",
        F.col("us").alias("t0"),
        (F.col("user_id") % 2).cast("bigint").alias("g"),
    )
    firstbuy = (
        marked.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_buy"))
    )
    lastev = marked.groupBy("user_id").agg(F.max("us").alias("t_last"))
    dur = (
        first.join(lastev, "user_id")
        .join(firstbuy, "user_id", "left")
        .select(
            "g",
            F.coalesce(
                F.col("t_buy") - F.col("t0"),
                F.col("t_last") - F.col("t0"),
            ).alias("t"),
            F.when(F.col("t_buy").isNotNull(), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("ev"),
        )
    )
    bytime = dur.groupBy("g", "t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("x"),
    )
    wt = Window.partitionBy("g").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wg = Window.partitionBy("g")
    risk = bytime.select(
        "g",
        "t",
        "d",
        (F.sum("x").over(wg) - F.sum("x").over(wt) + F.col("x"))
        .cast("bigint")
        .alias("n"),
    ).where(F.col("d") > 0)
    wh = Window.partitionBy("g").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return risk.select(
        F.col("g").alias("arm"),
        F.col("t").alias("t_us"),
        "d",
        "n",
        F.round(
            F.sum(F.expr("CAST(d AS DOUBLE) / n")).over(wh), 6
        ).alias("hazard_cum"),
    )


def q_percentile_interp(spark, sf_dir):
    """PERCENTILE_CONT-style LINEARLY INTERPOLATED percentiles
    (p5/p25/p50/p75/p95) of purchase ``value`` — the continuous
    quantile contract BI tools expect, where `agg_percentile` gives
    the discrete pick. EXACT RATIONAL interpolation: with pos*100 =
    p*(n-1) split into k = div and frac = mod, the answer is
    (v_[k+1]*(100-frac) + v_[k+2]*frac) in centi-cent integers /
    10000 — no float positions, both order statistics picked from
    the cumulative cent histogram."""
    e = _t(spark, sf_dir, "events")
    hist = (
        e.where(F.col("event_type") == "purchase")
        .select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents")
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = hist.select(
        "cents",
        F.sum("ct").over(w).cast("bigint").alias("cum"),
        F.sum("ct").over(wall).cast("bigint").alias("n"),
    )
    ps = spark.createDataFrame(
        [(5,), (25,), (50,), (75,), (95,)], "p int"
    )
    grid = cum.crossJoin(F.broadcast(ps)).select(
        "p",
        "cents",
        "cum",
        "n",
        F.expr("p * (n - 1) div 100").cast("bigint").alias("k"),
        F.expr("p * (n - 1) % 100").cast("bigint").alias("frac"),
    )
    lo = (
        grid.where(F.expr("cum >= k + 1"))
        .groupBy("p")
        .agg(
            F.min("cents").cast("bigint").alias("v_lo"),
            F.max("frac").alias("frac"),
            F.max("n").alias("n"),
        )
    )
    hi = (
        grid.where(F.expr("cum >= least(k + 2, n)"))
        .groupBy("p")
        .agg(F.min("cents").cast("bigint").alias("v_hi"))
    )
    return lo.join(hi, "p").select(
        F.col("p").alias("p_pct"),
        F.col("n").alias("n_rows"),
        F.expr(
            "CAST(v_lo * (100 - frac) + v_hi * frac AS DOUBLE)"
            " / 10000.0"
        ).alias("value_interp"),
    )


def q_mix_rate_decomp(spark, sf_dir):
    """MIX/RATE DECOMPOSITION of the purchase-rate change from week
    1 to week 4: how much of the overall conversion delta comes from
    SEGMENT MIX shifting (user cohorts user_id%4 changing activity
    share) vs WITHIN-SEGMENT RATE movement vs interaction — the
    standard BI bridge (Laspeyres decomposition) behind every
    "why did the metric move" review.

    Exact bigint event/purchase counts per (week, segment); every
    share/rate/effect is a deterministic float expression on the
    O(segments) fold; the three effects provably sum to the total
    delta (asserted by the pytest replica)."""
    e = _t(spark, sf_dir, "events")
    base = e.where(
        F.expr("dayofmonth(ts) <= 7 OR dayofmonth(ts) BETWEEN 22 AND 28")
    ).select(
        F.expr(
            "CASE WHEN dayofmonth(ts) <= 7 THEN 1 ELSE 4 END"
        ).alias("wk"),
        (F.col("user_id") % 4).cast("bigint").alias("segment"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_buy"),
    )
    per = base.groupBy("wk", "segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("is_buy").cast("bigint").alias("b"),
    )
    tot = per.groupBy("wk").agg(
        F.sum("n").cast("bigint").alias("nt")
    )
    j = per.join(tot, "wk").select(
        "wk",
        "segment",
        F.expr("CAST(n AS DOUBLE) / nt").alias("share"),
        F.expr("CAST(b AS DOUBLE) / n").alias("rate"),
    )
    w1 = j.where(F.col("wk") == 1).select(
        "segment",
        F.col("share").alias("share_w1"),
        F.col("rate").alias("rate_w1"),
    )
    w4 = j.where(F.col("wk") == 4).select(
        "segment",
        F.col("share").alias("share_w4"),
        F.col("rate").alias("rate_w4"),
    )
    return w1.join(w4, "segment").select(
        "segment",
        F.round("share_w1", 6).alias("share_w1"),
        F.round("share_w4", 6).alias("share_w4"),
        F.round("rate_w1", 6).alias("rate_w1"),
        F.round("rate_w4", 6).alias("rate_w4"),
        F.round(
            F.expr("(share_w4 - share_w1) * rate_w1"), 6
        ).alias("mix_effect"),
        F.round(
            F.expr("share_w1 * (rate_w4 - rate_w1)"), 6
        ).alias("rate_effect"),
        F.round(
            F.expr("(share_w4 - share_w1) * (rate_w4 - rate_w1)"), 6
        ).alias("interaction"),
    )


def q_binseg_sse(spark, sf_dir):
    """BINARY-SEGMENTATION changepoint (one split) on each event
    type's daily count series: the split day maximizing the
    between-segment sum-of-squares — the first step of the classic
    binseg recursion, the structural-break locator that
    `cusum_changepoint` approximates with a running drift statistic.

    Exact integer prefix sums (S1, S2, n1, n2 per candidate split)
    feed the deterministic double score S1^2/n1 + S2^2/n2; both
    engines compute identical doubles from identical integers, so
    the (score desc, day asc) argmax window is engine-identical."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(F.dayofmonth("ts").cast("int").alias("day"))
        .distinct()
    )
    wd = Window.orderBy("day")
    idx = days.select(
        "day", F.row_number().over(wd).cast("bigint").alias("i")
    )
    types = e.select("event_type").distinct()
    raw = (
        e.select(
            "event_type",
            F.dayofmonth("ts").cast("int").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        types.crossJoin(F.broadcast(idx))
        .join(raw, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            "i",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    wc = Window.partitionBy("event_type").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wg = Window.partitionBy("event_type")
    pre = grid.select(
        "event_type",
        "day",
        "i",
        F.sum("c").over(wc).cast("bigint").alias("s1"),
        F.sum(F.expr("c * c")).over(wg).cast("bigint").alias("q"),
        F.sum("c").over(wg).cast("bigint").alias("s"),
        F.count(F.lit(1)).over(wg).cast("bigint").alias("n"),
    ).where(F.expr("i < n"))
    scored = pre.select(
        "event_type",
        "day",
        "i",
        "q",
        "s",
        "n",
        F.expr(
            "CAST(s1 AS DOUBLE) * s1 / i"
            " + CAST(s - s1 AS DOUBLE) * (s - s1) / (n - i)"
        ).alias("between"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("between").desc(), F.col("day").asc()
    )
    best = scored.withColumn("rk", F.row_number().over(wr)).where(
        F.col("rk") == 1
    )
    return best.select(
        "event_type",
        F.col("day").alias("split_after_day"),
        F.col("n").alias("n_days"),
        F.round(
            F.expr("CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n"), 6
        ).alias("sse_total"),
        F.round(
            F.expr("between - CAST(s AS DOUBLE) * s / n"), 6
        ).alias("sse_reduction"),
    )


def q_poisson_bootstrap(spark, sf_dir):
    """POISSON BOOTSTRAP confidence interval for mean purchase value
    — THE bootstrap that actually runs at 100 TB: instead of
    resampling rows (impossible distributed), every row draws an
    independent Poisson(1) replication weight per replicate, so all
    B=20 replicates stream through ONE pass of one hash agg.
    Weights are a DETERMINISTIC md5-uniform mapped through the
    integer-threshold Poisson(1) CDF (P(0)=e^-1 etc., capped at 3 —
    the cap covers 99.7% of mass and is part of the documented
    estimator). Replicate sums are exact bigints; the CI is the
    normal interval on the 20 replicate means."""
    e = _t(spark, sf_dir, "events")
    reps = spark.range(0, 20).select(
        F.col("id").cast("int").alias("b")
    )
    base = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .crossJoin(F.broadcast(reps))
        .withColumn(
            "u",
            F.expr(
                "CAST(conv(substring(md5(concat("
                "CAST(event_id AS STRING), '|',"
                " CAST(b AS STRING))), 1, 12), 16, 10) AS BIGINT)"
            ),
        )
        .select(
            "b",
            "cents",
            F.expr(
                "CASE"
                " WHEN u < 103548857136060 THEN 0"
                " WHEN u < 207097714272121 THEN 1"
                " WHEN u < 258872142840152 THEN 2"
                " ELSE 3 END"
            ).alias("w"),
        )
    )
    per = base.where(F.col("w") > 0).groupBy("b").agg(
        F.sum(F.expr("w * cents")).cast("bigint").alias("s"),
        F.sum("w").cast("bigint").alias("n"),
    )
    means = per.select(
        "b", F.expr("CAST(s AS DOUBLE) / (100.0 * n)").alias("m")
    )
    agg = means.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        F.sum("m").alias("sm"),
        F.sum(F.expr("m * m")).alias("smm"),
    )
    return agg.select(
        "n_reps",
        F.round(F.expr("sm / n_reps"), 6).alias("boot_mean"),
        F.round(
            F.expr(
                "sqrt((smm - sm * sm / n_reps) / (n_reps - 1))"
            ),
            6,
        ).alias("boot_se"),
        F.round(
            F.expr(
                "sm / n_reps - 1.96"
                " * sqrt((smm - sm * sm / n_reps) / (n_reps - 1))"
            ),
            6,
        ).alias("ci_lo"),
        F.round(
            F.expr(
                "sm / n_reps + 1.96"
                " * sqrt((smm - sm * sm / n_reps) / (n_reps - 1))"
            ),
            6,
        ).alias("ci_hi"),
    )


def q_dau_mau(spark, sf_dir):
    """DAU/MAU STICKINESS per event type: average daily active users
    over monthly active users — the canonical engagement ratio
    (`rolling_active_users` gives the 7-day rolling curve; this is
    the summary). Two distinct-count aggs (daily grain + monthly
    grain) of exact bigints; the 30-day average and the ratio are
    one float fold."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.dayofmonth("ts").cast("int").alias("day"),
            "user_id",
        )
        .distinct()
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    )
    ndays = (
        e.select(F.dayofmonth("ts").cast("int").alias("day"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    )
    mau = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("mau")
    )
    dsum = daily.groupBy("event_type").agg(
        F.sum("dau").cast("bigint").alias("dau_sum")
    )
    return (
        dsum.join(mau, "event_type")
        .crossJoin(F.broadcast(ndays))
        .select(
            "event_type",
            "n_days",
            "mau",
            F.round(
                F.expr("CAST(dau_sum AS DOUBLE) / n_days"), 6
            ).alias("avg_dau"),
            F.round(
                F.expr(
                    "CAST(dau_sum AS DOUBLE) / n_days"
                    " / CAST(mau AS DOUBLE)"
                ),
                6,
            ).alias("stickiness"),
        )
    )


# --------------------------------------------------------------------------
# Feature-eng pack #48: corpus language-model features (bigram LM
# perplexity, trigram coverage, rare-token share, doc->source KL)
# and embedding-space statistics (per-dim stats, label margin)
# --------------------------------------------------------------------------

def q_bigram_lm_ppl(spark, sf_dir):
    """BIGRAM LANGUAGE-MODEL PERPLEXITY per document under the
    corpus's own add-1-smoothed bigram LM — the classic
    quality/outlier filter one tier above `quality_unigram_lm`
    (word order now matters): p(w2|w1) = (c12+1)/(c1+V).

    Corpus counts are exact bigints from one tokenize+explode pass;
    each doc's bigrams LEFT-join the count tables (unseen bigrams
    smooth to 1/(c1+V) — and unseen w1 to 1/V); cross-entropy is the
    per-doc mean of -log2 p. Top-20 highest-perplexity docs (rank
    window, doc_id tie-break) — the outlier review queue, bounded
    output."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), "\\s+")).alias(
            "pos", "w"
        ),
    ).where(F.col("w") != "")
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    bg = toks.select(
        "doc_id",
        F.col("w").alias("w1"),
        F.lead("w", 1).over(w2).alias("w2"),
    ).where(F.col("w2").isNotNull())
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    vocab = toks.agg(
        F.countDistinct("w").cast("bigint").alias("v")
    )
    scored = (
        bg.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr(
                "-log2((CAST(coalesce(c12, 0) AS DOUBLE) + 1.0)"
                " / (CAST(coalesce(c1, 0) AS DOUBLE) + v))"
            ).alias("nll"),
        )
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        (F.sum("nll") / F.count(F.lit(1))).alias("h"),
    )
    wr = Window.orderBy(F.col("h").desc(), F.col("doc_id").asc())
    return (
        per.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 20)
        .select(
            "rk",
            "doc_id",
            "n_bigrams",
            F.round("h", 6).alias("cross_entropy_bits"),
            F.round(F.expr("pow(2.0, h)"), 6).alias("perplexity"),
        )
    )


def q_trigram_coverage(spark, sf_dir):
    """TRIGRAM COVERAGE per source: the share of a source's trigram
    INSTANCES whose trigram occurs at least twice corpus-wide — high
    coverage means formulaic/templated text, low coverage means
    novel composition. The n=3 instance-weighted counterpart of
    `heaps_two_point`'s vocabulary growth. Exact bigint counts; one
    tokenize pass, two hash aggs, one broadcast-size join back."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.trim(F.col("text")), "\\s+")).alias(
            "pos", "w"
        ),
    ).where(F.col("w") != "")
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    tg = toks.select(
        "source",
        F.concat_ws(
            " ",
            F.col("w"),
            F.lead("w", 1).over(w2),
            F.lead("w", 2).over(w2),
        ).alias("tri"),
        F.lead("w", 2).over(w2).alias("_w3"),
    ).where(F.col("_w3").isNotNull())
    cnt = tg.groupBy("tri").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per = (
        tg.join(cnt, "tri")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
            F.sum(F.expr("CASE WHEN c >= 2 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return per.select(
        "source",
        "n_trigrams",
        "n_covered",
        F.round(
            F.expr("CAST(n_covered AS DOUBLE) / n_trigrams"), 6
        ).alias("coverage"),
    )


def q_rare_token_share(spark, sf_dir):
    """RARE-TOKEN SHARE per document (corpus frequency <= 5): the
    instance share and distinct count of rare tokens — the noisy-doc
    / OCR-garbage curation cut that `oov_rate` (fixed external
    vocab) and `hapax_ratio` (corpus-level) bracket. Top-20 by rare
    share (deterministic rank window). Exact bigint counts; the
    token->frequency join is keyed, map-side combinable."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("w"),
    ).where(F.col("w") != "")
    freq = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    per = (
        toks.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.expr("CASE WHEN f <= 5 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_rare"),
            F.countDistinct(
                F.when(F.col("f") <= 5, F.col("w"))
            )
            .cast("bigint")
            .alias("n_rare_distinct"),
        )
    )
    wr = Window.orderBy(
        F.expr("CAST(n_rare AS DOUBLE) / n_tokens").desc(),
        F.col("doc_id").asc(),
    )
    return (
        per.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 20)
        .select(
            "rk",
            "doc_id",
            "n_tokens",
            "n_rare",
            "n_rare_distinct",
            F.round(
                F.expr("CAST(n_rare AS DOUBLE) / n_tokens"), 6
            ).alias("rare_share"),
        )
    )


def q_doc_source_kl(spark, sf_dir):
    """PER-DOCUMENT KL DIVERGENCE from the doc's own SOURCE unigram
    profile (add-1 smoothed over the corpus vocabulary) — "does this
    page even belong to its feed", the in-distribution check
    `user_mix_kl` runs for user behavior, applied to text. Top-20
    most-divergent docs (rank window, doc_id tie-break).

    KL = sum_w p_doc(w) * log2(p_doc(w)/p_src(w)) over the doc's own
    tokens only (p_doc is 0 elsewhere): exact integer counts
    everywhere, one doc-token->source-profile keyed join, floats
    only inside the per-doc fold."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("w"),
    ).where(F.col("w") != "")
    vocab = toks.agg(F.countDistinct("w").cast("bigint").alias("v"))
    src = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cs")
    )
    srctot = src.groupBy("source").agg(
        F.sum("cs").cast("bigint").alias("ns")
    )
    dw = toks.groupBy("doc_id", "source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cd")
    )
    dtot = dw.groupBy("doc_id").agg(
        F.sum("cd").cast("bigint").alias("nd")
    )
    scored = (
        dw.join(src, ["source", "w"])
        .join(F.broadcast(srctot), "source")
        .join(dtot, "doc_id")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "source",
            "nd",
            F.expr(
                "CAST(cd AS DOUBLE) / nd"
                " * log2((CAST(cd AS DOUBLE) / nd)"
                "        / ((CAST(cs AS DOUBLE) + 1.0) / (ns + v)))"
            ).alias("term"),
        )
    )
    per = scored.groupBy("doc_id", "source").agg(
        F.max("nd").alias("n_tokens"),
        F.sum("term").alias("kl"),
    )
    wr = Window.orderBy(F.col("kl").desc(), F.col("doc_id").asc())
    return (
        per.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 20)
        .select(
            "rk",
            "doc_id",
            "source",
            "n_tokens",
            F.round("kl", 6).alias("kl_bits"),
        )
    )


def q_embedding_dim_stats(spark, sf_dir):
    """PER-DIMENSION embedding statistics (mean, std, min, max per
    coordinate) — the whitening/clipping prep table every
    vector-pipeline stage computes before normalization, and the
    dead/degenerate-dimension monitor. ENGINE-EXACT: coordinates
    quantize to micro-units q = round(v*1e6) (float32->double
    widening is exact, so both engines see identical integers), all
    four moments are exact bigint folds over the posexplode
    fan-out, floats appear only in the final 64-row expression."""
    em = _t(spark, sf_dir, "embeddings")
    dims = em.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select(
        "dim",
        F.expr(
            "CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT)"
        ).alias("q"),
    )
    per = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.expr("q * q")).cast("bigint").alias("qq"),
        F.min("q").cast("bigint").alias("mn"),
        F.max("q").cast("bigint").alias("mx"),
    )
    return per.select(
        "dim",
        "n",
        F.round(F.expr("CAST(s AS DOUBLE) / n / 1e6"), 6).alias(
            "mean_val"
        ),
        F.round(
            F.expr(
                "sqrt((CAST(qq AS DOUBLE)"
                " - pow(CAST(s AS DOUBLE), 2) / n) / (n - 1.0))"
                " / 1e6"
            ),
            6,
        ).alias("std_val"),
        F.expr("CAST(mn AS DOUBLE) / 1e6").alias("min_val"),
        F.expr("CAST(mx AS DOUBLE) / 1e6").alias("max_val"),
    )


def q_label_margin(spark, sf_dir):
    """LABEL MARGIN in embedding space: per label, the mean cosine
    of members to their OWN label centroid vs to the NEAREST OTHER
    centroid — the separability statistic (`silhouette_lite`'s
    cluster-quality idea, supervised) that decides whether the
    labels are worth training on.

    Centroid direction = the exact-integer micro-unit SUM vector
    (cosine is scale-invariant, so the /n never happens); member x
    centroid dots are exact bigint folds over the posexplode join
    (k centroids broadcast); centroid norms accumulate in
    DECIMAL(38)/HUGEINT. Floats appear only in the final
    O(members x k) cosine + argmax fold."""
    em = _t(spark, sf_dir, "embeddings")
    dims = em.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "val"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.expr(
            "CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT)"
        ).alias("q"),
    )
    cent = dims.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.sum("q").cast("bigint").alias("sq")
    )
    cnorm = cent.groupBy("clabel").agg(
        F.sum(F.expr("CAST(sq AS DECIMAL(38,0)) * sq"))
        .cast("decimal(38,0)")
        .alias("cn2")
    )
    vnorm = dims.groupBy("vec_id").agg(
        F.sum(F.expr("q * q")).cast("bigint").alias("vn2")
    )
    dots = (
        dims.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.expr("q * sq")).cast("bigint").alias("dot"))
    )
    cos = (
        dots.join(vnorm, "vec_id")
        .join(F.broadcast(cnorm), "clabel")
        .select(
            "vec_id",
            "label",
            "clabel",
            F.expr(
                "CAST(dot AS DOUBLE)"
                " / (sqrt(CAST(vn2 AS DOUBLE))"
                "    * sqrt(CAST(cn2 AS DOUBLE)))"
            ).alias("cos"),
        )
    )
    per_vec = cos.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.expr("clabel = label"), F.col("cos"))
        ).alias("own"),
        F.max(
            F.when(F.expr("clabel <> label"), F.col("cos"))
        ).alias("other"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.round(F.avg("own"), 6).alias("mean_own_cos"),
            F.round(F.avg("other"), 6).alias("mean_other_cos"),
            F.round(
                F.avg(F.expr("own - other")), 6
            ).alias("mean_margin"),
        )
    )


# --------------------------------------------------------------------------
# Feature-eng pack #49: production evaluation & parameter-sensitivity
# ops — sketch-accuracy audit, session-gap sweep, multi-touch
# attribution, Tukey-Kramer post-hoc, trim-level sweep, funnel
# step significance
# --------------------------------------------------------------------------

def q_sketch_error_eval(spark, sf_dir):
    """SKETCH ACCURACY AUDIT: run Spark's own approximate operators
    (approx_count_distinct HLL++, approx_percentile / Greenwald-
    Khanna) SIDE-BY-SIDE with their exact counterparts per event
    type, and report the observed relative error against the
    operator's advertised bound — the production health check every
    sketch-based dashboard needs before anyone trusts it.

    NO DuckDB oracle BY DESIGN (rows-only): DuckDB's approx sketches
    are different algorithms with different (valid) outputs, so
    cross-engine value equality is the wrong contract — the pytest
    replica instead asserts the exact sides match a pandas
    recomputation and every observed error sits inside its bound
    (rsd=0.05 for HLL, 1/accuracy=0.01 for GK at accuracy=100)."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    agg = base.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        F.expr("approx_count_distinct(user_id, 0.05)")
        .cast("bigint")
        .alias("approx_users"),
        F.expr("percentile(cents, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(cents, 0.5, 100)")
        .cast("bigint")
        .alias("approx_p50"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return agg.select(
        "event_type",
        "n",
        "exact_users",
        "approx_users",
        F.round(
            F.expr(
                "abs(CAST(approx_users AS DOUBLE) - exact_users)"
                " / exact_users"
            ),
            6,
        ).alias("hll_rel_err"),
        F.expr("CAST(exact_p50 AS DOUBLE) / 100.0").alias("exact_p50"),
        F.expr("CAST(approx_p50 AS DOUBLE) / 100.0").alias(
            "approx_p50"
        ),
        F.round(
            F.expr(
                "abs(CAST(approx_p50 AS DOUBLE) - exact_p50)"
                " / greatest(exact_p50, 1.0)"
            ),
            6,
        ).alias("gk_rel_err"),
    )


def q_session_gap_sweep(spark, sf_dir):
    """SESSIONIZATION PARAMETER SWEEP: session count, sessions per
    user, and mean session length (events) at gap thresholds
    15/30/60 minutes — ONE pass over the per-user lag table serves
    all three thresholds (the lag computes once; each threshold is
    a conditional count of session starts), answering "how sensitive
    is our session metric to the gap choice" without three jobs.
    Exact integer microsecond gaps and counts throughout."""
    e = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    lagged = e.select(
        "user_id",
        _us("ts").alias("us"),
        "event_id",
    ).select(
        "user_id",
        (F.col("us") - F.lag("us", 1).over(wo)).alias("gap_us"),
    )
    gaps = spark.createDataFrame(
        [(900,), (1800,), (3600,)], "gap_s int"
    )
    per = (
        lagged.crossJoin(F.broadcast(gaps))
        .groupBy("gap_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                F.expr(
                    "CASE WHEN gap_us IS NULL"
                    " OR gap_us > CAST(gap_s AS BIGINT) * 1000000"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )
    return per.select(
        "gap_s",
        "n_sessions",
        "n_users",
        F.round(
            F.expr("CAST(n_sessions AS DOUBLE) / n_users"), 6
        ).alias("sessions_per_user"),
        F.round(
            F.expr("CAST(n_rows AS DOUBLE) / n_sessions"), 6
        ).alias("mean_session_events"),
    )


def q_attribution_multi(spark, sf_dir):
    """MULTI-TOUCH ATTRIBUTION: linear, U-shaped (40/20/40), first-
    touch and last-touch credit per touch channel (event type) for
    every purchase, over the purchaser's preceding non-purchase
    touches within 7 days — the full credit-model comparison next
    to `attribution`'s last-touch-only view.

    The path join is keyed (user), bounded (7-day window); per-path
    positions come from two rank windows; credits are exact
    rationals accumulated as (channel, path_len)-bucketed INTEGER
    counts, so the only float fold is the final O(channels x
    path-lens) division — no row-level float credit sums."""
    e = _t(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_type",
        "event_id",
        _us("ts").alias("us"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("us").alias("buy_us"),
        F.col("event_id").alias("buy_id"),
    )
    touches = ev.where(F.col("event_type") != "purchase")
    path = buys.join(touches, "user_id").where(
        F.expr(
            "us < buy_us AND us >= buy_us - CAST(7 AS BIGINT)"
            " * 86400 * 1000000"
        )
    )
    wp = Window.partitionBy("buy_id").orderBy("us", "event_id")
    wn = Window.partitionBy("buy_id")
    pos = path.select(
        "buy_id",
        "event_type",
        F.row_number().over(wp).cast("bigint").alias("pos"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("plen"),
    )
    # integer credit numerators at scale 60 (lcm-friendly):
    # linear -> 60/plen each; U-shaped -> 24/24/12-split middles;
    # first/last -> 60 on the endpoint
    buckets = pos.select(
        "event_type",
        "plen",
        F.expr("CASE WHEN pos = 1 THEN 60 ELSE 0 END").alias("fir"),
        F.expr("CASE WHEN pos = plen THEN 60 ELSE 0 END").alias("las"),
        F.expr(
            "CASE WHEN plen = 1 THEN 60"
            " WHEN pos = 1 OR pos = plen THEN 24"
            " ELSE 0 END"
        ).alias("u_end"),
        F.expr(
            "CASE WHEN plen > 2 AND pos > 1 AND pos < plen"
            " THEN 1 ELSE 0 END"
        ).alias("u_mid"),
        F.expr(
            "CASE WHEN plen = 2 AND (pos = 1 OR pos = plen)"
            " THEN 6 ELSE 0 END"
        ).alias("u_two"),
    )
    per = buckets.groupBy("event_type", "plen").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("fir").cast("bigint").alias("fir"),
        F.sum("las").cast("bigint").alias("las"),
        F.sum("u_end").cast("bigint").alias("u_end"),
        F.sum("u_mid").cast("bigint").alias("u_mid"),
        F.sum("u_two").cast("bigint").alias("u_two"),
    )
    out = per.groupBy("event_type").agg(
        F.sum("n_touches").cast("bigint").alias("n_touches"),
        F.round(
            F.sum(F.expr("CAST(fir AS DOUBLE) / 60.0")), 6
        ).alias("first_touch"),
        F.round(
            F.sum(F.expr("CAST(las AS DOUBLE) / 60.0")), 6
        ).alias("last_touch"),
        F.round(
            F.sum(F.expr("CAST(n_touches AS DOUBLE) / plen")), 6
        ).alias("linear"),
        F.round(
            F.sum(
                F.expr(
                    "CAST(u_end AS DOUBLE) / 60.0"
                    " + CAST(u_two AS DOUBLE) / 60.0"
                    " + CASE WHEN plen > 2 THEN CAST(u_mid AS DOUBLE)"
                    "   * 12.0 / (60.0 * (plen - 2)) ELSE 0.0 END"
                )
            ),
            6,
        ).alias("u_shaped"),
    )
    return out


def q_tukey_kramer(spark, sf_dir):
    """TUKEY-KRAMER studentized-range statistics for all pairwise
    mean comparisons after `dow_anova`'s omnibus F: q_ij =
    |mean_i - mean_j| / sqrt(MSE/2 * (1/n_i + 1/n_j)) across event
    types — the parametric post-hoc twin of `dunn_posthoc` (critical
    values come from the studentized-range table offline; the
    statistic itself is the distributed part).

    MSE = pooled within-group variance from exact cent sums and
    squared sums; the 10-pair fold is O(k^2) on the per-type
    aggregate."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("s"),
            F.sum(F.expr("c * c")).cast("bigint").alias("q"),
        )
    )
    mse = per.agg(
        F.sum(
            F.expr(
                "CAST(q AS DOUBLE) - pow(CAST(s AS DOUBLE), 2) / n"
            )
        ).alias("ssw"),
        F.sum("n").cast("bigint").alias("nn"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    ).select(
        F.expr("ssw / (nn - k) / 10000.0").alias("mse"),
        F.expr("CAST(nn - k AS BIGINT)").alias("df_within"),
    )
    a = per.alias("a")
    b = per.alias("b")
    return (
        a.crossJoin(b)
        .where(F.expr("a.event_type < b.event_type"))
        .crossJoin(F.broadcast(mse))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            "df_within",
            F.round(
                F.expr(
                    "abs(CAST(a.s AS DOUBLE) / (100.0 * a.n)"
                    " - CAST(b.s AS DOUBLE) / (100.0 * b.n))"
                ),
                6,
            ).alias("mean_diff"),
            F.round(
                F.expr(
                    "abs(CAST(a.s AS DOUBLE) / (100.0 * a.n)"
                    " - CAST(b.s AS DOUBLE) / (100.0 * b.n))"
                    " / sqrt(mse / 2.0 * (1.0 / a.n + 1.0 / b.n))"
                ),
                6,
            ).alias("q_stat"),
        )
    )


def q_trim_sweep(spark, sf_dir):
    """TRIM-LEVEL SENSITIVITY SWEEP: the two-sided trimmed mean of
    purchase ``value`` at alpha = 1%, 5%, 10%, 25% from ONE ranked
    pass — how fast does the location estimate move as the tails
    come off (a robust-stats diagnostic; `trimmed_stats` fixes
    alpha=10%, this is its sensitivity curve). Ranks are
    deterministic (cents, event_id) row_numbers; each alpha is a
    conditional exact-bigint sum over integer rank cuts."""
    e = _t(spark, sf_dir, "events")
    wo = Window.orderBy("cents", "event_id")
    r = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .select(
            "cents",
            F.row_number().over(wo).cast("bigint").alias("rn"),
        )
    )
    n_row = r.agg(F.max("rn").alias("n"))
    alphas = spark.createDataFrame(
        [(1,), (5,), (10,), (25,)], "alpha_pct int"
    )
    per = (
        r.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(alphas))
        .withColumn("k", F.expr("CAST(n * alpha_pct div 100 AS BIGINT)"))
        .where(F.expr("rn > k AND rn <= n - k"))
        .groupBy("alpha_pct")
        .agg(
            F.max("n").alias("n"),
            F.max("k").alias("k_cut"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("cents").cast("bigint").alias("s"),
        )
    )
    return per.select(
        "alpha_pct",
        "n",
        "k_cut",
        "n_kept",
        F.round(
            F.expr("CAST(s AS DOUBLE) / (100.0 * n_kept)"), 6
        ).alias("trimmed_mean"),
    )


def q_funnel_significance(spark, sf_dir):
    """FUNNEL STEP SIGNIFICANCE: per consecutive step of the
    view -> click -> signup -> purchase user funnel, the conversion
    rate AND the two-proportion z of this step's conversion vs the
    PREVIOUS step's (pooled SE) — `session_funnel` counts the
    funnel; this says which drop-offs are statistically real.

    Funnel depth is UNORDERED PRESENCE (a user "reaches" depth s by
    touching s of the four funnel types — the loose funnel;
    `session_funnel` does the ordered one). One distinct
    (user, type) presence pass; step user counts are exact bigints;
    the z fold runs on the O(steps) table via a lag window."""
    e = _t(spark, sf_dir, "events")
    pres = e.select("user_id", "event_type").distinct()
    steps = spark.createDataFrame(
        [(1, "view"), (2, "click"), (3, "signup"), (4, "purchase")],
        "step int, event_type string",
    )
    ucnt = (
        pres.join(F.broadcast(steps), "event_type")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("reach"))
    )
    reach = ucnt.groupBy().agg(
        *[
            F.sum(F.expr(f"CASE WHEN reach >= {s} THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias(f"r{s}")
            for s in (1, 2, 3, 4)
        ]
    )
    long = reach.selectExpr(
        "stack(4, 1, r1, 2, r2, 3, r3, 4, r4)"
        " AS (step, n_users)"
    )
    wl = Window.orderBy("step")
    out = long.select(
        "step",
        "n_users",
        F.lag("n_users", 1).over(wl).alias("prev_users"),
        F.lag("n_users", 2).over(wl).alias("prev2_users"),
    ).select(
        "step",
        "n_users",
        F.round(
            F.expr(
                "CAST(n_users AS DOUBLE) / nullif(prev_users, 0)"
            ),
            6,
        ).alias("conv_from_prev"),
        F.round(
            F.expr(
                "CASE WHEN prev2_users IS NULL THEN NULL ELSE"
                " (CAST(prev_users AS DOUBLE) / nullif(prev2_users, 0)"
                "  - CAST(n_users AS DOUBLE) / nullif(prev_users, 0))"
                " / nullif(sqrt((CAST(prev_users + n_users AS DOUBLE)"
                "         / (prev2_users + prev_users))"
                "        * (1.0 - CAST(prev_users + n_users AS DOUBLE)"
                "           / (prev2_users + prev_users))"
                "        * (1.0 / nullif(CAST(prev2_users AS DOUBLE), 0.0)"
                "           + 1.0 / nullif(CAST(prev_users AS DOUBLE), 0.0)))"
                ", 0.0) END"
            ),
            6,
        ).alias("z_vs_prev_step"),
    )
    return out
