"""Feature-eng packs #28-#33: behavioral regularity, survival, trend/changepoint, time-series features.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .. import windows as W  # noqa: F401
from ._shared import SESSION_GAP_S, _t, _us  # noqa: F401
from .stats_rank import _math  # noqa: F401


# -- feature-eng pack #28: behavioral-regularity features -------------------
#
# User/customer-level regularity signals over events and orders, plus
# the Zipf companion to pack #27's Heaps slope. Same determinism
# discipline: exact BIGINT moments (cents, day counts, squared sums),
# one final float op per row, deterministic tie-breaks everywhere.

_ZIPF_K = 10  # zipf_two_point tail rank
_RFM_Q = 5  # rfm_scores quantile buckets


def q_peak_rate(spark, sf_dir):
    """Per-user PEAK activity rate — the busiest tumbling 1-hour
    bucket (count + its share of the user's events): bots and scrape
    storms concentrate in one bucket, organic users spread out. The
    per-user face of the stream `tumbling_window` agg, reduced to a
    one-row fingerprint per user for the feature store.

    Tumbling (not sliding) buckets keep every count an exact
    single-pass hash agg; the winner is a row_number over the user's
    buckets with earliest-bucket tie-break. Both shuffles key on
    user_id — the natural 100 TB partitioning."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
        )
        .groupBy("user_id", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("bucket")
    )
    tot = per.groupBy("user_id").agg(
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )
    top = (
        per.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("bucket").alias("peak_bucket"),
                F.col("cnt").alias("peak_cnt"))
    )
    j = top.join(tot, "user_id")
    return j.select(
        "user_id",
        "peak_bucket",
        "peak_cnt",
        "n_events",
        "n_buckets",
        F.round(
            F.col("peak_cnt").cast("double")
            / F.col("n_events").cast("double"),
            6,
        ).alias("peak_share"),
    )


def q_hourly_uniformity(spark, sf_dir):
    """Per-event-type chi-square test of HOUR-OF-DAY uniformity —
    'does this event type happen around the clock or on a schedule?'
    (cron jobs and bot traffic spike the statistic; human activity is
    merely lumpy). The seasonality audit behind `calendar features`.

    The usual chi2 = sum((o_h - N/24)^2 / (N/24)) is a float sum; we
    compute the algebraically identical
    ``sum_h (24*o_h - N)^2 / (24*N)`` where the sum INCLUDING the
    empty hours is the exact BIGINT
    ``sum_observed (24*o_h - N)^2 + (24 - h_obs) * N^2`` — one
    division at the end, engine-portable bit-for-bit."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.select("event_type", F.hour("ts").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    agg = per.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("h_obs"),
    )
    # squared deviations need n per row: two-pass via self-join on the
    # tiny per-type table (broadcast — O(types) rows)
    sq = (
        per.join(F.broadcast(agg), "event_type")
        .groupBy("event_type", "n", "h_obs")
        .agg(
            F.sum(
                (F.lit(24) * F.col("o") - F.col("n"))
                * (F.lit(24) * F.col("o") - F.col("n"))
            )
            .cast("bigint")
            .alias("ss_obs")
        )
    )
    chi_num = F.col("ss_obs") + (F.lit(24) - F.col("h_obs")) * F.col(
        "n"
    ) * F.col("n")
    return sq.select(
        "event_type",
        "n",
        "h_obs",
        F.round(
            chi_num.cast("double")
            / (F.lit(24) * F.col("n")).cast("double"),
            6,
        ).alias("chi2_stat"),
    )


def q_rfm_scores(spark, sf_dir):
    """Classic RFM customer scoring — recency (days before the
    corpus max order date), frequency (order count), monetary (total
    spend in exact cents) — each ntile'd into ``_RFM_Q`` buckets with
    a deterministic (metric, custkey) tie-break, plus the
    concatenated RFM segment label. THE feature-store warhorse for
    any user-level sampling/weighting decision.

    Money sums in cents (BIGINT) so no float accumulation; recency is
    an exact day diff against a broadcast one-row max-date. The three
    quantile scores are NOT `ntile` over a global window (that moves
    every customer to one task — the classic scale-killer): each is an
    exact global rank from ``windows.global_row_number`` (range
    repartition + per-partition row_number + broadcast prefix
    offsets), converted to the IDENTICAL SQL-standard ntile bucket by
    integer arithmetic — the oracle keeps plain ntile and the outputs
    hash-match. Customer keys make every sort key a total order."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_d"),
        F.count(F.lit(1)).cast("bigint").alias("f_cnt"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("m_cents"),
    )
    mx = per.agg(F.max("last_d").alias("max_d"))
    per = per.crossJoin(F.broadcast(mx)).withColumn(
        "r_days", F.datediff(F.col("max_d"), F.col("last_d")).cast("bigint")
    )
    # low recency-days = better, so rank ascending for R; F and M
    # rank descending so bucket 1 is always 'best'
    tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("__nt"))
    ranked = W.global_row_number(
        per, [F.col("r_days").asc(), F.col("o_custkey").asc()], "__r_rk"
    )
    ranked = W.global_row_number(
        ranked, [F.col("f_cnt").desc(), F.col("o_custkey").asc()], "__f_rk"
    )
    ranked = W.global_row_number(
        ranked, [F.col("m_cents").desc(), F.col("o_custkey").asc()], "__m_rk"
    )
    j = (
        ranked.crossJoin(F.broadcast(tot))
        .withColumn("__base", F.expr(f"__nt div {_RFM_Q}"))
        .withColumn("__extra", F.col("__nt") % _RFM_Q)
    )

    def _ntile_from_rank(rk: str):
        # SQL-standard ntile: the first (n mod q) buckets hold one
        # extra row. CASE evaluates lazily per row, so the div by
        # __base in the ELSE arm never executes when __base = 0
        # (every rank then satisfies the WHEN arm).
        return F.expr(
            f"CASE WHEN {rk} <= (__base + 1) * __extra"
            f" THEN ({rk} + __base) div (__base + 1)"
            f" ELSE __extra + ({rk} - (__base + 1) * __extra"
            f" + __base - 1) div __base END"
        ).cast("int")

    out = j.select(
        "o_custkey",
        "r_days",
        "f_cnt",
        "m_cents",
        _ntile_from_rank("__r_rk").alias("r_score"),
        _ntile_from_rank("__f_rk").alias("f_score"),
        _ntile_from_rank("__m_rk").alias("m_score"),
    )
    return out.withColumn(
        "rfm",
        F.concat_ws(
            "-", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


def q_zipf_two_point(spark, sf_dir):
    """Per-source Zipf rank-frequency slope from TWO points — the
    rank-1 and rank-``_ZIPF_K`` token frequencies:
    slope ≈ ln(f1/fK) / ln(K). Natural language sits near -1 (we
    report the positive magnitude); machine-generated/template text
    flattens or steepens it. The rank-frequency dual of
    ``heaps_two_point`` (the two exponents are theoretically tied),
    and the parametric summary of what `vocab_topv` lists.

    Both frequencies come from one (source, token) count and a
    row_number window with lexicographic tie-break; the slope is a
    log of an exact integer ratio over the constant ln K. Sources
    with fewer than K types are excluded (no rank-K point)."""
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source",
            F.explode(
                F.split(F.trim(F.col("text")), "\\s+")
            ).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("tf").desc(), F.col("token")
    )
    rk = tf.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk").isin(1, _ZIPF_K)
    )
    piv = rk.groupBy("source").agg(
        F.max(F.when(F.col("rk") == 1, F.col("tf"))).alias("f1"),
        F.max(F.when(F.col("rk") == _ZIPF_K, F.col("tf"))).alias(
            "fk"
        ),
    ).where(F.col("fk").isNotNull())
    slope = F.log(
        F.col("f1").cast("double") / F.col("fk").cast("double")
    ) / F.lit(_math.log(float(_ZIPF_K)))
    return piv.select(
        "source", "f1", "fk", F.round(slope, 6).alias("zipf_slope")
    )


def q_order_gap_cv(spark, sf_dir):
    """Per-customer inter-order regularity — the coefficient of
    variation of day gaps between consecutive orders: CV near 0 is a
    metronome (subscription/bot), near/above 1 is bursty-random
    organic behavior. The order-stream twin of the event-stream
    ``gap_detection``.

    Gaps are exact integer day diffs from a lag window; CV uses the
    population-variance identity sqrt(n*S2 - S^2) / S with S, S2
    exact BIGINTs — one sqrt, one division. Customers need >= 3
    orders (>= 2 gaps) and a positive gap sum (not all same-day)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    g = (
        o.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            "o_orderkey",
        )
        .withColumn("prev_d", F.lag("d").over(w))
        .where(F.col("prev_d").isNotNull())
        .select(
            "o_custkey",
            F.datediff(F.col("d"), F.col("prev_d"))
            .cast("bigint")
            .alias("gap"),
        )
    )
    agg = g.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap").cast("bigint").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("s2"),
    ).where((F.col("n_gaps") >= 2) & (F.col("s") > 0))
    cv = F.sqrt(
        (F.col("n_gaps") * F.col("s2") - F.col("s") * F.col("s"))
        .cast("double")
    ) / F.col("s").cast("double")
    return agg.select(
        "o_custkey", "n_gaps", "s", "s2",
        F.round(cv, 6).alias("gap_cv"),
    )


def q_repeat_rate(spark, sf_dir):
    """Per-brand repeat-purchase rate — of the customers who ever
    ordered the brand, the fraction whose brand orders span >= 2
    DISTINCT orders: the loyalty/retention signal product teams cut
    by category, and a two-level distinct-count exercise (customer
    within brand, order within customer-brand) that stays one
    exact-integer pipeline.

    lineitem joins orders on the order key (the fact-to-fact join —
    sort-merge at scale), part is a broadcast dim; then two hash
    aggs: distinct orders per (brand, customer), then the >= 2 flag
    sum per brand. One final division."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "o_custkey")
        .agg(
            F.countDistinct("o_orderkey").cast("bigint").alias(
                "n_orders"
            )
        )
    )
    agg = per_cust.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeat"),
    )
    return agg.select(
        "p_brand",
        "n_cust",
        "n_repeat",
        F.round(
            F.col("n_repeat").cast("double")
            / F.col("n_cust").cast("double"),
            6,
        ).alias("repeat_rate"),
    )


def q_km_hazard(spark, sf_dir):
    """Kaplan-Meier life table for TIME-TO-REPEAT purchase — for each
    observed duration (days from a customer's first order to their
    second), the number still at risk, the repeat events, the
    right-censored exits (single-order customers censored at the
    corpus max date), and the discrete hazard d/n. The survival-curve
    input every churn/retention model starts from, emitted exact and
    long-form.

    Durations are exact BIGINT day diffs (first/second order via a
    per-customer row_number with an o_orderkey tie-break; censor
    horizon from a broadcast one-row max-date). The only global
    window runs over the GROUPED duration table — cardinality is
    bounded by the corpus day span (~2.4k rows however big the
    fact table), the same bounded-window idiom as the registry's
    offsets/histogram queries. hazard = round(d/n, 6) is the single
    float op."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    rk = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    ).withColumn("rk", F.row_number().over(w))
    per = rk.where(F.col("rk") <= 2).groupBy("o_custkey").agg(
        F.min(F.when(F.col("rk") == 1, F.col("d"))).alias("first_d"),
        F.min(F.when(F.col("rk") == 2, F.col("d"))).alias("second_d"),
    )
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("max_d"))
    dur = per.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("second_d").isNotNull(),
            F.datediff(F.col("second_d"), F.col("first_d")),
        )
        .otherwise(F.datediff(F.col("max_d"), F.col("first_d")))
        .cast("bigint")
        .alias("duration_days"),
        F.when(F.col("second_d").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("event"),
    )
    g = dur.groupBy("duration_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at"),
        F.sum("event").cast("bigint").alias("n_event"),
    )
    wdesc = Window.orderBy(F.col("duration_days").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return g.select(
        "duration_days",
        F.sum("n_at").over(wdesc).cast("bigint").alias("n_risk"),
        "n_event",
        (F.col("n_at") - F.col("n_event"))
        .cast("bigint")
        .alias("n_censor"),
    ).withColumn(
        "hazard",
        F.round(
            F.col("n_event").cast("double")
            / F.col("n_risk").cast("double"),
            6,
        ),
    )


def q_basket_pairs(spark, sf_dir):
    """Market-basket BRAND co-occurrence — for every brand pair, the
    number of orders whose baskets contain both, plus the pair's
    support share of all orders. The association-rule seed
    (frequent-itemset counting collapsed to the bounded brand
    vocabulary) and the co-purchase twin of the documents-side
    `cooccur_lift`.

    lineitem joins the broadcast part dim for brands, dedups to
    distinct (order, brand) — the basket set — then self-joins on the
    order key with brand_a < brand_b. Per-order fanout is C(brands in
    basket, 2), bounded by the ~7-line TPC-H basket, so the pair
    stream is O(lines) and the grouped output is <= C(25,2) rows.
    Both shuffles key on l_orderkey — the natural fact partitioning;
    the order total arrives as a broadcast one-row count."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    tot = ob.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_cnt"))
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        "brand_a",
        "brand_b",
        "pair_cnt",
        F.round(
            F.col("pair_cnt").cast("double")
            / F.col("n_orders").cast("double"),
            6,
        ).alias("support"),
    )


def q_prefix_template(spark, sf_dir):
    """Per-source TEMPLATE-PREFIX share — the modal 16-char text
    prefix of each source and the fraction of its documents that
    start with it. Scraped template sites funnel most pages through
    one boilerplate opening; a high modal share flags them for
    boilerplate stripping before training. The prefix-key face of
    `boilerplate_para`.

    One narrow projection (source, 16-char prefix), one hash agg per
    (source, prefix), a per-source row_number for the mode with a
    deterministic prefix tie-break, and per-source totals from the
    same grouped table — every shuffle keys on source, nothing
    touches the full text twice."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select("source", F.substring("text", 1, 16).alias("prefix"))
        .groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = per.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_prefixes"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("prefix")
    )
    modal = (
        per.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "source",
            F.col("prefix").alias("modal_prefix"),
            F.col("cnt").alias("modal_cnt"),
        )
    )
    return modal.join(tot, "source").select(
        "source",
        "modal_prefix",
        "modal_cnt",
        "n_docs",
        "n_prefixes",
        F.round(
            F.col("modal_cnt").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("template_share"),
    )


def q_supplier_hhi(spark, sf_dir):
    """Per-nation Herfindahl-Hirschman index of supplier REVENUE
    concentration — sum of squared revenue shares, the antitrust
    statistic reused as a data-supply-concentration audit ('is one
    supplier/domain feeding most of this slice?'). The revenue-share
    face of `gini_skew`.

    Net revenue is exact integer milli-cents (price cents x
    (100 - discount pct)); per-supplier sums stay < 2^53 so the one
    share division per supplier is an exact-input double op. Shares
    are then fixed to integer ppm (round half-away-from-zero, same
    rule both engines) so the HHI numerator sum(share_ppm^2) is an
    exact BIGINT — association order cannot move the hash. Nation
    totals join back via broadcast (O(nations) rows)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    cents = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    disc = F.expr("CAST(round(l_discount * 100) AS BIGINT)")
    rev = (
        li.select(
            "l_suppkey",
            (cents * (F.lit(100) - disc)).alias("net"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("net").cast("bigint").alias("r"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_nationkey", "l_suppkey", "r")
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("r").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    shares = rev.join(F.broadcast(tot), "s_nationkey").select(
        "s_nationkey",
        "n_suppliers",
        F.expr(
            "CAST(round(CAST(r AS DOUBLE) * 1e6"
            " / CAST(tot AS DOUBLE)) AS BIGINT)"
        ).alias("share_ppm"),
    )
    return (
        shares.groupBy("s_nationkey", "n_suppliers")
        .agg(
            F.sum(F.col("share_ppm") * F.col("share_ppm"))
            .cast("bigint")
            .alias("ss_ppm")
        )
        .select(
            "s_nationkey",
            "n_suppliers",
            F.round(F.col("ss_ppm").cast("double") / F.lit(1e12), 6)
            .alias("hhi"),
        )
    )


def q_weekend_lift(spark, sf_dir):
    """Per-event-type WEEKEND rate lift — the ratio of the weekend
    per-day event rate to the weekday per-day rate, exact-rational
    until one final division: lift = (wknd/2) / (wkdy/5) =
    5*wknd / (2*wkdy). Consumer behavior lifts above 1, B2B and cron
    traffic sinks below — the day-of-week companion to
    `hourly_uniformity`'s hour-of-day chi-square.

    One narrow projection, one hash agg with conditional BIGINT sums
    (weekday() is a JVM date function — no UDF), one rounded
    division. Spark's weekday() (0=Mon..6=Sun) and DuckDB's isodow
    (1=Mon..7=Sun) agree on the weekend test used in each engine."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.select(
            "event_type",
            (F.weekday(F.col("ts")) >= F.lit(5))
            .cast("bigint")
            .alias("is_wknd"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("is_wknd").cast("bigint").alias("wknd_cnt"),
            F.sum(F.lit(1) - F.col("is_wknd"))
            .cast("bigint")
            .alias("wkdy_cnt"),
        )
        .where(F.col("wkdy_cnt") > 0)
    )
    return per.select(
        "event_type",
        "wknd_cnt",
        "wkdy_cnt",
        F.round(
            (F.lit(5) * F.col("wknd_cnt")).cast("double")
            / (F.lit(2) * F.col("wkdy_cnt")).cast("double"),
            6,
        ).alias("weekend_lift"),
    )


def q_discount_depth(spark, sf_dir):
    """Per-brand VALUE-WEIGHTED discount depth — the
    revenue-weighted mean discount (sum(price x discount) /
    sum(price)) next to the unweighted line mean: when the weighted
    depth exceeds the unweighted one, the discounts concentrate on
    the expensive lines (clearance), not the cheap ones. The
    weighting pattern every importance-weighted corpus statistic
    reuses, run in exact integer cents.

    lineitem joins the broadcast part dim for the brand key; both
    numerators and denominators are BIGINT sums of cents x
    discount-pct products, so the two rounded divisions at the end
    are the only float ops and the hash is association-proof."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cents = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    disc = F.expr("CAST(round(l_discount * 100) AS BIGINT)")
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            cents.alias("cents"),
            disc.alias("disc_pct"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("cents") * F.col("disc_pct"))
            .cast("bigint")
            .alias("wnum"),
            F.sum("cents").cast("bigint").alias("wden"),
            F.sum("disc_pct").cast("bigint").alias("dsum"),
        )
    )
    return agg.select(
        "p_brand",
        "n_lines",
        F.round(
            F.col("wnum").cast("double")
            / (F.lit(100) * F.col("wden")).cast("double"),
            6,
        ).alias("wavg_discount"),
        F.round(
            F.col("dsum").cast("double")
            / (F.lit(100) * F.col("n_lines")).cast("double"),
            6,
        ).alias("avg_discount"),
    )


def q_autocorr_lag1(spark, sf_dir):
    """Per-user LAG-1 AUTOCORRELATION of the daily event-count
    series — the periodicity/burstiness detector that separates
    trending organic activity (r > 0) from alternating bot cadence
    (r < 0) and memoryless noise (r ~ 0). The temporal
    self-correlation companion to `grouped_corr` (which correlates
    two columns) and `order_gap_cv` (which ignores order).

    Consecutive-day pairs come from an equi self-join on
    (user_id, day + 1) — no window, no dense grid; both sides hang
    off the same per-(user, day) hash agg. All five moments are
    exact BIGINTs; the Pearson numerator/denominators use the
    n*Sxy - Sx*Sy cross-multiplication identity, and the only float
    ops are the final sqrt (of a product of two exactly-cast
    doubles — BIGINT^2 would overflow) and one division."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.d") == F.col("a.d") + 1),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.c").alias("x"),
        F.col("b.c").alias("y"),
    )
    m = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.withColumn("denx", denx.cast("bigint"))
        .withColumn("deny", deny.cast("bigint"))
        .where(
            (F.col("n") >= 2)
            & (F.col("denx") > 0)
            & (F.col("deny") > 0)
        )
        .select(
            "user_id",
            "n",
            F.round(
                num.cast("double")
                / F.sqrt(
                    F.col("denx").cast("double")
                    * F.col("deny").cast("double")
                ),
                6,
            ).alias("acf1"),
        )
    )


def q_cramers_v(spark, sf_dir):
    """Cramér's V association between document LANGUAGE and SOURCE —
    'do sources specialize by language?' — the normalized chi-square
    the corpus card reports next to `mutual_info` (V is bounded
    [0, 1] and comparable across table shapes, MI is not).

    The contingency table is one hash agg (O(langs x sources) cells);
    margins and the grand total broadcast back. chi2 uses the
    algebraic identity sum_all_cells (o-e)^2/e = sum N*o^2/(r*c) - N,
    whose first term is ZERO on empty cells — so summing observed
    cells only is exact (the naive per-cell (o-e)^2/e would silently
    drop the empty-cell mass). Each observed cell's N*o^2/(r*c) is
    computed in double from exactly-cast BIGINTs with a FIXED
    multiplication order both engines share, then fixed to integer
    ppm so the cross-cell sum is an exact BIGINT — association order
    cannot move the hash; the -N lands in the ppm domain as an exact
    integer subtraction."""
    d = _t(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rows = cell.groupBy("lang").agg(
        F.sum("o").cast("bigint").alias("r")
    )
    cols = cell.groupBy("source").agg(
        F.sum("o").cast("bigint").alias("c")
    )
    tot = cell.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
    )
    j = (
        cell.join(F.broadcast(rows), "lang")
        .join(F.broadcast(cols), "source")
        .crossJoin(F.broadcast(tot))
    )
    cell_ppm = F.expr(
        "CAST(round(1e6 * (CAST(n AS DOUBLE) * CAST(o AS DOUBLE)"
        " * CAST(o AS DOUBLE))"
        " / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))) AS BIGINT)"
    )
    agg = (
        j.withColumn("cell_ppm", cell_ppm)
        .groupBy("n", "n_langs", "n_sources")
        .agg(
            (
                F.sum("cell_ppm") - F.lit(1_000_000) * F.first("n")
            )
            .cast("bigint")
            .alias("chi2_ppm")
        )
    )
    chi2 = F.col("chi2_ppm").cast("double") / F.lit(1e6)
    vden = (
        F.col("n")
        * F.least(F.col("n_langs") - 1, F.col("n_sources") - 1)
    ).cast("double")
    return agg.select(
        F.col("n").alias("n_docs"),
        "n_langs",
        "n_sources",
        F.round(chi2, 6).alias("chi2"),
        F.round(F.sqrt(chi2 / vden), 6).alias("cramers_v"),
    )


def q_activity_drawdown(spark, sf_dir):
    """Per-user ACTIVITY DRAWDOWN — the largest peak-to-trough drop
    in the daily event-count series (running max of counts minus the
    current day's count, maximized): a burst-then-silence
    fingerprint that flags scrape storms and abandoned accounts that
    plain totals and `peak_rate` miss.

    One per-(user, day) hash agg, one partition-local window chain
    (running max over the user's ordered days — keyed on user_id,
    the natural partitioning), one final agg. Everything is BIGINT;
    the only float op is the rounded drawdown/peak ratio."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = daily.withColumn(
        "runmax", F.max("c").over(w).cast("bigint")
    ).withColumn("dd", (F.col("runmax") - F.col("c")).cast("bigint"))
    out = dd.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("c").cast("bigint").alias("peak_cnt"),
        F.max("dd").cast("bigint").alias("max_drawdown"),
    )
    return out.select(
        "user_id",
        "n_days",
        "peak_cnt",
        "max_drawdown",
        F.round(
            F.col("max_drawdown").cast("double")
            / F.col("peak_cnt").cast("double"),
            6,
        ).alias("drawdown_ratio"),
    )


def q_max_concurrency(spark, sf_dir):
    """Per-day MAXIMUM SESSION CONCURRENCY — the peak number of
    user sessions simultaneously open on each calendar day, the
    capacity-planning statistic behind `rolling_active_users`. A
    classic sweep-line: sessions (30-min gap, from the engine's
    session_bounds) emit +1/-1 boundary events whose GLOBAL running
    sum is the live concurrency; the per-day max is one grouped agg
    over the running values.

    The global cumulative sum does NOT use a single-partition window
    — it runs through ``windows.global_prefix_sum`` (range
    repartition + per-partition cumsum + broadcast prefix offsets,
    the cumsum twin of global_row_number), so it scales like a sort,
    not like a funnel. Boundary ordering is total — (ts, starts
    before ends, user, session) — so the running sum is
    deterministic in both engines; sessions spanning midnight carry
    into the next day's running value by construction."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    b = W.session_bounds(
        ev, key="user_id", ts="ts", gap_seconds=SESSION_GAP_S
    )
    starts = b.select(
        _us("session_start").alias("us"),
        F.lit(1).cast("bigint").alias("delta"),
        "user_id",
        "session_id",
    )
    ends = b.select(
        _us("session_end").alias("us"),
        F.lit(-1).cast("bigint").alias("delta"),
        "user_id",
        "session_id",
    )
    bd = starts.union(ends)
    order = [
        F.col("us").asc(),
        F.col("delta").desc(),
        F.col("user_id").asc(),
        F.col("session_id").asc(),
    ]
    run = W.global_prefix_sum(bd, order, "delta", out_col="conc")
    return (
        run.withColumn(
            "epoch_day", F.expr("us div 86400000000").cast("bigint")
        )
        .groupBy("epoch_day")
        .agg(
            F.max("conc").cast("bigint").alias("max_concurrent"),
            F.count(F.lit(1)).cast("bigint").alias("n_boundaries"),
        )
    )


def q_theil_sen(spark, sf_dir):
    """Per-customer THEIL-SEN slope of order value over time — the
    median of all pairwise (cents/day) slopes between the customer's
    orders: the robust spend trend one outlier order cannot move,
    next to `grouped_ols`'s outlier-sensitive least-squares line.

    The pairwise self-join keys on o_custkey and its fanout is
    C(orders-per-customer, 2) — bounded by the per-entity order
    count, never by table size (the same bound as `basket_pairs`).
    Same-day pairs (dx = 0) are excluded. Each slope is one
    deterministic double division of exact BIGINTs; the median is
    the LOWER median — the ((n+1) div 2)-th smallest value, picked
    by row_number over the slope order (the k-th smallest is
    well-defined even with duplicate slopes), so nothing is ever
    averaged in float."""
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("x"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("y"),
    )
    a = pts.alias("a")
    b = pts.alias("b")
    slopes = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.o_custkey").alias("o_custkey"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope"),
    )
    wrk = Window.partitionBy("o_custkey").orderBy("slope")
    wcnt = Window.partitionBy("o_custkey")
    ranked = slopes.withColumn(
        "rk", F.row_number().over(wrk)
    ).withColumn("n_slopes", F.count(F.lit(1)).over(wcnt))
    med = ranked.where(
        F.col("rk") == F.expr("(n_slopes + 1) div 2")
    )
    n_ord = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    return med.join(n_ord, "o_custkey").select(
        "o_custkey",
        "n_orders",
        F.col("n_slopes").cast("bigint").alias("n_slopes"),
        F.round(F.col("slope"), 6).alias("ts_slope"),
    )


def q_dow_seasonal(spark, sf_dir):
    """Per-event-type DAY-OF-WEEK seasonal profile, long-form — each
    weekday's event count, its share, and its seasonal index
    (7 x share: 1.0 = flat week). The 7-point weekly profile behind
    `weekend_lift`'s single ratio and the seasonal decomposition any
    forecast feature set starts from.

    One narrow projection (weekday() is a JVM date function), one
    hash agg per (type, dow), per-type totals broadcast back. Both
    ratios are exact rationals until the one rounded division
    (7*cnt/total is computed as an integer numerator)."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.select("event_type", F.weekday(F.col("ts")).alias("dow"))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = per.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("total")
    )
    return per.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("dow").cast("bigint").alias("dow"),
        "cnt",
        F.round(
            F.col("cnt").cast("double") / F.col("total").cast("double"),
            6,
        ).alias("share"),
        F.round(
            (F.lit(7) * F.col("cnt")).cast("double")
            / F.col("total").cast("double"),
            6,
        ).alias("dow_index"),
    )


def q_mann_kendall(spark, sf_dir):
    """Per-customer MANN-KENDALL trend test on order value over time
    — S = sum of sign(later - earlier) over all chronologically
    ordered order pairs, with the tie-corrected variance and the
    continuity-corrected z. The nonparametric yes/no companion to
    `theil_sen`'s slope magnitude (same pair structure, same
    C(orders, 2) per-entity bound).

    S and the tie correction are exact BIGINTs (sign sums and the
    n(n-1)(2n+5) polynomial); the z is one fixed double expression
    (S -/+ 1) / sqrt(var18 / 18). Chronological order ties break on
    o_orderkey so both engines enumerate identical pairs."""
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("x"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("y"),
    )
    a = pts.alias("a")
    b = pts.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (
                (F.col("a.x") < F.col("b.x"))
                | (
                    (F.col("a.x") == F.col("b.x"))
                    & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
                )
            ),
        )
        .groupBy(F.col("a.o_custkey").alias("o_custkey"))
        .agg(
            F.sum(F.signum(F.col("b.y") - F.col("a.y")))
            .cast("bigint")
            .alias("s_stat")
        )
    )
    # tie groups on the VALUE only (the variance correction term)
    ties = (
        pts.groupBy("o_custkey", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.col("t")
                * (F.col("t") - 1)
                * (F.lit(2) * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_corr"),
            F.sum(F.col("t")).cast("bigint").alias("n"),
        )
    )
    m = s.join(ties, "o_custkey").withColumn(
        "var18",
        (
            F.col("n")
            * (F.col("n") - 1)
            * (F.lit(2) * F.col("n") + 5)
            - F.col("tie_corr")
        ).cast("bigint"),
    )
    zed = F.when(F.col("s_stat") > 0, F.col("s_stat") - 1).otherwise(
        F.when(F.col("s_stat") < 0, F.col("s_stat") + 1).otherwise(
            F.lit(0)
        )
    )
    return m.where((F.col("n") >= 3) & (F.col("var18") > 0)).select(
        "o_custkey",
        "n",
        "s_stat",
        "var18",
        F.round(
            zed.cast("double")
            / F.sqrt(F.col("var18").cast("double") / F.lit(18.0)),
            6,
        ).alias("mk_z"),
    )


def q_l_moments(spark, sf_dir):
    """Per-customer L-MOMENTS of order value — L-location, L-scale,
    and the L-skewness ratio t3 — the order-statistics moments that
    exist for any distribution with a finite mean and resist the
    outliers that wreck classic skewness. Everything reduces to
    rank-weighted integer sums: B0 = sum(x), B1 = sum((i-1) x_(i)),
    B2 = sum((i-1)(i-2) x_(i)) over the per-customer value-sorted
    ranks, so l2 = (2 B1 - (n-1) B0) / (n(n-1)) and
    t3 = N3 / ((n-2) N2) with N3 = 6 B2 - 6(n-2) B1 +
    (n-1)(n-2) B0 — exact BIGINT numerators and denominators, one
    rounded division each. Tied values get identical weight sums
    under any permutation, so row_number's tie order is immaterial.

    One partition-local rank window keyed on o_custkey, one hash
    agg. Per-customer cardinality bounds the window frame."""
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("y"),
    )
    w = Window.partitionBy("o_custkey").orderBy("y")
    r = pts.withColumn(
        "i", F.row_number().over(w).cast("bigint")
    )
    m = r.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("b0"),
        F.sum((F.col("i") - 1) * F.col("y"))
        .cast("bigint")
        .alias("b1"),
        F.sum((F.col("i") - 1) * (F.col("i") - 2) * F.col("y"))
        .cast("bigint")
        .alias("b2"),
    )
    n2 = (F.lit(2) * F.col("b1") - (F.col("n") - 1) * F.col("b0")).cast(
        "bigint"
    )
    n3 = (
        F.lit(6) * F.col("b2")
        - F.lit(6) * (F.col("n") - 2) * F.col("b1")
        + (F.col("n") - 1) * (F.col("n") - 2) * F.col("b0")
    ).cast("bigint")
    m = m.withColumn("n2", n2).withColumn("n3", n3)
    return m.where((F.col("n") >= 3) & (F.col("n2") > 0)).select(
        "o_custkey",
        "n",
        F.round(
            F.col("b0").cast("double") / F.col("n").cast("double"), 6
        ).alias("l1_cents"),
        F.round(
            F.col("n2").cast("double")
            / (F.col("n") * (F.col("n") - 1)).cast("double"),
            6,
        ).alias("l2_cents"),
        F.round(
            F.col("n3").cast("double")
            / ((F.col("n") - 2) * F.col("n2")).cast("double"),
            6,
        ).alias("t3"),
    )


def q_runs_test(spark, sf_dir):
    """Per-user WALD-WOLFOWITZ runs test — is the daily event-count
    series random around its median, or does it alternate/cluster?
    Days are dichotomized against the user's LOWER-MEDIAN count
    (exact rank pick, no float percentile); median-equal days drop
    per the textbook test; runs are counted with one lag window; the
    z uses the exact integer E[R] and Var[R] formulas in one fixed
    double expression. Clustered activity (few long runs) goes
    negative, metronome alternation positive — the sequential
    complement to `order_gap_cv` and `autocorr_lag1`.

    All windows are partition-local on user_id; the median rank and
    the run-boundary lag reuse the same (user, day)-grouped table."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wm = Window.partitionBy("user_id").orderBy("c", "d")
    wn = Window.partitionBy("user_id")
    med = (
        daily.withColumn("rk", F.row_number().over(wm))
        .withColumn("nn", F.count(F.lit(1)).over(wn))
        .where(F.col("rk") == F.expr("(nn + 1) div 2"))
        .select("user_id", F.col("c").alias("med"))
    )
    cls = (
        daily.join(med, "user_id")
        .where(F.col("c") != F.col("med"))
        .select(
            "user_id",
            "d",
            (F.col("c") > F.col("med")).cast("bigint").alias("up"),
        )
    )
    wseq = Window.partitionBy("user_id").orderBy("d")
    runs = cls.withColumn(
        "new_run",
        F.when(
            F.lag("up").over(wseq).isNull()
            | (F.lag("up").over(wseq) != F.col("up")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    m = runs.groupBy("user_id").agg(
        F.sum("up").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("up")).cast("bigint").alias("n2"),
        F.sum("new_run").cast("bigint").alias("n_runs"),
    )
    n = F.col("n1") + F.col("n2")
    p2 = (F.lit(2) * F.col("n1") * F.col("n2")).cast("double")
    nd = n.cast("double")
    e_r = F.lit(1.0) + p2 / nd
    var_r = (
        p2
        * (p2 - nd)
        / (nd * nd * (nd - F.lit(1.0)))
    )
    return (
        m.where(
            (F.col("n1") > 0)
            & (F.col("n2") > 0)
            & (F.col("n1") + F.col("n2") >= 3)
        )
        .select(
            "user_id",
            "n1",
            "n2",
            "n_runs",
            F.round(
                (F.col("n_runs").cast("double") - e_r)
                / F.sqrt(var_r),
                6,
            ).alias("runs_z"),
        )
    )


_HILL_K = 32


def q_hill_tail(spark, sf_dir):
    """Per-source HILL tail-index estimate over document lengths —
    mean log-excess of the top-k order statistics over the (k+1)-th:
    hill = (1/k) sum ln(x_(i) / x_(k+1)), tail alpha = 1/hill. Web
    corpora are heavy-tailed in length; alpha ~ 1-2 means a few
    giant documents dominate token mass (sampling and packing both
    care). The extreme-value companion to `length_buckets`.

    Top-(k+1) per source via one partition-local rank window (k is
    a constant — the frame is bounded). Each log term is fixed to
    integer ppm before the cross-row sum so association order can't
    move the hash; ln's possible last-ulp libm differences sit ~10
    orders of magnitude below the ppm grid."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("x").desc(), F.col("doc_id")
    )
    top = (
        d.select("source", "doc_id", F.col("n_chars").cast("bigint").alias("x"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _HILL_K + 1)
    )
    thr = top.where(F.col("rk") == _HILL_K + 1).select(
        "source", F.col("x").alias("x_thresh")
    )
    terms = (
        top.where(F.col("rk") <= _HILL_K)
        .join(thr, "source")
        .where(F.col("x_thresh") > 0)
        .select(
            "source",
            "x_thresh",
            F.expr(
                "CAST(round(1e6 * ln(CAST(x AS DOUBLE)"
                " / CAST(x_thresh AS DOUBLE))) AS BIGINT)"
            ).alias("term_ppm"),
        )
    )
    agg = terms.groupBy("source", "x_thresh").agg(
        F.sum("term_ppm").cast("bigint").alias("sum_ppm"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    hill = F.col("sum_ppm").cast("double") / (
        F.col("k").cast("double") * F.lit(1e6)
    )
    return agg.where(
        (F.col("k") == _HILL_K) & (F.col("sum_ppm") > 0)
    ).select(
        "source",
        "k",
        "x_thresh",
        F.round(hill, 6).alias("hill"),
        F.round(F.lit(1.0) / hill, 6).alias("tail_alpha"),
    )


def q_dow_anova(spark, sf_dir):
    """Per-event-type one-way ANOVA of daily counts BY WEEKDAY —
    eta-squared (variance explained by day-of-week) and the F
    statistic: the quantitative 'how seasonal is this type really'
    behind `dow_seasonal`'s descriptive profile. eta2 near 1 =
    schedule-driven, near 0 = weekday-free.

    Observations are the per-(type, day) counts; groups are the <= 7
    weekdays, so the group table is tiny. SSB and SST come from the
    standard sum-of-squares identities with every S_g^2/n_g term
    fixed to integer ppm (a sum of <= 7 such terms plus the grand
    S^2/N term — exact BIGINT arithmetic end to end, association
    order cannot move the hash); F is one fixed double expression
    from the two ppm sums."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("dow", F.expr("pmod(d + 3, 7)").cast("bigint"))
    )
    grp = daily.groupBy("event_type", "dow").agg(
        F.sum("c").cast("bigint").alias("sg"),
        F.count(F.lit(1)).cast("bigint").alias("ng"),
    )
    gterm = grp.select(
        "event_type",
        F.expr(
            "CAST(round(1e6 * (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))"
            " / CAST(ng AS DOUBLE)) AS BIGINT)"
        ).alias("g_ppm"),
        "ng",
    ).groupBy("event_type").agg(
        F.sum("g_ppm").cast("bigint").alias("sum_g_ppm"),
        F.count(F.lit(1)).cast("bigint").alias("k_dows"),
        F.sum("ng").cast("bigint").alias("n_days"),
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    m = gterm.join(tot, "event_type").withColumn(
        "grand_ppm",
        F.expr(
            "CAST(round(1e6 * (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
            " / CAST(n_days AS DOUBLE)) AS BIGINT)"
        ),
    )
    ssb = (F.col("sum_g_ppm") - F.col("grand_ppm")).cast("bigint")
    sst = (
        F.lit(1_000_000) * F.col("s2") - F.col("grand_ppm")
    ).cast("bigint")
    m = m.withColumn("ssb_ppm", ssb).withColumn("sst_ppm", sst)
    fstat = (
        F.col("ssb_ppm").cast("double")
        / (F.col("k_dows") - 1).cast("double")
    ) / (
        (F.col("sst_ppm") - F.col("ssb_ppm")).cast("double")
        / (F.col("n_days") - F.col("k_dows")).cast("double")
    )
    return m.where(
        (F.col("k_dows") >= 2)
        & (F.col("sst_ppm") > F.col("ssb_ppm"))
        & (F.col("n_days") > F.col("k_dows"))
    ).select(
        "event_type",
        "n_days",
        "k_dows",
        F.round(
            F.col("ssb_ppm").cast("double")
            / F.col("sst_ppm").cast("double"),
            6,
        ).alias("eta2"),
        F.round(fstat, 6).alias("f_stat"),
    )


def q_fano_factor(spark, sf_dir):
    """Per-event-type FANO FACTOR (index of dispersion) of daily
    counts — sample variance over mean, 1.0 for a Poisson process,
    above 1 bursty, below 1 metronomic. The one-number overdispersion
    summary that decides whether a Poisson rate model is usable at
    all; companion to `hourly_uniformity` (within-day shape) and
    `autocorr_lag1` (serial order).

    Days observed per type are the observations (dormant days carry
    no row — documented). The dispersion is the exact-integer
    identity (N*S2 - S^2) / ((N-1)*S) — one division, everything
    else BIGINT; mean is S/N."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    return m.where(F.col("n_days") >= 2).select(
        "event_type",
        "n_days",
        "s",
        F.round(
            F.col("s").cast("double") / F.col("n_days").cast("double"),
            6,
        ).alias("mean_daily"),
        F.round(
            (F.col("n_days") * F.col("s2") - F.col("s") * F.col("s"))
            .cast("double")
            / ((F.col("n_days") - 1) * F.col("s")).cast("double"),
            6,
        ).alias("fano"),
    )


def q_jsd_drift(spark, sf_dir):
    """Per-source JENSEN-SHANNON divergence between the source's
    token distribution and the REST of the corpus — the bounded
    [0, ln 2], symmetric drift statistic next to `tvd_drift`'s L1
    and `psi_drift`'s bins; JSD is what dedup/mixture papers
    actually report.

    Same (source, token) agg + complement identity as tvd_drift:
    tokens the source never emits contribute exactly
    (ln 2) * q(t) each, so their total is (ln 2)*(n_r - cr_seen)/n_r
    in closed form and only source-seen tokens materialize. Each
    seen token's p*ln(p/m) + q*ln(q/m) is one fixed double
    expression fixed to integer ppb before the cross-token sum —
    association order cannot move the hash."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    ).where(F.col("token") != "")
    st = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_s")
    )
    tot = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_all")
    )
    n_s = st.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    n_all = tot.agg(F.sum("c_all").alias("n_all"))
    j = (
        st.join(tot, "token")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(n_all))
        .select(
            "source",
            "n_s",
            (F.col("n_all") - F.col("n_s")).alias("n_r"),
            "c_s",
            (F.col("c_all") - F.col("c_s")).alias("c_r"),
        )
    )
    term = F.expr(
        "CAST(round(1e9 * ("
        "  (CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE))"
        "  * ln((CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE))"
        "       / ((CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE)"
        "           + CAST(c_r AS DOUBLE) / CAST(n_r AS DOUBLE)) / 2))"
        "  + CASE WHEN c_r > 0 THEN"
        "      (CAST(c_r AS DOUBLE) / CAST(n_r AS DOUBLE))"
        "      * ln((CAST(c_r AS DOUBLE) / CAST(n_r AS DOUBLE))"
        "           / ((CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE)"
        "               + CAST(c_r AS DOUBLE) / CAST(n_r AS DOUBLE))"
        "              / 2))"
        "    ELSE 0.0 END"
        ")) AS BIGINT)"
    )
    per = (
        j.withColumn("term_ppb", term)
        .groupBy("source", "n_s", "n_r")
        .agg(
            F.sum("term_ppb").cast("bigint").alias("sum_ppb"),
            F.sum("c_r").cast("bigint").alias("cr_seen"),
        )
    )
    jsd = (
        F.col("sum_ppb").cast("double") / F.lit(1e9)
        + F.lit(0.6931471805599453)
        * (F.col("n_r") - F.col("cr_seen")).cast("double")
        / F.col("n_r").cast("double")
    ) / F.lit(2.0)
    return per.where(F.col("n_r") > 0).select(
        "source", "n_s", F.round(jsd, 6).alias("jsd")
    )
