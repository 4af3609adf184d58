"""Feature-eng packs #24-#27: count-min, TVD drift, rank/robust statistics, corpus-comparison, repetition filters.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import SESSION_GAP_S, _t, _us  # noqa: F401


# --------------------------------------------------------------------------
# Feature-eng pack #24: count-min sketch, total-variation drift,
# weighted median, interval union, Welch t, co-occurrence lift
# --------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 64  # columns per row
_CMS_PROBES = 20  # audit the heaviest users


def q_count_min(spark, sf_dir):
    """Manual Count-Min sketch of per-user event frequency — the
    mergeable point-frequency companion to ``q_hll_distinct``'s
    cardinality registers and ``heavy_hitters``' exact candidates:
    4 x 64 integer registers, each event adds 1 to one column per
    hash row, and a point estimate is the MIN over the 4 rows (always
    an over-estimate; the exact count rides along as the audit
    column).

    Register state is a pure sum, so any partitioning / merge order
    gives identical registers (map-side combinable at 10^12 rows);
    the hash is a content-addressed md5 prefix (engine-portable, no
    RNG). Probe set = the 20 heaviest users by exact count (count
    desc, user_id tie-break), so output is deterministic."""
    ev = _t(spark, sf_dir, "events")
    rows = spark.range(_CMS_D).select(F.col("id").cast("int").alias("r"))

    def _col(r, uid):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.encode(
                            F.concat_ws(
                                ":",
                                r.cast("string"),
                                uid.cast("string"),
                            ),
                            "utf-8",
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % _CMS_W
        )

    regs = (
        ev.select("user_id")
        .crossJoin(F.broadcast(rows))
        .select("r", _col(F.col("r"), F.col("user_id")).alias("c"))
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("reg"))
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_n")
    )
    # TakeOrderedAndProject (per-partition heap + driver merge of 20
    # rows/partition), never a global single-partition window
    probes = exact.orderBy(
        F.col("exact_n").desc(), F.col("user_id")
    ).limit(_CMS_PROBES)
    cells = probes.crossJoin(F.broadcast(rows)).select(
        "user_id",
        "exact_n",
        "r",
        _col(F.col("r"), F.col("user_id")).alias("c"),
    )
    return (
        cells.join(F.broadcast(regs), ["r", "c"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("reg").alias("cms_est"))
    )


def q_tvd_drift(spark, sf_dir):
    """Per-source total-variation distance between the source's token
    distribution and the REST of the corpus — the sharp, exactly-
    computable drift statistic (TVD = half the L1 gap) complementing
    ``ks_drift``/``psi_drift`` (which bin values) and ``mutual_info``.

    Exact by cross-multiplication: with c_s(t)/n_s and c_r(t)/n_r the
    source and rest counts, sum_t |c_s(t)*n_r - c_r(t)*n_s| is a pure
    BIGINT (token counts < 2^31, corpus sizes < 2^31 — the product
    stays under 2^62), and TVD does ONE double division at the end —
    no per-term float sum whose association order could drift across
    engines. One token explode, one (source, token) agg, one
    broadcast-sized join on token."""
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
            F.col("c_s"),
            (F.col("c_all") - F.col("c_s")).alias("c_r"),
        )
    )
    # tokens the source never emits still contribute c_r(t) * n_s to
    # the L1 numerator; fold them in via the complement identity
    # sum_{t not in source} c_r(t) = n_r - sum_{t in source} c_r(t),
    # so the explode only ever materializes (source, token) rows the
    # source actually has.
    per = j.groupBy("source", "n_s", "n_r").agg(
        F.sum(
            F.abs(F.col("c_s") * F.col("n_r") - F.col("c_r") * F.col("n_s"))
        ).alias("num_seen"),
        F.sum(F.col("c_r")).alias("cr_seen"),
    )
    return per.select(
        "source",
        "n_s",
        (
            F.col("num_seen")
            + (F.col("n_r") - F.col("cr_seen")) * F.col("n_s")
        ).alias("l1_num"),
        F.round(
            (
                F.col("num_seen")
                + (F.col("n_r") - F.col("cr_seen")) * F.col("n_s")
            ).cast("double")
            / (
                2.0
                * F.col("n_s").cast("double")
                * F.col("n_r").cast("double")
            ),
            6,
        ).alias("tvd"),
    )


def q_weighted_median(spark, sf_dir):
    """Per-event_type weighted median of ``value`` with deterministic
    integer weights (w = user_id % 7 + 1 — a stand-in for sampling /
    importance weights): the smallest value whose cumulative weight
    reaches half the total, the weighted counterpart of the exact
    percentile family.

    The selection predicate is pure integers (2*cum_w >= tot_w over a
    (value, event_id)-ordered cumulative window), so no float
    comparison can flip the winner; the reported median is a raw
    column value — no arithmetic at all. One sort per group, one
    window pass, one row per group out."""
    ev = _t(spark, sf_dir, "events")
    wtd = ev.select(
        "event_type",
        "value",
        "event_id",
        (F.col("user_id") % 7 + 1).cast("bigint").alias("w"),
    )
    wc = Window.partitionBy("event_type").orderBy("value", "event_id")
    wall = Window.partitionBy("event_type")
    cum = wtd.select(
        "event_type",
        "value",
        F.sum("w")
        .over(wc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_w"),
        F.sum("w").over(wall).alias("tot_w"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
    ).where(F.col("cum_w") * 2 >= F.col("tot_w"))
    wpick = Window.partitionBy("event_type").orderBy("cum_w", "value")
    return (
        cum.withColumn("pk", F.row_number().over(wpick))
        .where(F.col("pk") == 1)
        .select(
            "event_type",
            F.col("value").alias("median_v"),
            "tot_w",
            "n",
        )
    )


def q_interval_union(spark, sf_dir):
    """Per-user union length of overlapping activity intervals — the
    classic gaps-and-islands merge (total active time, ad-break
    coverage, crawl-window dedup): each event opens an interval of
    ``round(value*100) * 10ms``, overlapping intervals merge, and the
    answer is the summed length of the merged islands.

    All integer microseconds end-to-end: an island break is
    ``start > max(previous ends)`` (a cumulative window max over
    exact BIGINTs), island ids are a cumulative sum of the break
    indicator, and the union is sum(max_end - min_start) per island.
    One sort per user, two window passes, one agg — no self-join."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        _us("ts").alias("s"),
        (
            _us("ts")
            + F.round(F.col("value") * 100, 0).cast("bigint") * 10000
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    isl = brk.select(
        "user_id",
        "s",
        "e",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).alias("union_us"),
    )


def q_welch_t(spark, sf_dir):
    """Per-day Welch two-sample t statistic comparing purchase vs
    click ``value`` — the unequal-variance A/B test behind every
    launch decision, and the location-test companion to
    ``best_threshold``'s distribution split.

    Moments are EXACT integers (sum of cents and of cents²; cents² <
    2^29 so a billion-row day stays under 2^63), and the t statistic
    is one fixed expression tree over those integers — means, sample
    variances, one sqrt (correctly rounded per IEEE-754, unlike
    transcendentals) — evaluated identically by both engines. Days
    with fewer than two observations on either side are excluded
    (variance undefined)."""
    ev = _t(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100, 0).cast("bigint")
    m = (
        ev.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.dayofmonth("ts").cast("int").alias("day"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("is_p"),
            c.alias("c"),
        )
        .groupBy("day")
        .agg(
            F.sum("is_p").cast("bigint").alias("n1"),
            F.sum(F.col("is_p") * F.col("c")).alias("s1"),
            F.sum(F.col("is_p") * F.col("c") * F.col("c")).alias("q1"),
            F.sum(1 - F.col("is_p")).cast("bigint").alias("n2"),
            F.sum((1 - F.col("is_p")) * F.col("c")).alias("s2"),
            F.sum((1 - F.col("is_p")) * F.col("c") * F.col("c")).alias(
                "q2"
            ),
        )
        .where((F.col("n1") >= 2) & (F.col("n2") >= 2))
    )
    # fixed expression tree: m_i = s_i/n_i, v_i = (q_i - s_i*m_i)/(n_i-1)
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    m2 = F.col("s2").cast("double") / F.col("n2").cast("double")
    v1 = (F.col("q1").cast("double") - F.col("s1").cast("double") * m1) / (
        F.col("n1").cast("double") - 1.0
    )
    v2 = (F.col("q2").cast("double") - F.col("s2").cast("double") * m2) / (
        F.col("n2").cast("double") - 1.0
    )
    t = (m1 - m2) / F.sqrt(
        v1 / F.col("n1").cast("double") + v2 / F.col("n2").cast("double")
    )
    return m.select(
        "day", "n1", "n2", F.round(t, 6).alias("welch_t")
    )


def q_cooccur_lift(spark, sf_dir):
    """Event-type co-occurrence lift over users (market-basket pair
    mining at the account level): for each unordered pair of event
    types, the number of users exhibiting both, and the lift
    n_co * n_users / (n_a * n_b) — >1 means the behaviors attract,
    <1 they repel.

    The stream first collapses to DISTINCT (user, type) — the
    map-side combine that makes the self-join input per-user-bounded
    (at most |type|=5 rows per user regardless of event volume) — so
    the pair join is tiny even at 10^12 events. Lift is exact
    integers ratioed by one double divide."""
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ut.select("user_id").distinct().count()
    per = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t")
    )
    pairs = (
        ut.alias("a")
        .join(
            ut.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("etype_a"),
            F.col("b.event_type").alias("etype_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_co"))
    )
    return (
        pairs.join(
            F.broadcast(per.withColumnRenamed("n_t", "n_a")),
            F.col("etype_a") == F.col("event_type"),
        )
        .drop("event_type")
        .join(
            F.broadcast(per.withColumnRenamed("n_t", "n_b")),
            F.col("etype_b") == F.col("event_type"),
        )
        .drop("event_type")
        .select(
            "etype_a",
            "etype_b",
            "n_co",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_co") * F.lit(int(n_users))).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


# -- feature-eng pack #25: rank/robust statistics + paired tests ----------

_KT_K = 200  # kendall_tau per-group sample cap (bounds the pair join)
_HL_K = 150  # hodges_lehmann per-group sample cap
_NDCG_K = 10

import math as _math  # noqa: E402  (scoped to the NDCG literal block)

# NDCG discounts as INTEGER literals (1e6/log2(rank+1), rounded once on
# the driver at import time) so neither engine evaluates a
# transcendental: DCG/IDCG become exact BIGINT sums and the only float
# op is the final division. _NDCG_CUM[i] = ideal DCG with i relevant.
_NDCG_DISC = tuple(
    round(1_000_000 / _math.log2(r + 1)) for r in range(1, _NDCG_K + 1)
)
_NDCG_CUM = tuple(
    sum(_NDCG_DISC[: i + 1]) for i in range(_NDCG_K)
)


def q_kendall_tau(spark, sf_dir):
    """Per-source Kendall tau-b between ingestion order (doc_id rank)
    and document length — the nonparametric length-drift trend test
    companion to ``spearman_corr`` (which ranks both sides) and
    ``grouped_ols`` (which fits a slope): tau counts pair inversions,
    so it is exact in integers until the final normalization.

    The pair join is bounded: each source contributes its first
    ``_KT_K`` docs by doc_id (one row_number window), so the self-join
    is at most K(K-1)/2 pairs PER GROUP and embarrassingly parallel
    across sources — at 10^12 docs the cost is groups x K^2, never
    corpus^2. The rank axis (rn by doc_id) has no ties, so every pair
    is concordant, discordant, or a length tie, and
    tau_b = (C - D) / sqrt((C+D+T) * (C+D)) — three BIGINT counts,
    one sqrt at the end."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    samp = (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KT_K)
        .select("source", "rn", "n_chars")
    )
    a = samp.alias("a")
    b = samp.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.rn") < F.col("b.rn")),
    ).select(
        F.col("a.source").alias("source"),
        F.when(F.col("b.n_chars") > F.col("a.n_chars"), 1)
        .otherwise(0)
        .alias("is_c"),
        F.when(F.col("b.n_chars") < F.col("a.n_chars"), 1)
        .otherwise(0)
        .alias("is_d"),
        F.when(F.col("b.n_chars") == F.col("a.n_chars"), 1)
        .otherwise(0)
        .alias("is_t"),
    )
    g = pairs.groupBy("source").agg(
        F.sum("is_c").cast("bigint").alias("concordant"),
        F.sum("is_d").cast("bigint").alias("discordant"),
        F.sum("is_t").cast("bigint").alias("ties"),
    )
    cd = F.col("concordant") + F.col("discordant")
    n0 = cd + F.col("ties")
    tau = (
        (F.col("concordant") - F.col("discordant")).cast("double")
        / F.sqrt(n0.cast("double") * cd.cast("double"))
    )
    return g.where(cd > 0).select(
        "source",
        "concordant",
        "discordant",
        "ties",
        F.round(tau, 6).alias("tau_b"),
    )


def q_two_prop_z(spark, sf_dir):
    """Per-event-type two-proportion z-test of the high-value share
    (value >= 50) against the REST of the corpus — the pooled-variance
    conversion-rate test that complements ``welch_t`` (means) and
    ``psi_drift``/``tvd_drift`` (distributions).

    One groupBy produces per-type (x1, n1); the rest-side counts are
    the broadcast global totals minus the type's own — no second scan,
    no self-join. z is a fixed expression tree over four BIGINTs with
    one sqrt; map-side combinable all the way at 10^12 rows."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("value") >= 50.0, 1).otherwise(0))
        .cast("bigint")
        .alias("x1"),
    )
    tot = per.agg(
        F.sum("n1").alias("n_all"), F.sum("x1").alias("x_all")
    )
    j = per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "x1",
        "n1",
        (F.col("x_all") - F.col("x1")).cast("bigint").alias("x2"),
        (F.col("n_all") - F.col("n1")).cast("bigint").alias("n2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("x2").cast("double") / F.col("n2").cast("double")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    z = (p1 - p2) / F.sqrt(
        pp
        * (1.0 - pp)
        * (
            1.0 / F.col("n1").cast("double")
            + 1.0 / F.col("n2").cast("double")
        )
    )
    return j.where((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "event_type", "x1", "n1", "x2", "n2",
        F.round(z, 6).alias("z_score"),
    )


def q_ndcg_at_k(spark, sf_dir):
    """Per-user NDCG@10 treating the value-descending event ranking as
    the system output and purchases as the relevant items — the graded
    ranking metric completing the eval family (``eval_rank_stats``,
    ``roc_auc``, ``pr_auc``).

    Discounts are INTEGER literals (1e6/log2(rank+1), computed once on
    the driver — neither engine runs a transcendental), so DCG and
    IDCG are exact BIGINT sums joined in from two <=10-row broadcast
    lookup tables; the only float op is the final division. Per user:
    one ranking window, one top-10 slice, one broadcast join — group-
    local and linear in events at any scale."""
    ev = _t(spark, sf_dir, "events")
    disc = spark.createDataFrame(
        [(r, d) for r, d in enumerate(_NDCG_DISC, 1)],
        "rnk int, disc bigint",
    )
    cum = spark.createDataFrame(
        [(r, c) for r, c in enumerate(_NDCG_CUM, 1)],
        "nrel_cap int, idcg_s bigint",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    ranked = ev.select(
        "user_id",
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("rel"),
    ).withColumn("rnk", F.row_number().over(w))
    per = (
        ranked.where(F.col("rnk") <= _NDCG_K)
        .join(F.broadcast(disc), "rnk")
        .groupBy("user_id")
        .agg(F.sum(F.col("rel") * F.col("disc")).alias("dcg_s"))
    )
    nrel = ranked.groupBy("user_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel")
    )
    out = (
        per.join(nrel, "user_id")
        .where(F.col("n_rel") > 0)
        .withColumn(
            "nrel_cap",
            F.least(F.col("n_rel"), F.lit(_NDCG_K)).cast("int"),
        )
        .join(F.broadcast(cum), "nrel_cap")
    )
    return out.select(
        "user_id",
        "n_rel",
        F.col("dcg_s").cast("bigint").alias("dcg_s"),
        F.round(
            F.col("dcg_s").cast("double")
            / F.col("idcg_s").cast("double"),
            6,
        ).alias("ndcg10"),
    )


def q_hodges_lehmann(spark, sf_dir):
    """Per-event-type Hodges-Lehmann location estimator — the median
    of all pairwise Walsh averages, the robust (breakdown 29%)
    companion to ``weighted_median`` and ``winsorize``: outliers move
    it far less than the mean, ties break deterministically.

    Bounded like ``kendall_tau``: each group contributes its first
    ``_HL_K`` events by event_id, so the Walsh-pair join is at most
    K(K+1)/2 rows per group. Values become exact integer cents, a
    Walsh pair carries the SUM (2x the average, still integer), and
    the lower median is picked by row_number — no float enters until
    the single final division by 200 (cents x 2 -> dollars)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    samp = (
        ev.select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _HL_K)
        .select("event_type", "rn", "c")
    )
    a = samp.alias("a")
    b = samp.alias("b")
    walsh = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.rn") <= F.col("b.rn")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("a.c") + F.col("b.c")).alias("s"),
        F.col("a.rn").alias("i"),
        F.col("b.rn").alias("j"),
    )
    wall = Window.partitionBy("event_type")
    wpick = Window.partitionBy("event_type").orderBy("s", "i", "j")
    picked = (
        walsh.withColumn(
            "m_pairs", F.count(F.lit(1)).over(wall).cast("bigint")
        )
        .withColumn("pk", F.row_number().over(wpick))
        .where(
            F.col("pk")
            == F.expr("CAST((m_pairs + 1) DIV 2 AS BIGINT)")
        )
    )
    return picked.select(
        "event_type",
        "m_pairs",
        F.round(F.col("s").cast("double") / 200.0, 6).alias("hl_est"),
    )


def q_mcnemar_test(spark, sf_dir):
    """Per-event-type McNemar paired test of user activity in the
    first half of the month (day <= 15) vs the second — the paired
    counterpart of ``two_prop_z`` (which treats the sides as
    independent): only the discordant users (active in exactly one
    half) carry information, chi2 = (b - c)^2 / (b + c).

    One groupBy to per-(type, user) H1/H2 indicator bits, one groupBy
    to the 2x2 discordant cells — both map-side combinable; the
    statistic is exact integers with one final division."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("event_type", "user_id").agg(
        F.max(
            F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0)
        ).alias("h1"),
        F.max(
            F.when(F.dayofmonth("ts") >= 16, 1).otherwise(0)
        ).alias("h2"),
    )
    g = per.groupBy("event_type").agg(
        F.sum(F.col("h1") * F.col("h2")).cast("bigint").alias("n_both"),
        F.sum(F.col("h1") * (1 - F.col("h2")))
        .cast("bigint")
        .alias("n_h1_only"),
        F.sum((1 - F.col("h1")) * F.col("h2"))
        .cast("bigint")
        .alias("n_h2_only"),
    )
    bc = F.col("n_h1_only") + F.col("n_h2_only")
    chi2 = (
        (F.col("n_h1_only") - F.col("n_h2_only")).cast("double")
        * (F.col("n_h1_only") - F.col("n_h2_only")).cast("double")
        / bc.cast("double")
    )
    return g.where(bc > 0).select(
        "event_type",
        "n_both",
        "n_h1_only",
        "n_h2_only",
        F.round(chi2, 6).alias("mcnemar_chi2"),
    )


def q_chao1_richness(spark, sf_dir):
    """Per-source Chao1 vocabulary-richness estimate — how many
    distinct tokens the source WOULD show with unbounded sampling,
    from the singleton/doubleton counts (bias-corrected form,
    f1(f1-1)/(2(f2+1)), defined even when f2 = 0). The
    coverage-extrapolation companion to ``vocab_coverage`` (which
    measures the observed curve) and ``hll_distinct`` (which
    approximates s_obs).

    One token explode, one (source, token) count, one per-source
    agg over tiny integers — the token-frequency table is the only
    shuffle and it is map-side combinable at 10^12 docs."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    ).where(F.col("token") != "")
    tf = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    g = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    chao1 = F.col("s_obs").cast("double") + (
        F.col("f1").cast("double")
        * (F.col("f1").cast("double") - 1.0)
    ) / (2.0 * (F.col("f2").cast("double") + 1.0))
    return g.select(
        "source", "s_obs", "f1", "f2",
        F.round(chao1, 6).alias("chao1"),
    )


# -- feature-eng pack #26: corpus-comparison statistics -------------------

_BQ_CAP = 2000  # bayes_shrunk_quality length cap (bounds the moments)
_BQ_K = 50  # empirical-Bayes prior strength (pseudo-doc count)
_BURST_MIN = 50  # token_burstiness min total count (bounds output)
_TOPK_V = 10  # topk_overlap list depth


def q_bayes_shrunk_quality(spark, sf_dir):
    """Per-source empirical-Bayes quality score — the raw mean of a
    per-doc quality proxy (length capped at ``_BQ_CAP`` chars) shrunk
    toward the corpus mean with prior strength ``_BQ_K`` pseudo-docs:
    small sources move most, big sources barely — the standard
    smoothing behind per-domain mixture weights (``domain_weights``)
    when some domains have 3 docs and others 3 billion.

    Sums are exact BIGINTs (capped quality <= 2000, so a 4-billion-doc
    source stays under 2^62); the corpus mean and the shrunk mean are
    one fixed expression tree with two divisions — map-side combinable
    end to end."""
    d = _t(spark, sf_dir, "documents")
    q = F.least(F.col("n_chars"), F.lit(_BQ_CAP)).cast("bigint")
    per = d.select("source", q.alias("q")).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sum_q"),
    )
    tot = per.agg(
        F.sum("n").alias("n_all"), F.sum("sum_q").alias("s_all")
    )
    j = per.crossJoin(F.broadcast(tot))
    raw = F.col("sum_q").cast("double") / F.col("n").cast("double")
    prior = F.col("s_all").cast("double") / F.col("n_all").cast("double")
    shrunk = (
        F.col("sum_q").cast("double") + F.lit(float(_BQ_K)) * prior
    ) / (F.col("n").cast("double") + F.lit(float(_BQ_K)))
    return j.select(
        "source",
        "n",
        F.round(raw, 6).alias("raw_mean"),
        F.round(shrunk, 6).alias("shrunk_mean"),
    )


def q_source_vocab_jaccard(spark, sf_dir):
    """Pairwise Jaccard similarity between source VOCABULARIES (token
    sets) — which crawl sources speak the same language, the set-based
    corpus-similarity matrix behind mixture design and leakage checks
    (``dedup_crosscorpus`` is the doc-level analog).

    The (source, token) distinct table is the only shuffle; the pair
    intersection is a self-join keyed ON TOKEN (never all-pairs of
    docs), and per-source set sizes join back broadcast. With S
    sources the output is S(S-1)/2 rows — at web scale S is thousands
    of hosts while the token tables stay vocabulary-sized, orders of
    magnitude below the corpus."""
    d = _t(spark, sf_dir, "documents")
    st = (
        d.select(
            "source",
            F.explode(
                F.split(F.trim(F.col("text")), "\\s+")
            ).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    sizes = st.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    a = st.alias("a")
    b = st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    j = (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("sz", "n_a")),
            F.col("src_a") == F.col("source"),
        )
        .drop("source")
        .join(
            F.broadcast(sizes.withColumnRenamed("sz", "n_b")),
            F.col("src_b") == F.col("source"),
        )
        .drop("source")
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return j.select(
        "src_a", "src_b", "n_a", "n_b", "n_inter",
        F.round(jac, 6).alias("jaccard"),
    )


def q_source_centroid_sim(spark, sf_dir):
    """Pairwise cosine similarity between source TF CENTROIDS — the
    frequency-weighted companion to ``source_vocab_jaccard``: two
    sources can share a vocabulary yet use it with very different
    emphasis. Dot products and squared norms are exact BIGINT sums of
    token-count products (counts < 2^20, vocab < 2^20 — the dot stays
    under 2^62), so the only float op is the final sqrt-normalized
    division.

    Same scale shape as the Jaccard: one (source, token) count table,
    one self-join keyed on token, broadcast norms back — never a doc-
    level pair join."""
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
    norms = tf.groupBy("source").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("nrm2")
    )
    a = tf.alias("a")
    b = tf.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(
            F.sum(F.col("a.tf") * F.col("b.tf"))
            .cast("bigint")
            .alias("dot")
        )
    )
    j = (
        dots.join(
            F.broadcast(norms.withColumnRenamed("nrm2", "nrm2_a")),
            F.col("src_a") == F.col("source"),
        )
        .drop("source")
        .join(
            F.broadcast(norms.withColumnRenamed("nrm2", "nrm2_b")),
            F.col("src_b") == F.col("source"),
        )
        .drop("source")
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("nrm2_a").cast("double"))
        * F.sqrt(F.col("nrm2_b").cast("double"))
    )
    return j.select(
        "src_a", "src_b", "dot",
        F.round(cos, 6).alias("cosine"),
    )


def q_token_burstiness(spark, sf_dir):
    """Per-token burstiness (Fano factor of per-doc counts, zeros
    included): content words clump — a token appearing 100 times in 3
    docs is a topic marker, 100 times across 100 docs is a function
    word. Fano = var/mean over ALL N docs = (N*q - s^2) / (N*s) with
    s = total count and q = sum of squared per-doc counts — exact
    BIGINT numerator/denominator, one division, tokens under
    ``_BURST_MIN`` total occurrences excluded (keeps the estimate
    stable AND the output bounded without a float-ordered limit).

    One (doc, token) count, one per-token agg, one broadcast N —
    map-side combinable; the zeros never materialize."""
    d = _t(spark, sf_dir, "documents")
    dt = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.col("text")), "\\s+")
            ).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    per = (
        dt.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_present"),
            F.sum("c").cast("bigint").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
        )
        .where(F.col("s") >= _BURST_MIN)
        .crossJoin(F.broadcast(n_docs))
    )
    fano = (
        F.col("n_docs") * F.col("q") - F.col("s") * F.col("s")
    ).cast("double") / (F.col("n_docs") * F.col("s")).cast("double")
    return per.select(
        "token", "n_present", "s",
        F.round(fano, 6).alias("fano"),
    )


def q_token_novelty(spark, sf_dir):
    """Per-document novelty rate — the fraction of the doc's distinct
    tokens making their FIRST corpus appearance in this doc (by
    doc_id order): the curriculum signal behind 'novel content first'
    ordering (``curriculum_order``) and the incremental face of
    ``vocab_coverage``.

    First appearance is min(doc_id) per token — one agg — and the
    per-doc rate is a distinct-token count joined against it; both
    shuffles are vocabulary-keyed and map-side combinable. No window
    over the whole corpus, no cumulative state."""
    d = _t(spark, sf_dir, "documents")
    dt = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.col("text")), "\\s+")
            ).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )
    first = dt.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    j = dt.join(first, "token").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(
            F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_new"),
    )
    return j.select(
        "doc_id",
        "n_types",
        "n_new",
        F.round(
            F.col("n_new").cast("double")
            / F.col("n_types").cast("double"),
            6,
        ).alias("novelty"),
    )


def q_topk_overlap(spark, sf_dir):
    """Per-source overlap@K of the source's top-``_TOPK_V`` tokens
    (by count, token tie-break) against the GLOBAL top-K — a one-
    number vocabulary-drift gauge per source: 1.0 means the source's
    head is the corpus head, 0.0 means a private vocabulary. The
    rank-list face of ``tvd_drift``.

    Both top-K lists come from count windows with deterministic
    tie-breaks; the global list is K rows and broadcasts into a
    left-semi-style match counted per source. The only corpus-sized
    shuffle is the (source, token) count."""
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
    ws = Window.partitionBy("source").orderBy(
        F.col("tf").desc(), F.col("token")
    )
    src_top = (
        tf.withColumn("rk", F.row_number().over(ws))
        .where(F.col("rk") <= _TOPK_V)
        .select("source", "token")
    )
    gl = tf.groupBy("token").agg(F.sum("tf").alias("g"))
    # TakeOrderedAndProject (per-partition heap + K-row driver merge),
    # never a global single-partition window
    gl_top = (
        gl.orderBy(F.col("g").desc(), F.col("token"))
        .limit(_TOPK_V)
        .select(F.col("token").alias("g_token"))
    )
    j = src_top.join(
        F.broadcast(gl_top),
        F.col("token") == F.col("g_token"),
        "left",
    )
    out = j.groupBy("source").agg(
        F.sum(
            F.when(F.col("g_token").isNotNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_shared")
    )
    return out.select(
        "source",
        "n_shared",
        F.round(
            F.col("n_shared").cast("double") / float(_TOPK_V), 6
        ).alias("overlap_at_k"),
    )


# -- feature-eng pack #27: repetition-quality filters ----------------------
#
# Token-level repetition signals in the Gopher / RefinedWeb family
# (Rae+21 §A1.1, Penedo+23 §4 — public methods), beyond the dup-token
# and dup-bigram fractions `quality_repetition` already ships. Every
# key is an exact BIGINT aggregation tree with one final float
# division (or a log of an exact integer ratio), so the DuckDB twin
# hash-matches bit-for-bit — no order-dependent float sums.

_BC_K = 10  # bigram_concentration head depth


def q_top_bigram_frac(spark, sf_dir):
    """Per-document TOP-bigram share — the count of the single most
    frequent word 2-gram over the doc's total 2-grams (Gopher's
    'fraction of characters in the most common n-gram' in token
    units). `quality_repetition`'s dup_bigram_frac says HOW MUCH of
    the doc repeats; this says whether one phrase dominates — the
    signature of navigation boilerplate and keyword-stuffing spam.

    Ties break on the lexicographically smallest bigram, so the
    winner is deterministic. Bigrams come from a JVM higher-order
    transform (no Python), the per-(doc, bigram) count is one hash
    agg, and the winner is a row_number window inside the doc — at
    100 TB both shuffles key on doc_id and AQE coalesces."""
    d = _t(spark, sf_dir, "documents")
    bi = (
        d.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            (F.size("toks") - 1).cast("bigint").alias("n_bigrams"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ',"
                    " element_at(toks, i + 1)))"
                )
            ).alias("bigram"),
        )
        .groupBy("doc_id", "n_bigrams", "bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("bigram")
    )
    return (
        bi.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("bigram").alias("top_bigram"),
            F.col("cnt").alias("top_cnt"),
            "n_bigrams",
            F.round(
                F.col("cnt").cast("double")
                / F.col("n_bigrams").cast("double"),
                6,
            ).alias("top_frac"),
        )
    )


def q_bigram_concentration(spark, sf_dir):
    """Per-SOURCE bigram head concentration — the mass of the
    source's ``_BC_K`` most frequent word 2-grams over all its
    2-grams: a template/boilerplate detector at the domain level
    (a scraped forum whose every page repeats the same chrome has a
    fat head; organic prose doesn't). The source-level companion of
    ``top_bigram_frac``.

    Head membership ties break lexicographically. One corpus-sized
    (source, bigram) count shuffle, a K-row window head per source,
    and an exact BIGINT mass ratio."""
    d = _t(spark, sf_dir, "documents")
    bi = (
        d.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+"))
        .where(F.size("toks") >= 2)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ',"
                    " element_at(toks, i + 1)))"
                )
            ).alias("bigram"),
        )
        .groupBy("source", "bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("bigram")
    )
    per = bi.withColumn("rk", F.row_number().over(w)).groupBy(
        "source"
    ).agg(
        F.sum("cnt").cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("rk") <= _BC_K, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("head_mass"),
    )
    return per.select(
        "source",
        "n_total",
        "head_mass",
        F.round(
            F.col("head_mass").cast("double")
            / F.col("n_total").cast("double"),
            6,
        ).alias("concentration"),
    )


def q_heaps_two_point(spark, sf_dir):
    """Per-source Heaps'-law exponent from TWO cumulative points —
    vocabulary V grows ~ N^beta with corpus size N, so
    beta ≈ ln(V2/V1) / ln(N2/N1) where point 1 is the source's first
    half of documents (by doc_id) and point 2 is all of them. Low
    beta = the source stopped contributing new vocabulary (template
    farm); beta near 1 = open vocabulary (UGC, code). The slope face
    of ``vocab_coverage``'s curve and ``token_novelty``'s rate.

    Both points are exact BIGINT counts (token totals and distinct
    types, with first-half membership as a max() flag per (source,
    token)), so the only float math is one log of an exact ratio —
    no per-doc float accumulation, engine-portable. Sources need >= 2
    docs and a strictly larger N2 to have a defined slope."""
    d = _t(spark, sf_dir, "documents")
    wdoc = Window.partitionBy("source").orderBy("doc_id")
    wsrc = Window.partitionBy("source")
    docs = d.select(
        "doc_id",
        "source",
        "text",
        F.row_number().over(wdoc).alias("rk"),
        F.count(F.lit(1)).over(wsrc).alias("n_docs"),
    ).withColumn("in_half", (F.col("rk") * 2 <= F.col("n_docs")))
    tok = docs.select(
        "source",
        "in_half",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias(
            "token"
        ),
    ).where(F.col("token") != "")
    per_type = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum(F.when(F.col("in_half"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_half"),
    )
    agg = per_type.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n2_toks"),
        F.sum("c_half").cast("bigint").alias("n1_toks"),
        F.count(F.lit(1)).cast("bigint").alias("v2_types"),
        F.sum(F.when(F.col("c_half") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("v1_types"),
    ).where(
        (F.col("n1_toks") > 0) & (F.col("n2_toks") > F.col("n1_toks"))
    )
    beta = F.log(
        F.col("v2_types").cast("double") / F.col("v1_types").cast("double")
    ) / F.log(
        F.col("n2_toks").cast("double") / F.col("n1_toks").cast("double")
    )
    return agg.select(
        "source",
        "n1_toks",
        "n2_toks",
        "v1_types",
        "v2_types",
        F.round(beta, 6).alias("heaps_beta"),
    )


def q_longest_token_run(spark, sf_dir):
    """Per-document LONGEST CONSECUTIVE RUN of one token — 'spam spam
    spam spam' detection that the bag-of-words dup fractions miss
    (a doc can have a low dup_token_frac overall yet contain one
    degenerate run). Classic gaps-and-islands: island id = position
    minus the token's per-doc occurrence rank, constant exactly
    within a consecutive run.

    Winner ties break on the lexicographically smallest token, then
    the earliest run start. Both windows are doc_id-partitioned (the
    natural 100 TB key); all counts exact BIGINTs, no float at all."""
    d = _t(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), "\\s+")).alias(
            "pos", "token"
        ),
    ).where(F.col("token") != "")
    wtok = Window.partitionBy("doc_id", "token").orderBy("pos")
    runs = (
        pos.withColumn(
            "island", F.col("pos") - F.row_number().over(wtok)
        )
        .groupBy("doc_id", "token", "island")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("run_len"),
            F.min("pos").cast("bigint").alias("run_start"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("run_len").desc(), F.col("token"), F.col("run_start")
    )
    return (
        runs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("token").alias("run_token"),
            "run_len",
            "run_start",
        )
    )


def q_intra_doc_sim(spark, sf_dir):
    """Per-document SELF-similarity — Jaccard overlap between the
    token SETS of the doc's first and second halves (by position):
    near 1.0 means the back half re-states the front half (page
    chrome repeated around a sliver of content, or a doubled page —
    the intra-doc face of ``dedup_exact``); near 0 means the doc
    actually progresses. The first ceil(n/2) positions are the first
    half, so every doc with >= 2 tokens has both halves non-empty.

    One posexplode, one (doc, token) agg carrying two membership
    flags, exact BIGINT set sizes, one division."""
    d = _t(spark, sf_dir, "documents")
    pos = (
        d.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.size("toks").alias("n"),
            F.posexplode("toks").alias("pos", "token"),
        )
        .where(F.col("token") != "")
    )
    flags = pos.groupBy("doc_id", "token").agg(
        F.max(
            F.when(F.col("pos") * 2 < F.col("n"), 1).otherwise(0)
        ).alias("in_a"),
        F.max(
            F.when(F.col("pos") * 2 >= F.col("n"), 1).otherwise(0)
        ).alias("in_b"),
    )
    agg = flags.groupBy("doc_id").agg(
        F.sum("in_a").cast("bigint").alias("n_a"),
        F.sum("in_b").cast("bigint").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b"))
        .cast("bigint")
        .alias("n_inter"),
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    ).cast("double")
    return agg.select(
        "doc_id", "n_a", "n_b", "n_inter",
        F.round(jac, 6).alias("half_jaccard"),
    )


def q_yule_k(spark, sf_dir):
    """Per-source Yule's K lexical-repetitiveness characteristic
    (Yule 1944, public method): K = 10^4 * (M2 - M1) / M1^2 with
    M1 = total tokens and M2 = sum of squared type frequencies.
    Unlike raw type-token ratio, K is (approximately) length-
    invariant, so sources of wildly different sizes are comparable —
    high K = few types dominate (template/spam), low K = diverse
    vocabulary. Complements ``chao1_richness`` (how many unseen
    types) and ``token_burstiness`` (per-token clumping).

    M1 and M2 are exact BIGINT sums over the (source, token) count
    table (tf < 2^20 keeps M2 under 2^62 per the same bound as
    ``source_centroid_sim``); one final division."""
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
    agg = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("tf").cast("bigint").alias("m1"),
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("m2"),
    )
    k = (
        F.lit(10000.0)
        * (F.col("m2") - F.col("m1")).cast("double")
        / (F.col("m1") * F.col("m1")).cast("double")
    )
    return agg.select(
        "source", "n_types", "m1", "m2",
        F.round(k, 6).alias("yule_k"),
    )
