"""Feature-eng packs #40-#45: nonparametric ANOVA, reliability, optimal transport, two-sample tests, omnibus tests.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import SESSION_GAP_S, _t, _us  # noqa: F401
from .stats_rank import _math  # noqa: F401


# --------------------------------------------------------------------------
# Feature-eng pack #40: nonparametric ANOVA, robust location, inequality
# decomposition, gains/lift table, Brier decomposition, permutation entropy
# --------------------------------------------------------------------------

def q_kruskal_wallis(spark, sf_dir):
    """KRUSKAL-WALLIS H test across the five event types on
    ``value`` — the nonparametric one-way ANOVA (rank-based twin of
    `dow_anova`'s parametric F). At 100 TB the raw stream never gets
    globally ranked: values collapse to a (cents, type) count
    histogram (one map-side-combinable hash agg), mid-ranks come from
    a prefix sum over DISTINCT cents, and the doubled mid-rank
    ``2*cum_below + ct + 1`` keeps every rank INTEGER (no .5 floats).

    Rank sums stay exact bigints; the single float division happens
    on the O(#types) table. Ties get the standard correction
    ``C = 1 - sum(t^3 - t)/(N^3 - N)``; the p-value uses the df=4
    closed-form chi-square survival ``exp(-h/2) * (1 + h/2)``."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    vc = base.groupBy("cents", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ct = vc.groupBy("cents").agg(F.sum("c").cast("bigint").alias("ct"))
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = ct.select(
        "cents",
        "ct",
        (
            2 * (F.sum("ct").over(w) - F.col("ct"))
            + F.col("ct")
            + F.lit(1)
        )
        .cast("bigint")
        .alias("r2"),
    )
    per = (
        vc.join(ranked, "cents")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(F.col("c") * F.col("r2")).cast("bigint").alias("r2sum"),
        )
    )
    ties = ranked.agg(
        F.sum(
            F.pow(F.col("ct").cast("double"), 3) - F.col("ct")
        ).alias("tie3")
    )
    glob = (
        per.crossJoin(F.broadcast(ties))
        .agg(
            F.sum("n").cast("bigint").alias("nn"),
            F.sum(
                F.pow(F.col("r2sum").cast("double"), 2)
                / F.col("n").cast("double")
            ).alias("s"),
            F.max("tie3").alias("tie3"),
        )
        .withColumn(
            "h",
            F.expr(
                "3.0 / (CAST(nn AS DOUBLE) * (nn + 1)) * s"
                " - 3.0 * (nn + 1)"
            ),
        )
        .withColumn(
            "h_adj",
            F.expr(
                "h / (1.0 - tie3 / (pow(CAST(nn AS DOUBLE), 3) - nn))"
            ),
        )
        .select(
            "nn",
            F.round("h_adj", 6).alias("h_adj"),
            F.round(
                F.expr("exp(-h_adj / 2.0) * (1.0 + h_adj / 2.0)"), 6
            ).alias("p_chi2_df4"),
        )
    )
    return per.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "n",
        F.col("r2sum").alias("rank_sum2"),
        F.round(
            F.col("r2sum").cast("double") / (2.0 * F.col("n")), 6
        ).alias("mean_rank"),
        "h_adj",
        "p_chi2_df4",
    )


def q_trimmed_stats(spark, sf_dir):
    """ROBUST LOCATION family per event type: 10%-two-sided TRIMMED
    mean, WINSORIZED mean (tails clamped to the cut values, not
    dropped), and the MIDHINGE (average of the two order-statistic
    hinges) — the location estimators a quality pipeline swaps in
    when `value` has heavy tails (`hodges_lehmann` is the pairwise
    cousin; this is the order-statistic family).

    Ranks are deterministic row_numbers over exact cents with
    event_id tie-break; every estimator is a conditional aggregate
    over integer rank boundaries (k = n div 10, hinges at
    (n+3) div 4 and (3n+1) div 4), so both engines pick the SAME
    physical rows. All sums exact bigints; cents->value division is
    the only float op."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    wo = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    r = base.select(
        "event_type",
        "cents",
        F.row_number().over(wo).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    ).withColumn("k", F.expr("n div 10"))
    agg = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(
            F.when(
                (F.col("rn") > F.col("k"))
                & (F.col("rn") <= F.col("n") - F.col("k")),
                F.col("cents"),
            )
        )
        .cast("bigint")
        .alias("s_mid"),
        F.max(
            F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("cents"))
        ).alias("hi"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(n + 3) div 4"), F.col("cents")
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(3 * n + 1) div 4"),
                F.col("cents"),
            )
        ).alias("q3"),
    )
    return agg.select(
        "event_type",
        "n",
        F.round(
            F.col("s_mid").cast("double")
            / (100.0 * (F.col("n") - 2 * F.col("k"))),
            6,
        ).alias("trimmed_mean"),
        F.round(
            (
                F.col("s_mid")
                + F.col("k") * F.col("lo")
                + F.col("k") * F.col("hi")
            ).cast("double")
            / (100.0 * F.col("n")),
            6,
        ).alias("winsor_mean"),
        F.round(
            (F.col("q1") + F.col("q3")).cast("double") / 200.0, 6
        ).alias("midhinge"),
    )


def q_theil_index(spark, sf_dir):
    """THEIL T inequality decomposition of document length over
    sources — the additively-decomposable inequality index
    (`gini_skew`/`lorenz_curve` measure concentration; Theil is the
    one that splits EXACTLY into within-group + between-group terms:
    T_total = sum_i share_i * T_i + sum_i share_i * ln(mu_i / mu)).

    Per source the within index folds to one scan aggregate:
    T_i = sum(x*ln x)/sum(x) - ln(mean_i) — per-row ln stays inside
    whole-stage codegen, one hash agg per source, and the O(#sources)
    post-table gets the share/between columns from a broadcast
    totals row."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.where(F.col("n_chars") > 0)
        .select(
            "source",
            F.col("n_chars").cast("bigint").alias("x"),
            F.expr(
                "CAST(n_chars AS DOUBLE)"
                " * ln(CAST(n_chars AS DOUBLE))"
            ).alias("xlx"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("x").cast("bigint").alias("s"),
            F.sum("xlx").alias("sxl"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").cast("bigint").alias("tn"),
        F.sum("s").cast("bigint").alias("ts"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(F.col("s").cast("double") / F.col("n_docs"), 6).alias(
            "mean_chars"
        ),
        F.round(
            F.col("sxl") / F.col("s")
            - F.expr("ln(CAST(s AS DOUBLE) / n_docs)"),
            6,
        ).alias("theil_within"),
        F.round(F.col("s").cast("double") / F.col("ts"), 6).alias(
            "value_share"
        ),
        F.round(
            F.col("s").cast("double")
            / F.col("ts")
            * F.expr(
                "ln((CAST(s AS DOUBLE) / n_docs)"
                " / (CAST(ts AS DOUBLE) / tn))"
            ),
            6,
        ).alias("between_term"),
    )


def q_decile_lift(spark, sf_dir):
    """DECILE LIFT / GAINS table for `value` as a purchase-vs-click
    score — the campaign-targeting view of the SAME separation
    `roc_auc` summarizes to one number: bucket the scored population
    into 10 equal-count bins best-first and report each bin's
    positive rate, cumulative capture share, and lift over base rate.

    Deciles come from deterministic integer arithmetic on a
    row_number (``(rn-1)*10 div n + 1``, value-desc with event_id
    tie-break) — NOT engine ntile — so both engines bucket the same
    physical rows. Counters stay bigint; three ratios per decile at
    the end."""
    e = _t(spark, sf_dir, "events")
    base = e.where(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("pos"),
    )
    wo = Window.orderBy(F.col("cents").desc(), "event_id")
    wn = Window.partitionBy()
    dec = base.select(
        "pos",
        F.row_number().over(wo).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    ).select(
        F.expr("(rn - 1) * 10 div n + 1").cast("bigint").alias("decile"),
        "pos",
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("n_pos").cast("bigint").alias("tp"),
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_pos", F.sum("n_pos").over(wcum).cast("bigint")
        )
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n"), 6
            ).alias("pos_rate"),
            F.round(
                F.col("cum_pos").cast("double") / F.col("tp"), 6
            ).alias("cum_capture"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n"))
                / (F.col("tp").cast("double") / F.col("tn")),
                6,
            ).alias("lift"),
        )
    )


def q_brier_decomp(spark, sf_dir):
    """BRIER SCORE with the Murphy reliability / resolution /
    uncertainty decomposition over 10 equal-width probability bins —
    the CALIBRATION view of the purchase-vs-click score (`roc_auc`
    grades discrimination, which is calibration-blind; a score can
    have AUC 0.9 and still be badly mis-calibrated).

    The deterministic probability model is a fixed logistic
    ``p = 1/(1+exp(-(value-35)/20))``. Everything folds to one
    10-row per-bin table (n, sum_p, sum_p2, sum_p on positives,
    n_pos) via a single hash agg; the exact Brier sum expands to
    ``sum_p2 - 2*sum_p_pos + n_pos`` so no per-row squared residual
    survives the map side. REL/RES/UNC are closed forms on the
    10-row table against a broadcast global rate."""
    e = _t(spark, sf_dir, "events")
    base = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.expr(
                "1.0 / (1.0 + exp(-(value - 35.0) / 20.0))"
            ).alias("p"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("o"),
        )
        .withColumn(
            "bin",
            F.expr(
                "CAST(least(floor(p * 10), 9) AS BIGINT)"
            ),
        )
    )
    per = base.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("p").alias("sum_p"),
        F.sum(F.col("p") * F.col("p")).alias("sum_p2"),
        F.sum(F.col("p") * F.col("o")).alias("sum_p_pos"),
        F.sum("o").cast("bigint").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("n_pos").cast("bigint").alias("tpos"),
        F.sum(
            F.col("sum_p2")
            - 2.0 * F.col("sum_p_pos")
            + F.col("n_pos")
        ).alias("brier_sum"),
    )
    j = per.crossJoin(F.broadcast(tot)).withColumn(
        "obar", F.expr("CAST(tpos AS DOUBLE) / tn")
    )
    glob = j.agg(
        F.max("tn").alias("tn"),
        F.max("brier_sum").alias("brier_sum"),
        F.max("obar").alias("obar"),
        F.sum(
            F.expr(
                "n * pow(sum_p / n - CAST(n_pos AS DOUBLE) / n, 2)"
            )
        ).alias("rel_sum"),
        F.sum(
            F.expr("n * pow(CAST(n_pos AS DOUBLE) / n - obar, 2)")
        ).alias("res_sum"),
    )
    gsel = glob.select(
        F.round(F.expr("brier_sum / tn"), 6).alias("brier"),
        F.round(F.expr("rel_sum / tn"), 6).alias("reliability"),
        F.round(F.expr("res_sum / tn"), 6).alias("resolution"),
        F.round(F.expr("obar * (1.0 - obar)"), 6).alias("uncertainty"),
    )
    return per.crossJoin(F.broadcast(gsel)).select(
        "bin",
        "n",
        F.round(F.expr("sum_p / n"), 6).alias("mean_pred"),
        F.round(F.expr("CAST(n_pos AS DOUBLE) / n"), 6).alias(
            "obs_rate"
        ),
        "brier",
        "reliability",
        "resolution",
        "uncertainty",
    )


def q_perm_entropy(spark, sf_dir):
    """ORDER-3 PERMUTATION ENTROPY (Bandt-Pompe) of each user's
    value sequence, pooled corpus-wide — the ordinal-dynamics
    complexity measure (`transition_entropy` is over symbol states;
    this is over the SHAPE of consecutive numeric triples, invariant
    to monotone transforms). A pure up-trend corpus scores 0; i.i.d.
    noise scores ln(6).

    Each per-user triple (two leads inside the user window) maps to
    one of 6 ordinal patterns via exact integer cent comparisons
    with the standard earlier-index-is-smaller tie rule, so the
    pattern id is engine-exact. One 6-row histogram; entropy is a
    closed form on it, normalized by ln 6."""
    e = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy(_us("ts"), "event_id")
    t3 = (
        e.select(
            "user_id",
            "event_id",
            "ts",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("a"),
        )
        .withColumn("b", F.lead("a", 1).over(wo))
        .withColumn("c", F.lead("a", 2).over(wo))
        .where(F.col("b").isNotNull() & F.col("c").isNotNull())
    )
    # strict total order: value, then position (earlier index smaller)
    pat = t3.select(
        F.concat(
            (
                (F.col("a") > F.col("b")).cast("int")
                + (F.col("a") > F.col("c")).cast("int")
            ).cast("string"),
            (
                (F.col("b") >= F.col("a")).cast("int")
                + (F.col("b") > F.col("c")).cast("int")
            ).cast("string"),
            (
                (F.col("c") >= F.col("a")).cast("int")
                + (F.col("c") >= F.col("b")).cast("int")
            ).cast("string"),
        ).alias("pattern")
    )
    per = pat.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triples")
    )
    tot = per.agg(F.sum("n_triples").cast("bigint").alias("tt"))
    shared = per.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.expr("CAST(n_triples AS DOUBLE) / tt")
    )
    ent = shared.agg(
        F.round(
            F.sum(F.expr("-share * ln(share)")) / _math.log(6.0), 6
        ).alias("perm_entropy_norm")
    )
    return shared.crossJoin(F.broadcast(ent)).select(
        "pattern",
        "n_triples",
        F.round("share", 6).alias("share"),
        "perm_entropy_norm",
    )


# --------------------------------------------------------------------------
# Feature-eng pack #41: reliability (Cronbach), clustering strength (ICC /
# design effect), arrival-process QQ, Weibull median-rank fit, Good-Turing
# smoothing, CUPED variance reduction
# --------------------------------------------------------------------------

def q_cronbach_alpha(spark, sf_dir):
    """CRONBACH'S ALPHA internal-consistency of the five event-type
    spend "items" over users — the psychometric reliability
    coefficient (do per-type spends co-vary enough to be read as one
    latent engagement scale?). alpha = k/(k-1) * (1 - sum(var_i) /
    var(total)), population variances, absent user-item cells = 0.

    The users x items matrix is never materialized: per-item
    moments come from one (type,user) hash agg (absent cells add 0
    to both sums so present-only sums are already the full-N sums),
    row-total moments from a per-user roll-up. Item sums stay exact
    cents; squares go double before summing."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    nu = base.agg(
        F.countDistinct("user_id").cast("bigint").alias("nu"),
        F.countDistinct("event_type").cast("bigint").alias("k"),
    )
    ui = base.groupBy("event_type", "user_id").agg(
        F.sum("cents").cast("bigint").alias("x")
    )
    item = (
        ui.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users_present"),
            F.sum("x").cast("bigint").alias("s1"),
            F.sum(F.pow(F.col("x").cast("double") / 100.0, 2)).alias(
                "s2"
            ),
        )
        .crossJoin(F.broadcast(nu))
        .withColumn(
            "var_item",
            F.expr(
                "s2 / nu - pow(CAST(s1 AS DOUBLE) / 100.0 / nu, 2)"
            ),
        )
    )
    tota = (
        ui.groupBy("user_id")
        .agg(F.sum("x").cast("bigint").alias("t"))
        .agg(
            F.sum("t").cast("bigint").alias("ts1"),
            F.sum(F.pow(F.col("t").cast("double") / 100.0, 2)).alias(
                "ts2"
            ),
        )
    )
    glob = (
        item.agg(F.sum("var_item").alias("sum_var"))
        .crossJoin(F.broadcast(tota))
        .crossJoin(F.broadcast(nu))
        .select(
            F.round(
                F.expr(
                    "CAST(k AS DOUBLE) / (k - 1) * (1.0 - sum_var"
                    " / (ts2 / nu"
                    " - pow(CAST(ts1 AS DOUBLE) / 100.0 / nu, 2)))"
                ),
                6,
            ).alias("alpha"),
            F.col("k"),
            F.col("nu").alias("n_users"),
        )
    )
    return (
        item.select("event_type", "n_users_present", "var_item")
        .crossJoin(F.broadcast(glob))
        .select(
            "event_type",
            "n_users_present",
            F.round("var_item", 6).alias("var_item"),
            "k",
            "n_users",
            "alpha",
        )
    )


def q_icc_design_effect(spark, sf_dir):
    """INTRACLASS CORRELATION ICC(1) of ``value`` clustered by user,
    per event type, with the survey-sampling DESIGN EFFECT
    ``1 + (k0 - 1) * ICC`` — how much user-level clustering inflates
    the variance of a naive mean (deff 2 means you need twice the
    sample). One-way random-effects ANOVA with the standard
    unbalanced-group size ``k0 = (N - sum(n_u^2)/N) / (G - 1)``.

    Per-(type,user) moments in one hash agg, per-type roll-up in a
    second — the classic two-level pattern that never shuffles raw
    rows twice. Sums exact cents; squares in value units as
    doubles."""
    e = _t(spark, sf_dir, "events")
    pu = (
        e.select(
            "event_type",
            "user_id",
            F.expr("value").alias("v"),
        )
        .groupBy("event_type", "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_u"),
            F.sum("v").alias("s_u"),
            F.sum(F.col("v") * F.col("v")).alias("ss_u"),
        )
    )
    per = pu.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum("n_u").cast("bigint").alias("n"),
        F.sum("s_u").alias("s"),
        F.sum("ss_u").alias("ss"),
        F.sum(F.col("s_u") * F.col("s_u") / F.col("n_u")).alias("sb"),
        F.sum(F.col("n_u") * F.col("n_u")).cast("bigint").alias("sn2"),
    )
    return per.select(
        "event_type",
        F.col("g").alias("n_users"),
        F.col("n").alias("n_events"),
        F.round(
            F.expr("(sb - s * s / n) / (g - 1)"), 6
        ).alias("msb"),
        F.round(F.expr("(ss - sb) / (n - g)"), 6).alias("msw"),
        F.round(
            F.expr(
                "((sb - s * s / n) / (g - 1) - (ss - sb) / (n - g))"
                " / ((sb - s * s / n) / (g - 1)"
                "    + ((n - CAST(sn2 AS DOUBLE) / n) / (g - 1) - 1)"
                "      * ((ss - sb) / (n - g)))"
            ),
            6,
        ).alias("icc"),
        F.round(
            F.expr(
                "1.0 + ((n - CAST(sn2 AS DOUBLE) / n) / (g - 1) - 1)"
                " * (((sb - s * s / n) / (g - 1) - (ss - sb) / (n - g))"
                " / ((sb - s * s / n) / (g - 1)"
                "    + ((n - CAST(sn2 AS DOUBLE) / n) / (g - 1) - 1)"
                "      * ((ss - sb) / (n - g))))"
            ),
            6,
        ).alias("deff"),
    )


def q_qq_exponential(spark, sf_dir):
    """Q-Q PROBE of inter-arrival gaps against the EXPONENTIAL
    distribution, per event type: 19 ventile order statistics vs the
    closed-form exponential quantile ``-ln(1-p) * mean_gap`` — the
    is-this-a-Poisson-process check (`fano_factor` tests count
    dispersion; this tests the whole gap SHAPE, ventile by ventile;
    heavy-tailed/bursty arrivals bow the ratio above 1 in the upper
    tail).

    Empirical ventiles are exact order statistics picked by integer
    rank ``ceil(j*n/20)`` (deterministic gap,event_id ordering) — no
    engine percentile interpolation. The 19-row ventile table joins
    broadcast; gaps never leave their per-type partition."""
    e = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = (
        e.select("event_type", "event_id", _us("ts").alias("us"))
        .withColumn("gap_us", F.col("us") - F.lag("us", 1).over(wo))
        .where(F.col("gap_us").isNotNull())
    )
    wg = Window.partitionBy("event_type").orderBy("gap_us", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type",
        "gap_us",
        F.row_number().over(wg).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    mean_gap = gaps.groupBy("event_type").agg(
        F.avg(F.col("gap_us").cast("double")).alias("mean_gap_us")
    )
    vent = spark.range(1, 20).select(F.col("id").cast("bigint").alias("j"))
    picked = ranked.join(
        F.broadcast(vent),
        F.col("rn") == F.expr("(j * n + 19) div 20"),
    )
    return (
        picked.join(F.broadcast(mean_gap), "event_type")
        .select(
            "event_type",
            "j",
            F.round(F.col("j") / 20.0, 6).alias("p"),
            F.round(F.col("gap_us") / 1e6, 6).alias("emp_q_sec"),
            F.round(
                F.expr("-ln(1.0 - j / 20.0) * mean_gap_us / 1e6"), 6
            ).alias("theo_q_sec"),
            F.round(
                F.expr(
                    "(gap_us / 1e6)"
                    " / (-ln(1.0 - j / 20.0) * mean_gap_us / 1e6)"
                ),
                6,
            ).alias("qq_ratio"),
        )
    )


def q_weibull_fit(spark, sf_dir):
    """WEIBULL MEDIAN-RANK REGRESSION on inter-arrival gaps per
    event type — the reliability-engineering fit: order the gaps,
    assign Benard median ranks F_i = (i-0.3)/(n+0.4), and OLS
    ``ln(-ln(1-F_i))`` on ``ln(gap)``; the slope IS the Weibull
    shape k (k<1 bursty/clustered arrivals, k=1 memoryless Poisson,
    k>1 regular/pacemaker) and scale = exp(intercept / -k)... the
    standard plotting-position estimator, closed-form, no iteration.

    Ranks are deterministic (gap,event_id) row_numbers inside the
    per-type partition; the OLS folds to five running sums in one
    hash agg. Zero gaps (same-microsecond events) are excluded from
    the log fit and reported in n_zero."""
    e = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = (
        e.select("event_type", "event_id", _us("ts").alias("us"))
        .withColumn("gap_us", F.col("us") - F.lag("us", 1).over(wo))
        .where(F.col("gap_us").isNotNull())
    )
    nz = gaps.groupBy("event_type").agg(
        F.sum((F.col("gap_us") == 0).cast("bigint"))
        .cast("bigint")
        .alias("n_zero")
    )
    pos = gaps.where(F.col("gap_us") > 0)
    wg = Window.partitionBy("event_type").orderBy("gap_us", "event_id")
    wn = Window.partitionBy("event_type")
    xy = pos.select(
        "event_type",
        F.row_number().over(wg).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
        F.expr("ln(gap_us / 1e6)").alias("x"),
    ).withColumn(
        "y",
        F.expr(
            "ln(-ln(1.0 - (rn - 0.3) / (n + 0.4)))"
        ),
    )
    fit = xy.groupBy("event_type").agg(
        F.max("n").alias("n_gaps"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return fit.join(nz, "event_type").select(
        "event_type",
        "n_gaps",
        "n_zero",
        F.round(
            F.expr("(n_gaps * sxy - sx * sy) / (n_gaps * sxx - sx * sx)"),
            6,
        ).alias("shape_k"),
        F.round(
            F.expr(
                "exp(-((sy - (n_gaps * sxy - sx * sy)"
                " / (n_gaps * sxx - sx * sx) * sx) / n_gaps)"
                " / ((n_gaps * sxy - sx * sy)"
                "    / (n_gaps * sxx - sx * sx)))"
            ),
            6,
        ).alias("scale_sec"),
        F.round(
            F.expr(
                "pow(n_gaps * sxy - sx * sy, 2)"
                " / ((n_gaps * sxx - sx * sx)"
                "    * (n_gaps * syy - sy * sy))"
            ),
            6,
        ).alias("r2"),
    )


def q_good_turing(spark, sf_dir):
    """SIMPLE GOOD-TURING head of the frequency spectrum per source:
    the unseen-mass estimate ``p0 = N1 / N_tokens`` and the
    discounted counts ``r* = (r+1) * N_{r+1} / N_r`` for r = 1..5 —
    the language-modeling smoothing view of the spectrum whose first
    two cells `hapax_ratio` reports raw. r* < r everywhere is the
    classic sanity signature of natural text.

    Three hash aggs — (source,token) counts, the
    frequency-of-frequencies spectrum, then a self-join on r+1
    (5-row broadcast side per source). Everything exact BIGINT until
    the two rounded ratios."""
    d = _t(spark, sf_dir, "documents")
    st = (
        d.select(
            "source",
            F.explode(
                F.split(F.trim(F.col("text")), "\\s+")
            ).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    spec = st.groupBy("source", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    tot = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum((F.col("c") == 1).cast("bigint"))
        .cast("bigint")
        .alias("n1"),
    )
    head = spec.where(F.col("c") <= 5)
    nxt = spec.select(
        "source",
        (F.col("c") - 1).alias("c"),
        F.col("n_r").alias("n_r_next"),
    ).where(F.col("c") >= 1)
    return (
        head.join(nxt, ["source", "c"], "left")
        .join(F.broadcast(tot), "source")
        .select(
            "source",
            F.col("c").alias("r"),
            "n_r",
            F.coalesce("n_r_next", F.lit(0))
            .cast("bigint")
            .alias("n_r_next"),
            F.round(
                (F.col("c") + 1)
                * F.coalesce("n_r_next", F.lit(0)).cast("double")
                / F.col("n_r"),
                6,
            ).alias("r_star"),
            F.round(
                F.col("n1").cast("double") / F.col("n_tokens"), 6
            ).alias("p0_unseen"),
        )
    )


def q_cuped_adjust(spark, sf_dir):
    """CUPED VARIANCE REDUCTION for the experimentation pipeline:
    split each user's history at the corpus-median timestamp, treat
    first-half spend as the pre-period covariate X and second-half
    spend as the metric Y, and report theta = cov(Y,X)/var(X), the
    adjusted variance ``var(Y) - cov^2/var(X)``, and the reduction
    ratio rho^2 — how much a pre-experiment covariate shrinks the
    A/B test's error bars (Deng et al. 2013, public).

    The split point is an exact order statistic (rank (n+1) div 2 of
    event time); per-user pre/post sums are conditional aggregates
    in ONE hash agg over users; the five covariance sums reduce on
    the O(#users) table. Sums exact cents; cross-products double."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        _us("ts").alias("us"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    wall = Window.orderBy("us", "event_id")
    med = (
        base.select(
            "us",
            F.row_number().over(wall).cast("bigint").alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("us").alias("med_us"))
    )
    pp = (
        base.crossJoin(F.broadcast(med))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("us") <= F.col("med_us"), F.col("cents"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("pre_c"),
            F.sum(
                F.when(F.col("us") > F.col("med_us"), F.col("cents"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("post_c"),
        )
        .select(
            (F.col("pre_c").cast("double") / 100.0).alias("x"),
            (F.col("post_c").cast("double") / 100.0).alias("y"),
        )
    )
    agg = pp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return agg.select(
        "n_users",
        F.round(
            F.expr(
                "(sxy / n_users - sx / n_users * sy / n_users)"
                " / (sxx / n_users - pow(sx / n_users, 2))"
            ),
            6,
        ).alias("theta"),
        F.round(
            F.expr("syy / n_users - pow(sy / n_users, 2)"), 6
        ).alias("var_post"),
        F.round(
            F.expr(
                "(syy / n_users - pow(sy / n_users, 2))"
                " - pow(sxy / n_users - sx / n_users * sy / n_users, 2)"
                "   / (sxx / n_users - pow(sx / n_users, 2))"
            ),
            6,
        ).alias("var_adj"),
        F.round(
            F.expr(
                "pow(sxy / n_users - sx / n_users * sy / n_users, 2)"
                " / ((sxx / n_users - pow(sx / n_users, 2))"
                "    * (syy / n_users - pow(sy / n_users, 2)))"
            ),
            6,
        ).alias("var_reduction"),
    )


# --------------------------------------------------------------------------
# Feature-eng pack #42: optimal transport, wavelet energy, survival
# comparison, blocked nonparametrics, normality, delta-method ratio CI
# --------------------------------------------------------------------------

def q_wasserstein_1d(spark, sf_dir):
    """1-D WASSERSTEIN (earth-mover) distance between the purchase
    and click value distributions, per day — the optimal-transport
    drift metric that, unlike `ks_drift`'s sup-norm or `tvd_drift`'s
    overlap, weighs HOW FAR mass must move, in value units.

    W1 = integral of |F_pur - F_clk| dx, computed EXACTLY on the
    merged cent grid: one (day, cents) histogram, two cumulative
    windows inside the day partition, |cum-share gap| times the lead
    cent step. Counters stay bigint; the two CDF shares are the only
    floats under the integral."""
    e = _t(spark, sf_dir, "events")
    h = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.dayofmonth("ts").cast("int").alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("p"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("day", "cents")
        .agg(
            F.sum("p").cast("bigint").alias("np"),
            F.sum("c").cast("bigint").alias("nc"),
        )
    )
    wd = Window.partitionBy("day")
    wc = (
        Window.partitionBy("day")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy("day").orderBy("cents")
    grid = h.select(
        "day",
        "cents",
        F.sum("np").over(wc).cast("bigint").alias("cum_p"),
        F.sum("nc").over(wc).cast("bigint").alias("cum_c"),
        F.sum("np").over(wd).cast("bigint").alias("tot_p"),
        F.sum("nc").over(wd).cast("bigint").alias("tot_c"),
        (F.lead("cents", 1).over(wl) - F.col("cents")).alias("dx"),
    ).where(F.col("dx").isNotNull())
    return (
        grid.groupBy("day")
        .agg(
            F.max("tot_p").alias("n_purchase"),
            F.max("tot_c").alias("n_click"),
            F.round(
                F.sum(
                    F.expr(
                        "abs(CAST(cum_p AS DOUBLE) / tot_p"
                        " - CAST(cum_c AS DOUBLE) / tot_c)"
                        " * dx / 100.0"
                    )
                ),
                6,
            ).alias("w1_value"),
        )
        .where(
            (F.col("n_purchase") > 0) & (F.col("n_click") > 0)
        )
    )


def q_haar_energy(spark, sf_dir):
    """HAAR WAVELET ENERGY decomposition of each event type's
    activity series — bin the corpus span into 32 equal intervals,
    then peel 5 dyadic levels of detail energy (level 1 = fastest,
    bin-to-bin; level 5 = slowest, half-vs-half) — the multi-scale
    answer to WHERE the temporal variance lives that single-scale
    probes (`fano_factor`, `autocorr_lag1`) can't give. Parseval
    closes the books: sum(level energies) + mean-energy =
    sum(count^2), which the pytest replica asserts exactly.

    Detail coefficients are INTEGER block-sum differences
    (d = s_left - s_right at every level), so the whole pyramid is
    engine-exact; energy_l = sum(d^2)/2^l. The pyramid runs on a
    32-row-per-type table — five chained tiny aggregates, zero
    raw-row reshuffles."""
    e = _t(spark, sf_dir, "events")
    span = e.agg(
        F.min(_us("ts")).alias("lo"), F.max(_us("ts")).alias("hi")
    )
    binned = (
        e.select("event_type", _us("ts").alias("us"))
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.expr(
                "CAST(least((us - lo) * 32 div (hi - lo + 1), 31)"
                " AS BIGINT)"
            ).alias("b"),
        )
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    types = binned.select("event_type").distinct()
    grid = types.crossJoin(
        F.broadcast(
            spark.range(0, 32).select(
                F.col("id").cast("bigint").alias("b")
            )
        )
    )
    dense = grid.join(binned, ["event_type", "b"], "left").select(
        "event_type",
        "b",
        F.coalesce("c", F.lit(0)).cast("bigint").alias("s"),
    )
    # the level loop references this relation from 5 union branches +
    # the Parseval total — without materialization every branch
    # re-scans the raw events (measured 6.5 s at sf0.1; 1.3 s after).
    # localCheckpoint truncates the lineage at the O(types x 32) grid.
    dense = dense.localCheckpoint(eager=True)
    lvl = dense
    outs = []
    for level in range(1, 6):
        pair = lvl.groupBy(
            "event_type", F.expr("b div 2").cast("bigint").alias("b")
        ).agg(
            F.sum("s").cast("bigint").alias("s"),
            (F.max(F.when(F.col("b") % 2 == 0, F.col("s"))) -
             F.max(F.when(F.col("b") % 2 == 1, F.col("s"))))
            .cast("bigint")
            .alias("d"),
        )
        outs.append(
            pair.groupBy("event_type").agg(
                F.lit(level).cast("bigint").alias("level"),
                (
                    F.sum(F.col("d") * F.col("d")).cast("double")
                    / float(2**level)
                ).alias("energy"),
            )
        )
        lvl = pair.select("event_type", "b", "s")
    allv = outs[0]
    for o in outs[1:]:
        allv = allv.unionByName(o)
    tot = allv.groupBy("event_type").agg(
        F.sum("energy").alias("tot_detail")
    )
    return allv.join(tot, "event_type").select(
        "event_type",
        "level",
        F.round("energy", 6).alias("energy"),
        F.round(F.expr("energy / tot_detail"), 6).alias("energy_share"),
    )


def q_logrank_test(spark, sf_dir):
    """LOG-RANK TEST comparing time-to-first-purchase between two
    deterministic user arms (even vs odd user_id — the A/A-style
    split an experimentation pipeline validates its survival
    machinery on) — the standard-of-care censored two-sample
    comparison (`km_hazard` draws each curve; this tests whether
    they differ). Users who never purchase are right-censored at
    their last event.

    The O(#users) duration table collapses to per-distinct-time
    (deaths, exits) counts per arm; at-risk counts are ONE
    descending prefix sum each (everyone with T >= t), and the
    hypergeometric mean/variance contributions fold in a single
    final aggregate. Exact bigint counts all the way; z and chi2 are
    the only floats."""
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
    bytime = dur.groupBy("t").agg(
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("x1"),
        F.count(F.lit(1)).cast("bigint").alias("x"),
    )
    wt = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    risk = bytime.select(
        "t",
        "d1",
        "d",
        (
            F.sum("x1").over(wall)
            - F.sum("x1").over(wt)
            + F.col("x1")
        )
        .cast("bigint")
        .alias("n1"),
        (
            F.sum("x").over(wall)
            - F.sum("x").over(wt)
            + F.col("x")
        )
        .cast("bigint")
        .alias("n"),
    ).where((F.col("d") > 0) & (F.col("n") > 1))
    agg = risk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_times"),
        F.sum("d1").cast("bigint").alias("obs1"),
        F.sum(
            F.expr("CAST(d AS DOUBLE) * n1 / n")
        ).alias("exp1"),
        F.sum(
            F.expr(
                "CAST(d AS DOUBLE) * n1 / n * (1.0 - CAST(n1 AS"
                " DOUBLE) / n) * (n - d) / (n - 1)"
            )
        ).alias("var1"),
    )
    return agg.select(
        "n_times",
        "obs1",
        F.round("exp1", 6).alias("exp1"),
        F.round("var1", 6).alias("var1"),
        F.round(
            F.expr("(obs1 - exp1) / sqrt(var1)"), 6
        ).alias("z"),
        F.round(
            F.expr("pow(obs1 - exp1, 2) / var1"), 6
        ).alias("chi2"),
    )


def q_friedman_test(spark, sf_dir):
    """FRIEDMAN TEST over complete blocks: users who touched ALL
    five event types rank the types by mean spend WITHIN their own
    history; the test asks whether any type systematically ranks
    high across users — the blocked twin of `kruskal_wallis`
    (which pools all rows and loses the per-user pairing).

    Within-block ranks use exact cross-multiplied rational
    comparisons (s_i * n_j vs s_j * n_i — no float means) and
    doubled average ranks to stay INTEGER under ties; the 5x5
    per-user comparison join runs on the tiny (user,type) aggregate,
    never on raw rows. Chi-square df=4 p-value in closed form."""
    e = _t(spark, sf_dir, "events")
    ut = (
        e.select(
            "user_id",
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("cents").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    kkdf = ut.agg(
        F.countDistinct("event_type").cast("bigint").alias("n_all")
    )
    complete = (
        ut.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_types"))
        .crossJoin(F.broadcast(kkdf))
        .where(F.col("n_types") == F.col("n_all"))
        .select("user_id")
    )
    utc = ut.join(complete, "user_id")
    pairs = utc.alias("a").join(
        utc.alias("b"), F.expr("a.user_id = b.user_id")
    )
    r2 = pairs.groupBy(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("event_type"),
    ).agg(
        (
            F.lit(2)
            + 2
            * F.sum(
                F.expr(
                    "CASE WHEN b.s * a.n < a.s * b.n THEN 1 ELSE 0 END"
                )
            )
            + F.sum(
                F.expr(
                    "CASE WHEN b.s * a.n = a.s * b.n"
                    " AND b.event_type <> a.event_type"
                    " THEN 1 ELSE 0 END"
                )
            )
        )
        .cast("bigint")
        .alias("r2")
    )
    per = r2.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum("r2").cast("bigint").alias("rank_sum2"),
    )
    glob = per.agg(
        F.max("n_blocks").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.pow(F.col("rank_sum2").cast("double"), 2)).alias("sr2"),
    ).select(
        "nb",
        "k",
        F.round(
            F.expr(
                "3.0 / (nb * k * (k + 1)) * sr2 - 3.0 * nb * (k + 1)"
            ),
            6,
        ).alias("q_stat"),
        F.round(
            F.expr(
                "exp(-(3.0 / (nb * k * (k + 1)) * sr2"
                " - 3.0 * nb * (k + 1)) / 2.0)"
                " * (1.0 + (3.0 / (nb * k * (k + 1)) * sr2"
                " - 3.0 * nb * (k + 1)) / 2.0)"
            ),
            6,
        ).alias("p_chi2_df4"),
    )
    return per.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "n_blocks",
        "rank_sum2",
        F.round(
            F.col("rank_sum2").cast("double") / (2.0 * F.col("n_blocks")),
            6,
        ).alias("mean_rank"),
        "q_stat",
        "p_chi2_df4",
    )


def q_jarque_bera(spark, sf_dir):
    """JARQUE-BERA normality test of ``value`` per event type — the
    moment-based normality screen (skewness and excess kurtosis
    jointly), whose chi-square df=2 p-value is EXACTLY exp(-JB/2),
    no special functions needed. The parametric complement of
    `bowley_moors` (quantile shape) and `qq_exponential`
    (distribution-specific Q-Q).

    TWO-PASS and ENGINE-EXACT end to end: the mean comes from the
    EXACT integer cent sum (identical in both engines), then the
    deviations are QUANTIZED to integers (floor(d*1e4+0.5), pure
    IEEE on bit-identical doubles) and the central power sums run in
    exact wide-integer arithmetic — DECIMAL(38) here, HUGEINT in the
    DuckDB twin. |d| <= ~1e3 values -> |dq| <= ~1e7, dq^4 <= 1e28,
    so the sums fit 38 digits past 10^10 rows per group. Float
    enters only at the final per-group division, on identical
    integers, so skew/kurtosis are bit-identical across engines and
    JB's n-fold amplification has nothing to amplify. The mean table
    is a broadcast; both passes are single hash aggs."""
    e = _t(spark, sf_dir, "events")
    mu = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("sc"),
    ).withColumn("mu", F.expr("CAST(sc AS DOUBLE) / (100.0 * n)"))
    c = (
        e.join(F.broadcast(mu), "event_type")
        .select(
            "event_type",
            "n",
            F.expr(
                "CAST(floor((value - mu) * 1e4 + 0.5) AS DECIMAL(38,0))"
            ).alias("d"),
        )
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.expr("d * d")).alias("c2"),
            F.sum(F.expr("d * d * d")).alias("c3"),
            F.sum(F.expr("d * d * d * d")).alias("c4"),
        )
        .withColumn("m2", F.expr("CAST(c2 AS DOUBLE) / n / 1e8"))
        # round S and K FIRST (explicit HALF_UP floor recipe — engine
        # round() disagrees on binary ties), then build JB from the
        # rounded values; sqrt(m2)*m2 instead of pow(m2,1.5) because
        # IEEE sqrt is correctly rounded while libm pow is not
        .withColumn(
            "skew",
            F.expr(
                "floor((CAST(c3 AS DOUBLE) / n / 1e12)"
                " / (m2 * sqrt(m2)) * 1e6 + 0.5) / 1e6"
            ),
        )
        .withColumn(
            "exk",
            F.expr(
                "floor(((CAST(c4 AS DOUBLE) / n / 1e16)"
                " / (m2 * m2) - 3.0) * 1e6 + 0.5) / 1e6"
            ),
        )
        .withColumn(
            "jb",
            # CAST(n AS DOUBLE) is load-bearing: Spark parses 6.0 as
            # DECIMAL(2,1), so bigint/6.0 is a DECIMAL division
            # truncated at scale 6 — a 1e-9 relative error that the
            # *1e6 rounding then exposes. Double-cast first so both
            # engines do the same IEEE divide.
            F.expr(
                "CAST(n AS DOUBLE) / 6.0"
                " * (skew * skew + exk * exk / 4.0)"
            ),
        )
    )
    # jb derives from exact-6dp inputs, so true decimal TIES at the
    # 7th digit happen (hit at sf0.001): use the explicit-HALF_UP
    # floor(x*1e6+0.5) recipe, pure IEEE in both engines, instead of
    # engine round() (Spark BigDecimal-of-shortest-repr vs DuckDB
    # binary disagree exactly on ties — the backfill lesson)
    return c.select(
        "event_type",
        "n",
        F.col("skew").alias("skewness"),
        F.col("exk").alias("excess_kurtosis"),
        F.expr("floor(jb * 1e6 + 0.5) / 1e6").alias("jb_stat"),
        F.expr("floor(exp(-jb / 2.0) * 1e6 + 0.5) / 1e6").alias(
            "p_chi2_df2"
        ),
    )


def q_ratio_delta_ci(spark, sf_dir):
    """DELTA-METHOD confidence interval for the RATIO metric
    "purchase revenue per event" — sum(purchase value)/sum(events)
    over USERS, the denominator-is-random case where a naive
    per-event SE is simply wrong (users, not events, are the i.i.d.
    unit; `cuped_adjust` shrinks this same class of metric's
    variance, this one gets its CI right).

    var(R) ~ (var_y - 2 R cov + R^2 var_n) / (n_users * mean_n^2)
    with all five moments from ONE per-user hash agg + one global
    fold. Per-user sums exact cents; cross-products double."""
    e = _t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        (
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.expr("CAST(round(value * 100) AS BIGINT)"),
                ).otherwise(0)
            ).cast("double")
            / 100.0
        ).alias("y"),
        F.count(F.lit(1)).cast("double").alias("m"),
    )
    agg = pu.agg(
        F.count(F.lit(1)).cast("bigint").alias("nu"),
        F.sum("y").alias("sy"),
        F.sum("m").alias("sm"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
        F.sum(F.col("y") * F.col("m")).alias("sym"),
    )
    c = (
        agg.withColumn("r", F.expr("sy / sm"))
        .withColumn("my", F.expr("sy / nu"))
        .withColumn("mm", F.expr("sm / nu"))
        .withColumn("vy", F.expr("syy / nu - my * my"))
        .withColumn("vm", F.expr("smm / nu - mm * mm"))
        .withColumn("cym", F.expr("sym / nu - my * mm"))
        .withColumn(
            "se",
            F.expr(
                "sqrt((vy - 2 * r * cym + r * r * vm)"
                " / (nu * mm * mm))"
            ),
        )
    )
    return c.select(
        F.col("nu").alias("n_users"),
        F.round("r", 6).alias("ratio"),
        F.round("se", 6).alias("se_delta"),
        F.round(F.expr("r - 1.96 * se"), 6).alias("ci_lo"),
        F.round(F.expr("r + 1.96 * se"), 6).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# Feature-eng pack #43: two-sample nonparametrics (Mann-Whitney U,
# Cliff's delta), variance homogeneity (Brown-Forsythe), time-series
# diagnostics (Durbin-Levinson PACF, Ljung-Box), Chatterjee's xi
# --------------------------------------------------------------------------

def q_mann_whitney(spark, sf_dir):
    """MANN-WHITNEY U (Wilcoxon rank-sum) comparing purchase vs
    click ``value`` — the two-sample specialization that
    `kruskal_wallis` generalizes, with the U statistic and its
    common-language AUC effect size (P(purchase > click) + .5
    P(tie)) that the k-sample H can't give.

    Same scale discipline as kruskal_wallis: values collapse to a
    (cents -> n_purchase, n_click) histogram, DOUBLED mid-ranks
    ``2*cum_below + t + 1`` keep every rank integer, and the doubled
    rank sum / U stay exact bigints; the normal-approximation z uses
    the standard tie-corrected variance. Floats only on the final
    one-row fold."""
    e = _t(spark, sf_dir, "events")
    vc = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("p"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("cents")
        .agg(
            F.sum("p").cast("bigint").alias("np"),
            F.sum("c").cast("bigint").alias("nc"),
        )
        .withColumn("t", F.expr("np + nc"))
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = vc.select(
        "np",
        "nc",
        "t",
        (2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + F.lit(1))
        .cast("bigint")
        .alias("r2"),
    )
    agg = ranked.agg(
        F.sum("np").cast("bigint").alias("n1"),
        F.sum("nc").cast("bigint").alias("n2"),
        F.sum(F.col("np") * F.col("r2")).cast("bigint").alias("r1sum2"),
        F.sum(
            F.pow(F.col("t").cast("double"), 3) - F.col("t")
        ).alias("tie3"),
    )
    c = (
        agg.withColumn("u2", F.expr("r1sum2 - n1 * (n1 + 1)"))
        .withColumn("nn", F.expr("n1 + n2"))
        .withColumn(
            "varu",
            F.expr(
                "CAST(n1 AS DOUBLE) * n2 / 12.0 * ((nn + 1)"
                " - tie3 / (CAST(nn AS DOUBLE) * (nn - 1)))"
            ),
        )
    )
    return c.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_click"),
        F.expr("CAST(u2 AS DOUBLE) / 2.0").alias("u_stat"),
        F.round(
            F.expr("CAST(u2 AS DOUBLE) / (2.0 * n1 * n2)"), 6
        ).alias("auc"),
        F.round(
            F.expr(
                "(CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)"
                " / (2.0 * sqrt(varu))"
            ),
            6,
        ).alias("z"),
    )


def q_cliffs_delta(spark, sf_dir):
    """CLIFF'S DELTA ordinal effect size between purchase and click
    ``value``: d = (#{x>y} - #{x<y}) / (n1*n2) — the dominance
    statistic behind `mann_whitney`'s AUC, with the conventional
    |d| magnitude bands (0.147 / 0.33 / 0.474).

    NO O(n1*n2) pair join: the concordance counts come from the
    shared (cents -> counts) histogram — each purchase-cent bucket
    contributes np * (clicks strictly below) and np * (clicks
    strictly above) via two prefix sums. Exact bigints throughout;
    the single division happens on the one-row fold."""
    e = _t(spark, sf_dir, "events")
    vc = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("p"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("cents")
        .agg(
            F.sum("p").cast("bigint").alias("np"),
            F.sum("c").cast("bigint").alias("nc"),
        )
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = vc.select(
        "np",
        "nc",
        (F.sum("nc").over(w) - F.col("nc"))
        .cast("bigint")
        .alias("c_below"),
        (F.sum("nc").over(wall) - F.sum("nc").over(w))
        .cast("bigint")
        .alias("c_above"),
    )
    agg = cum.agg(
        F.sum("np").cast("bigint").alias("n1"),
        F.sum("nc").cast("bigint").alias("n2"),
        F.sum(F.col("np") * F.col("c_below"))
        .cast("bigint")
        .alias("n_gt"),
        F.sum(F.col("np") * F.col("c_above"))
        .cast("bigint")
        .alias("n_lt"),
        F.sum(F.col("np") * F.col("nc")).cast("bigint").alias("n_eq"),
    )
    c = agg.withColumn(
        "delta",
        F.expr(
            "(CAST(n_gt AS DOUBLE) - n_lt)"
            " / (CAST(n1 AS DOUBLE) * n2)"
        ),
    )
    return c.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_click"),
        "n_gt",
        "n_lt",
        "n_eq",
        F.round("delta", 6).alias("delta"),
        F.expr(
            "CASE WHEN abs(delta) < 0.147 THEN 'negligible'"
            " WHEN abs(delta) < 0.33 THEN 'small'"
            " WHEN abs(delta) < 0.474 THEN 'medium'"
            " ELSE 'large' END"
        ).alias("magnitude"),
    )


def q_levene_bf(spark, sf_dir):
    """BROWN-FORSYTHE test (Levene with median centers) for variance
    homogeneity of ``value`` across event types — the robust
    heteroskedasticity gate that `dow_anova`'s equal-variance F and
    `welch_t`'s two-sample fix both implicitly assume an answer to.

    Exact arithmetic spine: each type's DOUBLED median (sum of the
    two middle order statistics, integer cents) comes from one
    row_number pick, the absolute deviations z = |2*cents - med2|
    are integers, and all five ANOVA moments are exact bigint sums;
    the F ratio is one float expression on the O(#types) fold."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    wo = Window.partitionBy("event_type").orderBy("cents")
    cnt = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rk = (
        base.withColumn("rn", F.row_number().over(wo))
        .join(F.broadcast(cnt), "event_type")
        .withColumn("k1", F.expr("CAST((n + 1) div 2 AS BIGINT)"))
        .withColumn("k2", F.expr("CAST(n div 2 + 1 AS BIGINT)"))
        .where(F.expr("rn = k1 OR rn = k2"))
    )
    med = rk.groupBy("event_type").agg(
        F.sum(
            F.expr(
                "cents * (CASE WHEN k1 = k2 THEN 2 ELSE 1 END)"
            )
        )
        .cast("bigint")
        .alias("med2")
    )
    z = base.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.expr("abs(2 * cents - med2)").cast("bigint").alias("z"),
    )
    per = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("z").cast("bigint").alias("s"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("q"),
    )
    glob = (
        per.agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("n").cast("bigint").alias("nn"),
            F.sum("s").cast("bigint").alias("ss"),
            F.sum("q").cast("bigint").alias("qq"),
            F.sum(
                F.expr("pow(CAST(s AS DOUBLE), 2) / n")
            ).alias("sgrp"),
        )
        .withColumn(
            "ss_between",
            F.expr("sgrp - pow(CAST(ss AS DOUBLE), 2) / nn"),
        )
        .withColumn("ss_within", F.expr("CAST(qq AS DOUBLE) - sgrp"))
        .withColumn(
            "f_stat",
            F.expr(
                "(ss_between / (k - 1)) / (ss_within / (nn - k))"
            ),
        )
    )
    return per.join(F.broadcast(med), "event_type").crossJoin(
        F.broadcast(
            glob.select(
                "k",
                F.col("nn").alias("n_total"),
                F.round("f_stat", 6).alias("f_stat"),
            )
        )
    ).select(
        "event_type",
        "n",
        F.expr("CAST(med2 AS DOUBLE) / 200.0").alias("median_value"),
        F.round(
            F.expr("CAST(s AS DOUBLE) / (200.0 * n)"), 6
        ).alias("mean_absdev"),
        F.col("k").alias("k_groups"),
        "n_total",
        "f_stat",
    )


def q_pacf_daily(spark, sf_dir):
    """PARTIAL AUTOCORRELATION (lags 1-2, Durbin-Levinson closed
    form) of each event type's daily count series — does yesterday
    predict today beyond what the day before explains?
    `autocorr_lag1` gives r1; pacf2 = (r2 - r1^2)/(1 - r1^2) is the
    lag-2 effect with lag-1 partialled out.

    Engine-exact trick: deviations are scaled to INTEGERS
    D_t = n*c_t - S (n days, S total), so the lag cross-products and
    the denominator are exact bigint sums over the tiny dense
    (type x day) grid; the two divisions and the pacf fold run on
    identical integers in both engines."""
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
            "i",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    tot = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    dev = grid.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "i",
        "n",
        F.expr("n * c - s").cast("bigint").alias("d"),
    )
    # dev feeds the denominator AND both sides of the lag self-join —
    # without materialization each branch re-scans the raw events
    # (the haar_energy lineage-fanout class); checkpoint the tiny
    # (types x days) relation once
    dev = dev.localCheckpoint(eager=True)
    den = dev.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.expr("d * d")).cast("bigint").alias("den"),
    )
    a = dev.alias("a")
    b = dev.select(
        "event_type", F.col("i").alias("i2"), F.col("d").alias("d2")
    ).alias("b")
    nums = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & ((F.col("a.i") + 1 == F.col("i2"))
               | (F.col("a.i") + 2 == F.col("i2"))),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            (F.col("i2") - F.col("a.i")).cast("int").alias("lag"),
            F.expr("a.d * d2").cast("bigint").alias("x"),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("lag") == 1, F.col("x")).otherwise(0))
            .cast("bigint")
            .alias("num1"),
            F.sum(F.when(F.col("lag") == 2, F.col("x")).otherwise(0))
            .cast("bigint")
            .alias("num2"),
        )
    )
    c = (
        den.join(nums, "event_type")
        .withColumn("r1", F.expr("CAST(num1 AS DOUBLE) / den"))
        .withColumn("r2", F.expr("CAST(num2 AS DOUBLE) / den"))
    )
    return c.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round("r1", 6).alias("acf1"),
        F.round("r2", 6).alias("acf2"),
        F.round(
            F.expr("(r2 - r1 * r1) / (1.0 - r1 * r1)"), 6
        ).alias("pacf2"),
    )


def q_ljung_box(spark, sf_dir):
    """LJUNG-BOX portmanteau test on each event type's daily count
    series, lags 1..5 — "is there ANY autocorrelation structure",
    the whiteness gate a forecasting pipeline runs before trusting
    residuals (`pacf_daily` locates the structure; this tests its
    joint existence). One row per (type, lag) with the cumulative
    Q_m = n(n+2) * sum_{k<=m} r_k^2/(n-k).

    Same integer-deviation spine as pacf_daily: D_t = n*c_t - S
    keeps every lag numerator and the denominator exact bigints on
    the dense 30-row grid; the only floats are the O(types x 5)
    final expressions."""
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
            "i",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    tot = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    dev = grid.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "i",
        "n",
        F.expr("n * c - s").cast("bigint").alias("d"),
    )
    # dev feeds the denominator AND both sides of the lag self-join —
    # without materialization each branch re-scans the raw events
    # (the haar_energy lineage-fanout class); checkpoint the tiny
    # (types x days) relation once
    dev = dev.localCheckpoint(eager=True)
    den = dev.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.expr("d * d")).cast("bigint").alias("den"),
    )
    a = dev.alias("a")
    b = dev.select(
        "event_type", F.col("i").alias("i2"), F.col("d").alias("d2")
    ).alias("b")
    nums = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("i2") - F.col("a.i")).between(1, 5),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            (F.col("i2") - F.col("a.i")).cast("int").alias("lag"),
            F.expr("a.d * d2").cast("bigint").alias("x"),
        )
        .groupBy("event_type", "lag")
        .agg(F.sum("x").cast("bigint").alias("num"))
    )
    r = den.join(nums, "event_type").select(
        "event_type",
        "lag",
        F.col("n"),
        F.expr("CAST(num AS DOUBLE) / den").alias("rk"),
    )
    wq = (
        Window.partitionBy("event_type")
        .orderBy("lag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = r.select(
        "event_type",
        "lag",
        F.col("n").alias("n_days"),
        F.round("rk", 6).alias("acf"),
        F.round(
            F.col("n").cast("double")
            * (F.col("n") + 2)
            * F.sum(F.expr("rk * rk / (n - lag)")).over(wq),
            6,
        ).alias("q_cum"),
    )
    return q


def q_chatterjee_xi(spark, sf_dir):
    """CHATTERJEE'S XI rank correlation (Chatterjee 2020, public
    JASA paper) between daily click/view counts and daily purchase
    counts — the modern dependence coefficient that detects ANY
    functional relationship (not just monotone like `spearman_corr`
    / `kendall_tau`): xi ~ 0 for independence, ~ 1 when y is a
    noiseless function of x.

    General ties formula, all-integer until the last division:
    order by (x, day) [deterministic day tie-break, documented],
    r_i = #{y_j <= y_i} and l_i = #{y_j >= y_i} from two RANGE-frame
    count windows, xi = 1 - n * sum|r_{i+1} - r_i|
    / (2 * sum l_i*(n - l_i)). Runs on the tiny per-pair daily
    grid; NULL if y is constant (denominator 0)."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(F.dayofmonth("ts").cast("int").alias("day"))
        .distinct()
    )
    raw = (
        e.where(
            F.col("event_type").isin("click", "view", "purchase")
        )
        .select(
            "event_type",
            F.dayofmonth("ts").cast("int").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    pairs = (
        days.crossJoin(
            F.broadcast(
                e.select("event_type")
                .where(F.col("event_type").isin("click", "view"))
                .distinct()
                .select(F.col("event_type").alias("pair"))
            )
        )
        .join(
            raw.select(
                F.col("event_type").alias("pair"),
                "day",
                F.col("c").alias("x"),
            ),
            ["pair", "day"],
            "left",
        )
        .join(
            raw.where(F.col("event_type") == "purchase").select(
                "day", F.col("c").alias("y")
            ),
            "day",
            "left",
        )
        .select(
            "pair",
            "day",
            F.coalesce("x", F.lit(0)).cast("bigint").alias("x"),
            F.coalesce("y", F.lit(0)).cast("bigint").alias("y"),
        )
    )
    wy_le = (
        Window.partitionBy("pair")
        .orderBy("y")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wy_ge = (
        Window.partitionBy("pair")
        .orderBy(F.col("y").desc())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    rl = pairs.select(
        "pair",
        "day",
        "x",
        "y",
        F.count(F.lit(1)).over(wy_le).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(wy_ge).cast("bigint").alias("l"),
    )
    wx = Window.partitionBy("pair").orderBy("x", "day")
    seq = rl.select(
        "pair",
        "r",
        "l",
        F.lead("r", 1).over(wx).alias("r_next"),
    )
    agg = seq.groupBy("pair").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(F.expr("abs(r_next - r)")).cast("bigint").alias("sum_dr"),
        F.sum("l").cast("bigint").alias("sum_l"),
        F.sum(F.expr("l * l")).cast("bigint").alias("sum_l2"),
    )
    return agg.select(
        "pair",
        "n_days",
        "sum_dr",
        (F.expr("2 * (n_days * sum_l - sum_l2)"))
        .cast("bigint")
        .alias("denom"),
        F.round(
            F.expr(
                "1.0 - CAST(n_days AS DOUBLE) * sum_dr"
                " / nullif(2.0 * (n_days * sum_l - sum_l2), 0.0)"
            ),
            6,
        ).alias("xi"),
    )


# --------------------------------------------------------------------------
# Feature-eng pack #44: ordered-alternative / omnibus distribution
# comparison (Jonckheere-Terpstra, Page's L, Anderson-Darling
# k-sample, Mood's median), kernel density, Q-Q decile mapping
# --------------------------------------------------------------------------

def q_mood_median(spark, sf_dir):
    """MOOD'S MEDIAN TEST across event types: does any type's value
    distribution sit on a different side of the GLOBAL median?  The
    coarsest, most outlier-proof k-sample location test — the one
    that still works when `dow_anova`'s variances explode and
    `kruskal_wallis`'s full rankings are overkill.

    Scale-right exact median: the doubled global median (sum of the
    two middle order statistics) is picked from the CUMULATIVE CENT
    HISTOGRAM (first value whose cum count reaches each middle
    rank) — no global row sort anywhere. The 2xk table is exact
    bigints; chi-square on the O(k) fold, closed-form df=4
    p-value."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    hist = base.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("ct")
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
    med = cum.select(
        F.min(
            F.when(
                F.expr("cum >= CAST((n + 1) div 2 AS BIGINT)"),
                F.col("cents"),
            )
        ).alias("v1"),
        F.min(
            F.when(
                F.expr("cum >= CAST(n div 2 + 1 AS BIGINT)"),
                F.col("cents"),
            )
        ).alias("v2"),
    ).select(F.expr("v1 + v2").cast("bigint").alias("med2"))
    per = (
        base.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.expr("CASE WHEN 2 * cents > med2 THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_above"),
            F.max("med2").alias("med2"),
        )
    )
    glob = per.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("n_above").cast("bigint").alias("aa"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    chi = (
        per.crossJoin(F.broadcast(glob))
        .select(
            F.expr(
                "pow(CAST(n_above AS DOUBLE)"
                " - CAST(n AS DOUBLE) * aa / nn, 2)"
                " / (CAST(n AS DOUBLE) * aa / nn)"
                " + pow(CAST(n - n_above AS DOUBLE)"
                " - CAST(n AS DOUBLE) * (nn - aa) / nn, 2)"
                " / (CAST(n AS DOUBLE) * (nn - aa) / nn)"
            ).alias("cell")
        )
        .agg(F.sum("cell").alias("chi2"))
    )
    return (
        per.crossJoin(F.broadcast(chi))
        .select(
            "event_type",
            "n",
            "n_above",
            F.expr("CAST(med2 AS DOUBLE) / 200.0").alias(
                "median_value"
            ),
            F.round("chi2", 6).alias("chi2"),
            F.round(
                F.expr("exp(-chi2 / 2.0) * (1.0 + chi2 / 2.0)"), 6
            ).alias("p_chi2_df4"),
        )
    )


def q_epanechnikov_kde(spark, sf_dir):
    """EPANECHNIKOV KERNEL DENSITY of purchase ``value`` at a fixed
    11-point grid (0, 50, ..., 500; bandwidth h=50) — the smooth
    density profile behind `histogram`'s hard bins, the curve a
    pricing dashboard actually plots.

    ENGINE-EXACT kernel sums: with integer cents d = cents - 100*g,
    the kernel weight (1 - u^2) = (25e6 - d^2)/25e6 has an exact
    bigint numerator, so each grid point's sum S = sum(ct*(25e6-d^2))
    is exact and f = 0.75*S/(n*1.25e9) is one deterministic float
    expression. The histogram is tiny; the grid join is a broadcast
    range join, not a row fan-out."""
    e = _t(spark, sf_dir, "events")
    hist = (
        e.where(F.col("event_type") == "purchase")
        .select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents")
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    n = hist.agg(F.sum("ct").cast("bigint").alias("n"))
    grid = spark.range(0, 11).select(
        (F.col("id") * 50).cast("bigint").alias("grid_value")
    )
    joined = hist.join(
        F.broadcast(grid),
        F.expr("abs(cents - 100 * grid_value) < 5000"),
    ).select(
        "grid_value",
        "ct",
        F.expr("cents - 100 * grid_value").cast("bigint").alias("d"),
    )
    agg = joined.groupBy("grid_value").agg(
        F.sum("ct").cast("bigint").alias("n_in_window"),
        F.sum(F.expr("ct * (25000000 - d * d)"))
        .cast("bigint")
        .alias("s"),
    )
    out = (
        F.broadcast(grid)
        .join(agg, "grid_value", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "grid_value",
            F.coalesce("n_in_window", F.lit(0))
            .cast("bigint")
            .alias("n_in_window"),
            F.round(
                F.expr(
                    "0.75 * CAST(coalesce(s, 0) AS DOUBLE)"
                    " / (CAST(n AS DOUBLE) * 1.25e9)"
                ),
                9,
            ).alias("density"),
        )
    )
    return out


def q_qq_deciles(spark, sf_dir):
    """Q-Q DECILE MAPPING between purchase and click ``value`` — the
    quantile-vs-quantile table (p10..p90) an analyst reads before
    trusting any mean-based comparison, and the transport map
    `wasserstein_1d` integrates. Exact order statistics, picked from
    each distribution's cumulative cent histogram at rank
    ceil(p*n/100) = (p*n + 99) div 100 — integer arithmetic, no
    percentile_approx, no global sort."""
    e = _t(spark, sf_dir, "events")
    hist = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ct"))
    )
    w = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "cents",
        F.sum("ct").over(w).cast("bigint").alias("cum"),
        F.sum("ct").over(wall).cast("bigint").alias("n"),
    )
    ps = spark.range(1, 10).select(
        (F.col("id") * 10).cast("int").alias("p")
    )
    picks = (
        cum.crossJoin(F.broadcast(ps))
        .where(F.expr("cum >= (p * n + 99) div 100"))
        .groupBy("event_type", "p")
        .agg(F.min("cents").cast("bigint").alias("v"))
    )
    pur = picks.where(F.col("event_type") == "purchase").select(
        "p", F.col("v").alias("vp")
    )
    clk = picks.where(F.col("event_type") == "click").select(
        "p", F.col("v").alias("vc")
    )
    return pur.join(clk, "p").select(
        F.col("p").alias("p_pct"),
        F.expr("CAST(vp AS DOUBLE) / 100.0").alias("purchase_value"),
        F.expr("CAST(vc AS DOUBLE) / 100.0").alias("click_value"),
        F.expr("CAST(vp - vc AS DOUBLE) / 100.0").alias("qq_gap"),
    )


def q_jonckheere_trend(spark, sf_dir):
    """JONCKHEERE-TERPSTRA ordered-alternative test: does ``value``
    shift monotonically across the WEEKS of the month (ordered
    groups week 1..5)? Strictly more powerful than
    `kruskal_wallis` when the alternative is a trend — the k-sample
    face of `mann_kendall`.

    Never materializes a pair join: the doubled statistic
    J2 = sum 2*#{x_i < x_j, i<j} + #{ties} comes from a dense
    (cents x week) grid with a 2-D PREFIX SUM (cum over cents within
    week, then exclusive cum over weeks within cents). The
    tie-corrected null variance (Hollander-Wolfe A/72 + BC/(36...)
    + DE/(8...)) uses only exact bigint group/tie tallies."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        F.expr("CAST((dayofmonth(ts) - 1) div 7 + 1 AS INT)").alias(
            "wk"
        ),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    hist = base.groupBy("cents", "wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cents_grid = hist.select("cents").distinct()
    weeks = hist.select("wk").distinct()
    dense = (
        cents_grid.crossJoin(F.broadcast(weeks))
        .join(hist, ["cents", "wk"], "left")
        .select(
            "cents",
            "wk",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    wv = Window.partitionBy("wk").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    below = dense.select(
        "cents",
        "wk",
        "c",
        F.coalesce(F.sum("c").over(wv), F.lit(0))
        .cast("bigint")
        .alias("below_w"),
    )
    ww = Window.partitionBy("cents").orderBy("wk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    two_d = below.select(
        "cents",
        "wk",
        "c",
        F.coalesce(F.sum("below_w").over(ww), F.lit(0))
        .cast("bigint")
        .alias("lw_below"),
        F.coalesce(F.sum("c").over(ww), F.lit(0))
        .cast("bigint")
        .alias("lw_eq"),
    )
    j2 = two_d.agg(
        F.sum(F.expr("c * (2 * lw_below + lw_eq)"))
        .cast("bigint")
        .alias("j2")
    )
    grp = hist.groupBy("wk").agg(F.sum("c").cast("bigint").alias("n"))
    ties = hist.groupBy("cents").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    gstats = grp.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.expr("n * n")).cast("bigint").alias("sn2"),
        F.sum(F.expr("n * (n - 1) * (2 * n + 5)"))
        .cast("bigint")
        .alias("ga"),
        F.sum(F.expr("n * (n - 1) * (n - 2)"))
        .cast("bigint")
        .alias("gb"),
        F.sum(F.expr("n * (n - 1)")).cast("bigint").alias("gd"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    tstats = ties.agg(
        F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
        .cast("bigint")
        .alias("ta"),
        F.sum(F.expr("t * (t - 1) * (t - 2)"))
        .cast("bigint")
        .alias("tb"),
        F.sum(F.expr("t * (t - 1)")).cast("bigint").alias("td"),
    )
    c = (
        j2.crossJoin(F.broadcast(gstats))
        .crossJoin(F.broadcast(tstats))
        .withColumn("mean2", F.expr("(nn * nn - sn2) div 2"))
        .withColumn(
            "varj",
            F.expr(
                "(CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)"
                " - ga - ta) / 72.0"
                " + CAST(gb AS DOUBLE) * tb"
                " / (36.0 * nn * (nn - 1.0) * (nn - 2.0))"
                " + CAST(gd AS DOUBLE) * td"
                " / (8.0 * nn * (nn - 1.0))"
            ),
        )
    )
    return c.select(
        F.col("nn").alias("n_total"),
        F.col("k").alias("k_weeks"),
        F.col("j2").alias("j2_stat"),
        F.col("mean2").alias("mean2"),
        F.round("varj", 6).alias("var_j"),
        F.round(
            F.expr(
                "(CAST(j2 AS DOUBLE) - mean2) / (2.0 * sqrt(varj))"
            ),
            6,
        ).alias("z"),
    )


def q_page_trend(spark, sf_dir):
    """PAGE'S L TREND TEST over complete user blocks: for users
    active in ALL FOUR full weeks (days 1-28), rank each user's four
    weekly spends and test for a MONOTONE trend across weeks — the
    ordered-alternative twin of `friedman_test` (which only asks
    "any difference"). Ranks are doubled-midrank integers from exact
    pairwise cent-total comparisons on the tiny (user, week)
    aggregate; L2 = sum w * R2_w stays bigint, and the closed-form
    null mean/variance (ties -> midranks, documented approximation)
    give the z."""
    e = _t(spark, sf_dir, "events")
    uw = (
        e.where(F.expr("dayofmonth(ts) <= 28"))
        .select(
            "user_id",
            F.expr(
                "CAST((dayofmonth(ts) - 1) div 7 + 1 AS INT)"
            ).alias("wk"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("user_id", "wk")
        .agg(F.sum("cents").cast("bigint").alias("s"))
    )
    complete = (
        uw.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("nw"))
        .where(F.col("nw") == 4)
        .select("user_id")
    )
    uwc = uw.join(complete, "user_id")
    pairs = uwc.alias("a").join(
        uwc.alias("b"), F.expr("a.user_id = b.user_id")
    )
    r2 = pairs.groupBy(
        F.col("a.user_id").alias("user_id"),
        F.col("a.wk").alias("wk"),
    ).agg(
        (
            F.lit(2)
            + 2
            * F.sum(F.expr("CASE WHEN b.s < a.s THEN 1 ELSE 0 END"))
            + F.sum(
                F.expr(
                    "CASE WHEN b.s = a.s AND b.wk <> a.wk"
                    " THEN 1 ELSE 0 END"
                )
            )
        )
        .cast("bigint")
        .alias("r2")
    )
    per = r2.groupBy("wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum("r2").cast("bigint").alias("rank_sum2"),
    )
    glob = per.agg(
        F.max("n_blocks").alias("b"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.expr("wk * rank_sum2")).cast("bigint").alias("l2"),
    ).select(
        "b",
        "k",
        "l2",
        F.expr("b * k * (k + 1) * (k + 1) div 2")
        .cast("bigint")
        .alias("mean_l2"),
        F.expr(
            "CAST(b AS DOUBLE) * k * k * (k + 1) * (k + 1) * (k - 1)"
            " / 144.0"
        ).alias("var_l"),
    )
    return per.crossJoin(F.broadcast(glob)).select(
        F.col("wk").alias("week"),
        "n_blocks",
        "rank_sum2",
        F.round(
            F.expr("CAST(rank_sum2 AS DOUBLE) / (2.0 * n_blocks)"), 6
        ).alias("mean_rank"),
        F.col("l2").alias("l2_stat"),
        F.col("mean_l2"),
        F.round(
            F.expr(
                "(CAST(l2 AS DOUBLE) - mean_l2)"
                " / (2.0 * sqrt(var_l))"
            ),
            6,
        ).alias("z"),
    )


def q_ad_ksample(spark, sf_dir):
    """ANDERSON-DARLING K-SAMPLE test (Scholz-Stephens midrank
    version) across event types on ``value`` — the omnibus
    distribution-equality test with tail weight that
    `kruskal_wallis` (location) and `levene_bf` (scale) each only
    half-cover.

    Doubled-count trick keeps every CDF term integer: with B2 =
    2*B_j - l_j (doubled midrank pooled CDF) and M2 = 2*M_ij - f_ij
    per type, the term numerator (N*M2 - n_i*B2)^2/4 and denominator
    (2N*B2 - B2^2 - N*l_j)/4 are exact-integer ratios; the per-type
    fold is the only float summation. Everything runs on the
    (cents x type) histogram + two prefix sums."""
    e = _t(spark, sf_dir, "events")
    hist = (
        e.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    lj = hist.groupBy("cents").agg(
        F.sum("f").cast("bigint").alias("l")
    )
    wl = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bj = lj.select(
        "cents",
        "l",
        (2 * F.sum("l").over(wl) - F.col("l"))
        .cast("bigint")
        .alias("b2"),
        F.sum("l").over(Window.partitionBy()).cast("bigint").alias("nn"),
    )
    types = hist.select("event_type").distinct()
    dense = (
        bj.crossJoin(F.broadcast(types))
        .join(hist, ["event_type", "cents"], "left")
        .select(
            "event_type",
            "cents",
            "l",
            "b2",
            "nn",
            F.coalesce("f", F.lit(0)).cast("bigint").alias("f"),
        )
    )
    wm = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    m = dense.select(
        "event_type",
        "l",
        "b2",
        "nn",
        "f",
        (2 * F.sum("f").over(wm) - F.col("f"))
        .cast("bigint")
        .alias("m2"),
    )
    ni = hist.groupBy("event_type").agg(
        F.sum("f").cast("bigint").alias("n_i")
    )
    terms = (
        m.join(F.broadcast(ni), "event_type")
        .where(F.expr("2 * nn * b2 - b2 * b2 - nn * l > 0"))
        .select(
            "event_type",
            "n_i",
            "nn",
            F.expr(
                "CAST(l AS DOUBLE)"
                " * pow(CAST(nn AS DOUBLE) * m2"
                "       - CAST(n_i AS DOUBLE) * b2, 2)"
                " / (CAST(nn AS DOUBLE)"
                "    * (2.0 * nn * b2"
                "       - CAST(b2 AS DOUBLE) * b2"
                "       - CAST(nn AS DOUBLE) * l))"
            ).alias("term"),
        )
    )
    per = terms.groupBy("event_type").agg(
        F.max("n_i").alias("n_i"),
        F.max("nn").alias("nn"),
        F.sum("term").alias("tsum"),
    )
    out = per.agg(
        F.max("nn").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum(
            F.expr("tsum / n_i")
        ).alias("raw"),
    ).select(
        "n_total",
        "k_groups",
        F.round(
            F.expr("(CAST(n_total AS DOUBLE) - 1) / n_total * raw"), 6
        ).alias("a2_midrank"),
    )
    return out


# --------------------------------------------------------------------------
# Feature-eng pack #45: blocked binary omnibus (Cochran Q), rank
# post-hoc (Dunn), rank scale test (Ansari-Bradley), two-sample
# EDF tests (KS, Cramer-von Mises), standardized effect size
# --------------------------------------------------------------------------

def q_cochran_q(spark, sf_dir):
    """COCHRAN'S Q TEST over user blocks x event-type treatments on
    the binary outcome "user has >= 2 events of that type" — the
    k-treatment generalization of `mcnemar_test` (and the binary
    face of `friedman_test`): do the five types differ in repeat
    propensity once each user is their own control?

    All-integer spine: Q = (k-1) * sum_j (k*C_j - N)^2
    / (k * (k*sum(R_i) - sum(R_i^2))) needs only the per-type column
    totals C_j and the per-user row totals R_i — two hash aggs, no
    pivot, no floats until the final one-row division. All-0 and
    all-1 blocks provably cancel, so no block filter is needed.
    Closed-form df=4 chi-square survival."""
    e = _t(spark, sf_dir, "events")
    x = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "user_id",
            "event_type",
            F.expr("CASE WHEN cnt >= 2 THEN 1 ELSE 0 END")
            .cast("bigint")
            .alias("x"),
        )
    )
    cj = x.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("c_j")
    )
    ri = x.groupBy("user_id").agg(F.sum("x").cast("bigint").alias("r"))
    rstats = ri.agg(
        F.sum("r").cast("bigint").alias("sr"),
        F.sum(F.expr("r * r")).cast("bigint").alias("sr2"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )
    kdf = cj.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("c_j").cast("bigint").alias("nsum"),
        F.sum(F.expr("c_j * c_j")).cast("bigint").alias("sc2"),
    )
    qdf = (
        kdf.crossJoin(F.broadcast(rstats))
        .withColumn(
            # sum_j (k*C_j - N)^2 = k^2*sum C^2 - N^2*k  (since sum C = N)
            "num",
            F.expr("k * k * sc2 - nsum * nsum * k"),
        )
        .withColumn(
            "q_stat",
            F.expr(
                "(k - 1) * CAST(num AS DOUBLE)"
                " / nullif(CAST(k * (k * sr - sr2) AS DOUBLE), 0.0)"
            ),
        )
    )
    return cj.crossJoin(F.broadcast(qdf)).select(
        "event_type",
        "c_j",
        "n_blocks",
        F.col("k").alias("k_treatments"),
        F.round("q_stat", 6).alias("q_stat"),
        F.round(
            F.expr("exp(-q_stat / 2.0) * (1.0 + q_stat / 2.0)"), 6
        ).alias("p_chi2_df4"),
    )


def q_dunn_posthoc(spark, sf_dir):
    """DUNN'S POST-HOC pairwise comparisons after `kruskal_wallis`:
    which PAIRS of event types differ in value? z_ij = (Rbar_i -
    Rbar_j) / sqrt((N(N+1)/12 - T/(12(N-1))) (1/n_i + 1/n_j)) with
    the tie term T = sum(t^3 - t) — the statistic every "KW was
    significant, now what" analysis needs.

    Reuses the doubled-midrank cent histogram: per-type doubled rank
    sums are exact bigints, so each pair's z is a deterministic
    float expression on the O(k^2)=10-row self-join of the per-type
    fold — nothing pairwise ever touches raw rows."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    vc = base.groupBy("cents", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ct = vc.groupBy("cents").agg(F.sum("c").cast("bigint").alias("ct"))
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = ct.select(
        "cents",
        "ct",
        (2 * (F.sum("ct").over(w) - F.col("ct")) + F.col("ct") + 1)
        .cast("bigint")
        .alias("r2"),
    )
    per = (
        vc.join(ranked, "cents")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("bigint").alias("n"),
            F.sum(F.col("c") * F.col("r2"))
            .cast("bigint")
            .alias("r2sum"),
        )
    )
    ties = ranked.agg(
        F.sum(
            F.pow(F.col("ct").cast("double"), 3) - F.col("ct")
        ).alias("tie3"),
        F.sum("ct").cast("bigint").alias("nn"),
    )
    a = per.alias("a")
    b = per.alias("b")
    pairs = (
        a.crossJoin(b)
        .where(F.expr("a.event_type < b.event_type"))
        .crossJoin(F.broadcast(ties))
    )
    return pairs.select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(
            F.expr("CAST(a.r2sum AS DOUBLE) / (2.0 * a.n)"), 6
        ).alias("mean_rank_a"),
        F.round(
            F.expr("CAST(b.r2sum AS DOUBLE) / (2.0 * b.n)"), 6
        ).alias("mean_rank_b"),
        F.round(
            F.expr(
                "(CAST(a.r2sum AS DOUBLE) / (2.0 * a.n)"
                " - CAST(b.r2sum AS DOUBLE) / (2.0 * b.n))"
                " / sqrt((CAST(nn AS DOUBLE) * (nn + 1) / 12.0"
                "         - tie3 / (12.0 * (nn - 1)))"
                "        * (1.0 / a.n + 1.0 / b.n))"
            ),
            6,
        ).alias("z"),
    )


def q_ansari_bradley(spark, sf_dir):
    """ANSARI-BRADLEY rank SCALE test, purchase vs click ``value``:
    are the two distributions equally DISPERSED around a common
    center? The rank-based complement of `levene_bf` (which is
    moment/median-based and k-sample) for the two-sample case.

    Linear-rank-statistic machinery with midrank ties, all integer:
    the doubled AB score of a distinct value with doubled midrank r2
    is s2 = min(r2, 2(N+1) - r2); T2 = sum f1*s2 is an exact bigint,
    and the exact null moments E[T2] = n1*S/N, Var[T2] = n1*n2*
    (N*Q - S^2)/(N^2(N-1)) use S = sum l*s2 and Q = sum l*s2^2
    accumulated in DECIMAL(38)/HUGEINT (s2^2 ~ N^2 terms would
    overflow bigint at 10^10 rows)."""
    e = _t(spark, sf_dir, "events")
    vc = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("p"),
        )
        .groupBy("cents")
        .agg(
            F.sum("p").cast("bigint").alias("f1"),
            F.count(F.lit(1)).cast("bigint").alias("l"),
        )
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    scored = vc.select(
        "f1",
        "l",
        (2 * (F.sum("l").over(w) - F.col("l")) + F.col("l") + 1)
        .cast("bigint")
        .alias("r2"),
        F.sum("l").over(wall).cast("bigint").alias("nn"),
    ).select(
        "f1",
        "l",
        "nn",
        F.expr("least(r2, 2 * (nn + 1) - r2)")
        .cast("bigint")
        .alias("s2"),
    )
    agg = scored.agg(
        F.max("nn").alias("nn"),
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum(F.expr("f1 * s2")).cast("bigint").alias("t2"),
        F.sum(F.expr("CAST(l AS DECIMAL(38,0)) * s2"))
        .cast("decimal(38,0)")
        .alias("ss"),
        F.sum(F.expr("CAST(l AS DECIMAL(38,0)) * s2 * s2"))
        .cast("decimal(38,0)")
        .alias("qq"),
    )
    c = (
        agg.withColumn("n2", F.expr("nn - n1"))
        .withColumn(
            "mean_t2",
            F.expr("CAST(n1 AS DOUBLE) * CAST(ss AS DOUBLE) / nn"),
        )
        .withColumn(
            "var_t2",
            F.expr(
                "CAST(n1 AS DOUBLE) * n2"
                " * (CAST(nn AS DOUBLE) * CAST(qq AS DOUBLE)"
                "    - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))"
                " / (CAST(nn AS DOUBLE) * nn * (nn - 1.0))"
            ),
        )
    )
    return c.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_click"),
        F.col("t2").alias("ab_stat2"),
        F.round("mean_t2", 6).alias("mean2"),
        F.round(
            F.expr(
                "(CAST(t2 AS DOUBLE) - mean_t2) / sqrt(var_t2)"
            ),
            6,
        ).alias("z"),
    )


def q_ks_two_sample(spark, sf_dir):
    """TWO-SAMPLE KOLMOGOROV-SMIRNOV test, purchase vs click
    ``value`` — the classic EDF sup-gap (`ks_drift` monitors a
    window against a reference; this is the exact two-cohort test
    with its asymptotic p). D is EXACT as a rational: max over the
    merged cent grid of |cum1*n2 - cum2*n1| / (n1*n2) — an integer
    max, no float CDFs. p uses the Kolmogorov asymptotic series
    truncated at 3 terms (documented; terms beyond are < 1e-10 for
    any D the test would ever report)."""
    e = _t(spark, sf_dir, "events")
    vc = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("p"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("cents")
        .agg(
            F.sum("p").cast("bigint").alias("np"),
            F.sum("c").cast("bigint").alias("nc"),
        )
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = vc.select(
        F.sum("np").over(w).cast("bigint").alias("cum1"),
        F.sum("nc").over(w).cast("bigint").alias("cum2"),
        F.sum("np").over(wall).cast("bigint").alias("n1"),
        F.sum("nc").over(wall).cast("bigint").alias("n2"),
    )
    agg = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(F.expr("abs(cum1 * n2 - cum2 * n1)"))
        .cast("bigint")
        .alias("dnum"),
    )
    c = (
        agg.withColumn(
            "d",
            F.expr(
                "CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)"
            ),
        )
        .withColumn(
            "lam",
            F.expr(
                "sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) * d"
            ),
        )
    )
    return c.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_click"),
        F.col("dnum").alias("d_numer"),
        F.round("d", 6).alias("d_stat"),
        F.round("lam", 6).alias("lambda_stat"),
        F.round(
            F.expr(
                "2.0 * (exp(-2.0 * lam * lam)"
                " - exp(-8.0 * lam * lam)"
                " + exp(-18.0 * lam * lam))"
            ),
            6,
        ).alias("p_asymp"),
    )


def q_cvm_two_sample(spark, sf_dir):
    """TWO-SAMPLE CRAMER-VON MISES test, purchase vs click
    ``value`` — the INTEGRATED EDF gap (every quantile weighs in)
    where `ks_two_sample` only sees the single largest gap; the
    canonical pairing in any distribution-equality report.

    T = sum_v l_v * (cum1_v*n2 - cum2_v*n1)^2 / (N^2 * n1 * n2)
    with an exact wide-integer numerator: the squared gap terms grow
    as l*N^2*... so they accumulate in DECIMAL(38)/HUGEINT, and the
    one division to double happens on the single-row fold."""
    e = _t(spark, sf_dir, "events")
    vc = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("p"),
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("c"),
        )
        .groupBy("cents")
        .agg(
            F.sum("p").cast("bigint").alias("np"),
            F.sum("c").cast("bigint").alias("nc"),
        )
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = vc.select(
        (F.col("np") + F.col("nc")).cast("bigint").alias("l"),
        F.sum("np").over(w).cast("bigint").alias("cum1"),
        F.sum("nc").over(w).cast("bigint").alias("cum2"),
        F.sum("np").over(wall).cast("bigint").alias("n1"),
        F.sum("nc").over(wall).cast("bigint").alias("n2"),
    )
    agg = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.sum(
            F.expr(
                "CAST(l AS DECIMAL(38,0))"
                " * (cum1 * n2 - cum2 * n1)"
                " * (cum1 * n2 - cum2 * n1)"
            )
        )
        .cast("decimal(38,0)")
        .alias("tnum"),
    )
    return agg.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_click"),
        F.round(
            F.expr(
                "CAST(tnum AS DOUBLE)"
                " / (pow(CAST(n1 AS DOUBLE) + n2, 2)"
                "    * CAST(n1 AS DOUBLE) * n2)"
            ),
            6,
        ).alias("t_stat"),
    )


def q_cohens_d(spark, sf_dir):
    """COHEN'S D and HEDGES' G standardized mean difference,
    purchase vs click ``value`` — the effect size every test in
    this suite (welch_t, mann_whitney, cliffs_delta) ultimately
    reports next to its p: how many pooled standard deviations
    apart are the means, small-sample-corrected (g = J*d,
    J = 1 - 3/(4*df - 1)).

    Exact integer cent sums and squared-cent sums per group; the
    group mean/variance/pooled-SD chain is a deterministic float
    expression on the two-row fold ((sum c)^2 squared in double —
    exact for sums below 2^53, identical in both engines)."""
    e = _t(spark, sf_dir, "events")
    per = (
        e.where(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("s"),
            F.sum(F.expr("c * c")).cast("bigint").alias("q"),
        )
        .withColumn("mean_v", F.expr("CAST(s AS DOUBLE) / (100.0 * n)"))
        .withColumn(
            "var_v",
            F.expr(
                "(CAST(q AS DOUBLE)"
                " - pow(CAST(s AS DOUBLE), 2) / n)"
                " / ((n - 1.0) * 10000.0)"
            ),
        )
    )
    p1 = per.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("n1"),
        F.col("mean_v").alias("m1"),
        F.col("var_v").alias("v1"),
    )
    p2 = per.where(F.col("event_type") == "click").select(
        F.col("n").alias("n2"),
        F.col("mean_v").alias("m2"),
        F.col("var_v").alias("v2"),
    )
    c = (
        p1.crossJoin(p2)
        .withColumn(
            "sp",
            F.expr(
                "sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2)"
                " / (n1 + n2 - 2.0))"
            ),
        )
        .withColumn("d", F.expr("(m1 - m2) / sp"))
        .withColumn(
            "jf", F.expr("1.0 - 3.0 / (4.0 * (n1 + n2 - 2) - 1.0)")
        )
    )
    return c.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_click"),
        F.round(F.expr("m1 - m2"), 6).alias("mean_diff"),
        F.round("sp", 6).alias("pooled_sd"),
        F.round("d", 6).alias("cohens_d"),
        F.round(F.expr("jf * d"), 6).alias("hedges_g"),
    )
