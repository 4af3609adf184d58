"""Feature-eng packs #54-#56: classifier evaluation, growth accounting, Zipf/lognormal fits.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import SESSION_GAP_S, _t, _us  # noqa: F401


# --------------------------------------------------------------------------
# Feature-eng pack #54: classifier-eval completion — MCC/Youden at
# the median threshold, temporal ECE, cost-optimal threshold,
# fairness gaps, precision@k, gains AUC
# --------------------------------------------------------------------------

def _pc_scored(spark, sf_dir):
    """Shared scored-event base for the classifier-eval pack: the
    score (the event value in cents) separating purchase (positive)
    from click (negative)."""
    e = _t(spark, sf_dir, "events")
    return e.where(
        F.col("event_type").isin("purchase", "click")
    ).select(
        "event_id",
        "user_id",
        F.dayofmonth("ts").cast("int").alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("pos"),
    )


def q_mcc_score(spark, sf_dir):
    """MATTHEWS CORRELATION COEFFICIENT (plus balanced accuracy and
    Youden's J) of the value-score classifier at the EXACT combined-
    median threshold — the single-number confusion summary that
    stays honest under class imbalance where accuracy and even F1
    lie. The doubled median comes from the cumulative cent
    histogram; the four confusion cells are exact bigints; MCC's
    n^4-scale denominator is a product of four sqrt's of exact
    doubles (deterministic in both engines)."""
    base = _pc_scored(spark, sf_dir)
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
    cells = base.crossJoin(F.broadcast(med)).agg(
        F.sum(
            F.expr(
                "CASE WHEN 2 * cents > med2 AND pos = 1"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("tp"),
        F.sum(
            F.expr(
                "CASE WHEN 2 * cents > med2 AND pos = 0"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("fp"),
        F.sum(
            F.expr(
                "CASE WHEN 2 * cents <= med2 AND pos = 0"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("tn"),
        F.sum(
            F.expr(
                "CASE WHEN 2 * cents <= med2 AND pos = 1"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("fn"),
    )
    return cells.select(
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(
            F.expr(
                "(CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)"
                " / nullif(sqrt(CAST(tp + fp AS DOUBLE))"
                "   * sqrt(CAST(tp + fn AS DOUBLE))"
                "   * sqrt(CAST(tn + fp AS DOUBLE))"
                "   * sqrt(CAST(tn + fn AS DOUBLE)), 0.0)"
            ),
            6,
        ).alias("mcc"),
        F.round(
            F.expr(
                "0.5 * (CAST(tp AS DOUBLE) / nullif(tp + fn, 0)"
                " + CAST(tn AS DOUBLE) / nullif(tn + fp, 0))"
            ),
            6,
        ).alias("balanced_acc"),
        F.round(
            F.expr(
                "CAST(tp AS DOUBLE) / nullif(tp + fn, 0)"
                " + CAST(tn AS DOUBLE) / nullif(tn + fp, 0) - 1.0"
            ),
            6,
        ).alias("youden_j"),
    )


def q_ece_score(spark, sf_dir):
    """TEMPORAL EXPECTED CALIBRATION ERROR: train bin-wise purchase
    probabilities on WEEK 1 (value-decile bins by exact rank cuts
    over the week-1 histogram), evaluate on WEEKS 3-4, and report
    per-bin (predicted vs observed) plus the weighted |gap| sum —
    does last week's calibration still hold (`calibration_bins`
    bins one window; this is the drift-aware ECE). All counts exact
    bigints; the ECE fold is O(bins)."""
    base = _pc_scored(spark, sf_dir)
    w1 = base.where(F.col("day") <= 7)
    hist = w1.groupBy("cents").agg(
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
    edges = (
        cum.crossJoin(
            F.broadcast(
                spark.range(1, 10).select(
                    F.col("id").cast("int").alias("d")
                )
            )
        )
        .where(F.expr("cum >= (d * n + 9) div 10"))
        .groupBy("d")
        .agg(F.min("cents").cast("bigint").alias("edge"))
    )
    def binned(df):
        return (
            df.crossJoin(F.broadcast(edges))
            .groupBy("event_id", "pos")
            .agg(
                (1 + F.sum(
                    F.expr("CASE WHEN cents > edge THEN 1 ELSE 0 END")
                ))
                .cast("int")
                .alias("bin")
            )
        )
    train = binned(w1).groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        F.sum("pos").cast("bigint").alias("p_train"),
    )
    test = binned(base.where(F.col("day") >= 15)).groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum("pos").cast("bigint").alias("p_test"),
    )
    j = train.join(test, "bin")
    tot = j.agg(F.sum("n_test").cast("bigint").alias("nt"))
    ece = (
        j.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr(
                    "CAST(n_test AS DOUBLE) / nt"
                    " * abs(CAST(p_train AS DOUBLE) / n_train"
                    "       - CAST(p_test AS DOUBLE) / n_test)"
                )
            ).alias("ece")
        )
    )
    return j.crossJoin(F.broadcast(ece)).select(
        "bin",
        "n_train",
        "n_test",
        F.round(
            F.expr("CAST(p_train AS DOUBLE) / n_train"), 6
        ).alias("pred_rate"),
        F.round(
            F.expr("CAST(p_test AS DOUBLE) / n_test"), 6
        ).alias("obs_rate"),
        F.round("ece", 6).alias("ece"),
    )


def q_cost_threshold(spark, sf_dir):
    """COST-OPTIMAL DECISION THRESHOLD: with a false positive
    costing 1 and a false negative costing 5, sweep EVERY distinct
    score cut (predict positive when cents > t) via two cumulative
    histograms and return the cost-minimizing threshold — what
    `best_threshold` does for KS, done for asymmetric business cost.
    Exact integer costs; deterministic (cost asc, t asc) argmin."""
    base = _pc_scored(spark, sf_dir)
    hist = base.groupBy("cents").agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum(F.expr("1 - pos")).cast("bigint").alias("ng"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = hist.select(
        "cents",
        F.sum("p").over(w).cast("bigint").alias("cum_p"),
        F.sum("ng").over(w).cast("bigint").alias("cum_n"),
        F.sum("p").over(wall).cast("bigint").alias("tot_p"),
        F.sum("ng").over(wall).cast("bigint").alias("tot_n"),
    )
    # threshold t = this cents value: FN = positives <= t, FP =
    # negatives > t; cost = 5*FN + 1*FP (exact bigint)
    scored = cum.select(
        "cents",
        F.expr("5 * cum_p + (tot_n - cum_n)")
        .cast("bigint")
        .alias("cost"),
        F.col("cum_p").alias("fn"),
        F.expr("tot_n - cum_n").cast("bigint").alias("fp"),
        "tot_p",
        "tot_n",
    )
    wr = Window.orderBy(F.col("cost").asc(), F.col("cents").asc())
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select(
            F.expr("CAST(cents AS DOUBLE) / 100.0").alias(
                "threshold_value"
            ),
            "fn",
            "fp",
            F.col("cost").alias("min_cost"),
            F.expr("5 * tot_p").cast("bigint").alias(
                "cost_flag_none"
            ),
            F.col("tot_n").alias("cost_flag_all"),
        )
    )


def q_fairness_gaps(spark, sf_dir):
    """FAIRNESS AUDIT of the value-score classifier at the median
    threshold: per user cohort (user_id % 4), the TPR and FPR, plus
    the max cross-group TPR gap (equal opportunity) and FPR gap
    (predictive equality) — the responsible-AI table every deployed
    filter ships with. Exact per-group confusion counts; the gap
    fold is O(groups)."""
    base = _pc_scored(spark, sf_dir)
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
        .groupBy((F.col("user_id") % 4).cast("int").alias("cohort"))
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN 2 * cents > med2 AND pos = 1"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("tp"),
            F.sum("pos").cast("bigint").alias("npos"),
            F.sum(
                F.expr(
                    "CASE WHEN 2 * cents > med2 AND pos = 0"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("fp"),
            F.sum(F.expr("1 - pos")).cast("bigint").alias("nneg"),
        )
    )
    rates = per.select(
        "cohort",
        "npos",
        "nneg",
        F.expr("CAST(tp AS DOUBLE) / nullif(npos, 0)").alias("tpr"),
        F.expr("CAST(fp AS DOUBLE) / nullif(nneg, 0)").alias("fpr"),
    )
    gaps = rates.agg(
        (F.max("tpr") - F.min("tpr")).alias("tpr_gap"),
        (F.max("fpr") - F.min("fpr")).alias("fpr_gap"),
    )
    return rates.crossJoin(F.broadcast(gaps)).select(
        "cohort",
        "npos",
        "nneg",
        F.round("tpr", 6).alias("tpr"),
        F.round("fpr", 6).alias("fpr"),
        F.round("tpr_gap", 6).alias("tpr_gap"),
        F.round("fpr_gap", 6).alias("fpr_gap"),
    )


def q_prec_at_k(spark, sf_dir):
    """PRECISION@K of the value-score ranking: flag the top
    100/500/1000 scored events (deterministic (cents desc,
    event_id) order) and report the purchase precision plus recall
    at each k — the review-queue quality table a human-in-the-loop
    pipeline sizes its batches with. Exact integer cuts and
    counts."""
    base = _pc_scored(spark, sf_dir)
    wr = Window.orderBy(F.col("cents").desc(), F.col("event_id").asc())
    ranked = base.select(
        "pos",
        F.row_number().over(wr).cast("bigint").alias("rk"),
    )
    tot = ranked.agg(F.sum("pos").cast("bigint").alias("tot_pos"))
    ks = spark.createDataFrame([(100,), (500,), (1000,)], "k int")
    per = (
        ranked.crossJoin(F.broadcast(ks))
        .where(F.expr("rk <= k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_flagged"),
            F.sum("pos").cast("bigint").alias("n_hits"),
        )
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_flagged",
        "n_hits",
        F.round(
            F.expr("CAST(n_hits AS DOUBLE) / n_flagged"), 6
        ).alias("precision_at_k"),
        F.round(
            F.expr("CAST(n_hits AS DOUBLE) / tot_pos"), 6
        ).alias("recall_at_k"),
    )


def q_gains_auc(spark, sf_dir):
    """CUMULATIVE GAINS AUC: the exact area under the gains curve
    (share of positives captured vs share of population flagged,
    sweeping the deterministic (cents desc, event_id) ranking) — the
    single-number summary of `decile_lift`'s table; 0.5 = random,
    1.0 = perfect ranking. EXACT RATIONAL: the area telescopes to
    sum(cum_pos_i) over all ranks / (n * total_pos) via the
    trapezoid-free right-sum, all bigint (DECIMAL(38)/HUGEINT for
    the rank-sum scale at 10^10 rows)."""
    base = _pc_scored(spark, sf_dir)
    wr = Window.orderBy(F.col("cents").desc(), F.col("event_id").asc())
    wcum = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = base.select(
        "pos",
        F.sum("pos").over(wcum).cast("bigint").alias("cum_pos"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("tot_pos"),
        F.sum(F.expr("CAST(cum_pos AS DECIMAL(38,0))"))
        .cast("decimal(38,0)")
        .alias("s_cum"),
    )
    return agg.select(
        "n",
        "tot_pos",
        F.round(
            F.expr(
                "CAST(s_cum AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * tot_pos)"
            ),
            6,
        ).alias("gains_auc"),
    )


# --------------------------------------------------------------------------
# Feature-eng pack #55: growth accounting, power-user curve,
# diversified top-k, band-anomaly days, rank stability,
# conversion-lag histogram
# --------------------------------------------------------------------------

def q_growth_accounting(spark, sf_dir):
    """GROWTH ACCOUNTING (the canonical new/retained/resurrected/
    churned decomposition) per full week 2-4: every week-w active
    user is NEW (first active week is w), RETAINED (active w-1), or
    RESURRECTED (inactive w-1 but seen earlier); CHURNED counts the
    w-1 actives who went quiet — and new + retained + resurrected
    provably equals the week's actives (pytest asserts the
    identity). One distinct (user, week) presence table, one
    first-week agg, two keyed self-joins; exact bigints."""
    e = _t(spark, sf_dir, "events")
    pres = (
        e.where(F.expr("dayofmonth(ts) <= 28"))
        .select(
            "user_id",
            F.expr(
                "CAST((dayofmonth(ts) - 1) div 7 + 1 AS INT)"
            ).alias("wk"),
        )
        .distinct()
    )
    first = pres.groupBy("user_id").agg(
        F.min("wk").alias("first_wk")
    )
    prev = pres.select(
        "user_id", (F.col("wk") + 1).alias("wk")
    )
    lab = (
        pres.join(first, "user_id")
        .join(
            prev.withColumnRenamed("wk", "wk_").selectExpr(
                "user_id", "wk_ AS wk", "1 AS was_prev"
            ),
            ["user_id", "wk"],
            "left",
        )
        .where(F.col("wk") >= 2)
        .select(
            "wk",
            F.expr(
                "CASE WHEN first_wk = wk THEN 'new'"
                " WHEN was_prev = 1 THEN 'retained'"
                " ELSE 'resurrected' END"
            ).alias("state"),
        )
    )
    counts = lab.groupBy("wk").agg(
        F.sum(F.expr("CASE WHEN state = 'new' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_new"),
        F.sum(
            F.expr("CASE WHEN state = 'retained' THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.expr(
                "CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_resurrected"),
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
    )
    churn = (
        pres.where(F.col("wk") <= 3)
        .join(
            pres.select(
                "user_id", (F.col("wk") - 1).alias("wk")
            ),
            ["user_id", "wk"],
            "left_anti",
        )
        .select((F.col("wk") + 1).alias("wk"))
        .groupBy("wk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    return counts.join(churn, "wk", "left").select(
        F.col("wk").alias("week"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce("n_churned", F.lit(0))
        .cast("bigint")
        .alias("n_churned"),
        F.round(
            F.expr(
                "(CAST(n_new + n_resurrected AS DOUBLE)"
                " - coalesce(n_churned, 0))"
                " / n_active"
            ),
            6,
        ).alias("quick_ratio_delta"),
    )


def q_power_user_curve(spark, sf_dir):
    """POWER USER CURVE: the distribution of users by ACTIVE-DAY
    count over the month, bucketed 1 / 2-3 / 4-7 / 8-14 / 15+ — a
    right-shifted curve is an engaged product, a wall at 1 is
    drive-by traffic (`dau_mau` is this curve's mean; the shape is
    the diagnosis). Exact distinct-day counts and bucket counts."""
    e = _t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.countDistinct(F.dayofmonth("ts"))
        .cast("bigint")
        .alias("days")
    )
    tot = pu.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    bucketed = pu.select(
        F.expr(
            "CASE WHEN days = 1 THEN '01' WHEN days <= 3 THEN '02-03'"
            " WHEN days <= 7 THEN '04-07'"
            " WHEN days <= 14 THEN '08-14' ELSE '15+' END"
        ).alias("day_bucket"),
        "days",
    )
    return (
        bucketed.groupBy("day_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("days").cast("bigint").alias("active_days"),
        )
        .crossJoin(
            F.broadcast(
                tot.select(F.col("n_users").alias("n_total"))
            )
        )
        .select(
            "day_bucket",
            "n_users",
            "active_days",
            F.round(
                F.expr("CAST(n_users AS DOUBLE) / n_total"), 6
            ).alias("user_share"),
        )
    )


def q_diverse_topk(spark, sf_dir):
    """DIVERSIFIED TOP-K retrieval: the top 10 documents by length
    score with AT MOST 2 PER SOURCE — the per-provider cap every
    "related items" surface enforces so one feed can't monopolize
    the slate (the windowed cousin of `domain_cap`'s corpus quota).
    Two deterministic rank windows (within-source, then global over
    the survivors); exact integer keys everywhere."""
    d = _t(spark, sf_dir, "documents")
    ws = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    capped = (
        d.select("doc_id", "source", "n_chars")
        .withColumn("src_rank", F.row_number().over(ws))
        .where(F.col("src_rank") <= 2)
    )
    wg = Window.orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        capped.withColumn("rk", F.row_number().over(wg))
        .where(F.col("rk") <= 10)
        .select("rk", "doc_id", "source", "n_chars", "src_rank")
    )


def q_band_anomaly_days(spark, sf_dir):
    """QUANTILE-BAND ANOMALY DAYS: days whose count falls outside
    the type's own exact [p10, p90] daily band — the robust
    (order-statistic) twin of `burst_intervals`' mean+2*sigma flag,
    immune to the outliers it hunts. Band edges via rank picks on
    the 30-day series; exact integer comparisons."""
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(F.dayofmonth("ts").cast("int").alias("day"))
        .distinct()
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
        types.crossJoin(F.broadcast(days))
        .join(raw, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("c", "day")
    wn = Window.partitionBy("event_type")
    ranked = grid.select(
        "event_type",
        "day",
        "c",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    bands = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.expr("rn = (10 * n + 99) div 100"), F.col("c")
            )
        ).alias("p10"),
        F.max(
            F.when(
                F.expr("rn = (90 * n + 99) div 100"), F.col("c")
            )
        ).alias("p90"),
    )
    return (
        grid.join(F.broadcast(bands), "event_type")
        .where(F.expr("c < p10 OR c > p90"))
        .select(
            "event_type",
            "day",
            F.col("c").alias("count"),
            F.col("p10").cast("bigint").alias("band_lo"),
            F.col("p90").cast("bigint").alias("band_hi"),
            F.expr(
                "CASE WHEN c > p90 THEN 'high' ELSE 'low' END"
            ).alias("side"),
        )
    )


def q_rank_stability(spark, sf_dir):
    """RANK STABILITY of the top spenders: Spearman correlation
    between users' week-1 and week-4 spend RANKS (users active in
    both; doubled midranks keep ties integer) — does the leaderboard
    persist or reshuffle (`rbo_overlap` compares two lists top-down;
    this correlates the full common set). Exact integer rank
    machinery; the Spearman fold uses the integer-moment Pearson
    formula on the doubled ranks."""
    e = _t(spark, sf_dir, "events")
    pu = (
        e.where(
            F.expr(
                "dayofmonth(ts) <= 7 OR dayofmonth(ts)"
                " BETWEEN 22 AND 28"
            )
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.expr("dayofmonth(ts) <= 7"),
                    F.expr("CAST(round(value * 100) AS BIGINT)"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("w1"),
            F.sum(
                F.when(
                    F.expr("dayofmonth(ts) >= 22"),
                    F.expr("CAST(round(value * 100) AS BIGINT)"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("w4"),
        )
        .where(F.expr("w1 > 0 AND w4 > 0"))
    )
    w1h = pu.groupBy("w1").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    ww = Window.orderBy("w1").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r1 = w1h.select(
        "w1",
        (2 * (F.sum("t").over(ww) - F.col("t")) + F.col("t") + 1)
        .cast("bigint")
        .alias("r1"),
    )
    w4h = pu.groupBy("w4").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    ww4 = Window.orderBy("w4").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r4 = w4h.select(
        "w4",
        (2 * (F.sum("t").over(ww4) - F.col("t")) + F.col("t") + 1)
        .cast("bigint")
        .alias("r4"),
    )
    j = pu.join(r1, "w1").join(r4, "w4")
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r1").cast("bigint").alias("sx"),
        F.sum("r4").cast("bigint").alias("sy"),
        F.sum(F.expr("r1 * r1")).cast("bigint").alias("sxx"),
        F.sum(F.expr("r4 * r4")).cast("bigint").alias("syy"),
        F.sum(F.expr("r1 * r4")).cast("bigint").alias("sxy"),
    )
    return agg.select(
        F.col("n").alias("n_users"),
        F.round(
            F.expr(
                "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                " / sqrt((CAST(n AS DOUBLE) * sxx"
                "         - CAST(sx AS DOUBLE) * sx)"
                "        * (CAST(n AS DOUBLE) * syy"
                "           - CAST(sy AS DOUBLE) * sy))"
            ),
            6,
        ).alias("spearman_w1_w4"),
    )


def q_conversion_lag_hist(spark, sf_dir):
    """CONVERSION LAG HISTOGRAM: for each user's FIRST purchase, the
    lag since their FIRST event, bucketed <1h / 1-24h / 1-3d / 3-7d
    / 7d+ — the funnel-velocity shape behind `time_to_convert`'s
    percentiles. Exact microsecond lags and bucket counts."""
    e = _t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min(_us("ts")).alias("first_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", _us("ts")
            )
        ).alias("buy_us"),
    )
    lagged = pu.where(F.col("buy_us").isNotNull()).select(
        F.expr("buy_us - first_us").alias("lag_us")
    )
    tot = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converters")
    )
    bucketed = lagged.select(
        F.expr(
            "CASE WHEN lag_us < 3600000000 THEN 'a_<1h'"
            " WHEN lag_us < 86400000000 THEN 'b_1-24h'"
            " WHEN lag_us < 259200000000 THEN 'c_1-3d'"
            " WHEN lag_us < 604800000000 THEN 'd_3-7d'"
            " ELSE 'e_7d+' END"
        ).alias("lag_bucket")
    )
    return (
        bucketed.groupBy("lag_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .crossJoin(F.broadcast(tot))
        .select(
            "lag_bucket",
            "n_users",
            F.round(
                F.expr("CAST(n_users AS DOUBLE) / n_converters"), 6
            ).alias("share"),
        )
    )


# --------------------------------------------------------------------------
# Feature-eng pack #56: Zipf rank-frequency fit quality, lognormal
# length fit
# --------------------------------------------------------------------------

def q_zipf_r2(spark, sf_dir):
    """ZIPF FIT QUALITY: the R^2 (and slope) of the least-squares
    log-log rank-frequency regression over the corpus's top-100
    tokens — `zipf_two_point` reads the slope from two points; this
    says how LINEAR the whole head actually is (natural text ~0.98+,
    templated/generated text sags). Token counts and ranks are exact
    integers; the OLS runs over the tiny 100-row head with
    deterministic (count desc, token) ranking."""
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select(
            F.explode(
                F.split(F.trim(F.col("text")), "\\s+")
            ).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    wr = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    head = tf.select(
        "c", F.row_number().over(wr).cast("bigint").alias("r")
    ).where(F.col("r") <= 100)
    agg = head.select(
        F.expr("ln(CAST(r AS DOUBLE))").alias("x"),
        F.expr("ln(CAST(c AS DOUBLE))").alias("y"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    return agg.select(
        F.col("n").alias("n_head"),
        F.round(
            F.expr(
                "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
            ),
            6,
        ).alias("zipf_slope"),
        F.round(
            F.expr(
                "pow(n * sxy - sx * sy, 2)"
                " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            ),
            6,
        ).alias("r2"),
    )


def q_lognormal_fit(spark, sf_dir):
    """LOGNORMAL FIT of document lengths (n_chars) per source:
    mu/sigma of ln(length) by method of moments, plus the implied
    lognormal median exp(mu) next to the EXACT empirical median —
    the sanity pair a corpus card prints (lengths that aren't even
    roughly lognormal signal truncation or templating;
    `length_buckets` bins, this fits). Integer lengths; ln folds per
    source; empirical median from the rank pick."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "source", F.col("n_chars").cast("bigint").alias("len")
    ).where(F.col("len") > 0)
    mom = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg(F.expr("ln(CAST(len AS DOUBLE))")).alias("mu"),
        (
            F.avg(
                F.expr(
                    "ln(CAST(len AS DOUBLE))"
                    " * ln(CAST(len AS DOUBLE))"
                )
            )
        ).alias("m2"),
    )
    wo = Window.partitionBy("source").orderBy("len")
    wn = Window.partitionBy("source")
    med = (
        base.select(
            "source",
            "len",
            F.row_number().over(wo).cast("bigint").alias("rn"),
            F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
        )
        .where(F.expr("rn = (n + 1) div 2 OR rn = n div 2 + 1"))
        .groupBy("source")
        .agg(
            (
                F.sum(
                    F.expr(
                        "len * (CASE WHEN (n + 1) div 2 = n div 2 + 1"
                        " THEN 2 ELSE 1 END)"
                    )
                )
                / 2.0
            ).alias("emp_median")
        )
    )
    return mom.join(med, "source").select(
        "source",
        "n",
        F.round("mu", 6).alias("log_mu"),
        F.round(F.expr("sqrt(m2 - mu * mu)"), 6).alias("log_sigma"),
        F.round(F.expr("exp(mu)"), 6).alias("lognormal_median"),
        F.round("emp_median", 6).alias("empirical_median"),
    )
