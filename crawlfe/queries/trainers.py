"""Feature-eng pack #77 (r4): in-engine trainers + competing risks.

Small closed-form LEARNERS that run entirely as aggregations — the
"can the engine train simple models without leaving SQL" tier every
feature platform ships:

* ``decision_stump`` — the 1-split decision tree: sweep every value-
  bin threshold for predicting purchase-vs-rest, score each split by
  weighted Gini impurity computed from CUMULATIVE class counts (one
  ordered window over O(bins) rows), pick argmin with a deterministic
  tie rule.  The fat table contributes one hash agg; the sweep is
  O(bins) arithmetic.
* ``naive_bayes`` — multinomial Naive Bayes over (dow, value-bin)
  features: train on days 1-15 with Laplace smoothing, score days
  16+ by ARGMAX of per-class log-posteriors summed as exact BIGINT
  ten-thousandths (the quality_unigram_lm fixed-point discipline —
  argmax over doubles would be summation-order-dependent; over
  bigints it is bit-deterministic).  Output: per-class test counts,
  hits, accuracy row.
* ``competing_risks_cif`` — Aalen-Johansen cumulative incidence
  (public estimator; Aalen & Johansen 1978) for two competing risks
  (purchase vs error) over per-user time-to-first-event: the overall
  survival prefix product is an ORDERED window log-sum (fixed
  accumulation order in both engines), and CIF_k(t) accumulates
  S(t−)·d_k/n_t per risk.  Generalizes the registry's single-risk
  Kaplan-Meier/Nelson-Aalen pair.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t, _us

_STUMP_BIN_CENTS = 1000
_STUMP_MAX_BIN = 19
_NB_TRAIN_DAY_MAX = 15
_NB_BIN_CENTS = 2500
_NB_MAX_BIN = 4


def q_decision_stump(spark, sf_dir):
    """Best single threshold on the cents axis for purchase-vs-rest:
    per $10 bin, class counts; cumulative counts give each candidate
    split "<= bin b" its weighted Gini; argmin (gini asc, bin asc).
    Output one row: split_bin, n_left/right, pos_left/right,
    gini (round 6), plus the majority-class accuracy of the stump."""
    e = _t(spark, sf_dir, "events").select(
        F.least(
            F.lit(_STUMP_MAX_BIN),
            F.expr(
                f"CAST(round(value * 100) AS BIGINT) DIV {_STUMP_BIN_CENTS}"
            ),
        ).alias("bin"),
        (F.col("event_type") == "purchase").cast("bigint").alias("pos"),
    )
    bins = e.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    tot = bins.agg(
        F.sum("n").alias("nn"), F.sum("p").alias("pp")
    )
    cum = bins.select(
        "bin",
        F.sum("n").over(w).alias("nl"),
        F.sum("p").over(w).alias("pl"),
    ).crossJoin(F.broadcast(tot))
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("nn") - nl
    pr = F.col("pp") - pl
    gini_l = 1.0 - F.pow(pl / nl, 2) - F.pow((nl - pl) / nl, 2)
    gini_r = F.when(nr > 0,
        1.0 - F.pow(pr / nr, 2) - F.pow((nr - pr) / nr, 2)
    ).otherwise(F.lit(0.0))
    scored = cum.select(
        "bin",
        nl.alias("n_left"),
        pl.alias("pos_left"),
        nr.alias("n_right"),
        pr.alias("pos_right"),
        F.col("nn").alias("nn"),
        ((nl / F.col("nn")) * gini_l + (nr / F.col("nn")) * gini_r).alias(
            "gini"
        ),
    ).where(F.col("n_right") > 0)
    rk = Window.orderBy(F.col("gini").asc(), F.col("bin").asc())
    best = scored.withColumn("rk", F.row_number().over(rk)).where(
        F.col("rk") == 1
    )
    acc = (
        F.greatest(F.col("pos_left"), F.col("n_left") - F.col("pos_left"))
        + F.greatest(
            F.col("pos_right"), F.col("n_right") - F.col("pos_right")
        )
    ) / F.col("nn").cast("double")
    return best.select(
        F.col("bin").alias("split_bin"),
        F.col("n_left").cast("bigint").alias("n_left"),
        F.col("pos_left").cast("bigint").alias("pos_left"),
        F.col("n_right").cast("bigint").alias("n_right"),
        F.col("pos_right").cast("bigint").alias("pos_right"),
        F.round("gini", 6).alias("gini"),
        F.round(acc, 6).alias("stump_acc"),
    )


def q_naive_bayes(spark, sf_dir):
    """Multinomial NB over (dow, value-bin): Laplace class-
    conditional log-probs rounded to BIGINT 1e-4 (exact argmax),
    train days 1-15, score days 16+.  Output per true class: n_test,
    hits, accuracy (round 6) — the engine-native baseline
    classifier."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.dayofmonth("ts").alias("day"),
        F.dayofweek("ts").alias("dow"),
        F.least(
            F.lit(_NB_MAX_BIN),
            F.expr(
                f"CAST(round(value * 100) AS BIGINT) DIV {_NB_BIN_CENTS}"
            ),
        ).alias("bin"),
    )
    train = e.where(F.col("day") <= _NB_TRAIN_DAY_MAX)
    test = e.where(F.col("day") > _NB_TRAIN_DAY_MAX)

    prior = train.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("nc")
    )
    n_train = train.agg(F.count(F.lit(1)).alias("nt"))
    n_cls = prior.agg(F.count(F.lit(1)).alias("kc"))

    def cond_lp(col, card):
        """log P(feature=v | class) with Laplace over `card` levels,
        fixed-point e4, as (event_type, v, lp_e4) covering ALL
        (class, level) pairs via the class x level cross of observed
        levels."""
        counts = train.groupBy("event_type", col).agg(
            F.count(F.lit(1)).cast("bigint").alias("cv")
        )
        levels = train.select(col).distinct()
        full = prior.crossJoin(levels).join(
            counts, ["event_type", col], "left"
        ).na.fill({"cv": 0})
        return full.select(
            "event_type",
            col,
            F.round(
                F.log(
                    (F.col("cv") + 1)
                    / (F.col("nc") + F.lit(card)).cast("double")
                )
                * 10000
            )
            .cast("bigint")
            .alias(f"lp_{col}_e4"),
        )

    lp_dow = cond_lp("dow", 7)
    lp_bin = cond_lp("bin", _NB_MAX_BIN + 1)
    lp_prior = prior.crossJoin(F.broadcast(n_train)).crossJoin(
        F.broadcast(n_cls)
    ).select(
        F.col("event_type").alias("cls"),
        F.round(
            F.log(
                (F.col("nc") + 1)
                / (F.col("nt") + F.col("kc")).cast("double")
            )
            * 10000
        )
        .cast("bigint")
        .alias("lp_prior_e4"),
    )
    scored = (
        test.crossJoin(F.broadcast(lp_prior))
        .join(
            F.broadcast(lp_dow).withColumnRenamed("event_type", "cls"),
            ["cls", "dow"],
        )
        .join(
            F.broadcast(lp_bin).withColumnRenamed("event_type", "cls"),
            ["cls", "bin"],
        )
        .withColumn(
            "score_e4",
            F.col("lp_prior_e4")
            + F.col("lp_dow_e4")
            + F.col("lp_bin_e4"),
        )
    )
    pick = Window.partitionBy("event_id").orderBy(
        F.col("score_e4").desc(), F.col("cls").asc()
    )
    pred = (
        scored.withColumn("rk", F.row_number().over(pick))
        .where(F.col("rk") == 1)
        .select("event_id", "event_type", F.col("cls").alias("pred"))
    )
    return pred.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(
            (F.col("pred") == F.col("event_type")).cast("int")
        ).cast("bigint").alias("hits"),
        F.round(
            F.sum((F.col("pred") == F.col("event_type")).cast("int"))
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy"),
    )


def q_competing_risks_cif(spark, sf_dir):
    """Aalen-Johansen cumulative incidence for two competing risks:
    per user, time-to-FIRST purchase-or-error (hours since the
    user's first event; users with neither are censored at their
    last event).  At each distinct event time t: n_t at risk,
    d_purchase, d_error; S(t−) = Π (1 − d_total/n) over earlier
    times (ordered window log-sum — fixed accumulation order);
    CIF_k(t) = Σ S(u−)·d_k/n_u for u ≤ t.  Output per event time:
    hours, n_risk, d_purchase, d_error, cif_purchase, cif_error
    (round 6)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", _us("ts").alias("us")
    )
    first = e.groupBy("user_id").agg(F.min("us").alias("t0"))
    evented = (
        e.join(first, "user_id")
        .where(F.col("event_type").isin("purchase", "error"))
        .where(F.col("us") > F.col("t0"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.struct(
                    F.col("us").alias("us"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("etype"),
                )
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.us").alias("t_event"),
            F.col("m.etype").alias("risk"),
        )
    )
    last = e.groupBy("user_id").agg(F.max("us").alias("t_last"))
    subjects = (
        first.join(evented, "user_id", "left")
        .join(last, "user_id")
        .select(
            "user_id",
            F.coalesce("t_event", "t_last").alias("t_end"),
            "t0",
            F.coalesce("risk", F.lit("censored")).alias("risk"),
        )
        .where(F.col("t_end") > F.col("t0"))
        .select(
            "user_id",
            F.expr("(t_end - t0) DIV 3600000000").alias("hours"),
            "risk",
        )
    )
    n_row = subjects.agg(F.count(F.lit(1)).alias("n_all"))
    times = subjects.groupBy("hours").agg(
        F.sum((F.col("risk") == "purchase").cast("int"))
        .cast("bigint")
        .alias("d_purchase"),
        F.sum((F.col("risk") == "error").cast("int"))
        .cast("bigint")
        .alias("d_error"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    w_prev = Window.orderBy("hours").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("hours").rowsBetween(
        Window.unboundedPreceding, 0
    )
    at_risk = times.crossJoin(F.broadcast(n_row)).withColumn(
        "n_risk",
        F.col("n_all") - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
    )
    d_tot = F.col("d_purchase") + F.col("d_error")
    # the final event time may absorb ALL remaining subjects
    # (1 - d/n == 0); its ln term can never feed a later row's
    # s_prev (nobody is left at risk), so map it to 0 in BOTH engines
    # instead of ln(0)
    ln_term = F.when(
        F.col("d_purchase") + F.col("d_error") < F.col("n_risk"),
        F.log(
            1.0
            - (F.col("d_purchase") + F.col("d_error")) / F.col("n_risk")
        ),
    ).otherwise(F.lit(0.0))
    with_s = at_risk.withColumn(
        "s_prev",
        F.exp(
            F.coalesce(F.sum(ln_term).over(w_prev), F.lit(0.0))
        ),
    )
    cif = with_s.withColumn(
        "cif_purchase",
        F.sum(
            F.col("s_prev") * F.col("d_purchase") / F.col("n_risk")
        ).over(w_cum),
    ).withColumn(
        "cif_error",
        F.sum(F.col("s_prev") * F.col("d_error") / F.col("n_risk")).over(
            w_cum
        ),
    )
    return cif.where(d_tot > 0).select(
        "hours",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        "d_purchase",
        "d_error",
        F.round("cif_purchase", 6).alias("cif_purchase"),
        F.round("cif_error", 6).alias("cif_error"),
    )
