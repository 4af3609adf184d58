"""Feature-eng pack #108 (r4): preference / ranking models — turning
repeated comparisons into scores, completing the rank-eval family
(ndcg_at_k, err_ranking, rbo_overlap).

* ``bradley_terry`` — Bradley-Terry strengths over the event types:
  type i "beats" j on a day iff its daily cents total is strictly
  higher; 5 Zermelo/MM rounds s_i <- W_i / sum_j n_ij/(s_i+s_j),
  sum-normalized each round.  The item set is tiny (5 types) so each
  round is a broadcast join; days scale, rounds don't.
* ``rbp_eval`` — Moffat & Zobel (2008) rank-biased precision at
  p = 0.8 over each user's value-descending event ranking
  (purchases = relevant), truncated at rank 20.  The geometric
  weights are INTEGER literals (round(p^(k-1) * 1e12)) computed once
  on the driver, so the per-user sum is an exact BIGINT in both
  engines; the only float op is the final scale.
* ``borda_consensus`` — rank aggregation across week-of-month
  "voters": per week, types are ranked by cents; Borda score sums
  (K - rank); the Condorcet flag marks a type that beats every
  other type in the week-wise pairwise majority.

Scale shape: everything folds to the O(days x types) /
O(weeks x types) relation first; pairwise work is over the 5x5 type
grid, never over raw rows.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_BT_ROUNDS = 5
_RBP_P = 0.8
_RBP_K = 20
# integer geometric weights: round(p^(k-1) * 1e12), exact in BIGINT
_RBP_WTS = [
    int(round(_RBP_P ** (k - 1) * 1_000_000_000_000))
    for k in range(1, _RBP_K + 1)
]


def _daily_type(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .select(
            F.dayofmonth(F.col("ts").cast("timestamp")).alias("day"),
            F.col("event_type").alias("item"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("day", "item")
        .agg(F.sum("cents").cast("bigint").alias("c"))
    )


def q_bradley_terry(spark, sf_dir):
    """BRADLEY-TERRY MM strengths (5 rounds, sum-normalized) from
    daily pairwise cents wins between event types."""
    d = _daily_type(spark, sf_dir)
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("i"), F.col("b.item").alias("j")
        )
        .agg(
            F.sum(
                (F.col("a.c") > F.col("b.c")).cast("bigint")
            ).alias("w"),
            F.sum(
                (F.col("a.c") != F.col("b.c")).cast("bigint")
            ).alias("n"),
        )
    )
    # the 5x5 pair grid is reused by all MM rounds and each round
    # references the strength relation twice (si, sj) — without a
    # plan cut the lineage doubles per round (2^R copies of the
    # upstream join for the analyzer); localCheckpoint pins the tiny
    # relations (same pattern as haar_energy/pacf_daily, git 8864bd4)
    pairs = pairs.localCheckpoint(eager=True)
    wins = pairs.groupBy("i").agg(
        F.sum("w").cast("bigint").alias("wsum")
    ).localCheckpoint(eager=True)
    s = wins.select(F.col("i").alias("item"), F.lit(1.0).alias("s"))
    for _ in range(_BT_ROUNDS):
        den = (
            pairs.join(
                s.select(
                    F.col("item").alias("i"), F.col("s").alias("si")
                ),
                "i",
            )
            .join(
                s.select(
                    F.col("item").alias("j"), F.col("s").alias("sj")
                ),
                "j",
            )
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("n") / (F.col("si") + F.col("sj"))
                ).alias("den")
            )
        )
        raw = wins.join(den, "i").select(
            F.col("i").alias("item"),
            (F.col("wsum") / F.col("den")).alias("sraw"),
        )
        tot = raw.agg(F.sum("sraw").alias("tot"))
        s = (
            raw.crossJoin(F.broadcast(tot))
            .select(
                "item", (F.col("sraw") / F.col("tot")).alias("s")
            )
            .localCheckpoint(eager=True)
        )
    return s.select(
        "item", F.round("s", 6).alias("strength")
    ).orderBy(F.desc("strength"), F.asc("item"))


def q_rbp_eval(spark, sf_dir):
    """RANK-BIASED PRECISION at p=0.8, rank cap 20, per user over the
    value-descending ranking (rel = purchase); exact integer weight
    sums, one float scale at the end."""
    ev = _t(spark, sf_dir, "events")
    wts = spark.createDataFrame(
        [(r, wt) for r, wt in enumerate(_RBP_WTS, 1)],
        "rnk int, wt bigint",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    ranked = ev.select(
        "user_id",
        (F.col("event_type") == "purchase")
        .cast("bigint")
        .alias("rel"),
        F.row_number().over(w).alias("rnk"),
    ).where(F.col("rnk") <= _RBP_K)
    j = ranked.join(F.broadcast(wts), "rnk")
    return (
        j.groupBy("user_id")
        .agg(
            F.sum(F.col("rel") * F.col("wt"))
            .cast("bigint")
            .alias("_s")
        )
        .select(
            "user_id",
            F.round(
                (1 - F.lit(_RBP_P)) * F.col("_s") / 1e12, 6
            ).alias("rbp"),
        )
        .orderBy("user_id")
    )


def q_borda_consensus(spark, sf_dir):
    """BORDA rank aggregation across week-of-month voters with the
    Condorcet-winner flag from week-wise pairwise majorities."""
    e = _t(spark, sf_dir, "events").select(
        F.floor(
            (F.dayofmonth(F.col("ts").cast("timestamp")) - 1) / 7
        )
        .cast("bigint")
        .alias("week"),
        F.col("event_type").alias("item"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    wk = e.groupBy("week", "item").agg(
        F.sum("cents").cast("bigint").alias("c")
    )
    nitems = wk.select("item").distinct().count()
    ww = Window.partitionBy("week").orderBy(
        F.col("c").desc(), F.col("item").asc()
    )
    borda = (
        wk.select(
            "week",
            "item",
            (F.lit(nitems) - F.rank().over(ww))
            .cast("bigint")
            .alias("pts"),
        )
        .groupBy("item")
        .agg(F.sum("pts").cast("bigint").alias("borda"))
    )
    a, b = wk.alias("a"), wk.alias("b")
    maj = (
        a.join(
            b,
            (F.col("a.week") == F.col("b.week"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("i"), F.col("b.item").alias("j")
        )
        .agg(
            (
                F.sum((F.col("a.c") > F.col("b.c")).cast("int"))
                > F.sum((F.col("a.c") < F.col("b.c")).cast("int"))
            ).alias("beats")
        )
    )
    cond = maj.groupBy("i").agg(
        F.min(F.col("beats").cast("int")).alias("_allwin")
    )
    return (
        borda.join(
            cond.select(
                F.col("i").alias("item"),
                (F.col("_allwin") == 1).alias("is_condorcet"),
            ),
            "item",
        )
        .orderBy(F.desc("borda"), F.asc("item"))
    )
