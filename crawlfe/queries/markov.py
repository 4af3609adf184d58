"""Feature-eng pack #118 (r4): Markov session dynamics — the chain-
level view of user behavior on top of the per-transition queries
(event_transitions, transition_entropy, markov_surprise, session_paths).

States are the 5 event types; transitions are consecutive events per
user (ts, event_id order).  P is the row-stochastic MLE from exact
BIGINT transition counts.

* ``mc_stationary`` — the stationary distribution pi via 12
  sum-normalized power-iteration rounds of pi <- pi P (5-state
  chain: geometric convergence makes 12 rounds plenty), next to the
  empirical state frequencies for the ergodicity sanity-check.
* ``entropy_rate`` — the chain's entropy rate H = -sum_i pi_i
  sum_j P_ij log2 P_ij, with the iid entropy of the stationary
  distribution alongside (their gap is the memory of the chain).
* ``mc_reversibility`` — detailed-balance audit: total variation
  sum |pi_i P_ij - pi_j P_ji| / 2 over ordered pairs plus the worst
  pair — is the session flow a reversible diffusion or a directed
  funnel?

Scale shape: one window-lag pass folds events to the 25-cell count
matrix; everything downstream is O(states^2) with plan-cut rounds.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_MC_ROUNDS = 12


def _trans(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    pairs = e.select(
        F.col("event_type").alias("i"),
        F.lead("event_type").over(w).alias("j"),
    ).where(F.col("j").isNotNull())
    return pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def _pmat(spark, sf_dir):
    t = _trans(spark, sf_dir)
    row = t.groupBy("i").agg(F.sum("c").cast("bigint").alias("ri"))
    return t.join(row, "i").select(
        "i", "j", "c", (F.col("c") / F.col("ri")).alias("p")
    )


def q_mc_stationary(spark, sf_dir):
    """STATIONARY DISTRIBUTION via 12 power-iteration rounds of
    pi <- pi P, vs the empirical state frequency."""
    p = _pmat(spark, sf_dir).localCheckpoint(eager=True)
    states = p.select(F.col("i").alias("s")).distinct().localCheckpoint(
        eager=True
    )
    n_states = states.count()
    pi = states.select("s", F.lit(1.0 / n_states).alias("pi"))
    for _ in range(_MC_ROUNDS):
        nxt = (
            p.join(
                pi.select(
                    F.col("s").alias("i"), F.col("pi").alias("pi_i")
                ),
                "i",
            )
            .groupBy(F.col("j").alias("s"))
            # i-ordered fold (r4 ADVICE): sort the (i, term) pairs and
            # fold left-to-right so the double-association order is
            # identical in Spark and the DuckDB twin's
            # sum(... ORDER BY i) — the spectral.py ordered-running-sum
            # discipline applied to the power-iteration update
            .agg(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("i"),
                                (F.col("pi_i") * F.col("p")).alias("v"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["v"],
                ).alias("raw")
            )
        )
        tot = nxt.agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("s"), F.col("raw").alias("v"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["v"],
            ).alias("tot")
        )
        pi = (
            nxt.crossJoin(F.broadcast(tot))
            .select("s", (F.col("raw") / F.col("tot")).alias("pi"))
            .localCheckpoint(eager=True)
        )
    emp = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("s"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tote = emp.agg(F.sum("n").cast("bigint").alias("te"))
    emp = emp.crossJoin(F.broadcast(tote)).select(
        "s",
        (F.col("n") / F.col("te").cast("double")).alias("emp"),
    )
    return (
        pi.join(emp, "s")
        .select(
            F.col("s").alias("state"),
            F.round("pi", 6).alias("pi"),
            F.round("emp", 6).alias("empirical"),
        )
        .orderBy("state")
    )


def _stationary_and_p(spark, sf_dir):
    p = _pmat(spark, sf_dir).localCheckpoint(eager=True)
    states = p.select(F.col("i").alias("s")).distinct().localCheckpoint(
        eager=True
    )
    n_states = states.count()
    pi = states.select("s", F.lit(1.0 / n_states).alias("pi"))
    for _ in range(_MC_ROUNDS):
        nxt = (
            p.join(
                pi.select(
                    F.col("s").alias("i"), F.col("pi").alias("pi_i")
                ),
                "i",
            )
            .groupBy(F.col("j").alias("s"))
            # i-ordered fold (r4 ADVICE): sort the (i, term) pairs and
            # fold left-to-right so the double-association order is
            # identical in Spark and the DuckDB twin's
            # sum(... ORDER BY i) — the spectral.py ordered-running-sum
            # discipline applied to the power-iteration update
            .agg(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("i"),
                                (F.col("pi_i") * F.col("p")).alias("v"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["v"],
                ).alias("raw")
            )
        )
        tot = nxt.agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("s"), F.col("raw").alias("v"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["v"],
            ).alias("tot")
        )
        pi = (
            nxt.crossJoin(F.broadcast(tot))
            .select("s", (F.col("raw") / F.col("tot")).alias("pi"))
            .localCheckpoint(eager=True)
        )
    return p, pi


def q_entropy_rate(spark, sf_dir):
    """ENTROPY RATE H = -sum_i pi_i sum_j P_ij log2 P_ij vs the iid
    stationary entropy; the gap is the chain's memory."""
    p, pi = _stationary_and_p(spark, sf_dir)
    rowh = (
        p.select(
            "i", (-F.col("p") * F.log2("p")).alias("h")
        )
        .groupBy("i")
        .agg(F.sum("h").alias("hrow"))
    )
    j = rowh.join(
        pi.select(F.col("s").alias("i"), "pi"), "i"
    )
    hrate = j.agg(
        F.sum(F.col("pi") * F.col("hrow")).alias("h_rate")
    )
    hiid = pi.agg(
        F.sum(-F.col("pi") * F.log2("pi")).alias("h_iid")
    )
    return hrate.crossJoin(hiid).select(
        F.round("h_rate", 6).alias("h_rate_bits"),
        F.round("h_iid", 6).alias("h_iid_bits"),
        F.round(F.col("h_iid") - F.col("h_rate"), 6).alias(
            "memory_bits"
        ),
    )


def q_mc_reversibility(spark, sf_dir):
    """DETAILED-BALANCE audit: TV distance sum |pi_i P_ij - pi_j
    P_ji| / 2 over ordered pairs, with the worst-violating pair."""
    p, pi = _stationary_and_p(spark, sf_dir)
    flow = p.join(
        pi.select(F.col("s").alias("i"), "pi"), "i"
    ).select(
        "i", "j", (F.col("pi") * F.col("p")).alias("f")
    )
    rev = flow.select(
        F.col("j").alias("i"),
        F.col("i").alias("j"),
        F.col("f").alias("fr"),
    )
    both = (
        flow.join(rev, ["i", "j"], "full")
        .select(
            "i",
            "j",
            F.coalesce(F.col("f"), F.lit(0.0)).alias("f"),
            F.coalesce(F.col("fr"), F.lit(0.0)).alias("fr"),
        )
        .where(F.col("i") < F.col("j"))
    )
    viol = both.select(
        "i", "j", F.abs(F.col("f") - F.col("fr")).alias("v")
    )
    top = viol.orderBy(F.desc("v"), "i", "j").limit(1)
    agg = viol.agg(F.sum("v").alias("tv"))
    return top.crossJoin(agg).select(
        F.round(F.col("tv") / 2, 6).alias("tv_irreversibility"),
        F.col("i").alias("worst_i"),
        F.col("j").alias("worst_j"),
        F.round("v", 6).alias("worst_gap"),
    )
