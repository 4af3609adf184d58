"""Feature-eng pack #93 (r4): MinHash ESTIMATOR accuracy audits —
the sketch-vs-truth calibration a dedup pipeline publishes before
trusting its thresholds (companion to pack #87's detector-level
``neardup_eval``).

All three run on the 499 consecutive doc_id pairs with exact
ground-truth set overlap (token-set join on adjacent ids only — never
an all-pairs join), against k = 32 deterministic md5 min-hashes:

* ``minhash_accuracy`` — per pair: exact Jaccard (BIGINT set counts),
  the k=32 MinHash estimate (share of agreeing minima, Broder 1997),
  and the absolute error; plus the estimate is exactly
  matches/32 so every value is a small rational.
* ``bbit_minhash`` — Li & Koenig (2010) 1-bit MinHash on the same
  pairs: keep only each minimum's lowest bit; the b=1 estimator
  J1 = 2*(agree_share) - 1 (r -> 0 form); corpus MAE of the 1-bit vs
  the 32-hash estimator side by side — the storage/accuracy frontier
  in one row.
* ``containment_est`` — asymmetric containment C(A,B) = |A n B|/|A|
  exact, next to the sketch estimate J_est * |A u B| / |A| that
  rescales the MinHash Jaccard with the exact set sizes (the
  practical containment shortcut when only a Jaccard sketch exists).

Scale shape: token sets reduce per doc FIRST (distinct hash agg);
the min-hash table is O(docs x 32); adjacency pairing is a lead
window / +1 equi join, never quadratic.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_MH_K = 32


def _tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    ).distinct()


def _minima(toks):
    tk = toks.select(
        "doc_id",
        "token",
        F.explode(F.sequence(F.lit(1), F.lit(_MH_K))).alias("k"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("mh"),
                    F.col("k").cast("string"),
                    F.lit(":"),
                    F.col("token"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    return tk.groupBy("doc_id", "k").agg(F.min(h).alias("mn"))


def _exact_pairs(toks):
    """Exact per-adjacent-pair set sizes and intersection via a
    +1 equi join on (token) restricted to adjacent doc ids."""
    sizes = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id") + 1)
            & (F.col("a.token") == F.col("b.token")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("n_a")
    )
    sb = sizes.select(
        (F.col("doc_id") - 1).alias("doc_a"), F.col("sz").alias("n_b")
    )
    return (
        sa.join(sb, "doc_a")
        .join(inter, "doc_a", "left")
        .select(
            "doc_a",
            "n_a",
            "n_b",
            F.coalesce(F.col("inter"), F.lit(0)).cast("bigint").alias(
                "inter"
            ),
        )
    )


def _agree(minima, bit: bool):
    a, b = minima.alias("a"), minima.alias("b")
    am, bm = F.col("a.mn"), F.col("b.mn")
    if bit:
        match = (am % 2) == (bm % 2)
    else:
        match = am == bm
    return (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id") + 1)
            & (F.col("a.k") == F.col("b.k")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"))
        .agg(F.sum(match.cast("bigint")).cast("bigint").alias("agree"))
    )


def q_minhash_accuracy(spark, sf_dir):
    """MINHASH vs EXACT JACCARD per adjacent pair: j_exact =
    inter/union (exact BIGINTs), j_est = agreeing minima / 32."""
    toks = _tokens(spark, sf_dir)
    pairs = _exact_pairs(toks)
    agree = _agree(_minima(toks), bit=False)
    j = pairs.join(agree, "doc_a")
    je = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    est = F.col("agree").cast("double") / _MH_K
    return j.select(
        "doc_a",
        "n_a",
        "n_b",
        "inter",
        "agree",
        F.round(je, 6).alias("j_exact"),
        F.round(est, 6).alias("j_est"),
        F.round(F.abs(je - est), 6).alias("abs_err"),
    )


def q_bbit_minhash(spark, sf_dir):
    """1-BIT MINHASH MAE vs full minima: corpus-level mean absolute
    error of J1 = 2*share - 1 (clamped at 0) and of the 32-hash
    estimator against exact Jaccard — the b-bit storage tradeoff."""
    toks = _tokens(spark, sf_dir)
    pairs = _exact_pairs(toks)
    minima = _minima(toks)
    full = _agree(minima, bit=False).withColumnRenamed("agree", "ag_full")
    bit = _agree(minima, bit=True).withColumnRenamed("agree", "ag_bit")
    j = pairs.join(full, "doc_a").join(bit, "doc_a")
    je = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    est_full = F.col("ag_full").cast("double") / _MH_K
    est_bit = F.greatest(
        F.lit(0.0), 2 * F.col("ag_bit").cast("double") / _MH_K - 1
    )
    err_full = F.round(F.abs(je - est_full), 9)
    err_bit = F.round(F.abs(je - est_bit), 9)
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(err_full).alias("sum_err_full"),
        F.sum(err_bit).alias("sum_err_bit"),
    )
    return agg.select(
        "n_pairs",
        F.round(F.col("sum_err_full") / F.col("n_pairs"), 6).alias(
            "mae_32hash"
        ),
        F.round(F.col("sum_err_bit") / F.col("n_pairs"), 6).alias(
            "mae_1bit"
        ),
    )


def q_containment_est(spark, sf_dir):
    """CONTAINMENT exact vs sketch: C(A,B) = inter/|A| exact, and the
    Jaccard-sketch rescale est = J_est * (|A|+|B|-inter_est...) — in
    practice with only sizes and J_est: C_est = J_est*(n_a+n_b)
    / (n_a*(1+J_est)) (solve inter from J)."""
    toks = _tokens(spark, sf_dir)
    pairs = _exact_pairs(toks)
    agree = _agree(_minima(toks), bit=False)
    j = pairs.join(agree, "doc_a")
    jest = F.col("agree").cast("double") / _MH_K
    c_exact = F.col("inter").cast("double") / F.col("n_a")
    c_est = (
        jest
        * (F.col("n_a") + F.col("n_b")).cast("double")
        / (F.col("n_a") * (1 + jest))
    )
    return j.select(
        "doc_a",
        "n_a",
        "n_b",
        F.round(c_exact, 6).alias("c_exact"),
        F.round(c_est, 6).alias("c_est"),
        F.round(F.abs(c_exact - c_est), 6).alias("abs_err"),
    )
