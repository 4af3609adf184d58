"""Feature-eng pack #88 (r4): the rest of the multiple-testing family
plus Fellegi-Sunter record-linkage weights.

* ``benjamini_yekutieli`` — Benjamini & Yekutieli (2001) FDR step-up
  under ARBITRARY dependence: the BH rule with the harmonic correction
  c(m) = sum 1/i; rejects iff p_(k) <= alpha*k / (m*c(m)).  Reuses the
  registry's per-source long-doc-rate z tests (same construction as
  ``bh_fdr``, crawlfe/queries/stats_tail.py): the p-value is an exact
  ppb BIGINT and the step-up compare runs in integer space
  (p_ppb * m * Hm_e6 <= 1e14 * k at alpha = 0.10), so no float tie
  can flip a rejection; c(m) is one ordered left-fold (aggregate over
  sequence) rounded to e6 identically in both engines.
* ``storey_pi0`` — Storey (2002) null-proportion estimate
  pi0 = #{p > lambda} / ((1-lambda) m) at lambda = 0.5 (exact ppb
  threshold compare), with the implied estimate of true signals.
* ``fs_weights`` — Fellegi & Sunter (1969) field match weights
  learned from LABELED pairs: the planted duplicate corpus of
  ``neardup_eval`` (exact copies + one-token mutations) gives match
  pairs M; the copy of the NEXT planted doc gives structurally
  identical non-match pairs U; per comparison field (text hash /
  length / 40-char prefix) the Laplace-smoothed agreement rates
  m_k, u_k and the log-likelihood weight ln(m_k/u_k) — the score a
  record-linkage pass adds per agreeing field.

Scale shape: all three collapse to O(sources) or O(planted docs)
relations in one partial-aggregable pass before any window/join.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t
from .bucketops import _ND_MOD, _ND_OFF

_BY_ALPHA_E1 = 1  # alpha = 0.10 as tenths
_STOREY_LAMBDA_PPB = 500_000_000  # lambda = 0.5 in ppb
_FS_PREFIX = 40  # chars compared by the prefix field


def _ptests(spark, sf_dir):
    """Per-source two-sided z tests of the long-doc rate — identical
    construction to q_bh_fdr so the FDR variants are comparable."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select(
            "source",
            (F.col("n_chars") >= 300).cast("bigint").alias("is_long"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_long").cast("bigint").alias("n_long"),
        )
    )
    tot = per.agg(
        F.sum("n_docs").cast("bigint").alias("n_all"),
        F.sum("n_long").cast("bigint").alias("long_all"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    return per.crossJoin(F.broadcast(tot)).withColumn(
        "p_ppb",
        F.expr(
            "CAST(round(1e9 * 2.0 / (1.0 + exp(1.702 * abs("
            "(CAST(n_long AS DOUBLE) / n_docs"
            " - (CAST(long_all AS DOUBLE) + 1.0) / (n_all + 2))"
            " / sqrt((CAST(long_all AS DOUBLE) + 1.0) / (n_all + 2)"
            " * (1.0 - (CAST(long_all AS DOUBLE) + 1.0) / (n_all + 2))"
            " / n_docs))))) AS BIGINT)"
        ),
    )


def q_benjamini_yekutieli(spark, sf_dir):
    """BENJAMINI-YEKUTIELI step-up: reject the k smallest p-values
    where k is the largest rank with p_ppb * m * Hm_e6 <= 1e14 * k
    (alpha = 0.10); Hm_e6 = round(1e6 * sum_{i<=m} 1/i) via an ordered
    left fold — the dependence-robust FDR next to bh_fdr's."""
    j = _ptests(spark, sf_dir).withColumn(
        "hm_e6",
        F.expr(
            "CAST(round(1e6 * aggregate(sequence(1, CAST(m AS INT)), 0D,"
            " (acc, i) -> acc + 1.0 / i)) AS BIGINT)"
        ),
    )
    w = Window.orderBy("p_ppb", "source")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = j.withColumn(
        "p_rank", F.row_number().over(w).cast("bigint")
    ).withColumn(
        "k_max",
        F.max(
            F.when(
                F.col("p_ppb") * F.col("m") * F.col("hm_e6")
                <= F.lit(10_000_000_000_000) * _BY_ALPHA_E1 * F.col("p_rank"),
                F.col("p_rank"),
            )
        ).over(wall),
    )
    return ranked.select(
        "source",
        "n_docs",
        "p_ppb",
        "p_rank",
        "hm_e6",
        (F.col("p_rank") <= F.coalesce(F.col("k_max"), F.lit(0)))
        .cast("int")
        .alias("reject_by"),
    )


def q_storey_pi0(spark, sf_dir):
    """STOREY'S PI0: the estimated share of true nulls,
    #{p_ppb > 5e8} / (0.5 * m) capped at 1, and the implied count of
    true signals m * (1 - pi0) — the input a q-value pipeline needs."""
    pt = _ptests(spark, sf_dir)
    agg = pt.groupBy("m").agg(
        F.sum((F.col("p_ppb") > _STOREY_LAMBDA_PPB).cast("bigint"))
        .cast("bigint")
        .alias("n_above")
    )
    pi0 = F.least(
        F.lit(1.0),
        F.col("n_above").cast("double") / (0.5 * F.col("m")),
    )
    return agg.select(
        "m",
        "n_above",
        F.round(pi0, 6).alias("pi0"),
        F.round(F.col("m") * (1 - pi0), 4).alias("est_signals"),
    )


def q_fs_weights(spark, sf_dir):
    """FELLEGI-SUNTER FIELD WEIGHTS from labeled pairs: match pairs M
    = (planted original, its copy) from the neardup_eval corpus;
    non-match pairs U = (original, copy of the NEXT planted doc).
    Per field (sha256 text hash / char length / 40-char prefix):
    Laplace-smoothed agreement rates and weight ln(m_k/u_k).  The
    copies are derived in-row / via one lead window — no fat joins."""
    d = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % _ND_MOD).isin(0, 1))
        .select("doc_id", "text")
    )
    cp = d.select(
        "doc_id",
        "text",
        F.when(
            F.col("doc_id") % _ND_MOD == 0, F.col("text")
        )
        .otherwise(F.concat(F.col("text"), F.lit(" zz7")))
        .alias("copy_text"),
    )
    w = Window.orderBy("doc_id")
    paired = cp.withColumn("next_copy", F.lead("copy_text").over(w)).where(
        F.col("next_copy").isNotNull()
    )

    def _agree(a, b):
        return [
            (F.sha2(a, 256) == F.sha2(b, 256)).cast("bigint"),
            (F.length(a) == F.length(b)).cast("bigint"),
            (
                F.substring(a, 1, _FS_PREFIX)
                == F.substring(b, 1, _FS_PREFIX)
            ).cast("bigint"),
        ]
    m_ag = _agree(F.col("text"), F.col("copy_text"))
    u_ag = _agree(F.col("text"), F.col("next_copy"))
    agg = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(c).cast("bigint").alias(f"m_{k}")
            for k, c in zip(("hash", "len", "prefix"), m_ag)
        ],
        *[
            F.sum(c).cast("bigint").alias(f"u_{k}")
            for k, c in zip(("hash", "len", "prefix"), u_ag)
        ],
    )
    rows = []
    for k in ("hash", "len", "prefix"):
        mp = (F.col(f"m_{k}") + 1).cast("double") / (F.col("n") + 2)
        up = (F.col(f"u_{k}") + 1).cast("double") / (F.col("n") + 2)
        rows.append(
            agg.select(
                F.lit(k).alias("field"),
                "n",
                F.col(f"m_{k}").alias("agree_m"),
                F.col(f"u_{k}").alias("agree_u"),
                F.round(mp, 6).alias("m_prob"),
                F.round(up, 6).alias("u_prob"),
                F.round(F.log(mp / up), 6).alias("weight"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out
