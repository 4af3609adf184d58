"""Feature-eng pack #87 (r4): bucketed-table shuffle elimination, a
planted near-duplicate detection benchmark, and the Page-Hinkley
sequential drift detector.

* ``bucketed_join`` — the missing storage-layout surface: both join
  sides are WRITTEN as bucketed+sorted tables
  (``bucketBy(8, doc_id).sortBy(doc_id).saveAsTable``), then joined on
  the bucket key — Spark's sort-merge join consumes the co-bucketed
  layout with NO Exchange on either side (pinned by
  tests/test_plans.py).  At 100 TB this is the pre-shuffle-once,
  join-many-times pattern: every later join on the bucket key costs
  zero shuffle.  The oracle recomputes the same aggregate straight
  from the base table, proving the bucketed write->read->join cycle
  is lossless.
* ``neardup_eval`` — precision/recall harness for the simhash
  near-dup detector against PLANTED ground truth: every doc_id % 5 ==
  0 gets an exact copy, every % 5 == 1 a one-token-appended mutation
  (copy ids offset by 1e6); the 32-bit banded simhash candidates
  (hamming <= 3, same pipeline as ``simhash_pairs``) are scored
  against the planted pairs.  The eval every dedup pipeline should
  ship with — detector quality measured, not assumed.
* ``page_hinkley`` — Page (1954) / Hinkley cumulative drift test on
  the daily mean-cents series: PH_t = sum_{i<=t}(x_i - xbar_i), alarm
  when PH_t - min_{tau<=t} PH_tau exceeds lambda.  Daily means are
  fixed-pointed to exact BIGINT e4-cents; each term rounds ONE
  identically-computed double, so the cumulative sums, running min
  and alarm flags are engine-exact.

Scale shape: bucketed_join shuffles each side once at WRITE time and
never again; neardup_eval's candidate generation is banded LSH (the
only joins are bucket equi joins); page_hinkley reduces the stream to
O(days) rows before its ordered scan.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t, _us

_BKT_N = 8  # buckets per side
_PH_LAMBDA_E4 = 3_000_000  # alarm threshold: 300 cents in e4 units
_ND_MOD = 5  # doc_id % 5 == 0 -> exact copy, == 1 -> mutated copy
_ND_OFF = 1_000_000  # copy id offset
_SIM_BITS = 32
_SIM_HAM = 3


def q_bucketed_join(spark, sf_dir):
    """CO-BUCKETED JOIN: docs and a deterministic per-doc score table
    are saved bucketed by doc_id (8 buckets, sorted); joining the two
    catalog tables on doc_id needs no Exchange — the layout IS the
    shuffle, paid once at write time.  Returns the per-source joined
    aggregate; the oracle recomputes it from the base table."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    score = d.select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                16,
                10,
            ).cast("bigint")
            % 10000
        ).alias("q_e4"),
    )
    import os

    from ._shared import _scratch_dir

    root = _scratch_dir("bucketed_join")
    for name, df in (("crawlfe_bkt_docs", d), ("crawlfe_bkt_scores", score)):
        # external table under the session scratch dir: fresh location
        # per session, overwritten in place on repeat calls — no stale
        # managed-location collisions across driver sessions
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(root, name))
            .bucketBy(_BKT_N, "doc_id")
            .sortBy("doc_id")
            .saveAsTable(name)
        )
    j = spark.table("crawlfe_bkt_docs").join(
        spark.table("crawlfe_bkt_scores"), "doc_id"
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("q_e4").cast("bigint").alias("sum_q_e4"),
        )
        .select(
            "source",
            "n",
            "sum_chars",
            "sum_q_e4",
            F.round(
                F.col("sum_q_e4").cast("double") / (F.col("n") * 10000.0), 6
            ).alias("avg_q"),
        )
    )


def _aug_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.where(F.col("doc_id") % _ND_MOD == 0).select(
        (F.col("doc_id") + _ND_OFF).alias("doc_id"), "text"
    )
    mut = d.where(F.col("doc_id") % _ND_MOD == 1).select(
        (F.col("doc_id") + _ND_OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz7")).alias("text"),
    )
    return d.unionAll(exact).unionAll(mut)


def _simhash_fp(docs):
    """32-bit frequency-weighted bit-voting simhash over whitespace
    tokens — same JVM pipeline as ``q_simhash_pairs``
    (crawlfe/queries/eval_drift.py), parameterized over the corpus."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("token"),
    )
    hashed = (
        toks.select(
            "doc_id",
            F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    votes = (
        hashed.select(
            "doc_id",
            "h",
            "w",
            F.explode(F.sequence(F.lit(0), F.lit(_SIM_BITS - 1))).alias(
                "b"
            ),
        )
        .select(
            "doc_id",
            "b",
            (F.col("w") * (2 * F.expr("(shiftright(h, b) & 1)") - 1)).alias(
                "vote"
            ),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(1L, b)")).otherwise(
                F.lit(0)
            )
        ).alias("fp")
    )


def q_neardup_eval(spark, sf_dir):
    """NEAR-DUP DETECTOR EVAL: banded simhash candidates (hamming <=
    3) over the planted-copy corpus, scored against the planted pairs:
    one row of n_truth / n_pred / n_hit / precision / recall / f1."""
    aug = _aug_corpus(spark, sf_dir)
    fp = _simhash_fp(aug)
    banded = fp.select(
        "doc_id",
        "fp",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).select(
        "doc_id",
        "fp",
        "band",
        F.expr("shiftright(fp, 8 * band) & 255").alias("band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pred = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            <= _SIM_HAM
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    truth = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % _ND_MOD).isin(0, 1))
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + _ND_OFF).alias("doc_b"),
        )
    )
    hits = pred.join(truth, ["doc_a", "doc_b"], "left_semi")
    m = (
        pred.agg(F.count(F.lit(1)).cast("bigint").alias("n_pred"))
        .crossJoin(
            F.broadcast(
                truth.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_truth")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
            )
        )
    )
    p = F.col("n_hit") / F.col("n_pred").cast("double")
    r = F.col("n_hit") / F.col("n_truth").cast("double")
    return m.select(
        "n_truth",
        "n_pred",
        "n_hit",
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(2 * p * r / F.nullif(p + r, F.lit(0.0)), 6).alias("f1"),
    )


def q_page_hinkley(spark, sf_dir):
    """PAGE-HINKLEY drift detector on daily mean cents: per-day mean
    fixed-pointed to BIGINT e4-cents; term_t = round(x_t - cum_x/t)
    (one identically-computed double per row); PH = running BIGINT
    sum, alarm when PH - running min(PH) > lambda (300 cents)."""
    e = _t(spark, sf_dir, "events").select(
        F.dayofmonth(F.col("ts").cast("timestamp")).cast("bigint").alias(
            "day"
        ),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    daily = e.groupBy("day").agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    x = daily.select(
        "day",
        F.round(F.lit(1e4) * F.col("s") / F.col("c"))
        .cast("bigint")
        .alias("x_e4"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    x = x.withColumn("t", F.row_number().over(Window.orderBy("day")))
    x = x.withColumn("cum_x", F.sum("x_e4").over(w).cast("bigint"))
    x = x.withColumn(
        "term",
        F.round(
            F.col("x_e4") - F.col("cum_x") / F.col("t").cast("double")
        ).cast("bigint"),
    )
    x = x.withColumn("ph_e4", F.sum("term").over(w).cast("bigint"))
    x = x.withColumn("ph_min", F.min("ph_e4").over(w).cast("bigint"))
    return x.select(
        "day",
        F.round(F.col("x_e4") / 1e4, 4).alias("x_cents"),
        "ph_e4",
        (F.col("ph_e4") - F.col("ph_min") > _PH_LAMBDA_E4)
        .cast("int")
        .alias("alarm"),
    )


# --------------------------------------------------------------------------
# r5 engine-spine addition (VERDICT.md r4 next-round item #6): the
# features-table LAYOUT surface — both sides of the as-of join written
# bucketed by the join bucket, so the re-read join consumes the storage
# partitioning and runs with ZERO Exchange.
# --------------------------------------------------------------------------

_ASOF_BKT_N = 8  # storage buckets (both sides must match)


def _asof_bucketed_df(spark, sf_dir):
    """Storage-bucketed as-of join: write probe (clicks) and build
    (purchases) tables ``bucketBy(8, bkt)`` where ``bkt =
    pmod(xxhash64(user_id), 8)`` — then cogroup the two
    catalog tables ON the stored bucket column.  The bucketed scans
    report HashPartitioning(bkt, 8), which satisfies the cogroup's
    required clustered distribution on BOTH children, so the plan has
    NO Exchange anywhere below the kernel (pinned by
    tests/test_plans.py::test_asof_bucketed_no_exchange).  This is the
    100 TB re-read pattern: a features/snapshot table is written once,
    bucketed by its join key, and every later point-in-time join
    against it costs zero shuffle — the layout IS the shuffle, paid
    once at write time.  The kernel is a per-user backward
    ``pd.merge_asof`` (asof_join's semantics), applied within each
    stored bucket."""
    import os

    import pandas as pd

    from ._shared import _scratch_dir

    ev = _t(spark, sf_dir, "events")
    bkt = F.pmod(F.xxhash64("user_id"), F.lit(_ASOF_BKT_N)).cast("int")
    probe = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), "event_id",
        bkt.alias("bkt"),
    )
    build = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
        F.col("value").alias("purchase_value"), bkt.alias("bkt"),
    )
    root = _scratch_dir("asof_bucketed")
    for name, df in (
        ("crawlfe_asofb_probe", probe), ("crawlfe_asofb_build", build)
    ):
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", os.path.join(root, name))
            .bucketBy(_ASOF_BKT_N, "bkt")
            .sortBy("bkt")
            .saveAsTable(name)
        )
    p = spark.table("crawlfe_asofb_probe")
    b = spark.table("crawlfe_asofb_build")

    out_schema = (
        "user_id bigint, click_ts timestamp_ntz, event_id bigint, "
        "b_ts timestamp_ntz, purchase_value double"
    )

    def kernel(pl: pd.DataFrame, pr: pd.DataFrame) -> pd.DataFrame:
        if len(pl) == 0:
            return pd.DataFrame(
                columns=[
                    "user_id", "click_ts", "event_id", "b_ts",
                    "purchase_value",
                ]
            )
        pl = pl.drop(columns="bkt").sort_values(
            "click_ts", kind="mergesort", ignore_index=True
        )
        if len(pr) == 0 or "b_user" not in pr.columns:
            pl["b_ts"] = pd.Series([None] * len(pl), dtype=pl["click_ts"].dtype)
            pl["purchase_value"] = None
            return pl
        pr = pr.drop(columns="bkt").sort_values(
            "b_ts", kind="mergesort", ignore_index=True
        )
        merged = pd.merge_asof(
            pl, pr, left_on="click_ts", right_on="b_ts",
            left_by="user_id", right_by="b_user", direction="backward",
            allow_exact_matches=True,
        )
        return merged[
            ["user_id", "click_ts", "event_id", "b_ts", "purchase_value"]
        ]

    return (
        p.groupBy("bkt")
        .cogroup(b.groupBy("bkt"))
        .applyInPandas(kernel, schema=out_schema)
    )


def q_asof_bucketed(spark, sf_dir):
    """As-of join over the storage-bucketed layout (zero-Exchange
    re-read path); result identical to ``asof_join``'s merge-scan —
    the oracle is the same DuckDB ASOF LEFT JOIN."""
    j = _asof_bucketed_df(spark, sf_dir)
    return j.select(
        "user_id",
        "event_id",
        _us("click_ts").alias("click_ts_us"),
        _us("b_ts").alias("purchase_ts_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )


SQL_ASOF_BUCKETED = """
WITH probe AS (
  SELECT user_id, ts AS click_ts, event_id FROM events
  WHERE event_type = 'click'
), build AS (
  SELECT user_id, ts, value AS purchase_value FROM events
  WHERE event_type = 'purchase'
)
SELECT p.user_id,
       p.event_id,
       epoch_us(p.click_ts) AS click_ts_us,
       epoch_us(b.ts) AS purchase_ts_us,
       round(b.purchase_value, 4) AS purchase_value
FROM probe p ASOF LEFT JOIN build b
  ON p.user_id = b.user_id AND p.click_ts >= b.ts
"""
