"""Feature-eng packs #11-#12: remaining TPC-H shapes (Q2/Q9/Q11/Q12/Q20), calendar/coverage features.

Split from the former crawlfe/queries.py monolith (r4); bodies unchanged.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ._shared import SESSION_GAP_S, _t, _us  # noqa: F401


# --------------------------------------------------------------------------
# Feature-eng pack #11: the last TPC-H shapes (Q2/Q9/Q11/Q12/Q20 adapted
# to this column subset — all 22 classic shapes now present) + per-domain
# document cap (crawl-curation sampling)
# --------------------------------------------------------------------------

def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): the fixture has no
    partsupp, so supply cost is derived from lineitem — per
    (part, supplier) the MIN unit price in exact cents (one IEEE
    divide + round per row, then integer min). The classic correlated
    min subquery becomes a per-part window min compared for equality —
    one shuffle on p_partkey, no rescan. LARGE parts only; supplier
    name/nation attached from broadcast dims."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "LARGE")
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    unit_cents = F.expr(
        "CAST(round(100 * l_extendedprice / l_quantity) AS BIGINT)"
    )
    cost = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_partkey", "l_suppkey", unit_cents.alias("uc"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("uc").alias("supply_cents"))
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn(
        "min_cents", F.min("supply_cents").over(w)
    ).where(F.col("supply_cents") == F.col("min_cents"))
    return (
        best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_suppkey",
            "s_name",
            "n_name",
            F.round(F.col("supply_cents") / 100.0, 2).alias("supplycost"),
        )
    )


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (important stock value): per-part traded value
    from suppliers of nations {0,1,2}, keeping parts whose value
    exceeds 1/2000 of the total — the classic uncorrelated
    scalar-subquery HAVING. Values are exact integer cents; the
    threshold compare is value_cents * 2000 > total_cents, pure
    bigints, so no engine can ulp-flip a boundary part. The 1-row
    total broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    s = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey").isin(0, 1, 2))
        .select("s_suppkey")
    )
    cents = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select("l_partkey", cents.alias("cents"))
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("value_cents"))
        # val feeds BOTH the total and the output filter; materialize
        # the |parts|-row agg so the fact table is scanned once.
        .localCheckpoint(eager=False)
    )
    total = val.agg(F.sum("value_cents").alias("total_cents"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("value_cents") * 2000 > F.col("total_cents"))
        .select(
            "l_partkey",
            F.round(F.col("value_cents") / 100.0, 2).alias("part_value"),
        )
    )


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (late shipments by priority class): lineitems
    shipped more than 90 days after the order date in 1996-1997,
    bucketed by ship year (standing in for shipmode), counting
    high-priority (1-URGENT/2-HIGH) vs low-priority orders — the
    classic join + CASE-sum report. One fact-fact join, one agg, all
    integer counts."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).where(
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        & F.year("l_shipdate").isin(1996, 1997)
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("bigint")
    return j.groupBy(F.year("l_shipdate").alias("ship_year")).agg(
        F.sum(hi).alias("high_line_count"),
        F.sum(1 - hi).alias("low_line_count"),
    )


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (suppliers with excess share): suppliers who
    shipped MORE THAN HALF of some ECONOMY part's total quantity —
    the classic exists-with-aggregate-subquery, decorrelated to
    per-(part,supplier) sums + a per-part window total, compared as
    exact integers (2*supp_qty > total_qty). Distinct suppliers out,
    name attached from the broadcast dim."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    qty = F.expr("CAST(l_quantity AS BIGINT)")
    per_ps = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_partkey", "l_suppkey", qty.alias("qty"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qty").alias("supp_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = per_ps.withColumn(
        "total_qty", F.sum("supp_qty").over(w)
    ).where(F.col("supp_qty") * 2 > F.col("total_qty"))
    return (
        dominant.select("l_suppkey")
        .distinct()
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name")
    )


def q_domain_cap(spark, sf_dir):
    """Per-domain document cap (crawl-curation sampling: at most K docs
    per source so no site dominates the corpus). The kept subset is
    chosen by deterministic hash order — row_number over
    (md5(doc_id), doc_id) within each source — so any engine, layout,
    or cluster size keeps the SAME documents. One window shuffle on
    the small source key; at 100 TB sources are the partition key and
    AQE handles the hot ones."""
    k = 10
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("doc_id", "source", "rn")
    )


# --------------------------------------------------------------------------
# Feature-eng pack #12: calendar feature extraction, coverage/integrity
# audit, deterministic negative sampling, grouped median imputation
# --------------------------------------------------------------------------

def q_calendar_features(spark, sf_dir):
    """Calendar feature extraction (the one-hot-able time features every
    temporal model starts with): ISO day-of-week, hour, month,
    is_weekend, days since epoch — all JVM datetime built-ins inside
    one narrow projection; nothing shuffles."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        _us("ts").alias("ts_us"),
        (F.expr("weekday(ts)") + 1).alias("iso_dow"),
        F.hour("ts").alias("hh"),
        F.month("ts").alias("mm"),
        (F.expr("weekday(ts)") >= 5).cast("int").alias("is_weekend"),
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .alias("epoch_day"),
    )


def q_dormant_audit(spark, sf_dir):
    """Coverage/integrity audit (the pipeline-health report a feature
    store runs before training): per nation, customers with NO events
    (dormant) vs total, with the dormancy rate. LEFT ANTI join against
    the distinct event actors (shuffle on the key, events pre-shrunk
    to distinct user_ids map-side), then a broadcast nation count —
    integer-exact counts, one 6dp rate divide."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    actors = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey")
    ).distinct()
    dormant = c.join(actors, "c_custkey", "left_anti")
    per_nation = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return (
        dormant.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_dormant"))
        .join(F.broadcast(per_nation), "c_nationkey")
        .select(
            "c_nationkey",
            "n_dormant",
            "n_customers",
            F.round(
                F.col("n_dormant") / F.col("n_customers"), 6
            ).alias("dormant_rate"),
        )
    )


def q_negative_sample(spark, sf_dir):
    """Deterministic negative sampling (contrastive-training pairs):
    k=4 pseudo-random negatives per anchor doc via the hash-style map
    neg = (31*doc + 17*i + 7) mod N, skipping self-collisions. No RNG
    state — any engine, layout, or retry produces the same pairs. One
    broadcast of the 1-row corpus count; sequence+explode fan-out,
    no shuffle at all."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    n_row = d.agg(F.count(F.lit(1)).alias("cnt"))
    return (
        d.crossJoin(F.broadcast(n_row))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(4))).alias("i"),
            F.col("cnt"),
        )
        .select(
            "doc_id",
            "i",
            F.expr("(31 * doc_id + 17 * i + 7) % cnt").alias("neg_id"),
        )
        .where(F.col("neg_id") != F.col("doc_id"))
    )


def q_impute_median(spark, sf_dir):
    """Grouped median imputation (the standard missing-feature fill):
    10% of values are masked by a deterministic rule (event_id % 10 ==
    0 stands in for real missingness), then filled with the per-user
    median of the SURVIVING values. One exact-percentile shuffle on
    the user key, one shuffle join back; medians of doubles are
    element-or-midpoint so the 4dp round is engine-stable."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 10 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    med = ev.groupBy("user_id").agg(
        F.expr("percentile(v, 0.5)").alias("med")
    )
    return ev.join(med, "user_id").select(
        "event_id",
        "user_id",
        F.col("v").isNull().cast("int").alias("was_missing"),
        F.round(F.coalesce(F.col("v"), F.col("med")), 4).alias("imputed"),
    )
