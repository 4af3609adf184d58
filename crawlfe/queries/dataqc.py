"""Feature-eng pack #110 (r4): relational data-integrity audits —
the ingestion-time profiling trio (referential integrity, functional
dependencies, key uniqueness) that complements the statistical
profilers (dataset_card, benford_audit, skew_report).

* ``fk_orphans`` — referential-integrity audit of every declared
  TPC-H-style foreign key: orphan count and rate per FK via
  broadcast anti-joins (the dim side is always the small one, so no
  fat shuffle at any scale).
* ``fd_violations`` — approximate functional-dependency audit
  X -> Y: violation rate = 1 - sum(per-X majority-Y count)/rows,
  for three candidate FDs (documents.source -> lang,
  events.user_id -> event_type, orders.o_custkey ->
  o_orderpriority).  Exact-zero rate certifies the FD holds.
* ``dup_key_audit`` — key-uniqueness audit for three candidate
  keys: surplus rows, distinct keys and the max multiplicity —
  the "is this actually a primary key" check.

Scale shape: every audit is one hash agg (map-side combinable) or
one broadcast anti-join; output is O(#audited constraints).
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_FKS = [
    # (name, child, child_key, parent, parent_key)
    ("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
    (
        "lineitem.orderkey",
        "lineitem",
        "l_orderkey",
        "orders",
        "o_orderkey",
    ),
    ("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    (
        "lineitem.suppkey",
        "lineitem",
        "l_suppkey",
        "supplier",
        "s_suppkey",
    ),
    (
        "customer.nationkey",
        "customer",
        "c_nationkey",
        "nation",
        "n_nationkey",
    ),
    (
        "supplier.nationkey",
        "supplier",
        "s_nationkey",
        "nation",
        "n_nationkey",
    ),
    (
        "nation.regionkey",
        "nation",
        "n_regionkey",
        "region",
        "r_regionkey",
    ),
]


def q_fk_orphans(spark, sf_dir):
    """REFERENTIAL-INTEGRITY audit: per declared FK, total child
    rows, orphaned child rows (no parent) and the orphan rate."""
    outs = []
    for name, child, ck, parent, pk in _FKS:
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(
            F.col(pk).alias("_pk")
        ).distinct()
        tot = c.count()
        orph = c.join(
            F.broadcast(p),
            c[ck].cast("bigint") == p["_pk"].cast("bigint"),
            "left_anti",
        )
        outs.append(
            orph.agg(
                F.lit(name).alias("fk"),
                F.lit(tot).cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_orphans"),
                F.round(
                    F.count(F.lit(1)) / F.lit(float(tot)), 6
                ).alias("orphan_rate"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fk")


_FDS = [
    ("documents.source->lang", "documents", "source", "lang"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
    (
        "orders.custkey->priority",
        "orders",
        "o_custkey",
        "o_orderpriority",
    ),
]


def q_fd_violations(spark, sf_dir):
    """APPROXIMATE-FD audit X -> Y: rows outside the per-X majority
    Y value; rate 0 certifies the dependency holds exactly."""
    outs = []
    for name, table, x, y in _FDS:
        t = _t(spark, sf_dir, table)
        grp = t.groupBy(
            F.col(x).alias("_x"), F.col(y).alias("_y")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        per_x = grp.groupBy("_x").agg(
            F.max("c").cast("bigint").alias("maxc"),
            F.sum("c").cast("bigint").alias("tot"),
        )
        outs.append(
            per_x.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.sum("tot").cast("bigint").alias("n_rows"),
                F.sum("maxc").cast("bigint").alias("n_conforming"),
                F.round(
                    1
                    - F.sum("maxc")
                    / F.sum("tot").cast("double"),
                    6,
                ).alias("violation_rate"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fd")


_KEYS = [
    ("documents.doc_id", "documents", ["doc_id"]),
    ("events.user_ts", "events", ["user_id", "ts"]),
    (
        "lineitem.order_line",
        "lineitem",
        ["l_orderkey", "l_linenumber"],
    ),
]


def q_dup_key_audit(spark, sf_dir):
    """KEY-UNIQUENESS audit: per candidate key, surplus duplicate
    rows, distinct key count and the worst multiplicity."""
    outs = []
    for name, table, cols in _KEYS:
        t = _t(spark, sf_dir, table)
        g = t.groupBy(*cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        outs.append(
            g.agg(
                F.lit(name).alias("key_name"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
                (F.sum("c") - F.count(F.lit(1)))
                .cast("bigint")
                .alias("n_dup_rows"),
                F.max("c").cast("bigint").alias("max_multiplicity"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("key_name")
