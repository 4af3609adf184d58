"""Feature-eng pack #94 (r4): three Spark-4 DataFrame API surfaces
the registry had not exercised yet, each with a plain-SQL oracle.

* ``grouped_arrow`` — ``GroupedData.applyInArrow`` (Spark 4): the
  per-group kernel receives a ``pyarrow.Table`` and returns one —
  zero pandas conversion on either side (the lowest-overhead grouped
  custom kernel Spark offers; the arrow sibling of applyInPandas).
  Kernel: exact per-(event_type) cents moments computed with pyarrow
  compute on int64 — no floats until the final mean.
* ``df_transpose`` — ``DataFrame.transpose()`` (Spark 4.0): the
  per-source doc/char counts pivoted so metrics become rows and
  sources become columns — the report-shaping step that used to need
  a hand-written unpivot+pivot pair.  The oracle builds the same
  transposed layout with UNION ALL + conditional aggregation.
* ``set_ops_all`` — EXCEPT ALL / INTERSECT ALL multiset semantics
  (vs the registry's existing DISTINCT set ops): duplicate
  (lang, len-bucket) rows between two corpus halves keep their
  multiplicities; each op's output is tagged and unioned so one
  result proves both.

Scale shape: applyInArrow groups are event_type-sized (map-side
combine is NOT available for opaque kernels, so the kernel reduces to
O(1) per group — never returns row-level data); transpose runs on an
O(sources) aggregate; the set ops hash-join on slim composite keys.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ._shared import _t

_SO_BUCKET = 100  # n_chars bucket width for the multiset key


def q_grouped_arrow(spark, sf_dir):
    """GROUPED APPLY-IN-ARROW: per event_type, an arrow-native kernel
    reduces cents to (n, sum, min, max, mean) — pyarrow compute on
    int64, one output row per group."""
    import pyarrow as pa
    import pyarrow.compute as pc

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )

    def kernel(table: "pa.Table") -> "pa.Table":
        c = table.column("cents")
        n = len(table)
        s = pc.sum(c).as_py()
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": pa.array([n], pa.int64()),
                "sum_cents": pa.array([s], pa.int64()),
                "min_cents": pa.array([pc.min(c).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(c).as_py()], pa.int64()),
                "mean_cents": pa.array(
                    [round(s / n, 4)], pa.float64()
                ),
            }
        )

    return e.groupBy("event_type").applyInArrow(
        kernel,
        schema=(
            "event_type string, n bigint, sum_cents bigint, "
            "min_cents bigint, max_cents bigint, mean_cents double"
        ),
    )


def q_df_transpose(spark, sf_dir):
    """DATAFRAME.TRANSPOSE (Spark 4.0): per-source doc and kilochar
    counts flipped so each metric is a row keyed by the former column
    name, sources become columns (ordered by source name).  The
    metric values share one BIGINT column type — transpose requires a
    least-common type across the value columns."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (F.sum("n_chars") / 1000).cast("bigint").alias("kchars"),
        )
        .orderBy("source")
    )
    t = per.transpose()
    # first column is the metric name (named `key` by Spark)
    first = t.columns[0]
    return t.withColumnRenamed(first, "metric").orderBy("metric")


def q_set_ops_all(spark, sf_dir):
    """EXCEPT ALL / INTERSECT ALL multiset semantics on the
    (lang, 100-char bucket) profile of the two corpus halves:
    duplicates keep multiplicity (the DISTINCT set ops already in the
    registry collapse them), outputs tagged and unioned."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / _SO_BUCKET).cast("bigint").alias("b"),
    )
    lo = d.where(F.col("doc_id") % 2 == 0).select("lang", "b")
    hi = d.where(F.col("doc_id") % 2 == 1).select("lang", "b")
    ex = lo.exceptAll(hi).select(
        F.lit("except_all").alias("op"), "lang", "b"
    )
    ia = lo.intersectAll(hi).select(
        F.lit("intersect_all").alias("op"), "lang", "b"
    )
    return ex.unionAll(ia).groupBy("op", "lang", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
