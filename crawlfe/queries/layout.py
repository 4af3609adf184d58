"""Feature-eng pack #137 (r4): storage-layout analytics on lineitem
— the table-format planning numbers (encoding choice, bucket count,
sort key) next to zorder / scan_split_plan / salt_plan /
partitioned_roundtrip.

* ``compression_ratio_est`` — per column: NDV (dictionary
  potential n/ndv, dict width ceil(log2 ndv) bits) and the
  run-length profile under the table's natural (l_orderkey,
  l_linenumber) order — the numbers that pick RLE vs dictionary
  vs plain encoding.
* ``bucket_skew_plan`` — the fill profile of hash-bucketing by
  l_orderkey into 32 buckets: min/avg/max bucket, skew ratio and
  CV — is the bucketing key safe at scale.
* ``minmax_prune_benefit`` — chunk-level min/max pruning for a
  7-day ship-date predicate under two physical orders (shipdate-
  sorted vs orderkey-sorted), 512-row chunks: the measured benefit
  of sorting by the filter column, the motivation for sort keys /
  z-ordering.

Scale shape: each query is one or two window passes + a hash agg;
chunking is rank arithmetic, no data movement beyond the sort.
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._shared import _t

_CR_COLS = ("l_returnflag", "l_linestatus", "l_shipdate", "l_partkey")
_BK_N = 32
_CHUNK = 512
_PRUNE_LO_D, _PRUNE_HI_D = 30, 37  # predicate window, days after min


def q_compression_ratio_est(spark, sf_dir):
    """COLUMN ENCODING profile: NDV, dict bits, RLE run factor
    under the natural (l_orderkey, l_linenumber) order."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.orderBy("l_orderkey", "l_linenumber")
    rows = []
    for c in _CR_COLS:
        vs = F.col(c).cast("string")
        r = li.select(
            vs.alias("v"),
            F.lag(vs).over(w).alias("pv"),
        )
        m = r.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("v").cast("bigint").alias("ndv"),
            F.sum(
                (
                    F.col("pv").isNull()
                    | (F.col("v") != F.col("pv"))
                ).cast("bigint")
            ).alias("runs"),
        )
        rows.append(
            m.select(
                F.lit(c).alias("col"),
                "n",
                "ndv",
                F.ceil(F.log2(F.col("ndv").cast("double")))
                .cast("bigint")
                .alias("dict_bits"),
                "runs",
                F.round(
                    F.col("n") / F.col("runs").cast("double"), 2
                ).alias("rle_factor"),
            )
        )
    out = rows[0]
    for r_ in rows[1:]:
        out = out.unionByName(r_)
    return out.orderBy("col")


def q_bucket_skew_plan(spark, sf_dir):
    """HASH-BUCKET fill profile for l_orderkey % 32."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy(
        (F.col("l_orderkey") % _BK_N).cast("bigint").alias("bkt")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.min("c").cast("bigint").alias("min_fill"),
        F.max("c").cast("bigint").alias("max_fill"),
        F.round(F.avg("c"), 2).alias("avg_fill"),
        F.round(F.max("c") / F.avg("c"), 6).alias("skew_ratio"),
        F.round(
            F.stddev_samp(F.col("c").cast("double")) / F.avg("c"),
            6,
        ).alias("cv"),
    )


def q_minmax_prune_benefit(spark, sf_dir):
    """CHUNK MIN/MAX pruning for a 7-day ship-date window under
    shipdate-sorted vs orderkey-sorted physical orders."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.to_date("l_shipdate"), F.to_date(F.lit("1992-01-01"))
        )
        .cast("bigint")
        .alias("sd"),
        "l_orderkey",
        "l_linenumber",
    )
    base = li.agg(F.min("sd").alias("d0"))
    rows = []
    orders = {
        "shipdate_sorted": [F.col("sd"), F.col("l_orderkey"),
                            F.col("l_linenumber")],
        "orderkey_sorted": [F.col("l_orderkey"),
                            F.col("l_linenumber")],
    }
    for name, keys in orders.items():
        w = Window.orderBy(*keys)
        chunks = li.select(
            "sd",
            F.floor(
                (F.row_number().over(w) - 1) / _CHUNK
            ).alias("chunk"),
        ).groupBy("chunk").agg(
            F.min("sd").alias("mn"), F.max("sd").alias("mx")
        )
        j = chunks.crossJoin(F.broadcast(base))
        lo = F.col("d0") + _PRUNE_LO_D
        hi = F.col("d0") + _PRUNE_HI_D
        pruned = (F.col("mx") < lo) | (F.col("mn") > hi)
        rows.append(
            j.agg(
                F.lit(name).alias("ordering"),
                F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
                F.sum(pruned.cast("bigint")).alias("n_pruned"),
                F.round(
                    F.sum(pruned.cast("bigint"))
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("prune_rate"),
            )
        )
    out = rows[0]
    for r_ in rows[1:]:
        out = out.unionByName(r_)
    return out.orderBy("ordering")
