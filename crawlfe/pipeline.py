"""End-to-end featurize job: the engine's spark-submit entry logic.

Mirrors the two reference entry points re-expressed on Spark
(SURVEY.md §3): the extract stage (ref: acoss/extractors.py::
batch_feature_extractor [R]) and the temporal comparison stage (ref:
acoss/coverid.py::benchmark -> CoverAlgorithm.all_pairwise [R], here the
as-of join + window features), with checkpoint/resume and per-partition
lineage (BASELINE.json:6).

Resume model: the input arrives as a sequence of input snapshots
(production: Iceberg snapshot ids of the pages table; locally: named
batches). For each snapshot not yet committed to the features table's
manifest log, the job featurizes and atomically commits data + lineage
together. A rerun after any crash processes exactly the uncommitted
snapshots — exactly-once at snapshot granularity, idempotent at
partition granularity (tests/test_resume.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .asof import asof_with_windows
from .features import LineageMerge, featurize
from .io import IcebergLite


def commit_batch(
    spark: SparkSession,
    pages: DataFrame,
    features_table: IcebergLite,
    snapshot_id: str,
    crash_before_commit: bool = False,
) -> None:
    """Featurize one input snapshot and atomically commit data+lineage.

    One Spark job: the staged write. Each featurize task builds its
    partition's lineage row in flight and hands it to the driver through
    a ``LineageMerge`` accumulator, so the staged files are never read
    back; the rows are committed in the same manifest as the data. A
    snapshot with no rows commits with an empty lineage.
    """
    sink = spark.sparkContext.accumulator({}, LineageMerge())
    stage_path = features_table.stage(
        featurize(pages, use_html=True, _lineage=sink)
    )
    if crash_before_commit:
        return
    lineage = [sink.value[p] for p in sorted(sink.value)]
    features_table.commit(stage_path, snapshot_id, lineage_rows=lineage)


def run_incremental(
    spark: SparkSession,
    batches: list[tuple[str, DataFrame]],
    features_table: IcebergLite,
    crash_after: int | None = None,
) -> list[str]:
    """Resume-aware driver loop: skip committed snapshots, commit the rest."""
    committed = features_table.committed_snapshots()
    done: list[str] = []
    for snap_id, pages in batches:
        if snap_id in committed:
            continue
        crash = crash_after is not None and len(done) >= crash_after
        commit_batch(
            spark, pages, features_table, snap_id, crash_before_commit=crash
        )
        if crash:
            return done
        done.append(snap_id)
    return done


def feature_pipeline(
    features: DataFrame,
    probe_grid: DataFrame,
    session_gap_s: int = 86400,
    strategy: str = "union_window",
    salt_k: int = 1,
) -> DataFrame:
    """The flagship query (SURVEY.md §7 M1): windowed features + as-of
    join onto a probe grid -> asof_features (FIXTURES.md §A).

    Lag/lead, sessionize and the as-of run on one spine
    (``asof.asof_with_windows``): one exchange on url and one sort feed
    two JVM Windows, so the features are shuffled once and never
    re-enter Python. The default hash layout reads ``features`` once;
    ``strategy="range_scan"`` runs it once more to sample range bounds.
    ``salt_k`` > 1 salts the partitioning for hot urls without changing
    the result.
    """
    joined = asof_with_windows(
        probe_grid,
        features,
        key="url",
        ts_probe="join_ts",
        ts_build="warc_ts",
        build_cols=["text_sha256", "feat"],
        gap_seconds=session_gap_s,
        strategy=strategy,
        salt_k=salt_k,
    ).drop("snapshot_idx")
    return joined.withColumn("matched", F.col("warc_ts").isNotNull())
