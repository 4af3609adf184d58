"""Event-time windowing + incremental (streaming) featurization.

The reference is batch-only (SURVEY.md §2.B "Streaming-only": absent in
reference); the engine's incremental story is the lineage/checkpoint
resume (crawlfe.pipeline). This module adds the Spark-native event-time
operators on top, usable identically in batch and Structured Streaming:

  * tumbling / sliding windows  — ``F.window(ts, size[, slide])``
  * session windows             — ``F.session_window(ts, gap)`` (the
    operator twin of the batch gap-cumsum sessionizer in
    crawlfe.windows; parity-tested against it)
  * watermarked streaming aggregation + exactly-once file sink —
    ``stream_featurize`` runs the SAME frozen featurizer over a file
    stream with checkpointing, the streaming twin of
    crawlfe.pipeline.commit_batch.

At 100 TB the batch/stream split is: backfill via pipeline.run_incremental
(snapshot-granular resume), tail via stream_featurize (micro-batch,
Spark checkpoint dir) — both write the same features schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    df: DataFrame, ts: str, size: str, keys: list[str], value: str
) -> DataFrame:
    """Tumbling event-time window aggregate (batch or streaming)."""
    return (
        df.groupBy(F.window(ts, size).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            *keys,
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    df: DataFrame, ts: str, size: str, slide: str, keys: list[str], value: str
) -> DataFrame:
    """Sliding event-time window aggregate; each row lands in
    size/slide overlapping windows."""
    return (
        df.groupBy(F.window(ts, size, slide).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(value), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            *keys,
            "n",
            "sum_value",
        )
    )


def session_window_agg(
    df: DataFrame, ts: str, gap: str, keys: list[str]
) -> DataFrame:
    """Spark-native session windows (gap-close semantics: window end =
    last event + gap). Streaming-capable twin of crawlfe.windows
    sessionize/session_bounds."""
    return (
        df.groupBy(F.session_window(ts, gap).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *keys,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n",
        )
    )


def stream_featurize(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str,
):
    """File-source Structured Streaming twin of pipeline.commit_batch:
    new parquet files under input_dir are featurized with the SAME
    frozen extractor and appended to output_dir exactly-once (Spark
    checkpoint + file-sink manifest own the resume story here).

    Returns the StreamingQuery (caller awaits/ stops it).
    """
    from .features import featurize

    pages = spark.readStream.schema(schema).parquet(input_dir)
    feats = featurize(pages, use_html=True)
    return (
        feats.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stateful_sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (task brief: "applyInPandasWithState for custom stateful
    operators"): gap-based sessionization where the open session per
    key survives ACROSS micro-batches in GroupState — something
    ``session_window`` cannot express when the emission contract is
    "closed sessions only, as soon as the closing event arrives".

    Emits one row per CLOSED session (a later event arrived more than
    ``gap_seconds`` after the session's last event). The still-open
    session per key is carried in state (session_start_us, last_ts_us,
    n_events) and emitted by a final flush batch or never — matching an
    at-scale CDC/compaction pattern where open tails are held back.

    The kernel is vectorized per group: the batch's timestamps join the
    carried state, gaps via ``np.diff``, closed sessions via boundary
    masks — no per-event Python state machine.

    Ordering contract (ADVICE r2): exact results require per-key
    batch-monotone delivery — every event in batch ``k+1`` at or after
    the carried session's last event (use a watermark upstream to bound
    lateness). A LATE batch (events at or before the carried last
    event) is still merged safely — the carried session's bounds only
    ever widen, ``min(start)``/``max(end)``, never regress — but a late
    event that bridges two already-split sessions cannot re-merge them.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType, StructField, StructType, TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
        ]
    )
    gap_us = int(gap_seconds) * 1_000_000

    def fn(key_tuple, pdf_iter, state):
        ts_us = np.concatenate(
            [
                pdf[ts].to_numpy("datetime64[us]").astype(np.int64)
                for pdf in pdf_iter
            ]
            or [np.empty(0, dtype=np.int64)]
        )
        ts_us.sort()
        carried = state.get if state.exists else None
        if carried is not None:
            c_start, c_last, c_n = carried
        if ts_us.size == 0:
            return
        # batch-local session boundaries: first event always opens
        # segment 0; later events open a segment when the gap exceeds
        # the threshold
        bnd = np.empty(ts_us.size, dtype=bool)
        bnd[0] = True
        np.greater(np.diff(ts_us), gap_us, out=bnd[1:])
        first_idx = np.flatnonzero(bnd)
        starts = ts_us[first_idx]
        ends = ts_us[
            np.concatenate((first_idx[1:] - 1, [ts_us.size - 1]))
        ]
        counts = np.diff(np.concatenate((first_idx, [ts_us.size])))
        if carried is not None:
            if ts_us[0] - c_last <= gap_us:
                # batch head extends the carried open session. min/max
                # so an out-of-order (late) batch can only WIDEN the
                # carried bounds, never regress them (ADVICE r2: a late
                # batch used to reset start to c_start even when
                # earlier events arrived, and let last_us move
                # backwards, double-closing sessions later).
                starts[0] = min(c_start, starts[0])
                ends[0] = max(c_last, ends[0])
                counts[0] += c_n
            else:
                # carried session is closed by this batch's first event
                starts = np.concatenate(([c_start], starts))
                ends = np.concatenate(([c_last], ends))
                counts = np.concatenate(([c_n], counts))
        n_sessions = starts.size
        # last session stays open in state; the rest are closed
        state.update(
            (int(starts[-1]), int(ends[-1]), int(counts[-1]))
        )
        if n_sessions > 1:
            yield pd.DataFrame(
                {
                    "user_id": np.int64(key_tuple[0]),
                    "session_start": pd.to_datetime(
                        starts[:-1], unit="us"
                    ),
                    "session_end": pd.to_datetime(ends[:-1], unit="us"),
                    "n_events": counts[:-1].astype(np.int64),
                }
            )

    prepared = events.select(
        F.col(key).cast("long").alias("user_id"),
        F.col(ts).cast("timestamp").alias(ts),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(
    stream_df: DataFrame,
    keys: list[str],
    ts: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Watermarked streaming deduplication — the streaming twin of the
    batch ``dedup_exact`` op: drop rows whose ``keys`` were already seen
    within the watermark window (``dropDuplicatesWithinWatermark``), so
    re-crawled/replayed pages in the tail stream are emitted once. State
    per key is dropped once the watermark passes it — bounded memory at
    100 TB, unlike an unwatermarked ``dropDuplicates`` whose state grows
    forever. Works identically in batch mode (plain dropDuplicates
    semantics) for parity testing."""
    wm = stream_df.withColumn(ts, F.col(ts).cast("timestamp"))
    if wm.isStreaming:
        return wm.withWatermark(ts, delay).dropDuplicatesWithinWatermark(keys)
    return wm.dropDuplicates(keys)


def watermarked_window_counts(
    stream_df: DataFrame, ts: str, delay: str, size: str, keys: list[str]
) -> DataFrame:
    """Watermarked tumbling aggregate for late-data streams: state for a
    window is dropped once the watermark (max event time - delay)
    passes its end."""
    # watermarks require TIMESTAMP (parquet µs loads as TIMESTAMP_NTZ
    # in Spark 4; session tz is pinned UTC so the cast is exact)
    wm = stream_df.withColumn(ts, F.col(ts).cast("timestamp"))
    return (
        wm.withWatermark(ts, delay)
        .groupBy(F.window(ts, size).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), *keys, "n")
    )


def stream_enrich(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the STATIC dimension table (lang priors, domain metadata, model
    registry rows) with an explicit broadcast hint — the dim ships to
    executors once per plan, the stream side never shuffles, and no
    join state accumulates (unlike stream-stream joins, stream-static
    needs no watermark). The identical call on batch frames is the
    parity oracle (tests/test_streaming.py)."""
    return stream_df.join(F.broadcast(dim_df), on, how)


def stream_upsert_sink(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
):
    """foreachBatch idempotent sink: each micro-batch appends to an
    IcebergLite table under input_snapshot = ``batch-<id>``, so a batch
    REPLAYED after a crash (Spark retries the epoch whose sink write
    was not recorded in the checkpoint) is recognized as already
    committed and skipped — end-to-end exactly-once from the sink's
    own commit log, not just the file-sink manifest. This is the
    pattern for sinks Spark has no transactional writer for (JDBC,
    key-value stores, MERGE INTO): derive the idempotence key from
    ``batchId``. Returns the StreamingQuery."""
    from .io import IcebergLite

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        tbl = IcebergLite(table_path)
        snap = f"batch-{batch_id:06d}"
        if snap in tbl.committed_snapshots():
            return  # replay after crash: already durable, skip
        tbl.append(batch_df, input_snapshot=snap)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_left: str,
    ts_right: str,
    delay: str = "1 hour",
    horizon_s: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event matches
    right events of the same ``key`` arriving within
    [ts_left, ts_left + horizon_s] — the streaming attribution shape
    ("purchase within an hour of the click", "page re-crawled within a
    day of the sitemap ping"). Both sides carry watermarks and the join
    condition bounds event-time distance in BOTH directions, so Spark
    can evict join state once the watermark passes ts + horizon —
    bounded memory at 100 TB, unlike an unconstrained stream-stream
    join whose buffers grow forever. The same function on batch frames
    (watermarks are no-ops there) is the parity oracle
    (tests/test_streaming.py).

    ``how="left_outer"`` is the non-attribution report ("clicks that
    did NOT convert within the hour"): a left row with no match is
    emitted with null right columns only once the watermark proves no
    match can still arrive (its join-state window closed) — in batch
    mode it degrades to a plain left join, which is the parity twin."""
    lt = left.withColumn(ts_left, F.col(ts_left).cast("timestamp"))
    rt = right.withColumn(ts_right, F.col(ts_right).cast("timestamp"))
    if lt.isStreaming:
        lt = lt.withWatermark(ts_left, delay)
    if rt.isStreaming:
        rt = rt.withWatermark(ts_right, delay)
    cond = (
        (lt[key] == rt[key])
        & (rt[ts_right] >= lt[ts_left])
        & (rt[ts_right] <= lt[ts_left] + F.expr(f"INTERVAL {horizon_s} SECONDS"))
    )
    return lt.join(rt, cond, how).drop(rt[key])


def profile_accumulate(
    pdfs, ts: str, value: str
) -> tuple[int, int, float, int]:
    """Fold one micro-batch's pandas frames into profile partials
    (n, fixed-point sum, max, last_ts_us). Pure function (no Spark) so
    the fixed-point accumulation is unit-testable in-sandbox where the
    TWS protobuf protocol is unavailable (see tws_running_profile)."""
    import numpy as np

    n, sum_fp, mx, last_us = 0, 0, float("-inf"), -(1 << 62)
    for pdf in pdfs:
        v = pdf[value].to_numpy(dtype=np.float64)
        t = pdf[ts].to_numpy("datetime64[us]").astype(np.int64)
        n += len(v)
        # fixed-point: one rounding per event, integer adds —
        # batch-split-independent
        sum_fp += int(np.rint(v * 10000.0).astype(np.int64).sum())
        if len(v):
            mx = max(mx, float(v.max()))
            last_us = max(last_us, int(t.max()))
    return n, sum_fp, mx, last_us


def profile_merge(
    a: tuple[int, int, float, int], b: tuple[int, int, float, int]
) -> tuple[int, int, float, int]:
    """Merge two profile partials — associative and commutative by
    construction (integer adds, max), so the streamed profile is exact
    for ANY micro-batch split."""
    return (
        a[0] + b[0],
        a[1] + b[1],
        max(a[2], b[2]),
        max(a[3], b[3]),
    )


def tws_running_profile(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Per-key running profile via ``transformWithStateInPandas`` —
    the Spark 4 arbitrary-state API (StatefulProcessor + typed state
    handles, the successor of ``applyInPandasWithState``): maintain
    (n_events, fixed-point value sum, max value, last event ts) in ONE
    ValueState per key and emit the UPDATED profile for every key seen
    in each micro-batch — the streaming feature-store maintenance
    shape (the batch twin is a plain groupBy aggregate, which is the
    parity oracle in tests/test_streaming.py).

    The value sum is accumulated as int64 ten-thousandths (fixed
    point), not double — state merges must be associativity-order-free
    so the streamed profile is bit-equal to the batch recompute
    regardless of how events split into micro-batches.

    State is one 4-field row per key — O(keys) bytes, RocksDB-backed
    at scale; no growth with event count.

    SANDBOX CONSTRAINT (same class as the Pillow-gated media decode
    and the Iceberg jar, SURVEY §1.3): the TWS Python<->JVM state
    protocol needs ``google.protobuf``, which this container lacks and
    cannot install — the end-to-end test is importorskip-gated; the
    accumulate/merge kernels (profile_accumulate / profile_merge) are
    pure functions unit-tested without it.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = (
        "n bigint, sum_fp bigint, max_value double, last_ts_us bigint"
    )
    out_schema = (
        "user_id bigint, n_events bigint, sum_value double, "
        "max_value double, last_ts_us bigint"
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._profile = handle.getValueState("profile", state_schema)

        def handleInputRows(self, key_tuple, rows, timer_values):
            n, sum_fp, mx, last_us = profile_accumulate(rows, ts, value)
            if n == 0:
                return iter(())
            if self._profile.exists():
                c_n, c_sum, c_max, c_last = self._profile.get()
                n, sum_fp, mx, last_us = profile_merge(
                    (n, sum_fp, mx, last_us),
                    (int(c_n), int(c_sum), float(c_max), int(c_last)),
                )
            self._profile.update((n, sum_fp, float(mx), last_us))
            return iter(
                [
                    pd.DataFrame(
                        {
                            "user_id": [int(key_tuple[0])],
                            "n_events": [n],
                            "sum_value": [sum_fp / 10000.0],
                            "max_value": [float(mx)],
                            "last_ts_us": [last_us],
                        }
                    )
                ]
            )

        def close(self) -> None:
            pass

    prepared = events.select(
        F.col(key).cast("long").alias("user_id"),
        F.col(ts).cast("timestamp").alias(ts),
        F.col(value).cast("double").alias(value),
    )
    return prepared.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=ProfileProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_state(
    spark,
    checkpoint: str,
    operator_id: int = 0,
    store_name: str = "default",
    batch_id: int | None = None,
):
    """Read a streaming query's STATE STORE as a DataFrame — the
    Spark-4 state data source (`spark.read.format("statestore")`),
    the observability/debug surface for every stateful operator in
    this module (windowed aggs, dropDuplicates, sessionize): columns
    (key struct, value struct, partition_id). At scale this reads the
    checkpoint's HDFS/RocksDB state files directly — no query restart,
    no state-size-bound driver collect. ``batch_id`` time-travels to a
    specific committed microbatch (default: latest committed)."""
    r = (
        spark.read.format("statestore")
        .option("operatorId", operator_id)
        .option("storeName", store_name)
    )
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    return r.load(checkpoint)


def stream_state_metadata(spark, checkpoint: str):
    """Read a checkpoint's STATE METADATA (`format("state-metadata")`):
    one row per stateful operator — operatorId/operatorName/
    stateStoreName/numPartitions/min-maxBatchId — the first stop when
    diagnosing state growth or resume issues on a production job."""
    return spark.read.format("state-metadata").load(checkpoint)


def stream_asof_serve(
    probe_stream: DataFrame,
    features: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    key: str = "url",
    ts_probe: str = "join_ts",
    ts_build: str = "warc_ts",
    build_cols: list | None = None,
):
    """Point-in-time feature SERVING on the streaming path: each
    micro-batch of probe events is as-of joined (backward, zero
    temporal leakage — the same `crawlfe.asof` kernel as the batch
    pipeline) against the static features table and appended to the
    sink. The online feature-store pattern: a model-scoring stream
    asks "the features as of my event time", and gets exactly what a
    batch backfill would have produced for the same probes — parity
    pinned by test.

    Implemented via foreachBatch because Structured Streaming has no
    native stream-static AS-OF join (stream-static equi joins exist;
    the as-of needs the merge-scan). Inside foreachBatch the batch is
    a plain DataFrame, so the batch kernel runs unchanged; the file
    sink below is idempotent per batchId via the parquet write path +
    checkpoint. Returns the StreamingQuery."""
    from .asof import asof_join

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        out = asof_join(
            batch_df,
            features,
            key=key,
            ts_probe=ts_probe,
            ts_build=ts_build,
            build_cols=build_cols,
        )
        out.write.mode("append").parquet(output_dir)

    return (
        probe_stream.writeStream.foreachBatch(serve)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_kmv_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "url",
    k: int = 32,
):
    """Streaming DISTINCT-COUNT sketching: maintain a K-minimum-values
    sketch of ``key_col`` across micro-batches.  Each batch reduces to
    its own K smallest 60-bit key hashes (TakeOrderedAndProject —
    O(K) rows leave the batch) and appends them as one
    ``sketch-batch-<id>.parquet`` state file; the reader merges all
    state files and re-takes the K smallest (`kmv_state_estimate`).

    Exactly-once comes FREE from the sketch algebra: KMV merge is an
    idempotent, commutative, associative monoid (set-union of min
    hashes), so a batch replayed after a crash just re-unions the same
    hashes — no transactional sink, no dedup bookkeeping.  This is the
    streaming twin of the batch `kmv_distinct`/`kmv_union_merge`
    operators and the shape of every production cardinality monitor
    (per-partition sketches → tree-merge → O(K) global state).
    Returns the StreamingQuery."""
    from .queries.sketch_period import _h60

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        top = (
            batch_df.select(_h60(F.col(key_col)).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(k)
        )
        top.write.mode("overwrite").parquet(
            f"{state_dir}/sketch-batch-{batch_id:06d}.parquet"
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def kmv_state_estimate(spark, state_dir: str, k: int = 32) -> float:
    """Merge all per-batch KMV state files and return the distinct
    estimate (K-1)·2^60 / h_(K) (exact count when fewer than K hashes
    survive).  Merging is re-taking the K smallest of the union — the
    same O(K log K) step a tree reduce runs per node."""
    from .queries.sketch_period import _KMV_DOM

    merged = (
        spark.read.parquet(f"{state_dir}/sketch-batch-*.parquet")
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    rows = [r.h for r in merged.collect()]  # O(K) driver-side
    if len(rows) < k:
        return float(len(rows))
    return (k - 1) * _KMV_DOM / rows[-1]
