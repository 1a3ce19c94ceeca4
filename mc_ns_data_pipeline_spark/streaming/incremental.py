"""Incremental pipeline as Structured Streaming — SURVEY.md §2.8.

The reference hand-rolls micro-batch processing: hour-aligned 6-hour
epoch windows with a 6-hour completeness lag, a window-accounting CSV,
a status log for cross-run dedup, and per-lot delete+insert replacement
(reference: mastercontrol_pipeline/data_fetch_system/incremental_fetch.py:
20-22,129-155,182-198; data_load_system/processors/file_processor.py:
95-102). Structured Streaming absorbs all of it:

  T1 tumbling window      -> F.window(ts, '6 hours')  (epoch-aligned)
  T2 completeness lag     -> withWatermark(ts, '6 hours')
  T3 exactly-once windows -> checkpointLocation offset log
  T4 change capture       -> incremental file source + dropDuplicates
  T5 cross-run dedup      -> left-anti vs audit table / dropDuplicates
  T6 micro-batching       -> trigger(availableNow=True) / maxFilesPerTrigger
  T7 dead-lettering       -> foreachBatch audit writes
  T8 per-key replace      -> foreachBatch dynamic partition overwrite
"""

from __future__ import annotations

import decimal
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

WINDOW = "6 hours"
WATERMARK = "6 hours"


def windowed_event_aggregate(events: DataFrame) -> DataFrame:
    """The QS1 aggregation: 6-hour tumbling count/sum per event_type.

    Works on both batch and streaming DataFrames (same logical plan —
    that's the point of declaring it once).
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def _events_stream(spark: SparkSession, events_path: str,
                   schema=None) -> DataFrame:
    """readStream over the events parquet, handling INT64(NANOS) ts."""
    from mc_ns_data_pipeline_spark.catalog import parquet_schema
    from mc_ns_data_pipeline_spark.session import ensure_read_confs

    ensure_read_confs(spark)
    if schema is None:
        schema = parquet_schema(spark, events_path)
    # The streaming file source requires a *directory*. When given a
    # single parquet file, stage a symlink to it inside a temp dir (a
    # local-test convenience only — real deployments stream directories).
    import os
    import shutil
    import tempfile

    path = events_path
    if os.path.isfile(path):
        # deterministic staging dir so checkpoint offsets stay valid
        import hashlib

        digest = hashlib.md5(path.encode()).hexdigest()[:12]
        staged = os.path.join(tempfile.gettempdir(), f"stream_src_{digest}")
        os.makedirs(staged, exist_ok=True)
        link = os.path.join(staged, os.path.basename(path))
        # A symlink always reflects the live file; the copy fallback
        # must be refreshed when the source changes, or a regenerated
        # fixture would silently stream the stale copy forever.
        stale = (
            os.path.exists(link)
            and not os.path.islink(link)
            and (os.path.getmtime(link) != os.path.getmtime(path)
                 or os.path.getsize(link) != os.path.getsize(path))
        )
        if not os.path.exists(link) or stale:
            try:
                os.symlink(path, link)
            except OSError:
                shutil.copy2(path, link)  # copy2 preserves mtime
        path = staged
    stream = spark.readStream.schema(schema).parquet(path)
    types = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    if types.get("ts") == "bigint":  # INT64(NANOS) surfaced as long
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif types.get("ts") == "timestamp_ntz":
        # Parquet written without isAdjustedToUTC infers as NTZ, which
        # event-time watermarks reject (EVENT_TIME_IS_NOT_ON_TIMESTAMP_
        # TYPE). Sessions pin spark.sql.session.timeZone=UTC, so the
        # NTZ->LTZ cast preserves the wall-clock value exactly.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def run_incremental(spark: SparkSession, events_path: str,
                    checkpoint_dir: str, sink_table: str = "qs1_sink",
                    schema=None) -> DataFrame:
    """Run QS1 in availableNow mode against a parquet events source.

    Output mode `complete` re-emits closed-and-open windows each batch —
    matching the static oracle exactly at end-of-input (append mode would
    withhold windows newer than the final watermark). Returns the result
    as a DataFrame read back from the in-memory sink.
    """
    from mc_ns_data_pipeline_spark.session import scoped_conf

    agg = windowed_event_aggregate(_events_stream(spark, events_path, schema))
    # State cardinality = #windows × #event_types (small). Size the
    # state-store partition count to that, not the batch parallelism:
    # store commit cost is per-partition (SURVEY.md §2.8 scale note).
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink_table)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink_table)


def session_event_aggregate(events: DataFrame,
                            gap: str = "4 hours") -> DataFrame:
    """Per-user session windows: events within `gap` of each other merge.

    Beyond the reference's fixed 6-hour tumbling windows (SURVEY.md §2.8
    notes it has no session semantics) — `F.session_window` gives
    dynamic, data-driven windows with state merged across micro-batches.
    session_end = last event + gap (Spark's close-of-session contract).
    """
    return (
        events.groupBy(
            F.col("user_id"), F.session_window("ts", gap).alias("win")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def run_session_windows(spark: SparkSession, events_path: str,
                        checkpoint_dir: str,
                        sink_table: str = "xs4_sink",
                        gap: str = "4 hours") -> DataFrame:
    """Run the session-window aggregate to end-of-input (availableNow).

    Complete output mode re-emits the fully-merged session set each
    batch, so at end-of-input the sink equals the static gaps-and-
    islands computation — no watermark truncation of trailing sessions.
    """
    from mc_ns_data_pipeline_spark.session import scoped_conf

    agg = session_event_aggregate(
        _events_stream(spark, events_path).select("user_id", "ts"), gap
    )
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink_table)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink_table)


def run_stream_stream_join(spark: SparkSession, events_path: str,
                           checkpoint_dir: str,
                           sink_table: str = "xs5_sink",
                           sink_dir: str | None = None) -> DataFrame:
    """XS5 — stream-stream interval join: each purchase joined to the
    user's clicks in the preceding hour (streaming attribution).

    Both sides carry watermarks AND the join carries an explicit time
    range — the combination Structured Streaming needs to bound join
    state: click state older than (watermark - 1 h) is evicted instead
    of accumulating forever, which is what makes this shape viable on
    an unbounded 100 TB/day stream. Append mode emits each matched pair
    exactly once; at end-of-input the pair set equals the static
    interval join (the DuckDB oracle).
    """
    from mc_ns_data_pipeline_spark.session import scoped_conf

    purchases = (
        _events_stream(spark, events_path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    clicks = (
        _events_stream(spark, events_path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user_id = c_user_id "
            "AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
        "inner",
    ).select("p_event_id", "p_user_id", "p_ts", "c_event_id", "c_ts")
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        writer = (
            joined.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
        )
        if sink_dir is not None:
            # parquet sink: durable + supports checkpoint RECOVERY
            # (append-mode memory sinks refuse to resume) — the shape a
            # kill/resume deployment actually runs
            q = writer.format("parquet").option("path", sink_dir).start()
            q.awaitTermination()
            return spark.read.parquet(sink_dir)
        q = writer.format("memory").queryName(sink_table).start()
        q.awaitTermination()
        return spark.table(sink_table)


def replace_partitions_sink(batch_df: DataFrame, target_dir: str,
                            key_col: str = "event_type") -> None:
    """T8 per-key replacement: dynamic partition overwrite.

    The reference's delete-then-insert per lot (file_processor.py:95-102)
    becomes an idempotent partition overwrite — re-processing a window
    replaces exactly the partitions it owns, nothing else.
    """
    (
        batch_df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key_col)
        .parquet(target_dir)
    )


def run_incremental_with_replace(spark: SparkSession, events_path: str,
                                 checkpoint_dir: str,
                                 target_dir: str) -> None:
    """QS1 + T8: stream the windowed aggregate into a partitioned parquet
    table via foreachBatch dynamic-partition overwrite (idempotent under
    micro-batch retry)."""
    agg = windowed_event_aggregate(_events_stream(spark, events_path))
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(
            lambda df, _epoch: replace_partitions_sink(df, target_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def merge_latest_state(spark: SparkSession, incoming: DataFrame,
                       target_dir: str) -> None:
    """Newer-wins CDC merge: per user, keep the row with the greatest
    (ts, event_id) across incoming ∪ existing, staged-swap into place.

    Unlike merge_upsert (last-writer-wins on the batch), the winner is
    chosen by EVENT TIME, so replayed/out-of-order micro-batches are
    harmless: applying any batch twice, or two batches in either order,
    converges to the same table. With Delta this is a conditional
    `MERGE ... WHEN MATCHED AND u.ts > t.ts THEN UPDATE`; the parquet
    emulation recomputes the per-key argmax, which at warehouse scale
    should be bounded by partitioning the target on a user-id bucket.
    """
    import os
    import shutil

    from pyspark.sql import Window

    from mc_ns_data_pipeline_spark.sinks.layout import (
        restore_interrupted_swap,
    )
    from mc_ns_data_pipeline_spark.sinks.lease import table_lease

    # Single-writer lease around the read-stage-swap cycle (the
    # streaming query serializes its OWN micro-batches; the lease
    # guards against a second pipeline or a maintenance compaction
    # landing on the same table).
    with table_lease(target_dir, owner="merge_latest_state"):
        # Recover a swap interrupted between its two renames — otherwise
        # the missing target reads as an empty table and the merge loses
        # every previously-materialized row.
        restore_interrupted_swap(target_dir)
        if os.path.exists(target_dir):
            existing = spark.read.parquet(target_dir)
            incoming = incoming.unionByName(existing)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            incoming.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .drop("_r")
        )
        staging = f"{target_dir}__staging"
        latest.write.mode("overwrite").parquet(staging)
        backup = f"{target_dir}__old"
        shutil.rmtree(backup, ignore_errors=True)
        if os.path.exists(target_dir):
            os.rename(target_dir, backup)
        os.rename(staging, target_dir)
        shutil.rmtree(backup, ignore_errors=True)


def run_latest_state(spark: SparkSession, events_path: str,
                     checkpoint_dir: str, target_dir: str) -> DataFrame:
    """XS6 — streaming CDC materialization: maintain the latest event
    per user as a keyed table (the entity-state view every warehouse
    keeps over a change stream).

    Each micro-batch is reduced to its per-user latest row FIRST (a
    batch-local WindowGroupLimit — map-side cut), then merged
    newer-wins into the target. End-of-input state equals the batch
    latest-per-key query, which is the DuckDB oracle; exactly-once
    comes from the checkpoint plus the merge's event-time idempotency.
    """
    from mc_ns_data_pipeline_spark.session import scoped_conf

    ev = _events_stream(spark, events_path).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )

    def _merge(batch_df: DataFrame, _epoch: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .drop("_r")
        )
        merge_latest_state(spark, latest, target_dir)

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            ev.writeStream.outputMode("append")
            .foreachBatch(_merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(target_dir).orderBy("user_id")


def dim_enriched_aggregate(events: DataFrame, dim: DataFrame,
                           stream_key: str, dim_key: str,
                           group_col: str) -> DataFrame:
    """Stream-static broadcast enrich + 1-day windowed aggregate.

    The static dimension joins each micro-batch with a broadcast hash
    join — no stream-side shuffle, no state kept for the join itself
    (stream-static joins are stateless in Structured Streaming; only
    the downstream windowed agg holds state). This is the streaming
    analogue of J8 (SURVEY.md §2.4): at cluster scale the dim is
    re-broadcast per batch and can be swapped between batches without
    restarting the query.
    """
    joined = events.join(
        F.broadcast(dim), events[stream_key] == dim[dim_key], "inner"
    )
    return (
        joined.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("win"), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            group_col,
            "n_events",
            "total_value",
        )
    )


def run_stream_static_enrich(spark: SparkSession, events_path: str,
                             dim: DataFrame, checkpoint_dir: str,
                             sink_table: str = "xs8_sink") -> DataFrame:
    """XS8 — run the stream-static enrich to end-of-input and return
    the sink table (complete mode: final state equals the static
    join+agg, which is the DuckDB oracle)."""
    from mc_ns_data_pipeline_spark.session import scoped_conf

    agg = dim_enriched_aggregate(
        _events_stream(spark, events_path), dim,
        stream_key="user_id", dim_key="c_custkey",
        group_col="c_nationkey",
    )
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink_table)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink_table).orderBy("window_start", "c_nationkey")


def run_windowed_topk(spark: SparkSession, events_path: str,
                      checkpoint_dir: str,
                      sink_table: str = "xs10_sink",
                      k: int = 3, schema=None) -> DataFrame:
    """XS10 — streaming continuous top-k: the stream maintains the
    6-hour windowed per-event-type aggregate (the same stateful QS1
    plan); the k highest-value event types per window are ranked on
    the maintained result.

    Ranking is NOT expressible inside the stream (non-time window
    functions are unsupported on streaming DataFrames by design — the
    rank of a still-open window is unstable); the production shape is
    exactly this split: continuous aggregation in the stream, ranking
    on the serving read. At end-of-input (availableNow) the composite
    equals the static window+rank SQL, which is what the oracle pins.

    Rank ties break by event_type ascending for determinism.
    """
    from pyspark.sql import Window

    agg = windowed_event_aggregate(_events_stream(spark, events_path, schema))
    from mc_ns_data_pipeline_spark.session import scoped_conf

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink_table)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    res = spark.table(sink_table)
    w = Window.partitionBy("window_start").orderBy(
        F.col("total_value").desc(), F.col("event_type").asc()
    )
    return (
        res.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("window_start", "rank")
    )


def event_quality_rules() -> dict:
    """The declarative event gate shared by batch and stream (T7):
    known event types pass; 'error' events and out-of-range values are
    dead-lettered for replay."""
    return {
        "known_type": F.col("event_type").isin(
            "click", "view", "purchase", "signup"
        ),
        "value_in_range": (F.col("value") > 0) & (F.col("value") <= 50),
        "has_user": F.col("user_id").isNotNull(),
    }


def run_stream_quality_gate(spark: SparkSession, events_path: str,
                            checkpoint_dir: str, accepted_dir: str,
                            dead_letter_dir: str,
                            schema=None) -> DataFrame:
    """XS11 — in-stream dead-lettering: every micro-batch is split by
    the SAME declarative rule battery the batch gate uses
    (quality.split_valid); valid rows append to the accepted table,
    violations append (with their named rule list) to the replayable
    dead-letter table. foreachBatch makes the split transactional per
    micro-batch against the checkpoint, so a restart neither drops nor
    double-gates a batch (availableNow + file-sink append).

    Returns the accepted-side rollup (event_type, n_events,
    total_value) — at end-of-input it equals the static aggregate over
    rule-passing rows, which is what the oracle pins; the dead-letter
    side is asserted by tests (it is a filesystem artifact, not a
    query result).

    Exactly-once across restarts: each sink write lands in a
    batch-id-scoped subdirectory with overwrite mode, so a batch
    replayed after a crash between the two writes overwrites ITS OWN
    output instead of appending a duplicate copy (the standard
    idempotent-foreachBatch pattern — plain appends to two sinks are
    only at-least-once). The batch is persisted across the two writes
    so the source is read once per micro-batch.
    """
    from mc_ns_data_pipeline_spark.quality import split_valid
    from mc_ns_data_pipeline_spark.session import scoped_conf

    stream = _events_stream(spark, events_path, schema)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            valid, dead = split_valid(batch_df, event_quality_rules())
            valid.write.mode("overwrite").parquet(
                f"{accepted_dir}/batch_{batch_id}"
            )
            (
                dead.withColumn(
                    "_dead_lettered_at", F.current_timestamp()
                )
                .write.mode("overwrite")
                .parquet(f"{dead_letter_dir}/batch_{batch_id}")
            )
        finally:
            batch_df.unpersist()

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            stream.writeStream.foreachBatch(gate)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    accepted = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(accepted_dir)
    )
    return (
        accepted.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# XS13: streaming zone-map maintenance (x88's data-skipping stats,
# kept current incrementally)
# ---------------------------------------------------------------------------

ZONE_MAP_BUCKET = 250


def merge_zone_maps(spark: SparkSession, incoming: DataFrame,
                    target_dir: str, epoch_id: int) -> None:
    """Combine-merge per-bucket zone-map stats into the target table:
    counts SUM, mins re-min, maxes re-max — the mergeability that lets
    the stats update from each micro-batch's partial aggregate without
    ever rescanning history.

    A sum-merge is NOT naturally idempotent under foreachBatch replay
    (a re-applied batch double-counts), so each applied epoch leaves a
    `_applied_epoch_{id}` marker INSIDE the table directory: the marker
    travels atomically with the staged-swap data (written into staging
    before the rename), so a crash between "swap" and "record applied"
    cannot occur, and a replayed epoch is skipped exactly. Underscore
    files are invisible to parquet readers.
    """
    import os
    import shutil

    from mc_ns_data_pipeline_spark.sinks.layout import (
        restore_interrupted_swap,
    )

    restore_interrupted_swap(target_dir)
    marker = f"_applied_epoch_{epoch_id}"
    if os.path.exists(os.path.join(target_dir, marker)):
        return  # replayed batch after a crash: already merged
    if os.path.exists(target_dir):
        existing = spark.read.parquet(target_dir)
        incoming = incoming.unionByName(existing)
    merged = incoming.groupBy("bucket").agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_ts").alias("min_ts"),
        F.max("max_ts").alias("max_ts"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    staging = f"{target_dir}__staging"
    merged.write.mode("overwrite").parquet(staging)
    # carry prior epoch markers + stamp this one BEFORE the atomic swap
    if os.path.exists(target_dir):
        for f in os.listdir(target_dir):
            if f.startswith("_applied_epoch_"):
                open(os.path.join(staging, f), "w").close()
    open(os.path.join(staging, marker), "w").close()
    backup = f"{target_dir}__old"
    shutil.rmtree(backup, ignore_errors=True)
    if os.path.exists(target_dir):
        os.rename(target_dir, backup)
    os.rename(staging, target_dir)
    shutil.rmtree(backup, ignore_errors=True)


def run_stream_zone_maps(spark: SparkSession, events_path: str,
                         checkpoint_dir: str, target_dir: str) -> DataFrame:
    """XS13 — keep x88's file-level zone maps current over a change
    stream: each micro-batch partial-aggregates its own bucket stats
    (map-side combine, #buckets rows leave the batch) and combine-
    merges them into the stats table. End-of-input state equals the
    batch zone-map computation — the oracle — and the final select
    derives the same stats-only pruning verdict.
    """
    from mc_ns_data_pipeline_spark.session import scoped_conf

    ev = _events_stream(spark, events_path).selectExpr(
        f"event_id div {ZONE_MAP_BUCKET} AS bucket", "ts", "value"
    )

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        part = batch_df.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        merge_zone_maps(spark, part, target_dir, epoch_id)

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            ev.writeStream.outputMode("append")
            .foreachBatch(_merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    zm = spark.read.parquet(target_dir)
    lo = F.lit("2024-01-10 00:00:00").cast("timestamp")
    hi = F.lit("2024-01-12 00:00:00").cast("timestamp")
    return (
        zm.select(
            "bucket", "n_rows", "min_ts", "max_ts",
            "min_value", "max_value",
            (~((F.col("max_ts") < lo) | (F.col("min_ts") > hi))).alias(
                "would_scan"
            ),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# XS14: streaming incremental near-dup (the daily-crawl dedup loop of
# x51, run as a stream that maintains its own LSH index)
# ---------------------------------------------------------------------------

# Hash-bucket fan-out of the persisted index. A probe reads only the
# buckets its batch's keys hash into, so per-batch bytes scale with the
# increment, not the corpus. 16 keeps local dirs small; a cluster
# deployment raises it (buckets are the read-parallelism unit).
IDX_BUCKETS = 16
# Fold epoch deltas into the compacted base once this many accumulate:
# bounds per-batch files-read at ~IDX_BUCKETS + IDX_COMPACT_EVERY dirs
# regardless of stream lifetime (the LSM size-bound, VERDICT r07 #2).
IDX_COMPACT_EVERY = 4


def _idx_bucket(col) -> "F.Column":
    """Deterministic index bucket of a key (same expr on write + probe)."""
    return F.pmod(F.xxhash64(col), F.lit(IDX_BUCKETS)).cast("int")


class _LshIndexStore:
    """Bucketed, compacting on-disk LSH index for the streaming dedup
    loop (VERDICT r07 #2: bound the per-epoch index read by candidate
    buckets, not index size).

    Layout per kind ('bands' keyed by band_key, 'sets' keyed by doc_id):

        {store}/{kind}/epoch=N/bucket=B/*.parquet    epoch deltas
        {store}/{kind}_base/v=M/bucket=B/*.parquet   compacted base
                                 (_complete marker; M = folded-through)

    A probe enumerates leaf dirs EXPLICITLY — latest complete base +
    epoch deltas in (M, current), restricted to the batch's bucket set —
    so pruning is guaranteed by construction, not by Catalyst partition
    discovery, and is trivially measurable. Every IDX_COMPACT_EVERY
    epochs the deltas fold into a new base version: per-batch dirs-read
    stays O(IDX_BUCKETS + IDX_COMPACT_EVERY) for the life of the stream
    (previously O(total epochs) — the xs14 growth term).

    Crash safety: a base version publishes by atomic rename with its
    `_complete` marker written INSIDE the staging dir, so readers never
    see a partial base; folded epoch dirs and superseded bases are
    reaped best-effort afterward (a crash between publish and reap
    leaves garbage that readers ignore — the reader derives its view
    from the latest complete base, never from what happens to exist).
    A replayed foreachBatch epoch overwrites its own `epoch=N` dirs
    with identical content and compaction only ever folds epochs
    strictly below the in-flight one, so replay is idempotent.
    """

    def __init__(self, spark: SparkSession, root: str,
                 bucket_of=None, n_buckets: int = IDX_BUCKETS) -> None:
        import os

        self.spark = spark
        self.root = root
        self._os = os
        # bucket function: key Column -> int bucket Column. The default
        # hashes (LSH band keys / doc ids); an IVF store passes identity
        # (the centroid list id IS the bucket — xs15).
        self.bucket_of = bucket_of if bucket_of is not None else _idx_bucket
        self.n_buckets = n_buckets

    # -- paths ----------------------------------------------------------
    def _delta_root(self, kind: str) -> str:
        return self._os.path.join(self.root, kind)

    def _base_root(self, kind: str) -> str:
        return self._os.path.join(self.root, f"{kind}_base")

    def _delta_epochs(self, kind: str) -> list[int]:
        root = self._delta_root(kind)
        if not self._os.path.isdir(root):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in self._os.listdir(root)
            if d.startswith("epoch=")
        )

    def _base_version(self, kind: str) -> int | None:
        """Highest complete base version, or None."""
        root = self._base_root(kind)
        if not self._os.path.isdir(root):
            return None
        versions = [
            int(d.split("=", 1)[1])
            for d in self._os.listdir(root)
            if d.startswith("v=")
            and self._os.path.exists(
                self._os.path.join(root, d, "_complete"))
        ]
        return max(versions) if versions else None

    # -- write ----------------------------------------------------------
    def write_epoch(self, kind: str, df: DataFrame, epoch: int,
                    key_col: str) -> None:
        """Persist an epoch delta hash-partitioned by key bucket.
        Overwrite of the whole epoch dir keeps foreachBatch replay
        idempotent (same input -> identical content). The repartition
        collapses the delta to ONE file per bucket — without it every
        upstream task emits a sliver per bucket and the store decays
        into the tiny-files regime the bound is meant to prevent."""
        (
            df.withColumn("bucket", self.bucket_of(F.col(key_col)))
            .repartition(self.n_buckets, F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{self._delta_root(kind)}/epoch={epoch}")
        )

    def compact(self, kind: str, before_epoch: int) -> None:
        """Fold epoch deltas strictly below `before_epoch` into a new
        base version once IDX_COMPACT_EVERY have accumulated."""
        import shutil

        base_v = self._base_version(kind)
        foldable = [
            e for e in self._delta_epochs(kind)
            if e < before_epoch and (base_v is None or e > base_v)
        ]
        if len(foldable) < IDX_COMPACT_EVERY:
            return
        parts = [
            f"{self._delta_root(kind)}/epoch={e}" for e in foldable
        ]
        if base_v is not None:
            parts.append(f"{self._base_root(kind)}/v={base_v}")
        # each root is read on its own (they share no base path, so a
        # multi-path read would mis-discover partitions); the `bucket`
        # partition column parses out of the dir names, so the rewrite
        # re-partitions without rehashing
        merged = None
        for p in parts:
            piece = self.spark.read.parquet(p)
            merged = piece if merged is None else merged.unionByName(piece)
        new_v = max(foldable)
        final = f"{self._base_root(kind)}/v={new_v}"
        staging = f"{final}.staging"
        shutil.rmtree(staging, ignore_errors=True)
        (
            merged.repartition(self.n_buckets, F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(staging)
        )
        open(self._os.path.join(staging, "_complete"), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        self._os.rename(staging, final)
        # best-effort reap: readers key off the latest complete base,
        # so leftover garbage after a crash here is invisible
        for e in foldable:
            shutil.rmtree(f"{self._delta_root(kind)}/epoch={e}",
                          ignore_errors=True)
        if base_v is not None:
            shutil.rmtree(f"{self._base_root(kind)}/v={base_v}",
                          ignore_errors=True)

    # -- probe ----------------------------------------------------------
    def probe_dirs(self, kind: str, before_epoch: int,
                   buckets: list[int]) -> tuple[list[str], dict]:
        """Leaf dirs a probe must read: latest base + newer deltas,
        bucket-pruned. Returns (dirs, stats) where stats carries the
        pruning evidence (dirs/files read vs what a full scan of the
        index would have touched)."""
        base_v = self._base_version(kind)
        roots: list[str] = []
        if base_v is not None and base_v < before_epoch:
            roots.append(f"{self._base_root(kind)}/v={base_v}")
        for e in self._delta_epochs(kind):
            if e < before_epoch and (base_v is None or e > base_v):
                roots.append(f"{self._delta_root(kind)}/epoch={e}")
        leaves, n_files = [], 0
        total_leaves, total_files = 0, 0
        want = {f"bucket={b}" for b in buckets}
        for root in roots:
            for d in self._os.listdir(root):
                if not d.startswith("bucket="):
                    continue
                leaf = self._os.path.join(root, d)
                files = [
                    f for f in self._os.listdir(leaf)
                    if f.endswith(".parquet")
                ]
                total_leaves += 1
                total_files += len(files)
                if d in want:
                    leaves.append(leaf)
                    n_files += len(files)
        stats = {
            "dirs_read": len(leaves),
            "files_read": n_files,
            "dirs_total": total_leaves,
            "files_total": total_files,
            "epoch_dirs": len(roots),
        }
        return leaves, stats

    def read(self, kind: str, before_epoch: int, buckets: list[int],
             template: DataFrame) -> tuple[DataFrame, dict]:
        leaves, stats = self.probe_dirs(kind, before_epoch, buckets)
        if not leaves:
            return template, stats
        return self.spark.read.parquet(*leaves), stats

    def log_probe(self, epoch: int, stats: dict) -> None:
        """Append per-epoch pruning evidence (local diagnostic file the
        growth stress-test reads; never on a query's data path)."""
        import json

        try:
            with open(self._os.path.join(self.root, "_probe_stats.jsonl"),
                      "a") as fh:
                fh.write(json.dumps({"epoch": epoch, **stats}) + "\n")
        except OSError:
            pass


def dedup_index_batch(spark: SparkSession, batch_df: DataFrame,
                      epoch_id: int, store: _LshIndexStore,
                      threshold: float = 0.5) -> None:
    """One micro-batch of the incremental-dedup loop against the
    bucketed index store. Semantics identical to
    operators.dedup.incremental_dedup_pairs (dedup.py:673) — same
    shingle/sign/band functions, same new-vs-all band join, same exact
    Jaccard verify — but the prior index is read bucket-pruned:

      1. the batch's band keys hash to <= IDX_BUCKETS buckets; only
         those buckets of the band index are read (a key outside them
         cannot equi-join on band_key);
      2. only ids that survive the band join need shingle sets, so the
         sets index is read pruned to the CANDIDATES' id buckets.

    The two `.collect()`s are bucket-id lists, bounded by IDX_BUCKETS
    rows each — never corpus-sized.
    """
    from mc_ns_data_pipeline_spark.operators import dedup as D

    sets = D._materialize(D.doc_shingle_sets(batch_df))
    bands = D.lsh_band_keys(D.minhash_signatures(sets))

    store.compact("bands", epoch_id)
    store.compact("sets", epoch_id)

    band_buckets = [
        r[0] for r in bands.select(
            _idx_bucket(F.col("band_key")).alias("b")).distinct().collect()
    ]
    index_bands, band_stats = store.read(
        "bands", epoch_id, band_buckets, bands.limit(0))
    n = bands.select(
        F.col("doc_id").alias("_nid"), "band_id", "band_key")
    m = (
        index_bands.select("doc_id", "band_id", "band_key")
        .unionByName(bands)
        .select(F.col("doc_id").alias("_mid"), "band_id", "band_key")
    )
    pairs = D._materialize(
        n.join(m, ["band_id", "band_key"])
        .filter(F.col("_nid") != F.col("_mid"))
        .select(
            F.least("_nid", "_mid").alias("doc_a"),
            F.greatest("_nid", "_mid").alias("doc_b"),
        )
        .distinct()
    )
    cand_buckets = [
        r[0] for r in pairs.select(
            F.explode(F.array(
                _idx_bucket(F.col("doc_a")),
                _idx_bucket(F.col("doc_b")),
            )).alias("b")).distinct().collect()
    ]
    index_sets, set_stats = store.read(
        "sets", epoch_id, cand_buckets, sets.limit(0))
    sets_all = index_sets.select("doc_id", "sh_ids").unionByName(sets)
    verified = D.jaccard_verify(pairs, sets_all, threshold=threshold)

    verified.write.mode("overwrite").parquet(
        f"{store.root}/pairs/epoch={epoch_id}")
    store.write_epoch("bands", bands, epoch_id, "band_key")
    store.write_epoch("sets", sets, epoch_id, "doc_id")
    store.log_probe(epoch_id, {
        "bands": band_stats, "sets": set_stats,
    })


def run_stream_incremental_dedup(spark: SparkSession, docs_path: str,
                                 checkpoint_dir: str,
                                 store_dir: str) -> DataFrame:
    """XS14 — each micro-batch of documents is deduped against the LSH
    band/shingle index persisted by every PRIOR batch (old text never
    re-read), emits its near-dup pairs, and appends its own bands/sets
    to the index. Running the increments in sequence reproduces the
    batch LSH result (incremental_dedup_pairs' contract), so the
    end-of-input pair set hash-matches x06's batch oracle.

    Exactly-once without markers: every per-epoch artifact writes to
    its OWN `epoch=N` subdirectory with overwrite — a replayed batch
    rewrites identical content instead of appending twice — and each
    batch reads only strictly-earlier epochs, so a replay also can't
    see its own partial writes. Index growth is bands+set-arrays per
    document (a sliver of the text); per-batch index READS are bounded
    by the batch's candidate buckets via _LshIndexStore (bucket-pruned
    probes + LSM compaction), not by index size — the crawl-scale
    property in both directions.
    """
    import os

    from mc_ns_data_pipeline_spark.session import scoped_conf

    # _events_stream is the generic single-file staging helper (the
    # name predates non-event streams); documents carry no timestamps,
    # so its nanos handling is a no-op here
    docs = _events_stream(spark, docs_path)
    store = _LshIndexStore(spark, store_dir)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        dedup_index_batch(spark, batch_df, epoch_id, store)

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            docs.writeStream.outputMode("append")
            .foreachBatch(_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.option("basePath", os.path.join(store_dir, "pairs"))
        .parquet(os.path.join(store_dir, "pairs"))
        .drop("epoch")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# XS15: streaming IVF-ANN index maintenance (x13's IVF coarse-quantize
# -> inverted lists -> probe+re-rank, run as a stream that builds and
# maintains its own lists; the ANN twin of xs14's dedup index)
# ---------------------------------------------------------------------------


def _ivf_scored_array(cents) -> "F.Column":
    """The per-row centroid-scoring array — EXACTLY ivf_topk's
    expression (operators/similarity.py:225): struct(cos rounded to 6,
    -cent_id) so sort_array desc ranks best-cosine-then-lowest-id."""
    from mc_ns_data_pipeline_spark.operators.similarity import (
        dot,
        lit_vec,
    )

    return F.array(*[
        F.struct(
            F.round(
                dot(F.col("_v"), lit_vec(c["vec"]))
                / (F.col("_norm") * F.lit(float(c["norm"]))),
                6,
            ).alias("cos"),
            F.lit(-int(c["cent_id"])).alias("neg_cent_id"),
        )
        for c in cents
    ])


def ann_index_batch(spark: SparkSession, batch_df: DataFrame,
                    epoch_id: int, store: _LshIndexStore,
                    n_centroids: int = 16,
                    query_max_id: int = 20,
                    query_min_id: int = 0,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """One micro-batch of IVF index maintenance: coarse-assign the
    batch's vectors against the frozen codebook (map-only, centroid
    literals — no shuffle, no join) and append the postings to the
    store partitioned BY LIST ID (the centroid id IS the bucket, so a
    query probe later reads only its n_probe lists). Queries (rows
    matching the query predicate) also land in a tiny sidecar so the
    end-of-stream answer needs no corpus scan to find them.

    Codebook contract: the deterministic centroid rule is ivf_topk's
    (vectors with id < n_centroids stand in for a trained codebook);
    the first batch must carry them — the codebook is frozen by an
    atomic write-once JSON so every later batch (and a replayed first
    batch) assigns against IDENTICAL literals, which is what makes the
    end state reproduce the batch IVF result exactly.
    """
    import json
    import os

    from mc_ns_data_pipeline_spark.operators.similarity import with_norm

    store.compact("postings", epoch_id)
    cent_path = os.path.join(store.root, "centroids.json")
    if not os.path.exists(cent_path):
        rows = (
            with_norm(batch_df, vec_col)
            .filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col).alias("cent_id"), "_v", "_norm")
            .collect()
        )
        if len(rows) != n_centroids:
            raise ValueError(
                f"codebook incomplete: first batch carries "
                f"{len(rows)}/{n_centroids} centroid vectors")
        cents = sorted(
            ({"cent_id": int(r["cent_id"]),
              "vec": [float(x) for x in r["_v"]],
              "norm": float(r["_norm"])} for r in rows),
            key=lambda c: c["cent_id"])
        os.makedirs(store.root, exist_ok=True)
        tmp = f"{cent_path}.tmp-{epoch_id}"
        with open(tmp, "w") as fh:
            json.dump(cents, fh)
        os.replace(tmp, cent_path)
    with open(cent_path) as fh:
        cents = json.load(fh)
    scored = _ivf_scored_array(cents)
    assigned = (
        with_norm(batch_df, vec_col)
        .select(
            F.col(id_col).alias("vec_id"), "_v", "_norm",
            F.sort_array(scored, asc=False).alias("_ranked"),
        )
        .select(
            "vec_id", "_v", "_norm",
            (-F.col("_ranked")[0]["neg_cent_id"]).cast("int")
            .alias("cent_id"),
        )
    )
    store.write_epoch("postings", assigned, epoch_id, "cent_id")
    (
        assigned.filter((F.col("vec_id") >= query_min_id)
                        & (F.col("vec_id") < query_max_id))
        .drop("cent_id")
        .write.mode("overwrite")
        .parquet(f"{store.root}/queries/epoch={epoch_id}")
    )


def run_stream_ann_index(spark: SparkSession, emb_path: str,
                         checkpoint_dir: str, store_dir: str,
                         k: int = 3, n_centroids: int = 16,
                         n_probe: int = 2,
                         query_max_id: int = 20,
                         query_min_id: int = 0) -> DataFrame:
    """XS15 — IVF ANN as a stream: micro-batches of embeddings
    coarse-assign map-only and append their postings to per-list
    bucket files (compacted LSM-style like xs14's index); the
    end-of-input answer probes each query's nearest n_probe lists,
    reads ONLY those buckets (the probe evidence lands in
    _probe_stats.jsonl), and exact-re-ranks — reproducing
    similarity.ivf_topk's batch result row-for-row, so the oracle is
    x13's. Query cost is proportional to the probed lists, never the
    corpus — the property that makes an IVF index worth maintaining
    incrementally at 100 TB.

    The two `.collect()`s outside foreachBatch are the codebook
    (n_centroids × dim doubles) and the distinct probed list ids
    (<= n_centroids ints) — never corpus-sized.
    """
    import json
    import os

    from pyspark.sql import Window

    from mc_ns_data_pipeline_spark.operators.similarity import dot
    from mc_ns_data_pipeline_spark.session import scoped_conf

    emb = _events_stream(spark, emb_path)
    store = _LshIndexStore(
        spark, store_dir,
        bucket_of=lambda c: c.cast("int"), n_buckets=n_centroids)

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        ann_index_batch(spark, batch_df, epoch_id, store,
                        n_centroids, query_max_id, query_min_id)

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        q = (
            emb.writeStream.outputMode("append")
            .foreachBatch(_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with open(os.path.join(store_dir, "centroids.json")) as fh:
        cents = json.load(fh)
    scored = _ivf_scored_array(cents)
    queries_dir = os.path.join(store_dir, "queries")
    queries = (
        spark.read.option("basePath", queries_dir).parquet(queries_dir)
        .drop("epoch")
    )
    probes = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("_v").alias("q_v"),
            F.col("_norm").alias("q_norm"),
            F.sort_array(scored, asc=False).alias("_ranked"),
        )
        .select(
            "query_id", "q_v", "q_norm",
            F.explode(
                F.transform(
                    F.slice(F.col("_ranked"), 1, n_probe),
                    lambda s: -s["neg_cent_id"],
                ).cast("array<int>")
            ).alias("cent_id"),
        )
    )
    probed = sorted(
        r[0] for r in probes.select("cent_id").distinct().collect())
    cand, stats = store.read(
        "postings", 1 << 60, probed,
        probes.select(
            F.col("query_id").alias("vec_id"),
            F.col("q_v").alias("_v"),
            F.col("q_norm").alias("_norm"), "cent_id").limit(0))
    store.log_probe(-1, {"postings": stats})
    assign = cand.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_v").alias("c_v"),
        F.col("_norm").alias("c_norm"),
        "cent_id",
    )
    cos_r = F.round(
        dot(F.col("q_v"), F.col("c_v"))
        / (F.col("q_norm") * F.col("c_norm")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_r").desc(), F.col("neighbor_id").asc())
    return (
        assign.join(F.broadcast(probes), "cent_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos_r.alias("cos_r"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


#: The change feed's meta columns, and the window's row number.
_META = ("_change_type", "_commit_gen", "_rn")


def _net_actions(batch_df: DataFrame, key: str) -> DataFrame:
    """Collapse one change-feed batch to the NET action per key — the
    documented consumer rule: latest generation wins, and at equal
    generation an insert beats the delete that retracted the old
    version (the MOR-upsert retract+reinsert case). ``_net_rows`` is
    the same rule on the driver."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(
        F.col("_commit_gen").desc(),
        (F.col("_change_type") == F.lit("insert")).desc())
    return (batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1))


def _net_rows(tbl, key: str):
    """``_net_actions`` over a pyarrow change batch: per key (NULL
    being one key, as in the window's partitioning) the row of the
    latest generation, an insert before a delete at equal generation.
    Only for key types whose equality the driver decides as Spark
    does (``_mask_type_ok``)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    order = pa.table({
        "k": tbl.column(key),
        "gen": tbl.column("_commit_gen"),
        "ins": pc.equal(tbl.column("_change_type"), "insert"),
        "i": np.arange(tbl.num_rows, dtype=np.int64),
    }).sort_by([("k", "ascending"), ("gen", "descending"),
                ("ins", "descending")])
    first = (order.group_by("k", use_threads=False)
             .aggregate([("i", "first")]))
    return tbl.take(first.column("i_first"))


def apply_change_batch(spark: SparkSession, batch_df: DataFrame,
                       replica: str, key: str,
                       branch: str, net: DataFrame | None = None
                       ) -> None:
    """Apply one batch of a versioned-table CHANGE FEED to a REPLICA
    versioned table — the downstream half of the CDC round-trip
    (VERDICT r09 #6; the reference's per-lot delete-then-insert
    replace, file_processor.py:96-118, as a feed consumer).

    The batch carries (row columns..., _change_type, _commit_gen).
    The documented consumer rule collapses it to a NET action per key
    (latest generation wins; at equal generation an insert beats the
    delete that retracted the old version — the MOR-upsert
    retract+reinsert case), then applies it as ONE MOR commit: the
    net inserts land as new files and the equality-delete mask covers
    EVERY touched key (``merge_snapshot_mor(extra_mask_keys=...)`` —
    r11; previously delete-then-upsert staged as two commits on a
    branch and published together). One commit is one pointer flip by
    construction, so replica readers never observe the intermediate
    deleted-but-not-reinserted state the reference's two-phase
    replace exposes — and the per-batch commit cost halves. A
    pure-delete batch is a plain ``delete_keys_mor``.

    Idempotent as a UNIT: replaying the whole batch (the runners
    replay the one batch a crash can leave uncommitted) re-derives
    the same net action and re-applies it — the replay's mask
    retracts the first application's rows and the identical rows
    re-land, so the net replica state is reproduced. That unit
    idempotence is why the commit needs no txn stamp.

    ``net``: optionally the batch's net actions, as the runners pass
    them (``_change_batch``); otherwise the window computes them."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    if net is None:
        net = _net_actions(batch_df, key)
    dels = net.filter(F.col("_change_type") == "delete").select(key)
    ups = net.filter(F.col("_change_type") == "insert").drop(*_META)
    # a pre-r11 (two-commit) crash may have left a staged branch
    # under this batch's name: drop it — this apply supersedes it
    if branch in V.list_refs(replica):
        V.delete_ref(replica, branch)
    if not ups.isEmpty():
        V.merge_snapshot_mor(
            spark, ups, replica, key,
            extra_mask_keys=None if dels.isEmpty() else dels)
    elif not dels.isEmpty():
        V.delete_keys_mor(spark, replica, key, dels)


def _change_batch(spark: SparkSession, source: str, start: str,
                  end: str, schema: StructType, key: str
                  ) -> tuple[DataFrame, DataFrame]:
    """The change-feed batch (start, end] of ``source`` and its net
    actions. When the planned slices' files fit
    ``_DRIVER_LAND_BYTES`` and the key type groups exactly on the
    driver (``_mask_type_ok``), both are computed there
    (``_read_slice``, ``_net_rows``) and returned as LocalTableScans:
    no Spark job and no Python worker. Otherwise Spark tasks read the
    slices (``read_change_batch``) and the window nets them, persisted
    because the view and the apply each read the net; the caller
    unpersists it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

    from mc_ns_data_pipeline_spark.sinks import versioned as V
    from mc_ns_data_pipeline_spark.streaming import table_source as TS

    slices = TS._plan_slices(source, start, end, schema.json(), 1,
                             changes=True)
    size = sum(os.path.getsize(p) for sl in slices for p in sl.paths)
    if (size <= V._DRIVER_LAND_BYTES
            and V._mask_type_ok(to_arrow_type(schema[key].dataType))):
        # one chunk: createDataFrame drops the rows after an empty chunk
        tbl = pa.concat_tables(
            [to_arrow_schema(schema).empty_table(),
             *(t for sl in slices for t in TS._read_slice(sl))]
        ).combine_chunks()
        return (spark.createDataFrame(tbl, schema),
                spark.createDataFrame(_net_rows(tbl, key), schema))
    batch = TS.read_change_batch(spark, source, start, end, schema)
    return batch, _net_actions(batch, key).persist()


#: The drain cursor's file under a runner's ``checkpoint_dir``.
_CURSOR = "drain_cursor.json"


def _drain_changes(spark: SparkSession, source: str,
                   checkpoint_dir: str, key: str, starting: str,
                   max_commits: int, max_files: int,
                   apply_fn, on_batch) -> None:
    """Drain ``source``'s change feed up to the head seen at call
    time, one bounded batch at a time, on the driver: the CDC
    runners' loop. ``apply_fn(batch_id, batch_df, net)`` applies a
    batch; ``on_batch`` as in ``run_stream_apply_changes``.

    Exactly-once rests on a write-ahead cursor, one JSON file
    (``{"batch", "start", "end", "committed"}``) under
    ``checkpoint_dir``, rewritten atomically: a batch's id and bounds
    are recorded before it is applied, and marked committed after.
    A planned but uncommitted batch (a crash) is replayed first with
    its recorded id and bounds, whatever the caps of the call —
    Spark's ``offsets/`` + ``commits/`` protocol in one file. The
    first call records its start even when there is nothing to
    apply, so a later call never starts past commits made between
    them. A checkpoint that still holds Spark's logs from the
    Structured Streaming runner is adopted (``_legacy_cursor``).

    Batches are planned from manifests alone (``_bounded_end`` under
    the caps, ``_plan_slices``) and read by ``_change_batch``."""
    import time

    from mc_ns_data_pipeline_spark.sinks import versioned as V
    from mc_ns_data_pipeline_spark.streaming import table_source as TS

    schema = TS._feed_schema(source, changes=True)
    head = V.current_snapshot(source)
    path = os.path.join(checkpoint_dir, _CURSOR)
    try:
        with open(path) as fh:
            cur = json.load(fh)
    except FileNotFoundError:
        cur = TS._legacy_cursor(checkpoint_dir, source, starting)
        if cur is None:
            at = TS._start_offset(source, starting)
            cur = {"batch": -1, "start": at, "end": at,
                   "committed": True}
        os.makedirs(checkpoint_dir, exist_ok=True)
        V._atomic_write_json(path, cur)
    memo: dict[str, dict] = {}
    while True:
        if cur["committed"]:
            if cur["end"] == head:
                return
            end = (TS._bounded_end(source, cur["end"], head,
                                   max_commits, max_files, memo)
                   if max_commits or max_files else head)
            cur = {"batch": cur["batch"] + 1, "start": cur["end"],
                   "end": end, "committed": False}
            V._atomic_write_json(path, cur)
        t0 = time.perf_counter()
        batch, net = _change_batch(spark, source, cur["start"],
                                   cur["end"], schema, key)
        try:
            apply_fn(cur["batch"], batch, net)
            if on_batch is not None:
                on_batch(cur["batch"], time.perf_counter() - t0, batch)
        finally:
            net.unpersist()
        cur = {**cur, "committed": True}
        V._atomic_write_json(path, cur)


def run_stream_apply_changes(spark: SparkSession, source: str,
                             replica: str, checkpoint_dir: str,
                             key: str, starting: str = "current",
                             app_id: str = "cdc_apply",
                             maintenance_every: int = 8,
                             max_commits_per_trigger: int = 0,
                             max_files_per_trigger: int = 0,
                             on_batch=None) -> None:
    """Materialize a versioned table's CHANGE FEED onto a replica
    versioned table, exactly-once: each batch of change events goes
    through ``apply_change_batch`` — net state on the replica equals
    the source after every committed batch, across restarts and
    interleaved append/upsert/delete commits
    (tests/test_streaming_cdc_apply.py).

    Contract: initialize the replica to the source snapshot named by
    ``starting`` first (genesis CDC bootstrap refuses mask-carrying
    heads, and an initial full copy is the realistic CDC-apply shape
    anyway); this runner then applies increments, DRAINING the
    backlog available at call time to completion before returning;
    share ``checkpoint_dir`` across calls to resume.

    The drain is a driver loop (``_drain_changes``), not a streaming
    query: each batch is planned from manifests, recorded in a
    write-ahead cursor under ``checkpoint_dir``, applied, then marked
    committed, so a kill mid-drain replays at most the one recorded
    batch (unit-idempotent) and resumes. A batch whose files fit the
    driver budget is read and netted on the driver and reaches the
    apply as a LocalTableScan; a larger one is read by Spark tasks.

    ``max_commits_per_trigger`` / ``max_files_per_trigger`` (0 =
    unbounded) bound each batch's admitted lineage — the scale lever
    for a replica that fell far behind: the per-batch net, the
    staged delete/upsert sides, and (in the matview variant) the
    touched-key IN list are all O(batch events), which is only a
    bound if the feed is capped. A backlog of N commits drains as
    ⌈N/cap⌉ batches in one call (scripts/stress_cdc_apply.py proves
    the drain and its kill/resume through this public runner).

    ``on_batch`` (optional ``callable(batch_id, seconds,
    batch_df)``) fires driver-side after each applied batch, before
    its cursor commit, with the batch's read-and-apply time and the
    batch DataFrame — drain instrumentation and feed witnesses (xs18
    counts raw change events through it). At-least-once under crash
    replay, like the batch itself; leave None in production.

    ``maintenance_every``: every N batches, run ``optimize_table`` on
    the replica (threshold-gated — a no-op when small files and
    delete masks are below its limits). Without it the per-batch
    apply cost GROWS with drain length: each upsert batch adds an
    equality-delete mask and small files, and merge planning reads
    against all of them (measured: 2.8 s → 4.2 s median per batch
    over a 12-batch drain; flat with maintenance —
    scripts/stress_cdc_apply.py). Maintenance commits are
    row-preserving compactions, so they never produce change events
    for downstream consumers of the replica itself."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    def _apply(bid, batch, net):
        apply_change_batch(spark, batch, replica, key,
                           f"{app_id}-{bid}", net=net)
        if maintenance_every and bid % maintenance_every == (
                maintenance_every - 1):
            V.optimize_table(spark, replica)

    _drain_changes(spark, source, checkpoint_dir, key, starting,
                   max_commits_per_trigger, max_files_per_trigger,
                   _apply, on_batch)


def matview_delta_batch(spark: SparkSession, batch_df: DataFrame,
                        replica: str, view: str, key: str,
                        group_col: str, value_col: str,
                        txn_id: str, net: DataFrame | None = None
                        ) -> None:
    """Maintain an aggregate MATERIALIZED VIEW (group_col → n,
    sum_value) incrementally from one change-feed batch — streaming
    IVM with DELETE support, the part equality-delete feeds usually
    punt on: delete events carry only the key, so the retracted
    row's contribution is recovered from the REPLICA's pre-batch
    state (which this consumer also maintains — apply AFTER the view
    update, see ordering below).

    Crash/replay contract (the runners replay the one batch a crash
    can leave uncommitted):
    1. compute the net batch actions and the group DELTAS against the
       replica's PRE-batch state;
    2. read-modify-write the view, committed with ``txn_id`` — a
       replayed batch's view merge is stamp-skipped
       (_txn_already_applied), so the view counts each batch once;
    3. apply the batch to the replica (apply_change_batch,
       unit-idempotent).
    Replay after a crash before step 3 completed (including between
    2 and 3) recomputes the SAME delta — the replica has not moved;
    the stamp then skips the already-committed view merge. Replay
    after step 3 completed but before the cursor commit
    recomputes a STALE delta (the replica moved), and the stamp
    discards it. Groups whose count reaches zero stay in the view
    with n=0 (no delete commit needed; re-inserts revive them).

    Scale: a capped batch's delta is computed on the driver
    (``_view_delta_local``) from three bounded collects — the net
    actions, the replica's pre-batch rows for the touched keys and
    the view's rows for the touched groups, each read through a
    literal IN filter — and reaches the view merge as a
    LocalTableScan. Past ``_IN_LIST_MAX`` rows or keys, or for group
    and key types without exact literals, the same delta is planned
    in Spark (``_view_delta_spark``: broadcast left-semis, a
    full-outer join with the view).

    ``net``: optionally the batch's net actions — run_stream_matview
    passes this and apply_change_batch the same net; otherwise the
    window computes them."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    if net is None:
        net = _net_actions(batch_df, key)
    args = (spark, net, replica, view, key, group_col, value_col)
    new = _view_delta_local(*args)
    if new is None:
        new = _view_delta_spark(*args)
    if V.current_snapshot(view) is None:
        V.write_snapshot(new, view, txn_id=txn_id)
    else:
        V.merge_snapshot_mor(spark, new, view, "g", txn_id=txn_id)


#: The one decimal type view sums are kept in, on both engines, and
#: the first magnitude it cannot hold.
_SUM_TYPE = "decimal(18,4)"
_SUM_LIMIT = decimal.Decimal(10) ** 14


def _view_delta_local(spark: SparkSession, net: DataFrame,
                      replica: str, view: str, key: str,
                      group_col: str, value_col: str
                      ) -> DataFrame | None:
    """``matview_delta_batch``'s new (g, n, sum_value) rows for the
    changed groups, computed on the driver with exact ``Decimal``
    sums, as a LocalTableScan; None when a collect passes
    ``_IN_LIST_MAX`` rows, the key or group type has no exact literal,
    the group types differ between net, replica and view, the view
    holds a group twice, or a sum leaves ``decimal(18,4)``. NULL
    groups are dropped, as ``_view_delta_spark``'s semi-join on ``g``
    drops them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import BinaryType

    from mc_ns_data_pipeline_spark.sinks import versioned as V

    bound = V._IN_LIST_MAX
    rep = V.read_current(spark, replica)
    cur_df = (V.read_current(spark, view)
              if V.current_snapshot(view) is not None else None)
    gtype = rep.schema[group_col].dataType
    if (V._literal_of(gtype) is None or isinstance(gtype, BinaryType)
            or net.schema[group_col].dataType != gtype
            or (cur_df is not None
                and cur_df.schema["g"].dataType != gtype)):
        return None  # groups key a Python dict: hashable, exact types
    acts = V._bounded_collect(
        net.select(key, "_change_type", F.col(group_col).alias("g"),
                   F.col(value_col).cast(_SUM_TYPE).alias("v")), bound)
    if acts is None:
        return None
    pred = V._sql_in(V._sql_ident(key), rep.schema[key].dataType,
                     [r[0] for r in acts if r[0] is not None])
    if pred is None:
        return None
    pre = V._bounded_collect(
        rep.filter(F.expr(pred))
        .select(F.col(group_col).alias("g"),
                F.col(value_col).cast(_SUM_TYPE).alias("v")), bound)
    if pre is None:
        return None
    # every touched key retracts its pre-batch contribution (an
    # upsert replaces, a delete removes); every net insert adds its own
    delta: dict = {}
    for sign, rows in ((-1, pre),
                       (1, [r for r in acts if r[1] == "insert"])):
        for r in rows:
            if r["g"] is None:
                continue
            d = delta.setdefault(r["g"], [0, decimal.Decimal(0)])
            d[0] += sign
            if r["v"] is not None:
                d[1] += sign * r["v"]
    cur: dict = {}
    if delta and cur_df is not None:
        gpred = V._sql_in("g", gtype, list(delta))
        got = (None if gpred is None else V._bounded_collect(
            cur_df.filter(F.expr(gpred)).select("g", "n", "sum_value"),
            bound))
        if got is None:
            return None
        cur = {r["g"]: r for r in got}
        if len(cur) != len(got):
            return None  # Spark's join would emit one row per copy
    gs, ns, sums = [], [], []
    for g, (dn, dv) in delta.items():
        c = cur.get(g)
        total = dv + ((c["sum_value"] or 0) if c else 0)
        if abs(total) >= _SUM_LIMIT:
            return None  # Spark's cast decides overflow
        gs.append(g)
        ns.append(((c["n"] or 0) if c else 0) + dn)
        sums.append(total)
    return spark.createDataFrame(pa.table({
        "g": pa.array(gs, to_arrow_type(gtype)),
        "n": pa.array(ns, pa.int64()),
        "sum_value": pa.array(sums, pa.decimal128(18, 4)),
    }))


def _view_delta_spark(spark: SparkSession, net: DataFrame,
                      replica: str, view: str, key: str,
                      group_col: str, value_col: str) -> DataFrame:
    """``_view_delta_local``'s rows planned in Spark, for batches past
    its bounds: the touched keys' replica rows by broadcast left-semi,
    the deltas grouped, a full-outer join with the view, and only the
    changed groups kept."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    ups = net.filter(F.col("_change_type") == "insert").drop(*_META)
    pre = (V.read_current(spark, replica)
           .join(F.broadcast(net.select(key)), key, "left_semi")
           .select(F.col(group_col).alias("g"),
                   F.lit(-1).alias("dn"),
                   (-F.col(value_col)).alias("dv")))
    add = ups.select(F.col(group_col).alias("g"),
                     F.lit(1).alias("dn"),
                     F.col(value_col).alias("dv"))
    delta = (pre.unionByName(add)
             .groupBy("g")
             .agg(F.sum("dn").cast("long").alias("dn"),
                  F.sum(F.col("dv").cast(_SUM_TYPE)).alias("dv")))
    cur = (V.read_current(spark, view) if
           V.current_snapshot(view) is not None else
           spark.createDataFrame(
               [], f"g {delta.schema['g'].dataType.simpleString()}"
                   f", n long, sum_value {_SUM_TYPE}"))
    zero = F.lit(0).cast(_SUM_TYPE)
    return (delta.join(cur, "g", "full_outer")
            .select(
                "g",
                (F.coalesce(F.col("n"), F.lit(0))
                 + F.coalesce(F.col("dn"), F.lit(0)))
                .cast("long").alias("n"),
                (F.coalesce(F.col("sum_value"), zero)
                 + F.coalesce(F.col("dv"), zero))
                .cast(_SUM_TYPE).alias("sum_value"))
            .join(F.broadcast(delta.select("g")), "g",
                  "left_semi"))  # touch only changed groups


def matview_minmax_batch(spark: SparkSession, batch_df: DataFrame,
                         replica: str, view: str, key: str,
                         group_col: str, value_col: str,
                         txn_id: str, net: DataFrame | None = None
                         ) -> None:
    """Maintain an aggregate view of (group_col → n, sum_value,
    min_value, max_value) incrementally from one change-feed batch —
    the NON-INVERTIBLE half of streaming IVM. count/sum retract
    cleanly (matview_delta_batch), but a deleted or replaced row may
    have CARRIED its group's min/max, and no delta can recover the
    runner-up — the standard engine answer is the split this
    implements:

    * groups that LOSE a row this batch (a delete, or an insert that
      replaces an existing key — either removal can have carried the
      extremum) are RECOMPUTED from the batch's derived post-state;
    * groups that only GAIN rows (inserts of brand-new keys, and the
      gaining side of a key that moved groups) merge monotonically —
      ``least``/``greatest`` of the old bound and the batch's, no
      base read;
    * untouched groups are neither read nor written.

    The derived post-state is a pure function of the replica's
    PRE-batch rows and the net batch actions (pre rows of the
    recomputed groups minus touched keys, plus the batch's inserts
    into those groups) — NOT a read of the applied replica — so the
    crash/replay contract is matview_delta_batch's verbatim: commit
    the view under ``txn_id`` (a replayed batch is stamp-skipped),
    THEN apply the batch to the replica.

    Scale: O(batch keys) replica rows via a broadcast left-semi for
    the retraction deltas, plus O(rows of recomputed groups) for the
    min/max rebuild — bounded per batch when the feed is capped
    (max_commits_per_trigger) and partition-prunable when the replica
    is laid out by ``group_col`` (set_partition_spec). Nothing is
    rewritten; the view merge touches only changed groups.

    ``net``: as in matview_delta_batch."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    if net is None:
        net = _net_actions(batch_df, key)
    ups = net.filter(F.col("_change_type") == "insert").drop(*_META)
    keys = net.select(key)
    pre_all = V.read_current(spark, replica)
    pre_hit = (pre_all
               .join(F.broadcast(keys), key, "left_semi")
               .persist())  # O(batch keys) rows, read twice
    try:
        # count/sum deltas: every touched key retracts its
        # pre-batch contribution, every net insert adds its own.
        retr = pre_hit.select(F.col(group_col).alias("g"),
                              F.lit(-1).alias("dn"),
                              (-F.col(value_col)).alias("dv"))
        add = ups.select(F.col(group_col).alias("g"),
                         F.lit(1).alias("dn"),
                         F.col(value_col).alias("dv"))
        delta = (retr.unionByName(add)
                 .groupBy("g")
                 .agg(F.sum("dn").cast("long").alias("dn"),
                      F.sum(F.col("dv").cast("decimal(18,4)"))
                       .alias("dv")))
        # losing side: groups whose pre-batch row is removed or
        # replaced — any of them may have carried the extremum.
        rgroups = (pre_hit.select(F.col(group_col).alias("g"))
                   .distinct())
        rg_k = rgroups.withColumnRenamed("g", group_col)
        post_r = (pre_all
                  .join(F.broadcast(rg_k), group_col,
                        "left_semi")
                  .join(F.broadcast(keys), key, "left_anti")
                  .select(group_col, value_col)
                  .unionByName(
                      ups.join(F.broadcast(rg_k), group_col,
                               "left_semi")
                      .select(group_col, value_col)))
        rec = (post_r.groupBy(F.col(group_col).alias("g"))
               .agg(F.min(F.col(value_col).cast("double"))
                    .alias("r_min"),
                    F.max(F.col(value_col).cast("double"))
                    .alias("r_max")))
        # gaining side: the batch's own bounds, merged
        # monotonically into groups that lost nothing.
        mono = (ups.join(F.broadcast(rg_k), group_col,
                         "left_anti")
                .groupBy(F.col(group_col).alias("g"))
                .agg(F.min(F.col(value_col).cast("double"))
                     .alias("b_min"),
                     F.max(F.col(value_col).cast("double"))
                     .alias("b_max")))
        upd = (delta
               .join(rgroups.withColumn("is_r", F.lit(True)),
                     "g", "left")
               .join(rec, "g", "left")
               .join(mono, "g", "left"))
        cur = (V.read_current(spark, view) if
               V.current_snapshot(view) is not None else
               spark.createDataFrame(
                   [],
                   f"g {delta.schema['g'].dataType.simpleString()}"
                   ", n long, sum_value decimal(18,4)"
                   ", min_value double, max_value double"))
        is_r = F.coalesce(F.col("is_r"), F.lit(False))
        # least/greatest skip NULLs (both engines), so a revived
        # n=0 group (old bounds NULL) takes the batch bound.
        new = (upd.join(cur, "g", "full_outer")
               .select(
                   "g",
                   (F.coalesce(F.col("n"), F.lit(0))
                    + F.coalesce(F.col("dn"), F.lit(0)))
                   .cast("long").alias("n"),
                   (F.coalesce(F.col("sum_value"),
                               F.lit(0).cast("decimal(18,4)"))
                    + F.coalesce(F.col("dv"),
                                 F.lit(0).cast("decimal(18,4)")))
                   .cast("decimal(18,4)").alias("sum_value"),
                   F.when(is_r, F.col("r_min"))
                   .otherwise(F.least("min_value", "b_min"))
                   .cast("double").alias("min_value"),
                   F.when(is_r, F.col("r_max"))
                   .otherwise(F.greatest("max_value", "b_max"))
                   .cast("double").alias("max_value"))
               .join(F.broadcast(delta.select("g")), "g",
                     "left_semi"))  # touch only changed groups
        if V.current_snapshot(view) is None:
            V.write_snapshot(new, view, txn_id=txn_id)
        else:
            V.merge_snapshot_mor(spark, new, view, "g",
                                 txn_id=txn_id)
    finally:
        pre_hit.unpersist()


def run_stream_matview(spark: SparkSession, source: str,
                       replica: str, view: str,
                       checkpoint_dir: str, key: str,
                       group_col: str, value_col: str,
                       starting: str = "current",
                       app_id: str = "cdc_matview",
                       maintenance_every: int = 8,
                       max_commits_per_trigger: int = 0,
                       max_files_per_trigger: int = 0,
                       on_batch=None,
                       minmax: bool = False) -> None:
    """CDC → (replica, aggregate view), both versioned tables: the
    change feed maintains a row-level REPLICA (apply_change_batch)
    and a group-level MATERIALIZED VIEW (matview_delta_batch) —
    ``view`` always equals ``SELECT group, count(*),
    sum(value) FROM source``-net-state after every committed batch,
    including through MOR deletes (the replica supplies retracted
    values the key-only delete events lack). Initialize the replica
    to the source snapshot at ``starting``; an unwritten view is
    seeded here, before the first batch, as the aggregate of that
    initial copy (deltas alone can't reconstruct the pre-feed
    contribution).

    ``minmax=True`` widens the view with min_value/max_value — the
    non-invertible aggregates — maintained by matview_minmax_batch:
    groups that lose a row this batch are recomputed from the
    batch's derived post-state, insert-only groups merge their
    bounds monotonically (see that function for the contract and
    the per-batch cost bound).

    Scale: per batch this reads O(batch keys) replica rows and
    O(touched groups) view rows, each through a literal IN filter,
    computes the count/sum deltas on the driver and rewrites nothing
    (matview_delta_batch; batches past ``_IN_LIST_MAX`` keys plan the
    same delta in Spark with broadcast left-semis) — but "O(batch
    keys)" is only a BOUND when the feed is capped: set
    ``max_commits_per_trigger`` / ``max_files_per_trigger`` so a
    consumer that fell a week behind collects the capped key set per
    batch, never the whole backlog's. Admission, drain-to-completion,
    kill/resume, the driver-or-Spark batch read and ``on_batch``
    semantics match ``run_stream_apply_changes`` (``_drain_changes``):
    per batch, the view commit under its txn stamp, then the replica
    apply, then the cursor commit."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    if V.current_snapshot(view) is None:
        aggs = [F.count("*").alias("n"),
                F.sum(F.col(value_col).cast("decimal(18,4)"))
                 .alias("sum_value")]
        if minmax:
            aggs += [F.min(F.col(value_col).cast("double"))
                     .alias("min_value"),
                     F.max(F.col(value_col).cast("double"))
                     .alias("max_value")]
        V.write_snapshot(
            V.read_current(spark, replica)
            .groupBy(F.col(group_col).alias("g"))
            .agg(*aggs),
            view, txn_id=f"{app_id}:view:init")

    view_batch = matview_minmax_batch if minmax else matview_delta_batch

    def _apply(bid, batch, net):
        view_batch(spark, batch, replica, view, key, group_col,
                   value_col, f"{app_id}:view:{bid}", net=net)
        apply_change_batch(spark, batch, replica, key,
                           f"{app_id}-{bid}", net=net)
        if maintenance_every and bid % maintenance_every == (
                maintenance_every - 1):
            V.optimize_table(spark, replica)
            V.optimize_table(spark, view)

    _drain_changes(spark, source, checkpoint_dir, key, starting,
                   max_commits_per_trigger, max_files_per_trigger,
                   _apply, on_batch)
