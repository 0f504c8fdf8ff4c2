"""Structured Streaming over event queues.

The reference's sync-event work queue (SyncPort.getSyncEventsStream,
modules/ports/SyncPort.scala:31; InMemorySyncAdapter.scala:96-99) and its
scheduled drain (SyncOrchestrator.processPendingEvents) map to:

- a file-based streaming source over an append-only event directory
  (≙ the Kafka/DB event bus the docs assume),
- watermarked tumbling/sliding window aggregations for sync monitoring
  (mirror_lag / backlog metrics, iceberg-arch-hybrid-replica-dr.md:230),
- ``session_window`` for activity sessionization,
- ``applyInPandasWithState`` for per-key stateful status tracking (the
  Pending→InProgress→Completed/Failed state machine),
- ``foreachBatch`` to run the batch orchestrator incrementally
  (the Spark translation SURVEY §3.2 prescribes):
  ``start_coordinator_stream`` tails a durable sync-event directory and
  hands each micro-batch to ``MultiRegionCoordinator.process_pending_events``,
  the package's one sync driver.

Late data policy: the watermark bounds state; events older than the
watermark are dropped by the engine — the tests pin this behavior.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as SPARK_T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import local_frame

EVENT_SCHEMA = SPARK_T.StructType([
    SPARK_T.StructField("event_id", SPARK_T.LongType()),
    SPARK_T.StructField("ts", SPARK_T.TimestampType()),
    SPARK_T.StructField("user_id", SPARK_T.LongType()),
    SPARK_T.StructField("event_type", SPARK_T.StringType()),
    SPARK_T.StructField("value", SPARK_T.DoubleType()),
])


def read_event_stream(
    spark: SparkSession,
    events_dir: str,
    schema: SPARK_T.StructType = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source event stream.  ``maxFilesPerTrigger`` is the
    backpressure knob (iceberg-arch-hybrid-replica-dr.md:478-507)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(events_dir)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling (or sliding) window counts per event type."""
    win = F.window(F.col("ts"), window, slide) if slide else F.window(F.col("ts"), window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win, F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user (the streaming twin of the
    batch ``user_sessions`` query)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "event_count",
        )
    )


def clicks_to_purchases_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to same-user
    clicks in the preceding ``within`` window.  Watermarks on both sides
    bound the join state (late rows beyond the watermark are dropped and
    state for closed intervals is evicted)."""
    c = (
        clicks.withWatermark("ts", within)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = purchases.withWatermark("ts", within).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}")),
    ).select("p_user", "purchase_id", "purchase_ts", "click_id", "click_ts")


# ---- stateful status tracking (applyInPandasWithState) ---------------------

TRACKER_OUTPUT_SCHEMA = SPARK_T.StructType([
    SPARK_T.StructField("user_id", SPARK_T.LongType()),
    SPARK_T.StructField("total_events", SPARK_T.LongType()),
    SPARK_T.StructField("last_event_type", SPARK_T.StringType()),
    SPARK_T.StructField("transitions", SPARK_T.LongType()),
])

TRACKER_STATE_SCHEMA = SPARK_T.StructType([
    SPARK_T.StructField("total", SPARK_T.LongType()),
    SPARK_T.StructField("last_type", SPARK_T.StringType()),
    SPARK_T.StructField("transitions", SPARK_T.LongType()),
])


def _track_status(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-key running state: event count, last type, #type-transitions —
    the SyncEvent status state machine generalized (custom stateful
    operator via Arrow-batched pandas, never row-at-a-time)."""
    (user_id,) = key
    if state.exists:
        total, last_type, transitions = state.get
    else:
        total, last_type, transitions = 0, None, 0
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for et in pdf["event_type"]:
            if last_type is not None and et != last_type:
                transitions += 1
            last_type = et
        total += len(pdf)
    state.update((total, last_type, transitions))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "total_events": [total],
            "last_event_type": [last_type],
            "transitions": [transitions],
        }
    )


def status_transition_tracker(events: DataFrame) -> DataFrame:
    """applyInPandasWithState keyed by user: emits the running status
    summary every micro-batch (update mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _track_status,
        outputStructType=TRACKER_OUTPUT_SCHEMA,
        stateStructType=TRACKER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---- foreachBatch orchestration --------------------------------------------

def sync_events_foreach_batch(
    stream: DataFrame,
    handler: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Drive a batch handler incrementally — the foreachBatch form of
    processPendingEvents (SURVEY §3.2).  ``availableNow`` processes the
    backlog then stops (the scheduled-drain semantics of the reference's
    worker); continuous mode just omits the trigger."""
    writer = stream.writeStream.foreachBatch(handler).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---- streaming multi-region coordinator ------------------------------------

def persist_events(store, events_dir: str, events: Iterable | None = None) -> int:
    """Publish sync events to the durable file bus (append-only parquet
    dir) — the cross-region hop of WriteCoordinator's fan-out
    (WriteCoordinator.scala:62-69; in production a Kafka/DB bus).

    Defaults to the store's current PENDING events; re-publishing an
    already-consumed event is harmless (consumers dedup by event_id).
    Returns the number of rows published.
    """
    from ..control.sync import PENDING

    evs = list(events) if events is not None else [
        e for e in store._sorted(lambda e: e.status == PENDING)
    ]
    if not evs:
        return 0
    rows = [
        (
            e.event_id, e.event_type, e.table, e.commit_id, e.source_region,
            e.target_region, e.status, e.created_at_ms, e.updated_at_ms,
        )
        for e in evs
    ]
    df = local_frame(store.spark, rows, store._SCHEMA)
    df.coalesce(1).write.mode("append").parquet(events_dir)
    return len(rows)


def start_coordinator_stream(
    spark: SparkSession,
    events_dir: str,
    coordinator,
    region: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """A region's streaming sync worker: tail the durable event bus and
    drain this region's queue per micro-batch — the streaming form of
    the full MultiRegionCoordinator write→sync pipeline (SURVEY §3.2).

    Each coordinator instance models ONE region's worker: it shares
    nothing with the writer but the bus directory and the (global)
    object store — the deployment shape of the geo design
    (iceberg-arch-geo-distributed-ha.md:131-171).

    Delivery is exactly-once per FILE (checkpointed source) and
    at-least-once per event across republishes; the drain dedups by
    event_id, and a DataSync is level-triggered (a mirror that already
    carries the source head is left alone), so duplicates are no-ops.
    """
    from ..control.sync import PENDING, SyncEvent

    store = coordinator.events
    stream = spark.readStream.schema(store._SCHEMA).parquet(events_dir)

    def drain(batch_df: DataFrame, _batch_id: int) -> None:
        rows = (
            batch_df.filter(
                (F.col("target_region") == region) & (F.col("status") == PENDING)
            )
            # event rows are manifest-scale metadata.  Within one
            # timestamp, type DESC = MetadataSync → DataSync →
            # CommitCompleted: placement registration always lands before
            # the data copy that needs it.
            .orderBy(F.col("created_at_ms").asc(), F.col("event_type").desc())
            .collect()
        )
        for r in rows:
            if r.event_id in store._events:  # already consumed (republish)
                continue
            store.publish(SyncEvent(
                event_id=r.event_id,
                event_type=r.event_type,
                table=r.table_name,
                commit_id=r.commit_id,
                source_region=r.source_region,
                target_region=r.target_region,
                status=PENDING,
                created_at_ms=r.created_at_ms,
                updated_at_ms=r.updated_at_ms,
            ))
        coordinator.process_pending_events(region)

    return sync_events_foreach_batch(stream, drain, checkpoint_dir, available_now)
