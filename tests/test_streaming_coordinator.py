"""Streaming multi-region coordination end-to-end: a write in one region
fans events onto a durable file bus; a SEPARATE region coordinator (own
store/registry — shares only the bus and the object store) drains it via
Structured Streaming and serves the mirrored read.

≙ the full geo write→sync→read pipeline of SURVEY §3 run through the
streaming worker instead of a scheduled batch drain."""

import pytest

from iceberg_hybrid_spark.control.gate import CommitGate
from iceberg_hybrid_spark.control.registry import Region, Registry, StorageLocation
from iceberg_hybrid_spark.control.sync import (
    COMPLETED,
    MultiRegionCoordinator,
    SyncEventStore,
)
from iceberg_hybrid_spark.lake.table import HyTable
from iceberg_hybrid_spark.streaming.sync_stream import (
    persist_events,
    start_coordinator_stream,
)

TABLE = "analytics.user_events"
US, EU = "us-east-1", "eu-west-1"


def _mk_coordinator(spark, tmp_path):
    reg = Registry(spark)
    for rid in (US, EU):
        reg.register_region(
            Region(rid, rid),
            StorageLocation(rid, f"https://{rid}", str(tmp_path / rid), "wh"),
        )
    catalogs = {
        US: {TABLE: HyTable(spark, str(tmp_path / US / "wh" / TABLE))},
        EU: {TABLE: HyTable(spark, str(tmp_path / EU / "wh" / TABLE))},
    }
    return MultiRegionCoordinator(spark, reg, CommitGate(spark), SyncEventStore(spark), catalogs)


@pytest.fixture()
def buses(tmp_path):
    bus = tmp_path / "bus"
    bus.mkdir()
    return str(bus), str(tmp_path / "ckpt")


def _run_worker(spark, bus, ckpt, coordinator, region):
    q = start_coordinator_stream(spark, bus, coordinator, region, ckpt)
    q.awaitTermination(120)


def test_streaming_write_sync_read(spark, tmp_path, buses):
    bus, ckpt = buses
    writer = _mk_coordinator(spark, tmp_path)   # us-side
    worker = _mk_coordinator(spark, tmp_path)   # eu-side: separate store
    df = spark.range(0, 400).selectExpr(
        "CAST(id AS STRING) AS user_id", "'click' AS event_type"
    )
    job, snap = writer.coordinate_write(TABLE, df, US)
    assert job.status == "Completed"
    assert persist_events(writer.events, bus) == 2  # MetadataSync + DataSync

    _run_worker(spark, bus, ckpt, worker, EU)

    mirror = worker.catalogs[EU][TABLE]
    assert mirror.read().count() == 400
    assert worker.registry.get_table_data_path(TABLE, EU) is not None
    assert all(
        e.status == COMPLETED
        for e in worker.events.get_event_history(TABLE, EU)
    )


def test_streaming_incremental_and_duplicate_delivery(spark, tmp_path, buses):
    bus, ckpt = buses
    writer = _mk_coordinator(spark, tmp_path)
    worker = _mk_coordinator(spark, tmp_path)

    def mk(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "CAST(id AS STRING) AS user_id", "'click' AS event_type"
        )

    writer.coordinate_write(TABLE, mk(0, 100), US)
    persist_events(writer.events, bus)
    _run_worker(spark, bus, ckpt, worker, EU)
    assert worker.catalogs[EU][TABLE].read().count() == 100

    # second commit: republishing includes the ALREADY-consumed events —
    # the worker must dedup them and apply only the new pair
    writer.coordinate_write(TABLE, mk(100, 250), US)
    persist_events(writer.events, bus)
    _run_worker(spark, bus, ckpt, worker, EU)
    assert worker.catalogs[EU][TABLE].read().count() == 250
    done = [e for e in worker.events.get_event_history(TABLE, EU) if e.status == COMPLETED]
    assert len(done) == 4  # 2 commits × (metadata + data), each applied once
