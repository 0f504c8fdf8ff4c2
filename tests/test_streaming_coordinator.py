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


def test_replication_stream_rate_adaptation(spark, tmp_path):
    """≙ iceberg-arch-hybrid-replica-dr.md:172-185: the streaming drain
    ticks the rate controller.  With a hopeless lag bound (hard limit 0 s) the
    controller engages write-side gating at full copy throttle; with the
    default healthy bounds it reports steady recovery and never gates."""
    from iceberg_hybrid_spark.control.backpressure import (
        BackpressureConfig,
        RateController,
    )
    from iceberg_hybrid_spark.lake.table import HyTable as HT
    from iceberg_hybrid_spark.streaming.sync_stream import (
        COMMIT_NOTIFICATION_SCHEMA,
        start_replication_stream,
    )

    src = HT(spark, str(tmp_path / "us" / "t"))
    src.create(spark.range(0, 100).toDF("id"))

    # lagging mirror: any positive observed lag exceeds the hard limit
    lagging = RateController(
        BackpressureConfig(lag_target_s=0, lag_hard_limit_s=0),
        initial_concurrency=8,
    )
    dst1 = HT(spark, str(tmp_path / "eu1" / "t"))
    notif = str(tmp_path / "n1")
    spark.createDataFrame([("t", 1)], COMMIT_NOTIFICATION_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(notif)
    q = start_replication_stream(
        spark, notif, lambda name: (src, dst1), str(tmp_path / "cp1"),
        controller=lagging,
    )
    q.awaitTermination(120)
    assert dst1.read().count() == 100          # replication still completes
    assert lagging.gate_writes                 # producers told to slow down
    assert lagging.decisions[-1].reason == "gate:lag_hard_limit"

    # healthy mirror: fresh commit, generous bounds -> steady, no gating
    healthy = RateController(initial_concurrency=4)
    dst2 = HT(spark, str(tmp_path / "eu2" / "t"))
    src.append(spark.range(100, 120).toDF("id"))
    notif2 = str(tmp_path / "n2")
    spark.createDataFrame([("t", 2)], COMMIT_NOTIFICATION_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(notif2)
    q2 = start_replication_stream(
        spark, notif2, lambda name: (src, dst2), str(tmp_path / "cp2"),
        controller=healthy,
    )
    q2.awaitTermination(120)
    assert dst2.read().count() == 120
    assert not healthy.gate_writes
    assert healthy.decisions[-1].reason == "steady"
    assert healthy.concurrency == 5            # additive recovery toward cap


def test_replication_stream_backoff_on_copy_failure(spark, tmp_path, monkeypatch):
    """A failed replicate records a 100% failure observation on the
    controller; the restarted query's next tick takes the
    multiplicative-backoff path, then recovers after a clean drain."""
    from iceberg_hybrid_spark.control.backpressure import RateController
    from iceberg_hybrid_spark.lake import replication as R
    from iceberg_hybrid_spark.lake.table import HyTable as HT
    from iceberg_hybrid_spark.streaming.sync_stream import (
        COMMIT_NOTIFICATION_SCHEMA,
        start_replication_stream,
    )

    src = HT(spark, str(tmp_path / "us" / "t"))
    src.create(spark.range(0, 50).toDF("id"))
    dst = HT(spark, str(tmp_path / "eu" / "t"))
    notif = str(tmp_path / "n")
    spark.createDataFrame([("t", 1)], COMMIT_NOTIFICATION_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(notif)

    real_replicate = R.replicate
    calls = {"n": 0}

    def flaky(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise IOError("mirror link down")
        return real_replicate(*args, **kwargs)

    monkeypatch.setattr(R, "replicate", flaky)
    ctl = RateController(initial_concurrency=16)

    from pyspark.errors.exceptions.captured import StreamingQueryException

    q = start_replication_stream(
        spark, notif, lambda name: (src, dst), str(tmp_path / "cp"),
        controller=ctl,
    )
    with pytest.raises(StreamingQueryException, match="mirror link down"):
        q.awaitTermination(120)      # first attempt fails the batch
    assert ctl.last_failure_rate == 1.0
    assert dst.read().count() == 0 if dst.exists() else True

    # restart: same checkpoint, batch retried at reduced budget
    q2 = start_replication_stream(
        spark, notif, lambda name: (src, dst), str(tmp_path / "cp"),
        controller=ctl,
    )
    q2.awaitTermination(120)
    assert dst.read().count() == 50
    reasons = [d.reason for d in ctl.decisions]
    assert "backoff:failure_rate" in reasons
    backoff = next(d for d in ctl.decisions if d.reason == "backoff:failure_rate")
    assert backoff.concurrency == 8          # 16 * 0.5
    assert ctl.last_failure_rate == 0.0      # clean drain recovers the signal
