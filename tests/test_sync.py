"""Write→sync→read multi-region scenario — ≙ GeoDistributedSystemE2ESpec /
WriteSyncReadWorkflowE2ESpec: coordinate a write in one region, drain the
target region's event queue, read back identical data from the mirror."""

import pytest

from iceberg_hybrid_spark.control.gate import CommitGate
from iceberg_hybrid_spark.control.registry import Region, Registry, StorageLocation
from iceberg_hybrid_spark.control.sync import (
    COMPLETED,
    FAILED,
    PENDING,
    MultiRegionCoordinator,
    SyncEventStore,
    SyncProgress,
)
from iceberg_hybrid_spark.lake.table import HyTable


@pytest.fixture()
def coordinator(spark, tmp_path):
    reg = Registry(spark)
    for rid in ("us-east-1", "eu-west-1"):
        reg.register_region(
            Region(rid, rid), StorageLocation(rid, f"https://{rid}", str(tmp_path / rid), "wh")
        )
    gate = CommitGate(spark)
    events = SyncEventStore(spark)
    table = "analytics.user_events"
    catalogs = {
        "us-east-1": {table: HyTable(spark, str(tmp_path / "us-east-1" / "wh" / table))},
        "eu-west-1": {table: HyTable(spark, str(tmp_path / "eu-west-1" / "wh" / table))},
    }
    reg.register_table_location(table, "us-east-1", str(tmp_path / "us-east-1" / "wh" / table))
    return MultiRegionCoordinator(spark, reg, gate, events, catalogs)


def test_write_sync_read_workflow(spark, coordinator, count_jobs):
    table = "analytics.user_events"
    df = spark.range(0, 500).selectExpr("CAST(id AS STRING) AS user_id", "'click' AS event_type")
    job, snap = coordinator.coordinate_write(table, df, "us-east-1")
    assert job.status == "Completed"
    assert snap is not None
    # two events (metadata+data) fanned out to the other region
    pending = coordinator.events.get_pending_events("eu-west-1")
    assert [e.event_type for e in pending] == ["MetadataSync", "DataSync"]
    progress = coordinator.process_pending_events("eu-west-1")
    assert progress.successful == 2 and progress.failed == 0
    # mirror readable with identical data
    mirror = coordinator.catalogs["eu-west-1"][table]
    assert mirror.read().count() == 500
    # placement registered in the target region
    assert coordinator.registry.get_table_data_path(table, "eu-west-1") is not None
    # all events terminal
    assert all(
        e.status == COMPLETED
        for e in coordinator.events.get_event_history(table, "eu-west-1")
    )
    # the event log is a driver-held frame: collecting it runs no Spark job
    with count_jobs() as jobs:
        rows = coordinator.events.events_df().collect()
    assert jobs.n == 0
    assert sorted(r.event_type for r in rows) == ["DataSync", "MetadataSync"]
    assert {r.status for r in rows} == {COMPLETED}


@pytest.mark.parametrize("target_catalog", ["prebuilt", "absent"])
def test_metadata_sync_registers_the_mirror_it_writes(spark, coordinator, target_catalog):
    """The placement MetadataSync registers is the directory the mirror
    is written to, whether the target catalog already holds the table
    or the coordinator opens it."""
    table = "analytics.user_events"
    if target_catalog == "absent":
        del coordinator.catalogs["eu-west-1"]
    df = spark.range(0, 500).selectExpr("CAST(id AS STRING) AS user_id", "'click' AS event_type")
    coordinator.coordinate_write(table, df, "us-east-1")
    assert coordinator.process_pending_events("eu-west-1").failed == 0
    mirror = coordinator.catalogs["eu-west-1"][table]
    assert coordinator.registry.get_table_data_path(table, "eu-west-1") == mirror.root
    assert sorted(mirror.read().collect()) == sorted(df.collect())


def test_small_commit_drain_launches_no_spark_jobs(spark, coordinator, count_jobs):
    """A small commit's copy and verify run in the driver process: the
    drain (plan → copy → shadow-commit → verify → promote) submits no
    Spark job."""
    table = "analytics.user_events"
    df = spark.range(0, 500).selectExpr("CAST(id AS STRING) AS user_id", "'click' AS event_type")
    coordinator.coordinate_write(table, df, "us-east-1")
    with count_jobs() as jobs:
        progress = coordinator.process_pending_events("eu-west-1")
    assert progress.successful == 2 and progress.failed == 0
    assert jobs.n == 0
    assert coordinator.catalogs["eu-west-1"][table].read().count() == 500


def test_multiple_appends_sync_incrementally(spark, coordinator):
    table = "analytics.user_events"

    def mk(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "CAST(id AS STRING) AS user_id", "'click' AS event_type"
        )

    coordinator.coordinate_write(table, mk(0, 100), "us-east-1")
    coordinator.process_pending_events("eu-west-1")
    coordinator.coordinate_write(table, mk(100, 300), "us-east-1")
    coordinator.process_pending_events("eu-west-1")
    assert coordinator.catalogs["eu-west-1"][table].read().count() == 300


def test_failed_event_retry(spark, coordinator):
    table = "analytics.user_events"
    ev = coordinator.events.create_event("DataSync", table, "commit-missing", "us-east-1", "eu-west-1")
    progress = coordinator.process_pending_events("eu-west-1")
    assert progress.failed == 1
    assert coordinator.events._events[ev.event_id].status == FAILED
    assert coordinator.retry_failed_events() == 1
    assert coordinator.events._events[ev.event_id].status == PENDING


def test_ten_table_concurrent_load(spark, tmp_path):
    """≙ WriteSyncReadWorkflowE2ESpec:113-181 — 10 tables written
    concurrently, all synced to the mirror region (≥20 completed syncs),
    every mirror byte-identical to its source."""
    from concurrent.futures import ThreadPoolExecutor

    reg = Registry(spark)
    for rid in ("us-east-1", "eu-west-1"):
        reg.register_region(
            Region(rid, rid), StorageLocation(rid, f"https://{rid}", str(tmp_path / rid), "wh")
        )
    tables = [f"load.t{i}" for i in range(10)]
    catalogs = {
        rid: {t: HyTable(spark, str(tmp_path / rid / "wh" / t)) for t in tables}
        for rid in ("us-east-1", "eu-west-1")
    }
    for t in tables:
        reg.register_table_location(t, "us-east-1", str(tmp_path / "us-east-1" / "wh" / t))
    coord = MultiRegionCoordinator(spark, reg, CommitGate(spark), SyncEventStore(spark), catalogs)

    def write_one(i):
        df = spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "CAST(id % 7 AS STRING) AS k"
        )
        job, snap = coord.coordinate_write(tables[i], df, "us-east-1")
        return job.status

    with ThreadPoolExecutor(max_workers=5) as pool:
        statuses = list(pool.map(write_one, range(10)))
    assert statuses == ["Completed"] * 10

    progress = coord.process_pending_events("eu-west-1")
    assert progress.successful >= 20 and progress.failed == 0
    completed = [
        e for e in coord.events.events_df().collect() if e.status == COMPLETED
    ]
    assert len(completed) >= 20
    for i, t in enumerate(tables):
        src = sorted(coord.catalogs["us-east-1"][t].read().collect())
        dst = sorted(coord.catalogs["eu-west-1"][t].read().collect())
        assert src == dst and len(src) == 100


def test_concurrent_registrations(spark, tmp_path):
    """≙ InMemoryRegistryAdapterSpec:172-216 — registrations racing from
    many threads all land; lookups agree afterwards."""
    from concurrent.futures import ThreadPoolExecutor

    reg = Registry(spark)
    reg.register_region(
        Region("r1", "r1"), StorageLocation("r1", "https://r1", str(tmp_path), "wh")
    )

    def register(i):
        reg.register_table_location(f"ns.t{i}", "r1", f"/data/t{i}")

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(register, range(200)))
    assert len(reg.get_region_tables("r1")) == 200
    for i in (0, 99, 199):
        assert reg.get_table_data_path(f"ns.t{i}", "r1") == f"/data/t{i}"


def test_event_store_pagination_and_cap(spark):
    store = SyncEventStore(spark)
    for i in range(25):
        store.create_event("MetadataSync", "t", f"c{i}", "a", "b")
    page = store.get_events_paginated(10, offset=10)
    assert len(page) == 10
    with pytest.raises(ValueError):
        store.get_events_paginated(20_000)


def test_sync_progress_eta(spark):
    p = SyncProgress(total=4, started_at_ms=1000)
    p.with_event_processed(True)
    p.with_event_processed(False)
    assert p.percent_complete == 50.0
    # 2 events in 1s → ETA ≈ now + 1s
    eta = p.estimated_completion_ms(now_ms=2000)
    assert eta == 2000 + 500 * 2
    p.with_event_processed(True)
    p.with_event_processed(True)
    assert p.estimated_completion_ms(now_ms=3000) is None
