"""Write→sync→read multi-region scenario — ≙ GeoDistributedSystemE2ESpec /
WriteSyncReadWorkflowE2ESpec: coordinate a write in one region, drain the
target region's event queue, read back identical data from the mirror."""

import pytest

from iceberg_hybrid_spark.control import sync
from iceberg_hybrid_spark.control.gate import CommitGate
from iceberg_hybrid_spark.control.registry import Region, Registry, StorageLocation
from iceberg_hybrid_spark.control.sync import (
    COMPLETED,
    DATA_SYNC,
    FAILED,
    PENDING,
    MultiRegionCoordinator,
    SyncEventStore,
    SyncProgress,
)
from iceberg_hybrid_spark.lake import replication as R
from iceberg_hybrid_spark.lake.catalog import HyCatalog
from iceberg_hybrid_spark.lake.table import HyTable
from iceberg_hybrid_spark.session import local_frame

TABLE = "analytics.user_events"
US, EU = "us-east-1", "eu-west-1"


@pytest.fixture()
def coordinator(spark, tmp_path):
    reg = Registry(spark)
    for rid in (US, EU):
        reg.register_region(
            Region(rid, rid), StorageLocation(rid, f"https://{rid}", str(tmp_path / rid), "wh")
        )
    gate = CommitGate(spark)
    events = SyncEventStore(spark)
    # <warehouse>/<namespace>/<name>, so a HyCatalog over the warehouse sees it
    root = {rid: str(tmp_path / rid / "wh" / "analytics" / "user_events") for rid in (US, EU)}
    catalogs = {rid: {TABLE: HyTable(spark, root[rid])} for rid in (US, EU)}
    reg.register_table_location(TABLE, US, root[US])
    return MultiRegionCoordinator(spark, reg, gate, events, catalogs)


def _batch(spark, lo, hi):
    """Rows ``lo..hi`` as a driver-held frame: a commit encodes it
    without a Spark write job."""
    rows = [(str(i), "click") for i in range(lo, hi)]
    return local_frame(spark, rows, "user_id string, event_type string")


def _rows(table):
    return sorted(table.read().collect())


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


def test_drain_after_source_expiry_fails_no_event(spark, coordinator, tmp_path):
    """A backlog that outlives source expiry: 9 undrained commits, then
    maintenance compacts and keeps the last 3 snapshots, so 7 events name
    an expired commit.  The drain brings the mirror to the source head
    and completes every event."""
    commits = [coordinator.coordinate_write(TABLE, _batch(spark, 10 * i, 10 * i + 10), US)[1]
               for i in range(9)]
    HyCatalog(spark, str(tmp_path / US / "wh")).run_maintenance(retain_last=3)
    src, mirror = coordinator.catalogs[US][TABLE], coordinator.catalogs[EU][TABLE]
    live = {s.snapshot_id for s in src.snapshots()}
    assert sum(c.snapshot_id not in live for c in commits) == 7
    progress = coordinator.process_pending_events(EU)
    assert (progress.total, progress.failed) == (18, 0)
    assert _rows(mirror) == _rows(src) and len(_rows(mirror)) == 90
    R.audit_closure(mirror)


def test_backlog_drains_with_one_replicate(spark, coordinator, monkeypatch):
    """Fast-forward: a drain of a 5-commit backlog replicates the source
    head once, and the mirror gains one staged and one visible version
    file; the visible head names the source snapshot it carries."""
    coordinator.coordinate_write(TABLE, _batch(spark, 0, 10), US)
    coordinator.process_pending_events(EU)
    for i in range(1, 6):
        coordinator.coordinate_write(TABLE, _batch(spark, 10 * i, 10 * i + 10), US)
    calls = []
    real = sync.replicate  # the coordinator's reference to R.replicate

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(sync, "replicate", counted)
    src, mirror = coordinator.catalogs[US][TABLE], coordinator.catalogs[EU][TABLE]
    versions = len(mirror._version_files())
    progress = coordinator.process_pending_events(EU)
    assert (progress.successful, progress.failed) == (10, 0)
    assert len(calls) == 1
    assert len(mirror._version_files()) == versions + 2
    head, carried = src.current_snapshot(), mirror.current_snapshot()
    assert carried.summary["replicated_from"] == head.snapshot_id
    assert carried.summary["source_seq"] == head.sequence_number
    assert _rows(mirror) == _rows(src)


def test_restarted_coordinator_converges_on_its_next_event(spark, coordinator):
    """The event store is process memory, so a restarted coordinator has
    lost the backlog's events.  Its next drain of any DataSync (here a
    redelivered one naming the oldest commit) still brings the mirror to
    the source head."""
    _, first = coordinator.coordinate_write(TABLE, _batch(spark, 0, 10), US)
    coordinator.coordinate_write(TABLE, _batch(spark, 10, 20), US)
    restarted = MultiRegionCoordinator(
        spark, coordinator.registry, coordinator.gate, SyncEventStore(spark),
        coordinator.catalogs,
    )
    restarted.events.create_event(DATA_SYNC, TABLE, first.snapshot_id, US, EU)
    assert restarted.process_pending_events(EU).failed == 0
    src, mirror = coordinator.catalogs[US][TABLE], coordinator.catalogs[EU][TABLE]
    assert mirror.current_snapshot().summary["replicated_from"] == src.current_snapshot().snapshot_id
    assert _rows(mirror) == _rows(src)


def test_failed_copy_converges_on_retry(spark, coordinator, monkeypatch):
    """A copy that raises fails its DataSync and exposes nothing at the
    mirror; retrying the failed event and draining again converges."""
    real = R.copy_files

    def link_down(*args):
        monkeypatch.setattr(R, "copy_files", real)  # fails once
        raise OSError("mirror link down")

    monkeypatch.setattr(R, "copy_files", link_down)
    coordinator.coordinate_write(TABLE, _batch(spark, 0, 50), US)
    progress = coordinator.process_pending_events(EU)
    assert (progress.successful, progress.failed) == (1, 1)
    assert [e.event_type for e in coordinator.events.get_failed_events()] == [DATA_SYNC]
    mirror = coordinator.catalogs[EU][TABLE]
    assert mirror.current_snapshot() is None
    assert coordinator.retry_failed_events() == 1
    progress = coordinator.process_pending_events(EU)
    assert (progress.successful, progress.failed) == (1, 0)
    assert _rows(mirror) == _rows(coordinator.catalogs[US][TABLE])


def test_replicate_commits_the_snapshot_it_resolved(spark, tmp_path, monkeypatch):
    """A source commit that lands after ``replicate`` reads the source
    head (an overwrite, which drops the head's files) does not change
    what it copies: the mirror verifies and carries the resolved
    snapshot."""
    src = HyTable(spark, str(tmp_path / "us" / "t"))
    dst = HyTable(spark, str(tmp_path / "eu" / "t"))
    src.create(_batch(spark, 0, 40))
    resolved = src.current_snapshot()
    expected = _rows(src)
    real = src.current_snapshot

    def then_overwrite():
        snap = real()
        monkeypatch.setattr(src, "current_snapshot", real)
        src.overwrite(_batch(spark, 100, 110))
        return snap

    monkeypatch.setattr(src, "current_snapshot", then_overwrite)
    published, _ = R.replicate(src, dst)
    assert src.current_snapshot().snapshot_id != resolved.snapshot_id  # it landed
    assert published.summary["replicated_from"] == resolved.snapshot_id
    R.verify(dst, published)
    R.audit_closure(dst)
    assert _rows(dst) == expected
