"""Write coordination + sync orchestration.

≙ WriteCoordinator.coordinateWrite (modules/application/WriteCoordinator.scala:35-76)
and SyncOrchestrator.processPendingEvents (modules/application/SyncOrchestrator.scala:20-132):

- ``coordinate_write``: gate approval → local commit (HyTable CAS append)
  → fan out Metadata+Data sync events per target region → notify gate.
  In Spark the commit itself already is the atomic step; the gate is for
  multi-region quorum simulation.
- ``SyncEventStore``: append-only event log with the reference's derived
  filters (pending / failed / history) and pagination.
- ``process_pending_events``: drain a region's Pending queue; per-event
  Pending→InProgress→Completed/Failed transitions; MetadataSync registers
  placement; returns SyncProgress.

A DataSync is level-triggered: it brings the mirror to the source's
*current* snapshot (plan → copy → verify → promote), whatever commit the
event names, and does nothing when the mirror's visible head already
carries that snapshot.  So a backlog of k commits drains with one
replicate per (table, region), the older events and an event whose
commit has since been expired complete without copying, and a drain
converges from any mirror state — the reference's fast-forward sync
(iceberg-arch-hybrid-replica-dr.md:140-142).  A source table with no
snapshot fails its DataSync.

``streaming.sync_stream.start_coordinator_stream`` feeds this drain from
a durable event directory (readStream + foreachBatch).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as SPARK_T

from ..lake.replication import replicate
from ..lake.table import HyTable, Snapshot
from ..session import local_frame
from .gate import CommitGate, GateDecision
from .registry import Registry

METADATA_SYNC = "MetadataSync"
DATA_SYNC = "DataSync"
COMMIT_COMPLETED = "CommitCompleted"

PENDING = "Pending"
IN_PROGRESS = "InProgress"
COMPLETED = "Completed"
FAILED = "Failed"


@dataclass(frozen=True)
class SyncEvent:
    """≙ SyncEvent (modules/domain/SyncEvent.scala:9-72)."""

    event_id: str
    event_type: str
    table: str
    commit_id: str
    source_region: str
    target_region: str
    status: str
    created_at_ms: int
    updated_at_ms: int
    seq: int = 0  # insertion order — stable tiebreak within one millisecond


@dataclass
class SyncProgress:
    """≙ SyncProgress with ETA math (modules/domain/SyncProgress.scala:6-39)."""

    total: int
    processed: int = 0
    successful: int = 0
    failed: int = 0
    started_at_ms: int = field(default_factory=lambda: int(time.time() * 1000))

    def with_event_processed(self, ok: bool) -> "SyncProgress":
        self.processed += 1
        if ok:
            self.successful += 1
        else:
            self.failed += 1
        return self

    @property
    def percent_complete(self) -> float:
        return 100.0 * self.processed / self.total if self.total else 100.0

    def estimated_completion_ms(self, now_ms: int | None = None) -> int | None:
        now_ms = now_ms or int(time.time() * 1000)
        if not self.processed or self.processed >= self.total:
            return None
        rate = (now_ms - self.started_at_ms) / self.processed
        return int(now_ms + rate * (self.total - self.processed))


class SyncEventStore:
    """≙ SyncPort / InMemorySyncAdapter — append log + derived filters."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._events: dict[str, SyncEvent] = {}
        self._next_seq = 0

    def publish(self, event: SyncEvent) -> None:
        if event.event_id not in self._events:
            event = replace(event, seq=self._next_seq)
            self._next_seq += 1
        self._events[event.event_id] = event

    def create_event(
        self, event_type: str, table: str, commit_id: str, source: str, target: str
    ) -> SyncEvent:
        now = int(time.time() * 1000)
        ev = SyncEvent(
            event_id=f"event-{uuid.uuid4().hex[:12]}",
            event_type=event_type,
            table=table,
            commit_id=commit_id,
            source_region=source,
            target_region=target,
            status=PENDING,
            created_at_ms=now,
            updated_at_ms=now,
        )
        self.publish(ev)
        return ev

    def update_status(self, event_id: str, status: str) -> SyncEvent:
        ev = self._events[event_id]
        updated = replace(ev, status=status, updated_at_ms=int(time.time() * 1000))
        self._events[event_id] = updated
        return updated

    # Derived filters (SyncPort.scala:42-77) — sorted by createdAt like the
    # reference's `filter(p).sortBy(_.createdAt)`.
    def _sorted(self, pred) -> list[SyncEvent]:
        return sorted(
            (e for e in self._events.values() if pred(e)),
            key=lambda e: (e.created_at_ms, e.seq),
        )

    def get_pending_events(self, region: str) -> list[SyncEvent]:
        return self._sorted(lambda e: e.target_region == region and e.status == PENDING)

    def get_failed_events(self) -> list[SyncEvent]:
        return self._sorted(lambda e: e.status == FAILED)

    def get_event_history(self, table: str, region: str | None = None) -> list[SyncEvent]:
        return self._sorted(
            lambda e: e.table == table and (region is None or e.target_region == region)
        )

    def get_events_paginated(self, page_size: int, offset: int = 0) -> list[SyncEvent]:
        if page_size > 10_000:
            raise ValueError("page size capped at 10000")  # Pagination.scala:9
        return self._sorted(lambda e: True)[offset : offset + page_size]

    def retry_failed_event(self, event_id: str) -> bool:
        """Conditional Failed→Pending transition (SyncPort.scala:80)."""
        ev = self._events.get(event_id)
        if ev is None or ev.status != FAILED:
            return False
        self.update_status(event_id, PENDING)
        return True

    _SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("event_id", SPARK_T.StringType()),
        SPARK_T.StructField("event_type", SPARK_T.StringType()),
        SPARK_T.StructField("table_name", SPARK_T.StringType()),
        SPARK_T.StructField("commit_id", SPARK_T.StringType()),
        SPARK_T.StructField("source_region", SPARK_T.StringType()),
        SPARK_T.StructField("target_region", SPARK_T.StringType()),
        SPARK_T.StructField("status", SPARK_T.StringType()),
        SPARK_T.StructField("created_at_ms", SPARK_T.LongType()),
        SPARK_T.StructField("updated_at_ms", SPARK_T.LongType()),
    ])

    def events_df(self) -> DataFrame:
        rows = [
            (
                e.event_id, e.event_type, e.table, e.commit_id, e.source_region,
                e.target_region, e.status, e.created_at_ms, e.updated_at_ms,
            )
            for e in self._sorted(lambda e: True)
        ]
        return local_frame(self.spark, rows, self._SCHEMA)


@dataclass
class WriteJob:
    """≙ WriteJob state machine (modules/domain/WriteJob.scala:6-43)."""

    job_id: str
    table: str
    status: str = "Pending"
    commit_id: str | None = None


class MultiRegionCoordinator:
    """Binds catalogs (region → {table → HyTable}) + gate + events + registry."""

    def __init__(
        self,
        spark: SparkSession,
        registry: Registry,
        gate: CommitGate,
        events: SyncEventStore,
        catalogs: dict[str, dict[str, HyTable]],
    ):
        self.spark = spark
        self.registry = registry
        self.gate = gate
        self.events = events
        self.catalogs = catalogs
        self._jobs: dict[str, WriteJob] = {}

    # ---- write path (WriteCoordinator.scala:35-76) ------------------------

    def coordinate_write(
        self, table: str, df: DataFrame, source_region: str
    ) -> tuple[WriteJob, Snapshot | None]:
        job = WriteJob(job_id=f"job-{uuid.uuid4().hex[:12]}", table=table)
        self._jobs[job.job_id] = job
        request_id = f"req-{job.job_id}"
        job.status = "RequestingApproval"
        status = self.gate.request_commit_approval(request_id, table, job.job_id)
        if status.decision not in (GateDecision.APPROVED,):
            job.status = "Failed"
            self.gate.notify_commit_failed(request_id)
            return job, None
        job.status = "CommittingLocal"
        local = self.catalogs[source_region][table]
        snap = local.append(df) if local.exists() else local.create(df)
        job.commit_id = snap.snapshot_id
        job.status = "SynchronizingRegions"
        targets = [r for r in self.registry.get_active_regions() if r != source_region]
        for target in targets:  # fan-out (ZIO.foreachParDiscard ≙ scheduler)
            self.events.create_event(METADATA_SYNC, table, snap.snapshot_id, source_region, target)
            self.events.create_event(DATA_SYNC, table, snap.snapshot_id, source_region, target)
        self.gate.notify_commit_completed(request_id)
        job.status = "Completed"
        return job, snap

    def get_write_job(self, job_id: str) -> WriteJob | None:
        return self._jobs.get(job_id)

    def list_active_write_jobs(self) -> list[WriteJob]:
        terminal = {"Completed", "Failed"}
        return [j for j in self._jobs.values() if j.status not in terminal]

    # ---- sync path (SyncOrchestrator.scala:20-132) ------------------------

    def process_pending_events(self, region: str) -> SyncProgress:
        pending = self.events.get_pending_events(region)
        progress = SyncProgress(total=len(pending))
        for ev in pending:
            self.events.update_status(ev.event_id, IN_PROGRESS)
            try:
                if ev.event_type == METADATA_SYNC:
                    self._process_metadata_sync(ev)
                elif ev.event_type == DATA_SYNC:
                    self._process_data_sync(ev)
                # COMMIT_COMPLETED → ack only
                self.events.update_status(ev.event_id, COMPLETED)
                progress.with_event_processed(True)
            except Exception:  # noqa: BLE001 — event-level failure isolation
                self.events.update_status(ev.event_id, FAILED)
                progress.with_event_processed(False)
        return progress

    def _process_metadata_sync(self, ev: SyncEvent) -> None:
        """Register target-region placement; path convention
        tables/<ns>/<name> (SyncOrchestrator.scala:62-86).  The placement
        is always the mirror's own root: a table already in the target
        catalog registers that root, otherwise the mirror opens at the
        registered (or conventional) path."""
        target_tables = self.catalogs.setdefault(ev.target_region, {})
        mirror = target_tables.get(ev.table)
        if mirror is None:
            path = self.registry.get_table_data_path(ev.table, ev.target_region)
            if path is None:
                base = self.registry.get_region_storage(ev.target_region).base_path
                path = f"{base}/tables/{ev.table.replace('.', '/')}"
            mirror = target_tables[ev.table] = HyTable(self.spark, path)
        self.registry.register_table_location(ev.table, ev.target_region, mirror.root)

    def _process_data_sync(self, ev: SyncEvent) -> None:
        """Bring the mirror to the source head: plan (diff+skip-if-exists)
        → copy → verify → promote (SyncOrchestrator.scala:89-132), unless
        the mirror's visible head already carries it."""
        src = self.catalogs[ev.source_region][ev.table]
        dst = self.catalogs[ev.target_region][ev.table]
        head = src.current_snapshot()
        if head is None:
            raise LookupError(f"{ev.table} has no snapshot at {ev.source_region}")
        carried = dst.current_snapshot()
        if carried is None or carried.summary.get("replicated_from") != head.snapshot_id:
            replicate(src, dst)

    def retry_failed_events(self) -> int:
        """Fold over failed events, reset to Pending, count successes
        (SyncOrchestrator.scala:143-154)."""
        n = 0
        for ev in self.events.get_failed_events():
            if self.events.retry_failed_event(ev.event_id):
                n += 1
        return n
