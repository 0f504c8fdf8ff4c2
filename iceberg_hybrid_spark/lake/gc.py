"""Safety-windowed garbage collection — the reference's GC family.

- ``produce_candidates`` ≙ gc-producer (iceberg-arch-geo-distributed-ha.md:778-795):
  reachability analysis `unreachable = all_files − reachable(retained)`,
  emitted as gc_candidate rows with ``delete_after = produced_at + grace``.
- ``DeletePlan`` / ``apply_delete_plan`` ≙ GCCoordinator.applyDeletePlan
  (legacy GCCoordinator.java:81-106): plan validity window → per-file
  safety window (per-tier delay) → consistency-watermark guard → delete.
- ``execute_candidates`` ≙ gc-executor (doc :798-820): filter due
  candidates, idempotent delete (missing = ok), write gc_executions log.

Default windows follow the reference's operational constants
(legacy application.yaml:12-16): on-prem 86400 s, cloud 172800 s; grace P7D.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as SPARK_T

from ..session import local_frame
from .table import HyTable, _delete_table_file

ONPREM_DELAY_S = 86_400
CLOUD_DELAY_S = 172_800
GRACE_S = 7 * 86_400

# Tiered orphan grace (iceberg-arch-geo-distributed-ha.md:838-852):
# orphans are judged more conservatively than unreachable files
# (grace_period_orphan P14D), except recognized temp/staging prefixes
# (`_tmp/`, `_staging/`, `compaction/tmp/`) and a killed copy's
# `.inprogress` temp file, cleaned first under the shorter
# grace_period_orphan_tmp (P3D).
ORPHAN_GRACE_S = 14 * 86_400
ORPHAN_TMP_GRACE_S = 3 * 86_400
_TMP_PREFIXES = ("_tmp/", "_staging/", "compaction/tmp/")


def orphan_grace_s(rel_path: str) -> int:
    """Grace tier for an orphan: P3D for a copy's ``.inprogress`` temp
    file or when any path segment starts a temp/staging prefix, else the
    conservative P14D."""
    if rel_path.endswith(".inprogress"):
        return ORPHAN_TMP_GRACE_S
    parts = rel_path.split("/")
    for i in range(len(parts)):
        tail = "/".join(parts[i:]) + "/"
        if any(tail.startswith(p) for p in _TMP_PREFIXES):
            return ORPHAN_TMP_GRACE_S
    return ORPHAN_GRACE_S


@dataclass(frozen=True)
class GcCandidate:
    file_uri: str
    size_bytes: int
    produced_at_ms: int
    delete_after_ms: int
    reason: str  # "expired_snapshot" | "orphan"


@dataclass
class DeletePlan:
    """≙ legacy DeletePlan(tableId, deleteCandidates, generatedAt,
    validFrom, validUntil) + SafetyWindow."""

    table_root: str
    candidates: list[GcCandidate]
    generated_at_ms: int
    valid_from_ms: int
    valid_until_ms: int


def produce_candidates(
    table: HyTable,
    retain_last: int = 2,
    grace_s: int = GRACE_S,
    now_ms: int | None = None,
    min_leased_seq: int | None = None,
) -> list[GcCandidate]:
    """Reachability diff: files referenced only by snapshots older than the
    retained window, plus orphans — each stamped delete_after.

    ``min_leased_seq`` is the query-lease GC floor (≙ QueryLease —
    legacy LeasePort.java:6-11; GC doc :547-824): every snapshot at or
    after the oldest leased sequence stays reachable regardless of the
    retention window, so an in-flight reader pinned to a leased snapshot
    never loses files under it.  Pass
    ``LeaseStore.min_leased_seq(table)``; None (no active leases) leaves
    retention-only semantics."""
    now_ms = now_ms or int(time.time() * 1000)
    snaps = table.snapshots()
    retained = snaps[-retain_last:] if retain_last else []
    if min_leased_seq is not None:
        retained = retained + [
            s for s in snaps if s.sequence_number >= min_leased_seq
        ]
    reachable = {f.path for s in retained for f in s.manifest}
    all_refs = {f.path: f for s in snaps for f in s.manifest}
    out = [
        GcCandidate(
            file_uri=p,
            size_bytes=ref.size_bytes,
            produced_at_ms=now_ms,
            delete_after_ms=now_ms + grace_s * 1000,
            reason="expired_snapshot",
        )
        for p, ref in all_refs.items()
        if p not in reachable
    ]
    for rel in table.orphan_files():
        full = os.path.join(table.root, rel)
        # Tiered, age-based orphan grace (doc :838-852): the clock runs
        # from the file's last modification, so an orphan already older
        # than its tier is due immediately — P3D for temp/staging
        # prefixes, the conservative P14D otherwise.
        mtime_ms = int(os.path.getmtime(full) * 1000)
        out.append(
            GcCandidate(
                file_uri=rel,
                size_bytes=os.path.getsize(full),
                produced_at_ms=now_ms,
                delete_after_ms=mtime_ms + orphan_grace_s(rel) * 1000,
                reason="orphan",
            )
        )
    return sorted(out, key=lambda c: c.file_uri)


_CANDIDATE_SCHEMA = SPARK_T.StructType([
    SPARK_T.StructField("file_uri", SPARK_T.StringType()),
    SPARK_T.StructField("size_bytes", SPARK_T.LongType()),
    SPARK_T.StructField("produced_at_ms", SPARK_T.LongType()),
    SPARK_T.StructField("delete_after_ms", SPARK_T.LongType()),
    SPARK_T.StructField("reason", SPARK_T.StringType()),
])


def candidates_df(spark: SparkSession, cands: list[GcCandidate]) -> DataFrame:
    """gc_candidates as a DataFrame (the doc's DDL at :766-786)."""
    return local_frame(
        spark,
        [(c.file_uri, c.size_bytes, c.produced_at_ms, c.delete_after_ms, c.reason) for c in cands],
        _CANDIDATE_SCHEMA,
    )


@dataclass(frozen=True)
class GcExecution:
    file_uri: str
    result: str  # deleted | missing | blocked_window | blocked_watermark | blocked_plan
    bytes: int
    deleted_at_ms: int


def apply_delete_plan(
    plan: DeletePlan,
    safety_delay_s: int,
    watermark_ms: int | None = None,
    now_ms: int | None = None,
) -> list[GcExecution]:
    """Guarded delete (GCCoordinator.java:81-106 semantics):

    1. the plan must be inside its validity window, else nothing runs;
    2. each file must be past ``generated_at + safety_delay`` — fresh
       plans are blocked (HybridAppConfiguration.java:164-208 scenario);
    3. if a consistency watermark is given, only files produced at or
       before it may be deleted (readers at the watermark never lose files);
    4. deletes are idempotent — already-missing files record 'missing'.
    """
    now_ms = now_ms or int(time.time() * 1000)
    if not (plan.valid_from_ms <= now_ms <= plan.valid_until_ms):
        return [
            GcExecution(c.file_uri, "blocked_plan", 0, now_ms) for c in plan.candidates
        ]
    executions = []
    earliest_ms = plan.generated_at_ms + safety_delay_s * 1000
    for c in plan.candidates:
        if now_ms < earliest_ms or now_ms < c.delete_after_ms:
            executions.append(GcExecution(c.file_uri, "blocked_window", 0, now_ms))
            continue
        if watermark_ms is not None and c.produced_at_ms > watermark_ms:
            executions.append(GcExecution(c.file_uri, "blocked_watermark", 0, now_ms))
            continue
        full = os.path.join(plan.table_root, c.file_uri)
        if os.path.exists(full):
            size = os.path.getsize(full)
            _delete_table_file(plan.table_root, c.file_uri)
            executions.append(GcExecution(c.file_uri, "deleted", size, now_ms))
        else:
            executions.append(GcExecution(c.file_uri, "missing", 0, now_ms))
    return executions


def orphans_from_inventory(
    inventory: DataFrame, reachable: DataFrame, path_col: str = "file_path"
) -> DataFrame:
    """Inventory-based orphan detection — the doc's
    ``Orphan ≈ Inventory − Reachable`` (doc :886-899) as a LEFT ANTI join.

    ``inventory`` is the object-store listing (S3 Inventory parquet at
    scale; ``binaryFile``/walk locally); ``reachable`` is the union of
    retained snapshots' manifests (``HyTable.files``).  The reachable set
    is manifest-sized (small) → broadcast; the 100 TB inventory streams
    through the anti-join without ever collecting."""
    from pyspark.sql import functions as F

    return inventory.join(
        F.broadcast(reachable.select(path_col).distinct()), path_col, "left_anti"
    )


_EXECUTION_SCHEMA = SPARK_T.StructType([
    SPARK_T.StructField("file_uri", SPARK_T.StringType()),
    SPARK_T.StructField("result", SPARK_T.StringType()),
    SPARK_T.StructField("bytes", SPARK_T.LongType()),
    SPARK_T.StructField("deleted_at_ms", SPARK_T.LongType()),
])


def executions_df(spark: SparkSession, execs: list[GcExecution]) -> DataFrame:
    """gc_executions log (doc :808-818)."""
    return local_frame(
        spark,
        [(e.file_uri, e.result, e.bytes, e.deleted_at_ms) for e in execs],
        _EXECUTION_SCHEMA,
    )
