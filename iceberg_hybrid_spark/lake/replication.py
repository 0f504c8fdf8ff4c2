"""Cross-region replication: plan → copy → shadow-commit → verify → promote.

Spark-first re-expression of the reference's replica pipeline:

- ``plan``            ≙ ReplicationPlanner.plan (legacy ReplicationPlanner.java:70-99):
                        snapshot manifest set-diff vs destination, then
                        skip-if-exists dedup with a size integrity probe
                        (the ETag/size check at :90-95).
- ``copy_files``      ≙ the rclone data mover.
- ``replicate``       ≙ the 16-step golden path (HybridAppConfiguration.java:108-214):
                        copy, staged shadow-commit, verify (StateReconciler.java:65-80
                        — every file must exist with matching size), then
                        atomic promote (setVisibility ≙ WAP publish).

Where the per-file work runs: ``copy_files``, ``verify`` and
``audit_closure`` copy, stat and hash in the driver process, one file
at a time.  A typical commit carries a couple of files, and a Spark
job's fixed cost dwarfs that work: on a 4-vCPU host with local[2] a
trivial two-task Python-RDD job costs ~520 ms of CPU (264-306 ms wall),
most of it the Python workers' per-task set-up, while the driver copies
two ~60 KB files in 0.8 ms and md5-checks 16 files (314 KB) in 1.1 ms.
The driver already stats destination files (``plan``) and md5s every
new file (``HyTable._write_data_files``), so it needs no access it
lacks.  ``CopyJob`` / ``copy_files_async`` run the same per-file body
(``_copy_partition``) as a Spark job, because their ``cancel()`` works
by cancelling the job group; its tasks import this module on the
workers, so the package must be importable there.

Path localization: manifests store table-relative paths, so replicating a
snapshot to another region's root *is* the base-path rewrite of
ReadRouter.java:186-189 — the relative path is the invariant, the root is
the region.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from functools import partial

from pyspark.sql import SparkSession

from .table import DataFileRef, HyTable, Snapshot, file_md5


@dataclass(frozen=True)
class ReplicationMetrics:
    """≙ legacy ReplicationPort.ReplicationMetrics(bytesCopied, filesCopied, millis)."""

    files_copied: int
    bytes_copied: int
    files_skipped: int
    millis: int


class VerificationError(Exception):
    """A replicated file is missing or size-mismatched (StateReconciler raise)."""


def plan(src: HyTable, dst: HyTable, target_seq: int | None = None) -> list[DataFileRef]:
    """Files needing copy: target snapshot's manifest minus files already
    present at the destination with the right size.

    Two dedup tiers, mirroring the reference: the destination's latest
    manifest (the "inventory index" probe) and a filesystem stat probe
    verifying existence + size (the ETag check).  Diffing vK→vN directly
    — not via intermediate versions — is the fast-forward optimization
    (iceberg-arch-hybrid-replica-dr.md:140-142).
    """
    src_snap = (
        src.snapshot_by_seq(target_seq) if target_seq is not None else src.current_snapshot()
    )
    if src_snap is None:
        return []
    dst_snap = dst.current_snapshot() if dst.exists() else None
    dst_have = {f.path: f for f in (dst_snap.manifest if dst_snap else ())}
    todo = []
    for f in src_snap.manifest:
        have = dst_have.get(f.path)
        if (
            have is not None
            and have.size_bytes == f.size_bytes
            and (not f.checksum or not have.checksum or have.checksum == f.checksum)
        ):
            continue  # inventory hit (size + ETag/md5 when recorded)
        full = os.path.join(dst.root, f.path)
        if os.path.exists(full) and os.path.getsize(full) == f.size_bytes:
            continue  # stat probe hit (skip-if-exists, SyncOrchestrator.scala:114-118)
        todo.append(f)
    return todo


def _copy_partition(pairs, throttle_s: float = 0.0):
    """Copy (src, dst) pairs one file at a time, each through a tmp file
    and an atomic rename; yields one (files, bytes) tuple, so the async
    copy's collect returns O(partitions) tuples, never per-file rows.
    ``throttle_s`` sleeps per file."""
    copied = 0
    nbytes = 0
    for s, d in pairs:
        if throttle_s:
            time.sleep(throttle_s)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        tmp = d + ".inprogress"
        shutil.copyfile(s, tmp)
        os.replace(tmp, d)  # atomic visibility per file
        copied += 1
        nbytes += os.path.getsize(d)
    yield (copied, nbytes)


def _pairs(src_root: str, dst_root: str, refs: list[DataFileRef]) -> list[tuple[str, str]]:
    return [(os.path.join(src_root, r.path), os.path.join(dst_root, r.path)) for r in refs]


def _metrics(results, n_refs: int, t0: float) -> ReplicationMetrics:
    files = sum(r[0] for r in results)
    nbytes = sum(r[1] for r in results)
    return ReplicationMetrics(files, nbytes, n_refs - files, int((time.time() - t0) * 1000))


def _distributed_copy(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    refs: list[DataFileRef],
    throttle_s: float = 0.0,
) -> ReplicationMetrics:
    """Per-file copy fanned out over executors as a parallelized task
    list (per-partition imperative IO is the one legitimate RDD use).
    On a real cluster each task streams bytes region→region; locally
    it's a filesystem copy."""
    t0 = time.time()
    if not refs:
        return ReplicationMetrics(0, 0, 0, 0)
    pairs = _pairs(src_root, dst_root, refs)
    n_slices = max(1, min(len(pairs), spark.sparkContext.defaultParallelism))
    results = (
        spark.sparkContext.parallelize(pairs, n_slices)
        .mapPartitions(partial(_copy_partition, throttle_s=throttle_s))
        .collect()
    )
    return _metrics(results, len(refs), t0)


def copy_files(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    refs: list[DataFileRef],
    concurrency: int | None = None,
) -> ReplicationMetrics:
    """Per-file copy (≙ the per-file fan-out of
    SyncOrchestrator.processDataSync, ZIO.foreachPar over files, :111),
    run in this process one file at a time.

    ``concurrency`` is the copy budget the backpressure controller sets
    (RateController.tick → BackpressureDecision.concurrency); one
    sequential copy stream is within any budget, so it changes nothing
    here.  ``spark`` is unused; both stay for the callers.
    """
    t0 = time.time()
    return _metrics(list(_copy_partition(_pairs(src_root, dst_root, refs))), len(refs), t0)


class CopyJob:
    """Cancellable handle over an in-flight distributed copy
    (≙ StoragePort.copyFileAsync / getCopyJobStatus / cancelCopyJob,
    StoragePort.scala:58-69).

    The copy runs in a daemon thread under a dedicated Spark job group
    (interrupt-on-cancel); ``cancel()`` cancels the group, aborting the
    running stages.  So it runs on executors, unlike ``copy_files``: a
    copy in the driver process could not be cancelled.  Per-file
    writes stay atomic (tmp + rename), so a cancelled job leaves no torn
    files and a re-run is a plain skip-if-exists resync.  States:
    pending → running → completed | failed | cancelled.
    """

    def __init__(
        self,
        spark: SparkSession,
        src_root: str,
        dst_root: str,
        refs: list[DataFileRef],
        throttle_s: float = 0.0,
    ):
        import threading
        import uuid

        self.job_id = f"copy-{uuid.uuid4().hex[:12]}"
        self._spark = spark
        self._dst_root = dst_root
        self._refs = list(refs)
        self.files_to_copy = len(self._refs)
        self.bytes_to_copy = sum(r.size_bytes for r in self._refs)
        self._metrics: ReplicationMetrics | None = None
        self._error: Exception | None = None
        self._cancelled = False
        self._state = "pending"
        # progress() only trusts destination files written at/after this
        # instant — stale outputs of a prior failed/cancelled job (same
        # path, same size) must not count as this job's progress.
        self._started_at = time.time()
        self._lock = threading.Lock()
        self._thread = threading.Thread(
            target=self._run, args=(src_root, dst_root, refs, throttle_s), daemon=True
        )
        self._thread.start()

    def _run(self, src_root, dst_root, refs, throttle_s):
        with self._lock:
            if self._cancelled:
                return
            self._state = "running"
        try:
            # Pinned-thread mode: the job group is scoped to this thread's
            # submissions only — cancelJobGroup kills just this copy.
            self._spark.sparkContext.setJobGroup(
                self.job_id, f"async copy {self.job_id}", interruptOnCancel=True
            )
            m = _distributed_copy(
                self._spark, src_root, dst_root, refs, throttle_s=throttle_s
            )
            with self._lock:
                if not self._cancelled:
                    self._metrics = m
                    self._state = "completed"
        except Exception as exc:  # cancelled stages surface as Py4J errors
            with self._lock:
                if not self._cancelled:
                    self._error = exc
                    self._state = "failed"

    def status(self) -> str:
        with self._lock:
            return self._state

    def progress(self) -> dict:
        """Live byte-level progress while the copy is in flight
        (≙ CopyJob.scala:6-36 — bytesToCopy/bytesCopied/progress %).

        Each file copy lands via an atomic tmp+rename, so statting the
        destination paths counts exactly the files whose copy has
        *finished* — monotone, torn-file-free, and identical on a shared
        object store where the driver lists the destination prefix.
        A size match alone is not trusted: the file must also have been
        modified at/after this job started, so stale same-sized leftovers
        of an earlier failed/cancelled job never inflate progress_pct.
        The mtime cutoff makes IN-FLIGHT progress conservative under
        clock skew or coarse store timestamps (a genuinely-copied file
        may be momentarily uncounted — never overcounted); a COMPLETED
        job short-circuits to its executor-reported metrics, so the
        terminal report is exact regardless of clocks.  O(files) stats
        per poll (manifest-sized control-plane traffic, no data-plane
        bytes through the driver)."""
        with self._lock:
            if self._state == "completed" and self._metrics is not None:
                return {
                    "state": "completed",
                    "files_copied": self._metrics.files_copied,
                    "files_to_copy": self.files_to_copy,
                    "bytes_copied": self._metrics.bytes_copied,
                    "bytes_to_copy": self.bytes_to_copy,
                    "progress_pct": 100.0,
                }
        done_files = 0
        done_bytes = 0
        # small slack for coarse filesystem timestamp granularity
        cutoff = self._started_at - 0.01
        for r in self._refs:
            full = os.path.join(self._dst_root, r.path)
            if (
                os.path.exists(full)
                and os.path.getsize(full) == r.size_bytes
                and os.path.getmtime(full) >= cutoff
            ):
                done_files += 1
                done_bytes += r.size_bytes
        pct = (
            100.0 if not self.bytes_to_copy else 100.0 * done_bytes / self.bytes_to_copy
        )
        return {
            "state": self.status(),
            "files_copied": done_files,
            "files_to_copy": self.files_to_copy,
            "bytes_copied": done_bytes,
            "bytes_to_copy": self.bytes_to_copy,
            "progress_pct": round(pct, 2),
        }

    def cancel(self) -> bool:
        """Cancel if still pending/running; returns whether anything was
        cancelled (terminal states are immutable)."""
        with self._lock:
            if self._state in ("completed", "failed", "cancelled"):
                return False
            self._cancelled = True
            self._state = "cancelled"
        try:
            self._spark.sparkContext.cancelJobGroup(self.job_id)
        except Exception:
            pass
        return True

    def wait(self, timeout: float | None = None) -> ReplicationMetrics | None:
        """Block until terminal; returns metrics (None if cancelled),
        raises the copy's error if it failed."""
        self._thread.join(timeout)
        with self._lock:
            if self._state == "failed" and self._error is not None:
                raise self._error
            return self._metrics


_COPY_JOBS: dict[str, CopyJob] = {}


def copy_files_async(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    refs: list[DataFileRef],
    throttle_s: float = 0.0,
) -> CopyJob:
    """≙ StoragePort.copyFileAsync: start a distributed copy, return a
    pollable/cancellable handle registered for lookup by id."""
    job = CopyJob(spark, src_root, dst_root, refs, throttle_s)
    _COPY_JOBS[job.job_id] = job
    return job


def get_copy_job_status(job_id: str) -> str:
    """≙ StoragePort.getCopyJobStatus."""
    return _COPY_JOBS[job_id].status()


def cancel_copy_job(job_id: str) -> bool:
    """≙ StoragePort.cancelCopyJob."""
    return _COPY_JOBS[job_id].cancel()


def verify(
    dst: HyTable,
    snap: Snapshot,
    sample_fraction: float | None = None,
    checksums: bool | None = None,
) -> None:
    """≙ StateReconciler.verifyAndPromote's verification half
    (legacy StateReconciler.java:65-80): every file of the snapshot must
    exist at the destination with exactly the manifest's size, else raise.

    ``sample_fraction`` enables the L0 tier (sampled existence/size check,
    iceberg-arch-hybrid-replica-dr.md:148-158) with clamp(ceil(n*p), 1, n);
    None = full L1 verification, which also re-hashes file contents
    against the manifest's md5 (≙ ObjectStorePort ETag integrity,
    legacy ObjectStorePort.java:36-71) so same-size corruption is caught.
    The files are stat'ed and hashed in this process.
    """
    manifest = list(snap.manifest)
    if checksums is None:
        checksums = sample_fraction is None  # L1 hashes, L0 stats only
    if sample_fraction is not None:
        import math

        k = max(1, min(len(manifest), math.ceil(len(manifest) * sample_fraction)))
        manifest = manifest[:k]
    if not manifest:
        return
    triples = [(f.path, f.size_bytes, f.checksum if checksums else "") for f in manifest]
    errors = _check_files(dst.root, triples)
    if errors:
        raise VerificationError("; ".join(errors))


def _check_files(root: str, triples: list[tuple]) -> list[str]:
    """Existence/size/md5 probe over (path, size, md5) triples; returns
    the sorted error strings, one per bad file (an empty md5 skips
    hashing)."""
    errors = []
    for rel, size, md5 in triples:
        full = os.path.join(root, rel)
        if not os.path.exists(full):
            errors.append(f"missing replicated file: {rel}")
            continue
        actual = os.path.getsize(full)
        if actual != size:
            errors.append(f"size mismatch for {rel}: expected {size}, got {actual}")
            continue
        if md5 and file_md5(full) != md5:
            errors.append(f"checksum mismatch for {rel}: content differs from manifest md5")
    return sorted(errors)


def audit_closure(table: HyTable, checksums: bool = True) -> dict:
    """L2 nightly full-closure audit (≙ the scheduled third verification
    tier, iceberg-arch-hybrid-replica-dr.md:148-158): verify the file
    closure of EVERY retained snapshot — not just the promoted head —
    in one pass.

    L0 samples the head and L1 fully re-hashes it; only L2 catches
    corruption of a file referenced solely by an *older* retained
    snapshot (where it would silently break time-travel /
    incremental-diff reads until GC).  The reachable set is the union of
    all retained snapshots' manifests (staged included — they are
    pre-publish state the reconciler must not lose), deduplicated by
    (path, size, checksum) so a file shared by many snapshots is stat'ed
    and hashed exactly once regardless of history depth, in this
    process (see ``verify``).

    Returns an audit report dict; raises :class:`VerificationError` on
    any violation, naming the earliest snapshot seq referencing each bad
    file.
    """
    ref_by_key: dict[tuple, tuple] = {}
    snaps = table.snapshots(include_staged=True)
    for snap in snaps:
        for f in snap.manifest:
            key = (f.path, f.size_bytes, f.checksum if checksums else "")
            if key not in ref_by_key:
                ref_by_key[key] = (snap.sequence_number, f)
    triples = list(ref_by_key)
    errors = _check_files(table.root, triples)
    if errors:
        first_seq = {path: seq for (path, _, _), (seq, _) in ref_by_key.items()}

        def _tag(e: str) -> str:
            for path, seq in first_seq.items():
                if path in e:
                    return f"{e} (first referenced by snapshot seq {seq})"
            return e

        raise VerificationError("; ".join(_tag(e) for e in errors))
    return {
        "snapshots_audited": len(snaps),
        "files_checked": len(triples),
        "checksums": checksums,
    }


def replicate(
    spark: SparkSession,
    src: HyTable,
    dst: HyTable,
    target_seq: int | None = None,
    concurrency: int | None = None,
) -> tuple[Snapshot | None, ReplicationMetrics]:
    """Full pipeline: plan → copy → staged shadow-commit → verify → promote.

    The destination only ever exposes fully-verified snapshots: the shadow
    commit is staged (invisible), verification runs against the copied
    bytes, and promotion is the atomic CAS publish — the two-phase marker
    protocol (_inprogress → verify → _ready,
    iceberg-arch-hybrid-replica-dr.md:90-104) without hand-copied metadata.
    """
    src_snap = (
        src.snapshot_by_seq(target_seq) if target_seq is not None else src.current_snapshot()
    )
    if src_snap is None:
        return None, ReplicationMetrics(0, 0, 0, 0)
    todo = plan(src, dst, target_seq)
    metrics = copy_files(spark, src.root, dst.root, todo, concurrency=concurrency)

    # Shadow-commit the source manifest at the destination (staged).
    # The summary must carry the source's partition spec / evolved schema
    # / rename history (HyTable._CARRY_KEYS): partition columns are
    # stripped from the files by partitionBy and reconstructed at read
    # time from the summary, so dropping them would lose those columns at
    # the destination and misread schema-evolved tables.
    summary = {
        k: src_snap.summary[k] for k in HyTable._CARRY_KEYS if k in src_snap.summary
    }
    summary.update({
        "replicated_from": src_snap.snapshot_id,
        "source_seq": src_snap.sequence_number,
    })
    staged = dst._make_snapshot(
        "append", src_snap.manifest, src_snap.schema_ddl, staged=True,
        summary=summary,
    )
    dst._commit(staged)
    verify(dst, staged)  # raises on any missing/mismatched file
    published = dst.publish(staged.snapshot_id)
    return published, metrics
