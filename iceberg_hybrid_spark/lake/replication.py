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

Where the per-file work runs: all of it (``copy_files``, the
``CopyJob`` thread, ``verify`` and ``audit_closure``) copies, stats and
hashes in the driver process, one file at a time; replication launches
no Spark job.  A typical commit carries a couple of files, and a Spark
job's fixed cost dwarfs that work: on a 4-vCPU host with local[2] a
trivial two-task Python-RDD job costs ~520 ms of CPU (264-306 ms wall),
most of it the Python workers' per-task set-up, while the driver copies
two ~60 KB files in 0.8 ms and md5-checks 16 files (314 KB) in 1.1 ms.
The driver already stats destination files (``plan``) and md5s every
new file (``HyTable._write_data_files``), so it needs no access it
lacks.

Path localization: manifests store table-relative paths, so replicating a
snapshot to another region's root *is* the base-path rewrite of
ReadRouter.java:186-189 — the relative path is the invariant, the root is
the region.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

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


def plan(src: HyTable | Snapshot, dst: HyTable) -> list[DataFileRef]:
    """Files needing copy: the manifest of ``src`` (a snapshot, or a
    table's current snapshot) minus files already present at the
    destination with the right size.

    Two dedup tiers, mirroring the reference: the destination's latest
    manifest (the "inventory index" probe) and a filesystem stat probe
    verifying existence + size (the ETag check).  Diffing vK→vN directly
    — not via intermediate versions — is the fast-forward optimization
    (iceberg-arch-hybrid-replica-dr.md:140-142).
    """
    src_snap = src if isinstance(src, Snapshot) else src.current_snapshot()
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


def _copy_file(src: str, dst: str) -> int:
    """Copy one file through a tmp file and an atomic rename; returns
    the bytes written.  A process killed mid-file leaves the
    ``.inprogress`` tmp file, which GC reclaims as a P3D temp orphan."""
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    tmp = dst + ".inprogress"
    shutil.copyfile(src, tmp)
    os.replace(tmp, dst)  # atomic visibility per file
    return os.path.getsize(dst)


def _pairs(src_root: str, dst_root: str, refs: list[DataFileRef]) -> list[tuple[str, str]]:
    return [(os.path.join(src_root, r.path), os.path.join(dst_root, r.path)) for r in refs]


def copy_files(src_root: str, dst_root: str, refs: list[DataFileRef]) -> ReplicationMetrics:
    """Per-file copy (≙ the per-file fan-out of
    SyncOrchestrator.processDataSync, ZIO.foreachPar over files, :111),
    run in this process one file at a time."""
    t0 = time.time()
    nbytes = sum(_copy_file(s, d) for s, d in _pairs(src_root, dst_root, refs))
    return ReplicationMetrics(len(refs), nbytes, 0, int((time.time() - t0) * 1000))


class CopyJob:
    """Cancellable handle over an in-flight copy
    (≙ StoragePort.copyFileAsync / getCopyJobStatus / cancelCopyJob,
    StoragePort.scala:58-69).

    The copy runs in a daemon thread of this process, one file at a time
    through the same per-file body as ``copy_files``.  ``cancel()`` sets
    an event the thread checks before each file, so the job stops at a
    file boundary: every file it wrote is complete (tmp + rename), none
    is left ``.inprogress``, and a re-run is a plain skip-if-exists
    resync.  States: pending → running → completed | failed | cancelled.
    """

    def __init__(self, src_root: str, dst_root: str, refs: list[DataFileRef]):
        self.job_id = f"copy-{uuid.uuid4().hex[:12]}"
        self.files_to_copy = len(refs)
        self.bytes_to_copy = sum(r.size_bytes for r in refs)
        self._files_copied = 0
        self._bytes_copied = 0
        self._metrics: ReplicationMetrics | None = None
        self._error: Exception | None = None
        self._cancel = threading.Event()
        self._state = "pending"
        self._lock = threading.Lock()
        self._thread = threading.Thread(
            target=self._run, args=(_pairs(src_root, dst_root, refs),), daemon=True
        )
        self._thread.start()

    def _run(self, pairs):
        with self._lock:
            if self._cancel.is_set():
                return
            self._state = "running"
        t0 = time.time()
        try:
            for s, d in pairs:
                if self._cancel.is_set():
                    return
                nbytes = _copy_file(s, d)
                with self._lock:
                    self._files_copied += 1
                    self._bytes_copied += nbytes
        except Exception as exc:
            with self._lock:
                if not self._cancel.is_set():
                    self._error = exc
                    self._state = "failed"
            return
        with self._lock:
            if not self._cancel.is_set():
                self._metrics = ReplicationMetrics(
                    self._files_copied, self._bytes_copied, 0,
                    int((time.time() - t0) * 1000),
                )
                self._state = "completed"

    def status(self) -> str:
        with self._lock:
            return self._state

    def progress(self) -> dict:
        """Live byte-level progress (≙ CopyJob.scala:6-36 —
        bytesToCopy/bytesCopied/progress %).  The copy thread counts each
        file after its rename, so the counters are exact and monotone:
        they never include a half-written file, nor a same-sized file an
        earlier job left at the destination."""
        with self._lock:
            state, files, nbytes = self._state, self._files_copied, self._bytes_copied
        pct = 100.0 if not self.bytes_to_copy else 100.0 * nbytes / self.bytes_to_copy
        return {
            "state": state,
            "files_copied": files,
            "files_to_copy": self.files_to_copy,
            "bytes_copied": nbytes,
            "bytes_to_copy": self.bytes_to_copy,
            "progress_pct": round(pct, 2),
        }

    def cancel(self) -> bool:
        """Cancel if still pending/running; returns whether anything was
        cancelled (terminal states are immutable)."""
        with self._lock:
            if self._state in ("completed", "failed", "cancelled"):
                return False
            self._cancel.set()
            self._state = "cancelled"
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


def copy_files_async(src_root: str, dst_root: str, refs: list[DataFileRef]) -> CopyJob:
    """≙ StoragePort.copyFileAsync: start a copy in a background thread,
    return a pollable/cancellable handle registered for lookup by id."""
    job = CopyJob(src_root, dst_root, refs)
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


def audit_closure(table: HyTable) -> dict:
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
            key = (f.path, f.size_bytes, f.checksum)
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
    }


def replicate(src: HyTable, dst: HyTable) -> tuple[Snapshot | None, ReplicationMetrics]:
    """Full pipeline: plan → copy → staged shadow-commit → verify → promote,
    of the source's current snapshot.

    The destination only ever exposes fully-verified snapshots: the shadow
    commit is staged (invisible), verification runs against the copied
    bytes, and promotion is the atomic CAS publish — the two-phase marker
    protocol (_inprogress → verify → _ready,
    iceberg-arch-hybrid-replica-dr.md:90-104) without hand-copied metadata.
    The source head is read once, so a commit landing mid-pipeline cannot
    make it copy one snapshot's files and stage another's manifest.
    """
    src_snap = src.current_snapshot()
    if src_snap is None:
        return None, ReplicationMetrics(0, 0, 0, 0)
    todo = plan(src_snap, dst)
    metrics = copy_files(src.root, dst.root, todo)

    # Shadow-commit the source's files and table metadata (staged) in
    # place of the destination head's: partition columns are rebuilt at
    # read time from the summary, and evolved schemas need their renames.
    base = dst.current_snapshot()
    staged = dst._commit_files(
        "append",
        lambda head: (src_snap.schema_ddl, {
            "replicated_from": src_snap.snapshot_id,
            "source_seq": src_snap.sequence_number,
        }),
        added=src_snap.manifest, removed=base.manifest if base else (), base=base,
        carry=src_snap, staged=True,
    )
    verify(dst, staged)  # raises on any missing/mismatched file
    published = dst.publish(staged.snapshot_id)
    return published, metrics
