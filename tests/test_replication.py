"""Replication pipeline: plan/copy/verify/promote + scenario tests from the
reference's golden paths (FIXTURES.md §D)."""

import os

import pytest

from iceberg_hybrid_spark.lake import replication as R
from iceberg_hybrid_spark.lake.table import HyTable


def make_df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "CAST(id AS STRING) AS s")


def slow_copies(monkeypatch, before_each):
    """Run ``before_each()`` ahead of every file the copy writes (a
    delay, or a wait on an event)."""
    real = R._copy_file

    def slowed(src, dst):
        before_each()
        return real(src, dst)

    monkeypatch.setattr(R, "_copy_file", slowed)


@pytest.fixture()
def src_dst(spark, tmp_path):
    src = HyTable(spark, str(tmp_path / "us_east" / "tbl"))
    dst = HyTable(spark, str(tmp_path / "eu_west" / "tbl"))
    return src, dst


def test_plan_full_snapshot_for_empty_dest(spark, src_dst):
    src, dst = src_dst
    src.create(make_df(spark, 0, 100))
    todo = R.plan(src, dst)
    assert {f.path for f in todo} == {f.path for f in src.current_snapshot().manifest}


def test_replicate_end_to_end(spark, src_dst):
    """≙ HappyPathInMemoryTest: commit → plan → copy → verify → promote →
    read routes to the mirror with identical data."""
    src, dst = src_dst
    src.create(make_df(spark, 0, 100))
    published, metrics = R.replicate(src, dst)
    assert published is not None and not published.staged
    assert metrics.files_copied == len(src.current_snapshot().manifest)
    assert metrics.bytes_copied > 0
    # data consistency: byte-equality of row sets across regions
    assert sorted(r.id for r in dst.read().collect()) == sorted(
        r.id for r in src.read().collect()
    )


def test_replicate_incremental_skips_existing(spark, src_dst):
    """Second sync copies only the diff (skip-if-exists dedup)."""
    src, dst = src_dst
    src.create(make_df(spark, 0, 100))
    R.replicate(src, dst)
    src.append(make_df(spark, 100, 150))
    n_total = len(src.current_snapshot().manifest)
    todo = R.plan(src, dst)
    assert 0 < len(todo) < n_total  # only the appended files
    _, metrics = R.replicate(src, dst)
    assert metrics.files_copied == len(todo)
    assert dst.read().count() == 150


def test_verify_catches_corruption(spark, src_dst, count_jobs):
    """≙ StateReconciler: size mismatch must fail promotion, mirror stays
    on its previous visible snapshot.  The check runs in the driver
    process: no Spark job."""
    src, dst = src_dst
    src.create(make_df(spark, 0, 100))
    todo = R.plan(src, dst)
    R.copy_files(src.root, dst.root, todo)
    # corrupt one replicated file
    victim = todo[0]
    with open(os.path.join(dst.root, victim.path), "ab") as f:
        f.write(b"x")
    staged = dst._make_snapshot(
        "append", src.current_snapshot().manifest, "id BIGINT", staged=True
    )
    dst._commit(staged)
    with count_jobs() as launched, pytest.raises(R.VerificationError) as err:
        R.verify(dst, staged)
    assert launched.n == 0
    assert str(err.value) == (
        f"size mismatch for {victim.path}: "
        f"expected {victim.size_bytes}, got {victim.size_bytes + 1}"
    )
    assert dst.current_snapshot() is None  # nothing promoted


def test_verify_missing_file(spark, src_dst, count_jobs):
    src, dst = src_dst
    src.create(make_df(spark, 0, 10))
    manifest = src.current_snapshot().manifest
    staged = dst._make_snapshot("append", manifest, "id BIGINT", staged=True)
    dst._commit(staged)
    with count_jobs() as launched, pytest.raises(R.VerificationError) as err:
        R.verify(dst, staged)
    assert launched.n == 0
    assert str(err.value) == "; ".join(
        sorted(f"missing replicated file: {f.path}" for f in manifest)
    )


def test_sampled_l0_verification(spark, src_dst):
    """L0 tier: sampled check passes on a healthy prefix."""
    src, dst = src_dst
    src.create(make_df(spark, 0, 100))
    R.replicate(src, dst)
    R.verify(dst, dst.current_snapshot(), sample_fraction=0.5)  # no raise


def test_fast_forward_diff(spark, src_dst):
    """Lagging mirror syncs vK→vN directly, skipping intermediates."""
    src, dst = src_dst
    src.create(make_df(spark, 0, 50))
    R.replicate(src, dst)
    src.append(make_df(spark, 50, 100))
    src.append(make_df(spark, 100, 200))
    src.append(make_df(spark, 200, 300))
    _, metrics = R.replicate(src, dst)  # one hop to latest
    assert dst.read().count() == 300
    # files from the first sync were not re-copied
    assert metrics.files_skipped == 0
    assert metrics.files_copied < len(src.current_snapshot().manifest)


def test_replicate_partitioned_table(spark, src_dst):
    """Partition columns are stripped from the parquet files and rebuilt
    from the snapshot summary — the shadow commit must carry the spec or
    the destination loses those columns."""
    src, dst = src_dst
    src.create(
        spark.range(0, 90).selectExpr("id", "id % 3 AS part"),
        partition_by=["part"],
    )
    R.replicate(src, dst)
    out = dst.read()
    assert "part" in out.columns
    assert sorted((r.id, r.part) for r in out.collect()) == sorted(
        (r.id, r.part) for r in src.read().collect()
    )
    # partition pruning still works at the destination
    assert dst.read(preds=[("part", "=", 1)]).count() == 30


def test_replicate_schema_evolved_table(spark, src_dst):
    """Rename/add history must replicate or old-epoch files are misread."""
    src, dst = src_dst
    src.create(make_df(spark, 0, 50))
    src.rename_column("s", "label")
    src.append(
        spark.range(50, 80).selectExpr("id", "CAST(id AS STRING) AS label")
    )
    R.replicate(src, dst)
    out = dst.read()
    assert "label" in out.columns and "s" not in out.columns
    assert out.count() == 80
    assert sorted(r.id for r in out.collect()) == list(range(80))


def test_verify_catches_same_size_corruption(spark, src_dst, count_jobs):
    """Byte flip that preserves file size: size check passes, the md5
    (ETag) tier must catch it and block promotion, with no Spark job."""
    src, dst = src_dst
    src.create(make_df(spark, 0, 100))
    todo = R.plan(src, dst)
    R.copy_files(src.root, dst.root, todo)
    victim = todo[0]
    full = os.path.join(dst.root, victim.path)
    data = bytearray(open(full, "rb").read())
    data[len(data) // 2] ^= 0xFF  # flip one byte, same size
    open(full, "wb").write(bytes(data))
    staged = dst._make_snapshot(
        "append", src.current_snapshot().manifest, "id BIGINT", staged=True
    )
    dst._commit(staged)
    with count_jobs() as launched, pytest.raises(R.VerificationError) as err:
        R.verify(dst, staged)
    assert launched.n == 0
    assert str(err.value) == (
        f"checksum mismatch for {victim.path}: content differs from manifest md5"
    )
    assert dst.current_snapshot() is None  # promotion blocked


def test_async_copy_completes(spark, src_dst):
    """copyFileAsync happy path: pending/running -> completed, metrics
    identical to the synchronous copy, and no Spark job launched (the
    copy thread runs outside any job group, so its jobs would show up
    as ungrouped)."""
    src, dst = src_dst
    src.create(make_df(spark, 0, 100))
    todo = R.plan(src, dst)
    sc = spark.sparkContext
    ungrouped_before = set(sc.statusTracker().getJobIdsForGroup(None))
    job = R.copy_files_async(src.root, dst.root, todo)
    assert R.get_copy_job_status(job.job_id) in ("pending", "running", "completed")
    metrics = job.wait(timeout=120)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped_before
    assert job.status() == "completed"
    assert metrics.files_copied == len(todo)
    assert metrics.bytes_copied == sum(f.size_bytes for f in todo)
    assert metrics.files_skipped == 0
    for f in todo:
        assert os.path.exists(os.path.join(dst.root, f.path))


def test_async_copy_cancel_in_flight(spark, src_dst, monkeypatch):
    """Cancelling a running copy: status transitions to cancelled, the
    job stops at a file boundary, and no torn or temp files are left
    behind."""
    import time as _t

    src, dst = src_dst
    # enough files + per-file delay that the copy is reliably in flight
    src.create(make_df(spark, 0, 2000).repartition(64))
    todo = R.plan(src, dst)
    slow_copies(monkeypatch, lambda: _t.sleep(0.5))
    job = R.copy_files_async(src.root, dst.root, todo)
    deadline = _t.time() + 30
    while job.status() == "pending" and _t.time() < deadline:
        _t.sleep(0.05)
    assert job.status() == "running"
    assert R.cancel_copy_job(job.job_id) is True
    assert R.get_copy_job_status(job.job_id) == "cancelled"
    job.wait(timeout=120)
    assert job.status() == "cancelled"
    assert job.cancel() is False  # terminal states are immutable
    # atomic per-file writes: every visible parquet is complete
    written = []
    for dirpath, _, files in os.walk(dst.root):
        for fn in files:
            assert not fn.endswith(".inprogress"), fn
            if fn.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(dirpath, fn), dst.root)
                ref = next(f for f in todo if f.path == rel)
                assert os.path.getsize(os.path.join(dirpath, fn)) == ref.size_bytes
                written.append(rel)
    assert len(written) < len(todo)  # the job stopped early
    assert job.progress()["files_copied"] == len(written)


def test_audit_closure_clean_report(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "tbl"))
    t.create(make_df(spark, 0, 50))
    t.append(make_df(spark, 50, 80))
    rep = R.audit_closure(t)
    assert rep["snapshots_audited"] == 2
    assert rep["files_checked"] >= len(t.current_snapshot().manifest)


def test_audit_closure_catches_old_snapshot_corruption(spark, tmp_path):
    """L2's reason to exist: a same-size bit flip in a file referenced
    only by an OLDER retained snapshot passes the head-scoped L0 and L1
    tiers (the head manifest no longer names the file) but must fail the
    full-closure audit, attributed to the snapshot that references it."""
    t = HyTable(spark, str(tmp_path / "tbl"))
    t.create(make_df(spark, 0, 50))
    old_manifest = list(t.current_snapshot().manifest)
    t.overwrite(make_df(spark, 50, 80))
    head = t.current_snapshot()
    head_paths = {f.path for f in head.manifest}
    victim = next(f for f in old_manifest if f.path not in head_paths)
    full = os.path.join(t.root, victim.path)
    size_before = os.path.getsize(full)
    with open(full, "r+b") as f:
        data = f.read()
        mid = len(data) // 2
        f.seek(mid)
        f.write(bytes([data[mid] ^ 0xFF]))
    assert os.path.getsize(full) == size_before  # same-size corruption
    R.verify(t, head, sample_fraction=0.5)  # L0: head-only sampled stats — blind
    R.verify(t, head)                       # L1: head-only full checksum — blind
    with pytest.raises(R.VerificationError, match="checksum mismatch.*seq 1"):
        R.audit_closure(t)


def test_copy_job_live_byte_progress(spark, src_dst, monkeypatch):
    """≙ CopyJob.scala bytesToCopy/bytesCopied: polling a slowed
    in-flight job observes monotonically increasing progress with at
    least one reading strictly between 0 and 100%."""
    import time

    src, dst = src_dst
    # many files, each delayed, so completions spread over time
    src.create(make_df(spark, 0, 2000).repartition(40))
    refs = R.plan(src, dst)
    assert len(refs) >= 40
    slow_copies(monkeypatch, lambda: time.sleep(0.1))
    job = R.copy_files_async(src.root, dst.root, refs)
    seen = []
    deadline = time.time() + 120
    while job.status() in ("pending", "running") and time.time() < deadline:
        seen.append(job.progress()["progress_pct"])
        time.sleep(0.03)
    assert job.wait(60) is not None
    final = job.progress()
    assert final["state"] == "completed"
    assert final["progress_pct"] == 100.0
    assert final["bytes_copied"] == final["bytes_to_copy"] > 0
    assert final["files_copied"] == len(refs)
    assert seen == sorted(seen)  # monotone
    assert any(0.0 < p < 100.0 for p in seen), seen  # live partial progress


def test_mirror_nightly_audit_and_cdc_tailing(spark, src_dst):
    """Composite DR scenario: replicate → CDC-tail the mirror →
    replicate an append → the tailer sees exactly the new rows via the
    append fast path, and the nightly L2 closure audit walks every
    retained mirror snapshot clean."""
    from iceberg_hybrid_spark.streaming.table_stream import ChangelogTailer

    src, dst = src_dst
    src.create(make_df(spark, 0, 100))
    R.replicate(src, dst)
    tailer = ChangelogTailer(dst, from_seq=0)
    b1 = tailer.next_batch().collect()
    assert len(b1) == 100 and all(r._change_type == "insert" for r in b1)
    src.append(make_df(spark, 100, 150))
    R.replicate(src, dst)
    b2 = tailer.next_batch().collect()
    assert {r.id for r in b2} == set(range(100, 150))
    assert all(r._change_type == "insert" for r in b2)
    assert tailer.next_batch() is None
    report = R.audit_closure(dst)  # the nightly tier, on the mirror
    assert report["snapshots_audited"] >= 2
    assert report["files_checked"] >= len(dst.current_snapshot().manifest)


def test_copy_job_progress_ignores_stale_destination_files(
    spark, src_dst, monkeypatch
):
    """A same-sized destination file left by a PRIOR job must not count
    toward a new job's progress before the new job actually rewrites it."""
    import threading

    src, dst = src_dst
    src.create(make_df(spark, 0, 500).repartition(8))
    refs = R.plan(src, dst)
    assert refs
    # simulate a prior run's leftovers: copy everything
    first = R.copy_files_async(src.root, dst.root, refs)
    assert first.wait(60) is not None

    release = threading.Event()
    slow_copies(monkeypatch, release.wait)
    job = R.copy_files_async(src.root, dst.root, refs)
    # the first file is held back: nothing re-copied yet, so the stale
    # (size-matching) leftovers must report 0 progress
    early = job.progress()
    assert early["files_copied"] == 0
    assert early["progress_pct"] == 0.0
    job.cancel()
    release.set()
    job.wait(60)
