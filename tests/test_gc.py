"""Safety-windowed GC — ≙ the reference's GC scenario
(HybridAppConfiguration.java:164-208: fresh plan blocked, aged plan
executes) plus producer/executor semantics."""

import os
import time

from iceberg_hybrid_spark.lake import gc as G
from iceberg_hybrid_spark.lake.table import HyTable


def setup_table_with_garbage(spark, root):
    t = HyTable(spark, root)
    t.create(spark.range(0, 100).toDF("id"))
    t.overwrite(spark.range(0, 10).toDF("id"))  # snapshot 1 unreachable
    return t


def test_produce_candidates_reachability(spark, tmp_table_root):
    t = setup_table_with_garbage(spark, tmp_table_root)
    cands = G.produce_candidates(t, retain_last=1)
    old_paths = {f.path for f in t.snapshot_by_seq(1).manifest}
    assert {c.file_uri for c in cands} == old_paths
    assert all(c.reason == "expired_snapshot" for c in cands)
    assert all(c.delete_after_ms > c.produced_at_ms for c in cands)


def test_produce_candidates_includes_orphans(spark, tmp_table_root):
    t = setup_table_with_garbage(spark, tmp_table_root)
    stray_dir = os.path.join(t.data_dir, "stray")
    os.makedirs(stray_dir)
    with open(os.path.join(stray_dir, "junk.parquet"), "wb") as f:
        f.write(b"junk")
    reasons = {c.reason for c in G.produce_candidates(t, retain_last=1)}
    assert reasons == {"expired_snapshot", "orphan"}


def test_fresh_plan_blocked_by_safety_window(spark, tmp_table_root):
    """Fresh plan (generated now, 60s window) must not delete anything."""
    t = setup_table_with_garbage(spark, tmp_table_root)
    now = int(time.time() * 1000)
    cands = G.produce_candidates(t, retain_last=1, grace_s=0, now_ms=now)
    plan = G.DeletePlan(t.root, cands, generated_at_ms=now,
                        valid_from_ms=now - 1000, valid_until_ms=now + 10**7)
    execs = G.apply_delete_plan(plan, safety_delay_s=60, now_ms=now + 1000)
    assert all(e.result == "blocked_window" for e in execs)
    assert all(os.path.exists(os.path.join(t.root, c.file_uri)) for c in cands)


def test_aged_plan_executes(spark, tmp_table_root):
    """400s-old plan with 60s window deletes (the reference scenario)."""
    t = setup_table_with_garbage(spark, tmp_table_root)
    now = int(time.time() * 1000)
    gen = now - 400_000
    cands = G.produce_candidates(t, retain_last=1, grace_s=0, now_ms=gen)
    plan = G.DeletePlan(t.root, cands, generated_at_ms=gen,
                        valid_from_ms=gen, valid_until_ms=now + 10**7)
    execs = G.apply_delete_plan(plan, safety_delay_s=60, now_ms=now)
    assert all(e.result == "deleted" for e in execs)
    assert all(not os.path.exists(os.path.join(t.root, c.file_uri)) for c in cands)
    # idempotent: second run records 'missing'
    execs2 = G.apply_delete_plan(plan, safety_delay_s=60, now_ms=now)
    assert all(e.result == "missing" for e in execs2)


def test_plan_outside_validity_window_blocked(spark, tmp_table_root):
    t = setup_table_with_garbage(spark, tmp_table_root)
    now = int(time.time() * 1000)
    gen = now - 400_000
    cands = G.produce_candidates(t, retain_last=1, grace_s=0, now_ms=gen)
    plan = G.DeletePlan(t.root, cands, generated_at_ms=gen,
                        valid_from_ms=gen, valid_until_ms=gen + 1000)  # expired
    execs = G.apply_delete_plan(plan, safety_delay_s=60, now_ms=now)
    assert all(e.result == "blocked_plan" for e in execs)


def test_watermark_guard(spark, tmp_table_root):
    """Files produced after the consistency watermark are protected."""
    t = setup_table_with_garbage(spark, tmp_table_root)
    now = int(time.time() * 1000)
    gen = now - 400_000
    cands = G.produce_candidates(t, retain_last=1, grace_s=0, now_ms=gen)
    plan = G.DeletePlan(t.root, cands, generated_at_ms=gen,
                        valid_from_ms=gen, valid_until_ms=now + 10**7)
    execs = G.apply_delete_plan(plan, safety_delay_s=60,
                                watermark_ms=gen - 1, now_ms=now)
    assert all(e.result == "blocked_watermark" for e in execs)


def test_candidate_and_execution_dfs(spark, tmp_table_root, count_jobs):
    t = setup_table_with_garbage(spark, tmp_table_root)
    now = int(time.time() * 1000)
    cands = G.produce_candidates(t, retain_last=1, now_ms=now)
    cdf = G.candidates_df(spark, cands)
    # a driver-held frame: collecting it runs no Spark job
    with count_jobs() as jobs:
        rows = cdf.collect()
    assert jobs.n == 0
    assert sorted(r.file_uri for r in rows) == sorted(c.file_uri for c in cands)
    assert cdf.count() == len(cands)
    plan = G.DeletePlan(t.root, cands, now, now, now + 10**7)
    execs = G.apply_delete_plan(plan, safety_delay_s=60, now_ms=now)
    edf = G.executions_df(spark, execs)
    assert edf.filter("result = 'blocked_window'").count() == len(cands)


def test_tiered_orphan_grace(spark, tmp_table_root):
    """Doc :838-852: a 5-day-old `_tmp/` orphan (P3D tier) is deletable
    while a same-age data orphan (P14D tier) is still protected.  A
    killed copy's `.inprogress` temp file is in the P3D tier too: due
    at 4 days old, deferred at 1 hour old.  A Hadoop `.crc` sidecar whose
    data file is gone is an orphan in its data file's tier; the live
    files' sidecars are not listed."""
    t = setup_table_with_garbage(spark, tmp_table_root)
    tmp_dir = os.path.join(t.data_dir, "_tmp")
    os.makedirs(tmp_dir)
    tmp_orphan = os.path.join(tmp_dir, "partial.parquet")
    data_orphan = os.path.join(t.data_dir, "stray.parquet")
    old_copy = os.path.join(t.data_dir, "killed-copy.parquet.inprogress")
    new_copy = os.path.join(t.data_dir, "live-copy.parquet.inprogress")
    sidecar = os.path.join(tmp_dir, ".gone.parquet.crc")
    for path, age_s in ((tmp_orphan, 5 * 86_400), (data_orphan, 5 * 86_400),
                        (old_copy, 4 * 86_400), (new_copy, 3_600),
                        (sidecar, 5 * 86_400)):
        with open(path, "wb") as f:
            f.write(b"junk")
        then = time.time() - age_s
        os.utime(path, (then, then))

    now = int(time.time() * 1000)
    gen = now - 400_000
    cands = [c for c in G.produce_candidates(t, retain_last=2, now_ms=gen)
             if c.reason == "orphan"]
    assert len(cands) == 5
    plan = G.DeletePlan(t.root, cands, generated_at_ms=gen,
                        valid_from_ms=gen, valid_until_ms=now + 10**7)
    by_file = {e.file_uri: e.result
               for e in G.apply_delete_plan(plan, safety_delay_s=60, now_ms=now)}
    assert by_file["data/_tmp/partial.parquet"] == "deleted"
    assert by_file["data/stray.parquet"] == "blocked_window"
    assert by_file["data/killed-copy.parquet.inprogress"] == "deleted"
    assert by_file["data/live-copy.parquet.inprogress"] == "blocked_window"
    assert by_file["data/_tmp/.gone.parquet.crc"] == "deleted"
    assert not os.path.exists(sidecar)
    assert not os.path.exists(tmp_orphan)
    assert os.path.exists(data_orphan)
    assert not os.path.exists(old_copy)
    assert os.path.exists(new_copy)


def test_orphan_grace_tiers():
    assert G.orphan_grace_s("data/_tmp/x.parquet") == G.ORPHAN_TMP_GRACE_S
    assert G.orphan_grace_s("data/_staging/y.parquet") == G.ORPHAN_TMP_GRACE_S
    assert G.orphan_grace_s("data/compaction/tmp/z.parquet") == G.ORPHAN_TMP_GRACE_S
    assert G.orphan_grace_s("data/part-0.parquet.inprogress") == G.ORPHAN_TMP_GRACE_S
    assert G.orphan_grace_s("data/part-0.parquet") == G.ORPHAN_GRACE_S
    assert G.orphan_grace_s("data/tmpish/f.parquet") == G.ORPHAN_GRACE_S
    # a sidecar is in its data file's tier
    assert G.orphan_grace_s("data/_tmp/.x.parquet.crc") == G.ORPHAN_TMP_GRACE_S
    assert G.orphan_grace_s("data/c1/.part-0.parquet.crc") == G.ORPHAN_GRACE_S


def test_lease_floor_protects_leased_and_newer_snapshots(spark, tmp_table_root):
    """min_leased_seq is the GC floor: every snapshot at or after the
    oldest leased sequence stays reachable whatever the retention
    window, so the in-flight reader pinned there never loses files."""
    t = HyTable(spark, tmp_table_root)
    t.create(spark.range(0, 100).toDF("id"))                 # seq 1
    t.overwrite(spark.range(0, 50).toDF("id"))               # seq 2
    t.overwrite(spark.range(0, 20).toDF("id"))               # seq 3
    t.overwrite(spark.range(0, 5).toDF("id"))                # seq 4

    no_floor = {c.file_uri for c in G.produce_candidates(t, retain_last=1)}
    assert no_floor == {
        f.path for s in (1, 2, 3) for f in t.snapshot_by_seq(s).manifest
    }

    floored = {
        c.file_uri
        for c in G.produce_candidates(t, retain_last=1, min_leased_seq=2)
    }
    assert floored == {f.path for f in t.snapshot_by_seq(1).manifest}

    # floor at the oldest snapshot → nothing is a candidate
    assert G.produce_candidates(t, retain_last=1, min_leased_seq=1) == []
    # no active leases (None) → retention-only semantics unchanged
    assert {
        c.file_uri
        for c in G.produce_candidates(t, retain_last=1, min_leased_seq=None)
    } == no_floor


def test_lease_gc_floor_query_job_budget(spark, count_jobs, tmp_path):
    """The query's result rows are a driver-held frame built in metric
    order, so returning them costs no Spark job and no sort: the jobs
    left are the table writes and reads of its lifecycle (13 when the
    rows went through a Python RDD and an ``orderBy``, 10 while each
    table read inferred its schema from a footer)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_hybrid_spark.queries.lake_ops import lease_gc_floor
    from iceberg_hybrid_spark.sources.tables import load_table

    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        os.path.join(sf_dir, "nation.parquet"),
    )
    load_table(spark, sf_dir, "nation")  # its schema read is set-up, not query work
    with count_jobs() as jobs:
        rows = lease_gc_floor(spark, sf_dir).collect()
    assert jobs.n <= 8
    assert [r.metric for r in rows] == sorted(r.metric for r in rows)
    assert dict((r.metric, r.value) for r in rows)["post_gc_leased_rows"] == 15
