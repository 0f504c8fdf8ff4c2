"""HyTable format: commits, time travel, diff, WAP, expiry, orphans, CAS.

Mirrors the reference's test layering (SURVEY §5): unit specs per
component over in-memory/tmp adapters.
"""

import os
import time
from datetime import date, datetime
from decimal import Decimal

import pytest

from iceberg_hybrid_spark.lake import gc as G
from iceberg_hybrid_spark.lake.table import CommitConflict, HyTable, NoSuchSnapshot
from iceberg_hybrid_spark.session import local_frame


def make_df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS doubled")


def test_create_and_read(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    snap = t.create(make_df(spark, 0, 100))
    assert snap.sequence_number == 1
    assert snap.operation == "create"
    assert t.read().count() == 100


def test_append_accumulates(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    t.append(make_df(spark, 100, 150))
    assert t.read().count() == 150
    assert t.current_snapshot().sequence_number == 2
    # manifest = parent files + new files
    assert len(t.current_snapshot().manifest) > len(t.snapshot_by_seq(1).manifest)
    # a commit directory holds only data files: no _SUCCESS marker (nor
    # its .crc) for GC to leave behind
    for commit_dir in os.listdir(t.data_dir):
        names = os.listdir(os.path.join(t.data_dir, commit_dir))
        assert names and not [n for n in names if "_SUCCESS" in n]


def test_overwrite_replaces(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    t.overwrite(make_df(spark, 0, 10))
    assert t.read().count() == 10


def test_time_travel_by_seq_and_id(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    s1 = t.create(make_df(spark, 0, 100))
    t.append(make_df(spark, 100, 150))
    assert t.read(seq=1).count() == 100
    assert t.read(snapshot_id=s1.snapshot_id).count() == 100
    assert t.read().count() == 150


def test_time_travel_as_of_timestamp(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    ts_between = int(time.time() * 1000)
    time.sleep(0.01)
    t.append(make_df(spark, 100, 150))
    assert t.read(as_of_ms=ts_between).count() == 100


def test_history_and_files_metadata_tables(spark, tmp_table_root, count_jobs):
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    t.append(make_df(spark, 100, 150))
    # metadata tables are driver-held frames: collecting one runs no job
    with count_jobs() as jobs:
        hist = t.history().collect()
        files = t.files().collect()
    assert jobs.n == 0
    assert [r.sequence_number for r in hist] == [1, 2]
    assert all(r.total_rows > 0 for r in hist)
    assert sum(f.row_count for f in files) == 150


def test_snapshot_diff(spark, tmp_table_root):
    """≙ ReplicationPlanner manifest set-diff."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    t.append(make_df(spark, 100, 150))
    added = t.diff_files(1, 2)
    assert added
    assert {f.path for f in added} == (
        {f.path for f in t.snapshot_by_seq(2).manifest}
        - {f.path for f in t.snapshot_by_seq(1).manifest}
    )
    # incremental read returns exactly the appended rows
    inc = t.incremental_read(1, 2)
    assert inc.count() == 50
    # full diff when from is None
    assert len(t.diff_files(None, 2)) == len(t.snapshot_by_seq(2).manifest)


def test_diff_df_marks_removed(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    t.overwrite(make_df(spark, 0, 10))
    changes = {(r.file_path, r.change) for r in t.diff(1, 2).collect()}
    assert any(c == "added" for _, c in changes)
    assert any(c == "removed" for _, c in changes)


def test_wap_stage_then_publish(spark, tmp_table_root):
    """≙ setVisibility verify-and-promote: staged commits are invisible
    until published."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    staged = t.stage_append(make_df(spark, 100, 150))
    assert staged.staged
    assert t.read().count() == 100  # not visible yet
    t.publish(staged.snapshot_id)
    assert t.read().count() == 150


def test_publish_rejects_non_staged(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    s = t.create(make_df(spark, 0, 10))
    with pytest.raises(ValueError):
        t.publish(s.snapshot_id)


def test_cas_conflict(spark, tmp_table_root):
    """Two writers racing for the same sequence — exactly one wins."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 10))
    snap_a = t._make_snapshot("append", t.current_snapshot().manifest, "id BIGINT")
    snap_b = t._make_snapshot("append", t.current_snapshot().manifest, "id BIGINT")
    t._commit(snap_a)
    with pytest.raises(CommitConflict):
        t._commit(snap_b)


def test_append_retries_past_conflict(spark, tmp_table_root):
    """The retrying commit loop re-reads the head and lands at the next seq."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 10))
    # simulate a racer taking seq 2 right before our append commits
    racer = t._make_snapshot("append", t.current_snapshot().manifest, "x INT")
    t._commit(racer)
    snap = t.append(make_df(spark, 10, 20))
    assert snap.sequence_number == 3
    assert t.read().count() == 20


def test_expire_snapshots_deletes_unreachable(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    t.overwrite(make_df(spark, 0, 10))  # snapshot 1's files now unreachable
    old_files = [os.path.join(t.root, f.path) for f in t.snapshot_by_seq(1).manifest]
    result = t.expire_snapshots(retain_last=1)
    assert result["expired_snapshots"] == 1
    assert result["deleted_files"] == len(old_files)
    assert all(not os.path.exists(p) for p in old_files)
    assert t.read().count() == 10  # current unaffected


def test_expire_keeps_shared_files(spark, tmp_table_root):
    """Files shared with retained snapshots must survive expiry."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    t.append(make_df(spark, 100, 150))  # shares snapshot 1's files
    t.expire_snapshots(retain_last=1)
    assert t.read().count() == 150  # all files still present


def test_expire_leaves_only_live_files_and_their_sidecars(spark, tmp_table_root):
    """Expiry deletes a dead data file's Hadoop ``.crc`` sidecar with it,
    and then its commit directory once that is empty — for a file Spark
    wrote and for one encoded in the driver."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 20).repartition(2))
    t.append(make_df(spark, 20, 30))
    dead = t.append(local_frame(spark, [(i, i * 2) for i in range(30, 35)], "id bigint, doubled bigint")).manifest
    t.rewrite_data_files()
    result = t.expire_snapshots(retain_last=1)
    live = {f.path for f in t.current_snapshot().manifest}
    assert result["deleted_files"] == len(dead)  # data files, not sidecars
    allowed = live | {
        os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc") for p in live
    }
    left = set()
    for dirpath, dirs, files in os.walk(t.data_dir):
        assert dirs or files, f"empty directory left: {dirpath}"
        left |= {os.path.relpath(os.path.join(dirpath, f), t.root) for f in files}
    assert live <= left <= allowed
    assert t.read().count() == 35


# ---- the two writers: driver-held rows are encoded in the driver ----------

PARITY_DDL = (
    "a bigint, b int, c double, d boolean, e string, f decimal(10,2), g date, "
    "h timestamp, i array<int>"
)
PARITY_ROWS = [
    (1, 2, 1.5, True, "x", Decimal("1.25"), date(2020, 1, 2),
     datetime(2020, 1, 2, 3, 4, 5), [1, None, 3]),
    (None,) * 9,
    (-3, -4, -2.0, False, "yy", Decimal("-3.50"), date(2021, 6, 1),
     datetime(2021, 6, 1, 0, 0, 1, 500), []),
]


def _new_files(snap):
    return [f for f in snap.manifest if f.added_seq == snap.sequence_number]


def test_driver_and_spark_writers_agree(spark, tmp_path):
    """The same rows written from a driver-held frame and through Spark's
    writer read back equal, under one schema, with equal manifest stats;
    Spark infers the same schema from either file's footer."""
    local = local_frame(spark, PARITY_ROWS, PARITY_DDL)
    planned = spark.createDataFrame(PARITY_ROWS, PARITY_DDL).coalesce(1)
    assert local.isLocal() and not planned.isLocal()
    tables = [HyTable(spark, str(tmp_path / n)) for n in ("driver", "spark")]
    refs = []
    for t, df in zip(tables, (local, planned)):
        (ref,) = t.create(df).manifest
        refs.append(ref)
    driver, written = refs
    assert (driver.row_count, driver.stats, driver.null_counts) == (
        written.row_count, written.stats, written.null_counts
    )
    assert driver.row_count == 3 and dict(driver.null_counts)["f"] == 1
    reads = [t.read() for t in tables]
    assert reads[0].schema == reads[1].schema
    assert sorted(reads[0].collect(), key=repr) == sorted(reads[1].collect(), key=repr)
    footers = [spark.read.parquet(os.path.join(t.root, r.path)).schema for t, r in zip(tables, refs)]
    assert footers[0] == footers[1]


def test_driver_written_file_is_checksummed(spark, tmp_table_root):
    """A driver-written file has the Hadoop ``.crc`` sidecar Spark's files
    have, so a read of a corrupted file fails instead of returning bad
    rows."""
    t = HyTable(spark, tmp_table_root)
    (ref,) = t.create(local_frame(spark, [(i, str(i)) for i in range(200)], "id bigint, s string")).manifest
    path = os.path.join(t.root, ref.path)
    d, name = os.path.split(path)
    assert sorted(os.listdir(d)) == [f".{name}.crc", name]
    assert t.read().count() == 200
    with open(path, "r+b") as fh:
        fh.seek(8)
        b = fh.read(1)
        fh.seek(8)
        fh.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        t.read().collect()


def test_read_builds_without_a_spark_job(spark, tmp_table_root, count_jobs):
    """The read schema comes from the manifest: building a scan infers
    nothing from a footer."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 20))
    t.append(make_df(spark, 20, 30))
    with count_jobs() as jobs:
        df = t.read()
    assert jobs.n == 0
    assert df.count() == 30


def test_version_file_is_json_dumps_of_its_snapshot(spark, tmp_table_root, monkeypatch):
    """A committed version file holds ``json.dumps`` of the snapshot's
    document, byte for byte."""
    import json

    from iceberg_hybrid_spark.lake import table as table_mod

    docs = {}
    create_once = table_mod._create_once

    def recording(path, doc):
        docs[path] = doc
        create_once(path, doc)

    monkeypatch.setattr(table_mod, "_create_once", recording)
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 20))
    t.append(make_df(spark, 20, 30))
    t.create_branch("b")
    assert len(docs) == 3
    for path, doc in docs.items():
        with open(path, "rb") as fh:
            assert fh.read() == json.dumps(doc).encode()


def test_unevolved_read_is_the_bare_relation(spark, tmp_table_root):
    """Files whose names are the table's read as they are: no projection
    over the scan."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 20))
    t.append(make_df(spark, 20, 30))
    plan = t.read()._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRelation"


def test_local_append_is_encoded_in_the_driver(spark, tmp_table_root, count_jobs):
    """Appending driver-held rows runs no Spark write: at most the Arrow
    collect of the rows, and one file plus its sidecar."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 20))
    batch = local_frame(spark, [(i, i * 2) for i in range(20, 520)], "id bigint, doubled bigint")
    with count_jobs() as jobs:
        snap = t.append(batch)
    assert jobs.n <= 1
    (ref,) = _new_files(snap)
    d, name = os.path.split(os.path.join(t.root, ref.path))
    assert sorted(os.listdir(d)) == [f".{name}.crc", name]
    assert ref.row_count == 500 and t.read().count() == 520


def test_planned_append_is_written_by_spark(spark, tmp_table_root, count_jobs):
    """A frame Spark must compute (not ``isLocal()``) goes through Spark's
    writer: one file per task."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 20))
    with count_jobs() as jobs:
        snap = t.append(spark.range(20, 60, numPartitions=2).selectExpr("id", "id * 2 AS doubled"))
    assert jobs.n >= 1
    assert len(_new_files(snap)) == 2 and t.read().count() == 60


def test_empty_local_batch_commits_one_zero_row_file(spark, tmp_table_root):
    """As Spark's writer does, an empty batch commits one zero-row file."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 20))
    snap = t.append(local_frame(spark, [], "id bigint, doubled bigint"))
    assert [f.row_count for f in _new_files(snap)] == [0]
    assert t.read().count() == 20


def test_local_batch_arrow_cannot_carry_goes_through_spark(spark, tmp_table_root, count_jobs):
    """A year-month interval has no Arrow type: a driver-held batch with
    one is written by Spark's writer, as any other frame is."""
    t = HyTable(spark, tmp_table_root)
    batch = spark.sql("VALUES (1, INTERVAL '2' YEAR)")
    assert batch.isLocal()
    with count_jobs() as jobs:
        t.create(batch)
    assert jobs.n >= 1
    df = t.read()
    assert dict(df.dtypes)["col2"] == "interval year"
    # Python cannot hold a year-month interval: compare its text
    assert [tuple(r) for r in df.selectExpr("col1", "CAST(col2 AS STRING)").collect()] == [
        (1, "INTERVAL '2' YEAR")
    ]


def test_orphan_detection_and_removal(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 10))
    orphan_dir = os.path.join(t.data_dir, "deadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "stray.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    assert t.orphan_files() == [os.path.relpath(orphan, t.root)]
    # removal goes through the GC producer/executor (grace tiers: test_gc)
    now = int(time.time() * 1000)

    def collect():
        cands = G.produce_candidates(t, retain_last=1, now_ms=now)
        assert [c.reason for c in cands] == ["orphan"]
        plan = G.DeletePlan(t.root, cands, now, now, now + 1)
        return [e.result for e in G.apply_delete_plan(plan, 0, now_ms=now)]

    assert collect() == ["blocked_window"]  # a fresh orphan is in its grace
    assert os.path.exists(orphan)
    aged = time.time() - 15 * 86_400
    os.utime(orphan, (aged, aged))
    assert collect() == ["deleted"]
    assert not os.path.exists(orphan)
    assert not os.path.exists(orphan_dir)  # its emptied commit directory too


def test_rewrite_data_files_compacts(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100).repartition(8))
    assert len(t.current_snapshot().manifest) == 8
    snap = t.rewrite_data_files(target_file_size_bytes=10**9)
    assert snap.operation == "replace"
    assert len(snap.manifest) == 1
    assert t.read().count() == 100


def test_read_empty_table_raises(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    with pytest.raises(NoSuchSnapshot):
        t.read()


def _files_matching(t, preds):
    return len(t.prune_files(preds))


def test_rewrite_sort_by_clusters_for_pruning(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    # shuffled ids: every unsorted file spans nearly the full id range
    df = spark.range(0, 4000).selectExpr("id", "hash(id) AS h").orderBy("h").repartition(8)
    t.create(df)
    assert _files_matching(t, [("id", "<", 100)]) == 8  # no file prunable
    t.rewrite_data_files(n_files=8, sort_by=["id"])
    snap = t.current_snapshot()
    assert snap.summary["sort_by"] == ["id"]
    n = len(snap.manifest)
    assert n == 8
    # range clustering → a narrow id predicate hits ~1 file
    assert _files_matching(t, [("id", "<", 100)]) <= 2
    assert t.read().count() == 4000


def test_rewrite_zorder_prunes_on_both_dims(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    # x and y independent: 64x64 grid, shuffled
    df = spark.sql("""
        SELECT id % 64 AS x, CAST(id / 64 AS BIGINT) AS y, hash(id) AS h
        FROM range(4096)
    """).orderBy("h").drop("h").repartition(8)
    t.create(df)
    assert _files_matching(t, [("x", "<", 8)]) == 8
    t.rewrite_data_files(n_files=16, zorder_by=["x", "y"])
    snap = t.current_snapshot()
    assert snap.summary["zorder_by"] == ["x", "y"]
    n = len(snap.manifest)
    assert n == 16
    # Z-order: a 1/8-selectivity predicate on EITHER dimension prunes
    # at least half the files
    assert _files_matching(t, [("x", "<", 8)]) <= n // 2
    assert _files_matching(t, [("y", "<", 8)]) <= n // 2
    assert t.read().count() == 4096


def test_rewrite_sort_and_zorder_exclusive(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 10))
    with pytest.raises(ValueError):
        t.rewrite_data_files(sort_by=["id"], zorder_by=["id", "doubled"])


# ---- hidden partitioning (Iceberg partition transforms) --------------------

def test_partition_transform_days_prunes_and_reads(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    df = spark.sql("""
        SELECT id, timestamp'2021-01-01 00:00:00' + make_interval(0,0,0,0,CAST(id*6 AS INT),0,0) AS ts
        FROM range(40)
    """)  # 40 rows, 6h apart → 10 distinct days
    t.create(df, partition_by=["days(ts)"])
    snap = t.current_snapshot()
    days = {dict(f.partition)["ts_day"] for f in snap.manifest}
    assert len(days) == 10 and "2021-01-01" in days
    # source column survives in the data (hidden partitioning)
    assert t.read().columns == ["id", "ts"]
    assert t.read().count() == 40
    # range pruning through the transform
    import datetime as dt
    # day transform keeps the boundary day 2021-01-03; its files' footer
    # ts min (= 00:00, not < the cutoff) prunes it right back out
    pruned = t.prune_files([("ts", "<", dt.datetime(2021, 1, 3))])
    assert {dict(f.partition)["ts_day"] for f in pruned} == {"2021-01-01", "2021-01-02"}
    got = t.read(preds=[("ts", "<", dt.datetime(2021, 1, 3))])
    assert got.count() == 8  # 2 full days * 4 rows
    # equality pruning hits exactly one day's files
    eq = t.prune_files([("ts", "=", dt.datetime(2021, 1, 5, 6))])
    assert eq and {dict(f.partition)["ts_day"] for f in eq} == {"2021-01-05"}


def test_partition_transform_bucket_prunes_equality(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(spark.range(0, 1000).selectExpr("id", "id % 7 AS v"),
             partition_by=["bucket(8, id)"])
    snap = t.current_snapshot()
    assert len({dict(f.partition)["id_bucket"] for f in snap.manifest}) == 8
    # equality on the source column prunes to ONE bucket
    pruned = t.prune_files([("id", "=", 123)])
    assert len(pruned) == 1
    assert t.read(preds=[("id", "=", 123)]).collect()[0].id == 123
    # range predicates cannot prune through a hash bucket (all files kept)
    assert len(t.prune_files([("id", "<", 10)])) == 8
    assert t.read().count() == 1000


def test_partition_transform_truncate_int_and_append(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(spark.range(0, 50).selectExpr("id", "id AS k"),
             partition_by=["truncate(10, k)"])
    # append inherits the transform spec from the summary
    t.append(spark.range(50, 100).selectExpr("id", "id AS k"))
    snap = t.current_snapshot()
    parts = {dict(f.partition)["k_truncate"] for f in snap.manifest}
    assert parts == {"0", "10", "20", "30", "40", "50", "60", "70", "80", "90"}
    pruned = t.prune_files([("k", ">=", 85)])
    assert {dict(f.partition)["k_truncate"] for f in pruned} == {"80", "90"}
    assert t.read(preds=[("k", ">=", 85)]).count() == 15


def test_partition_transform_dynamic_overwrite(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    base = spark.sql("""
        SELECT id, timestamp'2021-03-01' + make_interval(0,0,0,CAST(id/2 AS INT),0,0,0) AS ts,
               'old' AS tag FROM range(6)
    """)
    t.create(base, partition_by=["days(ts)"])
    # overwrite only day 2021-03-02 (ids 2,3)
    newday = spark.sql("""
        SELECT CAST(99 AS BIGINT) AS id, timestamp'2021-03-02 12:00:00' AS ts, 'new' AS tag
    """)
    t.overwrite_partitions(newday)
    rows = {(r.id, r.tag) for r in t.read().collect()}
    assert (99, "new") in rows
    assert not any(tag == "old" and i in (2, 3) for i, tag in rows)
    assert len(rows) == 5  # 4 surviving old rows + 1 new


def test_timestamp_footer_stats_prune(spark, tmp_table_root):
    import datetime as dt

    t = HyTable(spark, tmp_table_root)
    df = spark.sql("""
        SELECT id, timestamp'2022-01-01' + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts
        FROM range(240)
    """)  # 10 days of hourly rows
    t.create(df.orderBy("id").repartition(6))
    # unsorted: every file spans most of the range → nothing prunable
    assert len(t.prune_files([("ts", "<", dt.datetime(2022, 1, 2))])) == 6
    t.rewrite_data_files(n_files=6, sort_by=["ts"])
    pruned = t.prune_files([("ts", "<", dt.datetime(2022, 1, 2))])
    # 1 day of 10 → at most 2 of 6 range-clustered files may contain it
    assert 1 <= len(pruned) <= 2
    assert t.read(preds=[("ts", "<", dt.datetime(2022, 1, 2))]).count() == 24


def test_rewrite_preserves_partition_layout(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    df = spark.range(0, 100).selectExpr("id", "CAST(id % 4 AS STRING) AS grp")
    t.create(df.repartition(8), partition_by=["grp"])
    t.rewrite_data_files(n_files=4)
    snap = t.current_snapshot()
    # every rewritten file still carries its hive partition value
    assert all(dict(f.partition).get("grp") is not None for f in snap.manifest)
    assert len(t.prune_files([("grp", "=", "2")])) < len(snap.manifest)
    assert t.read().count() == 100
    # dynamic partition overwrite still works after compaction
    t.overwrite_partitions(
        spark.sql("SELECT CAST(777 AS BIGINT) AS id, '2' AS grp")
    )
    rows = t.read().groupBy("grp").count().collect()
    assert {r.grp: r["count"] for r in rows}["2"] == 1


def test_write_distribution_hash_bounds_file_count(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    df = spark.range(0, 3000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS grp"
    ).repartition(8)  # 8 tasks × 3 partitions = 24 files without distribution
    t.create(df, partition_by=["grp"], distribution="hash")
    assert len(t.current_snapshot().manifest) == 3  # one file per partition
    # the mode is a carried table property: appends honor it too
    t.append(spark.range(3000, 6000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS grp"
    ).repartition(8))
    added = t.diff_files(1, 2)
    assert len(added) == 3
    assert t.read().count() == 6000


def test_write_distribution_none_default(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    df = spark.range(0, 300).selectExpr("id", "CAST(id % 3 AS STRING) AS grp").repartition(4)
    t.create(df, partition_by=["grp"])
    # without distribution, each task writes each partition it holds
    assert len(t.current_snapshot().manifest) > 3


def test_metadata_tables_all_files_partitions_manifests(spark, tmp_table_root):
    t = HyTable(spark, tmp_table_root)
    t.create(
        spark.range(0, 100).selectExpr("id", "CAST(id % 2 AS STRING) AS grp"),
        partition_by=["grp"], distribution="hash",
    )
    t.append(
        spark.range(100, 160).selectExpr("id", "CAST(id % 2 AS STRING) AS grp")
    )
    t.rewrite_data_files()  # rewrites into new files; old ones stay in all_files

    # partitions: per-partition rollup of the CURRENT snapshot only
    parts = {r.partition["grp"]: r for r in t.partitions().collect()}
    assert set(parts) == {"0", "1"}
    assert sum(r.total_rows for r in parts.values()) == 160

    # all_files ⊇ files(head): rewritten-away files remain reachable history
    head_paths = {r.file_path for r in t.files().collect()}
    all_paths = {r.file_path for r in t.all_files().collect()}
    assert head_paths < all_paths

    # files() carries content/partition columns for metadata-level queries
    f0 = t.files().filter("partition['grp'] = '0'").collect()
    assert all(r.content == "data" for r in f0)

    # manifests: one row per snapshot; the rewrite added its output files
    man = {r.sequence_number: r for r in t.manifests().collect()}
    assert set(man) == {1, 2, 3}
    assert man[3].added_file_count == man[3].data_file_count
    assert man[1].delete_file_count == 0


def test_publish_rejects_conflicting_commit(spark, tmp_table_root):
    """A commit landing between stage and publish must fail the publish
    (Iceberg cherry-pick conflict), not be silently dropped."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    staged = t.stage_append(make_df(spark, 100, 150))
    t.append(make_df(spark, 500, 510))  # intervening commit
    with pytest.raises(CommitConflict, match="not an ancestor"):
        t.publish(staged.snapshot_id)
    assert t.read().count() == 110  # the intervening commit survives


def test_publish_ok_after_unrelated_history(spark, tmp_table_root):
    """Publishing directly on the head it was staged from still works."""
    t = HyTable(spark, tmp_table_root)
    t.create(make_df(spark, 0, 100))
    s1 = t.stage_append(make_df(spark, 100, 150))
    t.publish(s1.snapshot_id)
    s2 = t.stage_append(make_df(spark, 150, 160))
    t.publish(s2.snapshot_id)
    assert t.read().count() == 160


def test_commit_latency_meets_slo(spark, tmp_path):
    """BASELINE.md headline SLO: primary catalog commit P95 <= 200 ms.
    The catalog commit is the metadata path only — snapshot build + CAS
    O_EXCL version-file write (data-file writes are the data plane) —
    and must clear the SLO with wide margin even with a growing log."""
    import time as _time

    t = HyTable(spark, str(tmp_path / "tbl"))
    t.create(spark.range(10).toDF("id"))
    head = t.current_snapshot()
    lat = []
    for _ in range(50):
        t0 = _time.perf_counter()
        snap = t._make_snapshot("append", head.manifest, head.schema_ddl)
        t._commit(snap)
        lat.append(_time.perf_counter() - t0)
        head = snap
    lat.sort()
    p95 = lat[int(len(lat) * 0.95)]
    assert p95 < 0.2, f"commit P95 {p95 * 1000:.1f} ms breaches the 200 ms SLO"


def test_partition_spec_evolution_unpartitioned_to_partitioned(spark, tmp_path):
    """≙ Iceberg spec evolution: a metadata-only commit changes the spec
    for future writes; old files keep reading under their own layout."""
    from pyspark.sql import functions as F

    t = HyTable(spark, str(tmp_path / "tbl"))
    df1 = spark.range(0, 40).selectExpr("id", "CAST(id % 4 AS STRING) AS cat")
    t.create(df1)
    pre = t.current_snapshot()
    evo = t.evolve_partition_spec(["cat"])
    assert evo.operation == "evolve_spec"
    assert evo.summary["evolved_from"] == []
    # no data rewrite: manifest identical
    assert {f.path for f in evo.manifest} == {f.path for f in pre.manifest}
    t.append(spark.range(40, 80).selectExpr("id", "CAST(id % 4 AS STRING) AS cat"))
    new_files = [f for f in t.current_snapshot().manifest
                 if f.added_seq == t.current_snapshot().sequence_number]
    assert all(dict(f.partition).get("cat") is not None for f in new_files)
    # reads span both layouts with the column intact everywhere
    got = t.read()
    assert got.count() == 80
    assert got.filter(F.col("cat") == "1").count() == 20
    # time travel to the pre-evolution snapshot still works
    assert t.read(seq=pre.sequence_number).count() == 40
    # partition pruning on the new spec only trims new-spec files;
    # old-spec files are kept conservatively
    pruned = t.prune_files([("cat", "=", "1")])
    pruned_new = [f for f in pruned if dict(f.partition).get("cat")]
    assert all(dict(f.partition)["cat"] == "1" for f in pruned_new)
    assert t.read(preds=[("cat", "=", "1")]).count() == 20


def test_partition_spec_evolution_to_unpartitioned(spark, tmp_path):
    """Evolving TO an empty spec: files stripped under the old spec must
    still reconstruct their partition columns on read."""
    from pyspark.sql import functions as F

    t = HyTable(spark, str(tmp_path / "tbl"))
    t.create(
        spark.range(0, 30).selectExpr("id", "CAST(id % 3 AS STRING) AS cat"),
        partition_by=["cat"],
    )
    t.evolve_partition_spec([])
    t.append(spark.range(30, 60).selectExpr("id", "CAST(id % 3 AS STRING) AS cat"))
    got = t.read()
    assert got.count() == 60
    assert got.filter(F.col("cat").isNull()).count() == 0
    assert got.filter(F.col("cat") == "2").count() == 20


def test_partition_spec_evolution_rejects_unknown_column(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "tbl"))
    t.create(spark.range(10).toDF("id"))
    with pytest.raises(ValueError, match="not in table schema"):
        t.evolve_partition_spec(["nope"])


def test_write_sort_order_persists_and_tightens_stats(spark, tmp_path):
    """write.sort-order parity: the sort order set at create is carried
    and applied to every append, so each file's footer min/max on the
    sort column stays tight and manifest pruning can skip files without
    a compaction pass."""
    import random

    rng = random.Random(1)
    t = HyTable(spark, str(tmp_path / "tbl"))
    rows1 = list(range(0, 100))
    rng.shuffle(rows1)
    t.create(
        spark.createDataFrame([(i,) for i in rows1], "id long").coalesce(1),
        sort_by=["id"],
    )
    assert t.current_snapshot().summary["write_sort_order"] == ["id"]
    rows2 = list(range(100, 200))
    rng.shuffle(rows2)
    # append SHUFFLED data — the carried sort order must apply on write
    t.append(spark.createDataFrame([(i,) for i in rows2], "id long").coalesce(1))
    spans = sorted(
        (mn, mx)
        for f in t.current_snapshot().manifest
        for col, mn, mx in f.stats
        if col == "id"
    )
    assert spans == [(0, 99), (100, 199)]  # tight, non-overlapping footers
    # manifest pruning skips the second file outright
    pruned = t.prune_files([("id", "<", 50)])
    assert len(pruned) == 1
    assert t.read(preds=[("id", "<", 50)]).count() == 50


def test_changelog_fast_path_and_general_path(spark, tmp_path):
    """Row-level CDC: pure appends take the map-only added-files path
    (no Exchange in the plan); destructive commits fall back to the
    exceptAll diff, reporting inserts AND deletes."""
    t = HyTable(spark, str(tmp_path / "tbl"))
    t.create(make_df(spark, 0, 50))      # seq 1
    t.append(make_df(spark, 50, 70))     # seq 2 — pure append
    fast = t.changelog(1, 2)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan        # added-files scan, no shuffle
    rows = fast.collect()
    assert {r.id for r in rows} == set(range(50, 70))
    assert all(r._change_type == "insert" for r in rows)
    t.delete_where([("id", "<", 10)])    # seq 3 — destructive
    log = t.changelog(1, 3).collect()
    ins = {r.id for r in log if r._change_type == "insert"}
    dels = {r.id for r in log if r._change_type == "delete"}
    assert ins == set(range(50, 70))
    assert dels == set(range(0, 10))
    # from_seq=None: everything is an insert
    full = t.changelog(None, 3).collect()
    assert {r.id for r in full} == (set(range(50)) | set(range(50, 70))) - set(range(10))
    assert all(r._change_type == "insert" for r in full)


def test_null_count_stats_and_is_null_pruning(spark, tmp_path):
    """≙ Iceberg null_value_counts: IS NULL / IS NOT NULL predicates
    prune at the manifest level — a null-free file is skipped for
    IS NULL, an all-null file for IS NOT NULL — and the residual filter
    returns exactly the right rows."""
    from pyspark.sql import functions as F

    t = HyTable(spark, str(tmp_path / "t"))
    clean = spark.range(0, 100).select(
        "id", F.col("id").cast("string").alias("note")
    )
    t.create(clean.coalesce(1))                      # file 1: no nulls
    some_null = spark.range(100, 200).select(
        "id", F.when(F.col("id") % 10 == 0, None).otherwise(
            F.col("id").cast("string")).alias("note")
    )
    t.append(some_null.coalesce(1))                  # file 2: 10 nulls
    all_null = spark.range(200, 220).select(
        "id", F.lit(None).cast("string").alias("note")
    )
    t.append(all_null.coalesce(1))                   # file 3: all null

    # manifest carries the counts
    by_path = {f.path: f for f in t.current_snapshot().manifest}
    counts = sorted(f.null_count("note") for f in by_path.values())
    assert counts == [0, 10, 20]

    pruned = t.prune_files([("note", "is_null", None)])
    assert len(pruned) == 2                          # null-free file skipped
    assert all(f.null_count("note") > 0 for f in pruned)
    pruned2 = t.prune_files([("note", "is_not_null", None)])
    assert len(pruned2) == 2                         # all-null file skipped
    assert all(f.null_count("note") < f.row_count for f in pruned2)

    assert t.read(preds=[("note", "is_null", None)]).count() == 30
    assert t.read(preds=[("note", "is_not_null", None)]).count() == 190
    # combined with a range predicate
    rows = t.read(preds=[("note", "is_null", None), ("id", ">=", 200)])
    assert rows.count() == 20


def test_in_and_not_equal_pruning(spark, tmp_path):
    """IN prunes to files whose [min,max] covers any element; != prunes
    only constant files (min==max==value)."""
    t = HyTable(spark, str(tmp_path / "t"))
    t.create(spark.range(0, 100).toDF("id").coalesce(1))        # [0,99]
    t.append(spark.range(100, 200).toDF("id").coalesce(1))      # [100,199]
    t.append(spark.range(500, 501).toDF("id").coalesce(1))      # constant 500

    pruned = t.prune_files([("id", "in", [5, 150])])
    assert len(pruned) == 2
    assert t.read(preds=[("id", "in", [5, 150])]).count() == 2
    assert t.read(preds=[("id", "in", [5, 150, 9999])]).count() == 2

    pruned_ne = t.prune_files([("id", "!=", 500)])
    assert len(pruned_ne) == 2                    # constant file excluded
    assert t.read(preds=[("id", "!=", 500)]).count() == 200
    # != on a non-constant file keeps it
    assert t.read(preds=[("id", "!=", 5)]).count() == 200


# ---- concurrent writers: every outcome is some serial order ---------------
#
# A tiny table (id, v, p) partitioned by p.  The op under test runs on one
# handle; a second handle on the same root commits the racer after the op
# has written its files and before its first CAS (the racer runs from a
# patched ``HyTable._commit``, which also reaches the schema ops: they
# write no data file).  The outcome must equal
# the rows and columns of one of the two serial orders, or the op raises
# CommitConflict, leaves the racer's head in place, and a retry of the op
# then lands after the racer.

_COLS = ("id", "v", "p")


def _row(i, v=None):
    return {"id": i, "v": i * 2 if v is None else v, "p": i % 2}


def _frame(spark, rows):
    from iceberg_hybrid_spark.session import local_frame

    return local_frame(
        spark, [tuple(r[c] for c in _COLS) for r in rows], "id bigint, v bigint, p int"
    )


def _adding(rows):
    return lambda cols, table: (cols, table + rows)


def _replacing_keys(src):
    keys = {r["id"] for r in src}
    return lambda cols, table: (cols, [r for r in table if r["id"] not in keys] + src)


def _deleting_below(n):
    return lambda cols, table: (cols, [r for r in table if r["id"] >= n])


_MERGE_SRC = [_row(i, -2) for i in (5, 6, 7, 300)]
_UPSERT_SRC = [_row(i, -3) for i in (5, 6, 7)]
_PARTITION_SRC = [_row(i) for i in (400, 402)]

# name -> (run it on a handle, its effect on (columns, rows))
_WRITES = {
    "append": (
        lambda t: t.append(_frame(t.spark, [_row(i) for i in range(100, 103)])),
        _adding([_row(i) for i in range(100, 103)]),
    ),
    "append_other": (
        lambda t: t.append(_frame(t.spark, [_row(i) for i in range(200, 203)])),
        _adding([_row(i) for i in range(200, 203)]),
    ),
    "rewrite_data_files": (
        lambda t: t.rewrite_data_files(),
        lambda cols, table: (cols, table),
    ),
    "delete_where": (
        lambda t: t.delete_where([("id", "<", 10)]),
        _deleting_below(10),
    ),
    "update_where": (
        lambda t: t.update_where([("id", "<", 10)], {"v": "-1"}),
        lambda cols, table: (cols, [{**r, "v": -1} if r["id"] < 10 else r for r in table]),
    ),
    "merge": (
        lambda t: t.merge(_frame(t.spark, _MERGE_SRC), ["id"]),
        _replacing_keys(_MERGE_SRC),
    ),
    "overwrite_partitions": (
        lambda t: t.overwrite_partitions(_frame(t.spark, _PARTITION_SRC)),
        lambda cols, table: (cols, [r for r in table if r["p"] != 0] + _PARTITION_SRC),
    ),
    "upsert_mor": (
        lambda t: t.upsert_mor(_frame(t.spark, _UPSERT_SRC), ["id"]),
        _replacing_keys(_UPSERT_SRC),
    ),
    "delete_where_mor": (
        lambda t: t.delete_where_mor([("id", "<", 10)], ["id"]),
        _deleting_below(10),
    ),
    "add_column": (
        lambda t: t.add_column("a", "string"),
        lambda cols, table: (cols + ("a",), table),
    ),
    "add_column_other": (
        lambda t: t.add_column("b", "string"),
        lambda cols, table: (cols + ("b",), table),
    ),
    "rename_column": (
        lambda t: t.rename_column("v", "w"),
        lambda cols, table: (
            tuple("w" if c == "v" else c for c in cols),
            [{("w" if k == "v" else k): x for k, x in r.items()} for r in table],
        ),
    ),
}

_RACES = [
    (op, racer)
    for op in ("append", "rewrite_data_files", "delete_where", "update_where",
               "merge", "overwrite_partitions", "upsert_mor", "add_column")
    for racer in ("append_other", "rewrite_data_files")
] + [
    ("add_column", "add_column_other"),
    ("delete_where_mor", "rewrite_data_files"),
    ("rename_column", "rewrite_data_files"),
]


def _outcome(cols, rows):
    return list(cols), sorted((tuple(r.get(c) for c in cols) for r in rows), key=repr)


def _serial(first, then, start):
    return _outcome(*_WRITES[then][1](*_WRITES[first][1](*start)))


@pytest.mark.parametrize("op,racer", _RACES, ids=[f"{o}-vs-{r}" for o, r in _RACES])
def test_concurrent_commit_is_a_serial_order(spark, tmp_path, monkeypatch, op, racer):
    root = str(tmp_path / "tbl")
    start = (_COLS, [_row(i) for i in range(40)])
    t = HyTable(spark, root)
    t.create(_frame(spark, start[1]).repartition(2), partition_by=["p"])
    other = HyTable(spark, root)
    raced = []
    cas = HyTable._commit

    def racing_cas(self, snap, *args, **kwargs):
        if self is t and not raced:
            raced.append(_WRITES[racer][0](other).snapshot_id)
        return cas(self, snap, *args, **kwargs)

    monkeypatch.setattr(HyTable, "_commit", racing_cas)
    try:
        _WRITES[op][0](t)
        allowed = [_serial(op, racer, start), _serial(racer, op, start)]
    except CommitConflict:
        assert t.current_snapshot().snapshot_id == raced[0]
        monkeypatch.undo()
        _WRITES[op][0](t)
        allowed = [_serial(racer, op, start)]
    assert raced
    df = t.read()
    got = _outcome(tuple(df.columns), [r.asDict() for r in df.collect()])
    assert got in allowed
