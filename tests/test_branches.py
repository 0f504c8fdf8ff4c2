"""Branch writes + fast-forward — ≙ promote_to_regional_branch
(iceberg-arch-geo-distributed-ha.md:287-311): regional writers commit to
a branch; main advances only by verified CAS fast-forward."""

import time

import pytest

from iceberg_hybrid_spark.lake import gc as G
from iceberg_hybrid_spark.lake.table import CommitConflict, HyTable, NoSuchSnapshot


@pytest.fixture()
def table(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "tbl"))
    t.create(spark.range(0, 100).toDF("id"))
    return t


def test_branch_write_invisible_to_main(spark, table):
    table.create_branch("eu_replica")
    table.append_to_branch("eu_replica", spark.range(100, 150).toDF("id"))
    assert table.read().count() == 100          # main unchanged
    assert table.read_branch("eu_replica").count() == 150


def test_fast_forward_publishes_branch(spark, table):
    table.create_branch("eu_replica")
    table.append_to_branch("eu_replica", spark.range(100, 150).toDF("id"))
    table.append_to_branch("eu_replica", spark.range(150, 160).toDF("id"))
    snap = table.fast_forward("eu_replica")
    assert snap.operation == "fast_forward"
    assert table.read().count() == 160


def test_fast_forward_rejects_diverged_main(spark, table):
    table.create_branch("eu_replica")
    table.append_to_branch("eu_replica", spark.range(100, 150).toDF("id"))
    # main moves independently → branch no longer descends from main head
    table.append(spark.range(1000, 1010).toDF("id"))
    with pytest.raises(CommitConflict, match="does not descend"):
        table.fast_forward("eu_replica")


def test_branch_requires_existing_table(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "empty"))
    with pytest.raises(NoSuchSnapshot):
        t.create_branch("b")


def test_duplicate_branch_rejected(table):
    table.create_branch("b")
    with pytest.raises(FileExistsError):
        table.create_branch("b")


def test_branch_from_historical_seq(spark, table):
    table.append(spark.range(100, 200).toDF("id"))
    table.create_branch("old", seq=1)
    assert table.read_branch("old").count() == 100


def test_expire_snapshots_protects_branch_heads(spark, table):
    """A branch head referencing an old snapshot must survive expiry —
    expiring it would unlink its version file and delete its exclusive
    data files (live branch data loss)."""
    table.create_branch("eu_replica")
    table.append_to_branch("eu_replica", spark.range(100, 150).toDF("id"))
    # advance main well past the branch point
    for lo in range(3):
        table.append(spark.range(1000 + lo, 1001 + lo).toDF("id"))
    table.expire_snapshots(retain_last=1)
    # the branch is still fully readable, including its exclusive files
    assert table.read_branch("eu_replica").count() == 150


def test_expire_snapshots_still_drops_unreferenced(spark, table):
    table.create_branch("b")
    for lo in range(4):
        table.append(spark.range(200 + lo, 201 + lo).toDF("id"))
    res = table.expire_snapshots(retain_last=1)
    assert res["expired_snapshots"] > 0
    assert table.read_branch("b").count() == 100


def test_tag_pins_snapshot_and_is_immutable(spark, table):
    table.create_tag("v1")
    table.append(spark.range(100, 150).toDF("id"))
    assert table.read().count() == 150
    assert table.read_tag("v1").count() == 100  # tag time-travels
    with pytest.raises(FileExistsError):
        table.create_tag("v1")  # tags can never be repointed
    assert table.drop_tag("v1") is True
    assert table.drop_tag("v1") is False
    with pytest.raises(NoSuchSnapshot):
        table.read_tag("v1")


def test_refs_metadata_table(spark, table):
    table.create_tag("v1")
    table.create_branch("eu_replica")
    table.append_to_branch("eu_replica", spark.range(100, 120).toDF("id"))
    refs = {(r.ref_name, r.ref_type, r.sequence_number) for r in table.refs().collect()}
    assert ("main", "BRANCH", 1) in refs
    assert ("v1", "TAG", 1) in refs
    # the branch head is the staged branch_append commit, one seq ahead
    assert any(n == "eu_replica" and t == "BRANCH" and s > 1 for n, t, s in refs)


def test_expire_keeps_tag_head(spark, table):
    """An old tag's snapshot (and its exclusive files) must survive
    retain_last expiry — ref-protected expire_snapshots."""
    table.create_tag("v1")
    for lo in range(100, 400, 100):
        table.append(spark.range(lo, lo + 10).toDF("id"))
    table.expire_snapshots(retain_last=1)
    assert table.read_tag("v1").count() == 100  # still readable


def test_gc_producer_keeps_ref_heads(spark, table):
    """Every ref head is a GC root: a retention window that has moved
    past the snapshot a tag and a branch point at does not make the
    producer mark their files, and an aged plan leaves both readable."""
    table.create_tag("v1", seq=1)
    table.create_branch("b", seq=1)
    table.overwrite(spark.range(0, 5).toDF("id"))
    table.overwrite(spark.range(0, 3).toDF("id"))
    now = int(time.time() * 1000)
    gen = now - 400_000
    cands = G.produce_candidates(table, retain_last=1, grace_s=0, now_ms=gen)
    assert {c.file_uri for c in cands} == {f.path for f in table.snapshot_by_seq(2).manifest}
    plan = G.DeletePlan(table.root, cands, gen, gen, now + 10**7)
    assert {e.result for e in G.apply_delete_plan(plan, safety_delay_s=60, now_ms=now)} == {"deleted"}
    assert table.read_tag("v1").count() == 100
    assert table.read_branch("b").count() == 100
    assert table.read().count() == 3


def test_refs_share_one_namespace(table):
    table.create_tag("r")
    with pytest.raises(FileExistsError):
        table.create_branch("r")
    with pytest.raises(NoSuchSnapshot):
        table.branch_head("r")


def test_branch_append_retries_a_lost_pointer_race(spark, table, monkeypatch):
    """A second handle appends to the branch between this append's
    snapshot commit and its pointer move: the move is a CAS on the ref
    version the commit was based on, so it fails, the append retries on
    the racer's head, and neither append is lost."""
    table.create_branch("b")
    other = HyTable(spark, table.root)
    raced = []
    cas = HyTable._commit

    def commit_then_race(self, snap):
        out = cas(self, snap)
        if self is table and not raced:
            raced.append(other.append_to_branch("b", spark.range(100, 103).toDF("id")))
        return out

    monkeypatch.setattr(HyTable, "_commit", commit_then_race)
    table.append_to_branch("b", spark.range(200, 205).toDF("id"))
    assert raced
    assert table.read_branch("b").count() == 100 + 3 + 5
