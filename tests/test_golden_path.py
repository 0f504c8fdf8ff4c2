"""The canonical end-to-end flow — ≙ the replica-DR golden path
(legacy HappyPathInMemoryTest.java:56-101 / HybridAppConfiguration.java:108-214):

commit → plan(diff) → copy → shadow-commit → verify → promote →
save watermark → route reads by token → lease-guarded GC → delete.

Every control-plane component participates; assertions mirror the
reference's (mirror readable, CLOUD routing after catch-up, GC blocked
then executed).
"""

import time

import pytest

from iceberg_hybrid_spark.control.gate import CommitGate, GateDecision
from iceberg_hybrid_spark.control.leases import LeaseStore
from iceberg_hybrid_spark.control.router import ReadRouter, RoutingPolicy
from iceberg_hybrid_spark.control.tokens import ConsistencyToken, TokenStore
from iceberg_hybrid_spark.lake import gc as G
from iceberg_hybrid_spark.lake import replication as R
from iceberg_hybrid_spark.lake.catalog import HyCatalog


@pytest.fixture()
def env(spark, tmp_path):
    onprem = HyCatalog(spark, str(tmp_path / "onprem"))
    cloud = HyCatalog(spark, str(tmp_path / "cloud"))
    return onprem, cloud


def test_golden_path(spark, env, tmp_path):
    onprem, cloud = env
    table = "sales.orders"

    # 1-2. quorum-gated commit on the source of truth
    gate = CommitGate(spark, {table: ("onprem", "cloud")})
    st = gate.request_commit_approval("req-1", table, "c-1")
    gate.approve_commit("req-1", "onprem")
    st = gate.approve_commit("req-1", "cloud")
    assert st.decision == GateDecision.APPROVED
    src = onprem.create_table(table, spark.range(0, 1000).selectExpr("id", "id * 2 AS amount"))
    gate.notify_commit_completed("req-1")
    s1 = src.current_snapshot()

    # 3-6. plan → copy → shadow-commit → verify → promote to the mirror
    dst_root = str(tmp_path / "cloud" / "sales" / "orders")
    from iceberg_hybrid_spark.lake.table import HyTable

    dst = HyTable(spark, dst_root)
    todo = R.plan(src, dst)
    assert {f.path for f in todo} == {f.path for f in s1.manifest}
    published, metrics = R.replicate(src, dst)
    assert metrics.files_copied == len(todo)
    assert cloud.load_table(table).read().count() == 1000

    # 7. save the consistency watermark
    tokens = TokenStore(spark)
    tokens.save_token(
        ConsistencyToken(table, s1.timestamp_ms, s1.sequence_number)
    )

    # 8. reads at/below the watermark route to CLOUD; newer ones to ONPREM
    tok = tokens.load_token(table)
    assert ReadRouter.route_with_token(
        s1.timestamp_ms, tok.high_watermark_ts_ms, RoutingPolicy.MEET_WATERMARK
    ) == "CLOUD"
    assert ReadRouter.route_with_token(
        s1.timestamp_ms + 10_000, tok.high_watermark_ts_ms
    ) == "ONPREM"

    # 9. a second commit makes snapshot-1 files GC candidates after expiry
    src.overwrite(spark.range(0, 10).selectExpr("id", "id * 2 AS amount"))
    now = int(time.time() * 1000)
    gen = now - 400_000
    cands = G.produce_candidates(src, retain_last=1, grace_s=0, now_ms=gen)
    assert cands

    # 10. an in-flight query holds a lease on snapshot 1 → the GC floor
    # (produce_candidates(min_leased_seq=…), the real library path since
    # round 9) keeps every snapshot at/after it reachable: no candidates
    leases = LeaseStore(spark)
    lease = leases.create(table, snapshot_seq=1, holder="bi-dashboard", ttl_s=60)
    plan = G.DeletePlan(src.root, cands, gen, gen, now + 10**7)
    assert G.produce_candidates(
        src, retain_last=1, grace_s=0, now_ms=gen,
        min_leased_seq=leases.min_leased_seq(table),
    ) == []

    # 11-12. lease released → safety-windowed delete executes
    leases.release(lease.lease_id)
    assert leases.min_leased_seq(table) is None
    execs = G.apply_delete_plan(plan, safety_delay_s=60, now_ms=now)
    assert all(e.result == "deleted" for e in execs)

    # 13. the current snapshot still reads fine after GC
    assert src.read().count() == 10
    # 14. and the mirror still serves the watermarked version
    assert dst.read().count() == 1000


def test_golden_path_rejected_commit(spark, env):
    onprem, _ = env
    gate = CommitGate(spark, {"sales.orders": ("onprem", "cloud")})
    gate.request_commit_approval("req-1", "sales.orders", "c-1")
    gate.approve_commit("req-1", "onprem")
    st = gate.reject_commit("req-1", "cloud")
    assert st.decision == GateDecision.REJECTED
    # no commit happens on rejection — table never created
    assert not onprem.table_exists("sales.orders")
