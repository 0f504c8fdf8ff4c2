from iceberg_hybrid_spark.control.backpressure import (
    BackpressureConfig,
    next_budget,
)


def test_failure_rate_backs_off_multiplicatively():
    d = next_budget(16, failure_rate=0.02, mirror_lag_s=100)
    assert d.concurrency == 8 and not d.gate_writes
    assert d.reason == "backoff:failure_rate"


def test_backoff_floors_at_min():
    d = next_budget(1, failure_rate=0.5, mirror_lag_s=100)
    assert d.concurrency == 1


def test_hard_lag_gates_writes():
    d = next_budget(8, failure_rate=0.0, mirror_lag_s=3600)
    assert d.gate_writes and d.concurrency == 32


def test_lag_above_target_recovers_additively():
    d = next_budget(8, failure_rate=0.0, mirror_lag_s=1200)
    assert d.concurrency == 10 and not d.gate_writes


def test_steady_state_drifts_to_cap():
    cfg = BackpressureConfig(max_concurrency=4)
    d = next_budget(4, failure_rate=0.0, mirror_lag_s=10, cfg=cfg)
    assert d.concurrency == 4 and d.reason == "steady"


def test_failing_and_lagging_gates_and_backs_off():
    d = next_budget(16, failure_rate=0.02, mirror_lag_s=3600)
    assert d.concurrency == 8 and d.gate_writes


def test_budget_trajectory_query_exercises_every_branch(spark):
    """The oracle-gated trajectory query must drive all four policy
    branches (backoff / hard-limit gate / recovery / steady) — otherwise
    the recursive-CTE oracle would be green while pinning only part of
    the policy — and its decisions must replay exactly through a fresh
    RateController."""
    from iceberg_hybrid_spark.control.backpressure import RateController
    from iceberg_hybrid_spark.queries.lake_ops import (
        backpressure_budget_trajectory,
    )

    rows = backpressure_budget_trajectory(spark, "/root/testdata/sf0.01").collect()
    reasons = {r.reason for r in rows}
    assert reasons == {
        "backoff:failure_rate", "gate:lag_hard_limit",
        "recover:lag_above_target", "steady",
    }
    ctl = RateController()
    for r in rows:
        d = ctl.tick(r.failure_rate, float(r.mirror_lag_s))
        assert (d.concurrency, d.gate_writes, d.reason) == (
            r.concurrency, r.gate_writes, r.reason
        ), r
