"""Backpressure / congestion control — ≙ the replication rate controller
(iceberg-arch-hybrid-replica-dr.md:172-185, :478-507).

Inputs per control tick: copy failure rate and mirror lag.  Outputs: the
concurrency/rate budget for the next tick and whether write-side gating
should engage.  Policy mirrors the doc:

- failure rate above threshold → multiplicative backoff;
- healthy + lag under target → additive recovery up to the cap;
- lag beyond the hard limit → write-side gating (slow the producer);
- newest-snapshot-first prioritization is exposed as a sort key helper.

This is the driver-side control loop.  The replication stream
(``streaming.sync_stream.start_replication_stream``) ticks it per drained
commit and exposes ``RateController.gate_writes`` as the write-side gating
signal; that is the only output anything acts on.  The concurrency budget
is computed and kept in ``RateController.decisions`` but drives no copy:
replication copies one file at a time in the driver.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class BackpressureConfig:
    min_concurrency: int = 1
    max_concurrency: int = 32
    failure_rate_high: float = 0.005   # doc: replication failure rate < 0.5 %
    lag_target_s: int = 900            # regional_commit_lag P95 target
    lag_hard_limit_s: int = 1800       # cross-continent bound → gate writes
    backoff_factor: float = 0.5
    recovery_step: int = 2


@dataclass(frozen=True)
class BackpressureDecision:
    concurrency: int
    gate_writes: bool
    reason: str


def next_budget(
    current_concurrency: int,
    failure_rate: float,
    mirror_lag_s: float,
    cfg: BackpressureConfig = BackpressureConfig(),
) -> BackpressureDecision:
    """One control tick: pure function → deterministic and testable."""
    if failure_rate > cfg.failure_rate_high:
        c = max(cfg.min_concurrency, int(current_concurrency * cfg.backoff_factor))
        return BackpressureDecision(c, mirror_lag_s > cfg.lag_hard_limit_s,
                                    "backoff:failure_rate")
    if mirror_lag_s > cfg.lag_hard_limit_s:
        # healthy copies but hopeless lag → full throttle + gate producers
        return BackpressureDecision(cfg.max_concurrency, True, "gate:lag_hard_limit")
    if mirror_lag_s > cfg.lag_target_s:
        # behind but recoverable → push harder
        c = min(cfg.max_concurrency, current_concurrency + cfg.recovery_step)
        return BackpressureDecision(c, False, "recover:lag_above_target")
    # healthy: drift back toward the cap gently
    c = min(cfg.max_concurrency, current_concurrency + 1)
    return BackpressureDecision(c, False, "steady")


class RateController:
    """Stateful wrapper over ``next_budget`` — one instance per
    replication worker.  ``tick()`` feeds the latest observations and
    returns the budget for the next drain; the decision history is kept
    for observability/tests (≙ the doc's control loop emitting its rate
    decisions as metrics)."""

    def __init__(self, cfg: BackpressureConfig = BackpressureConfig(),
                 initial_concurrency: int | None = None):
        self.cfg = cfg
        self.concurrency = initial_concurrency or cfg.max_concurrency
        self.gate_writes = False
        self.decisions: list[BackpressureDecision] = []
        # last observed copy failure rate — lives on the controller (not
        # the consuming stream) so it survives a streaming-query restart
        # after a failed batch and the retry ticks into backoff
        self.last_failure_rate = 0.0

    def record_failure(self) -> None:
        self.last_failure_rate = 1.0

    def record_success(self) -> None:
        self.last_failure_rate = 0.0

    def tick(self, failure_rate: float, mirror_lag_s: float) -> BackpressureDecision:
        d = next_budget(self.concurrency, failure_rate, mirror_lag_s, self.cfg)
        self.concurrency = d.concurrency
        self.gate_writes = d.gate_writes
        self.decisions.append(d)
        return d


def snapshot_priority_key(sequence_number: int, is_latest: bool) -> tuple:
    """Prioritize the newest snapshot (doc: catch-up syncs serve the head
    first, then backfill): sort ascending by this key."""
    return (0 if is_latest else 1, -sequence_number)
