"""Backpressure / congestion control — ≙ the replication rate controller
(iceberg-arch-hybrid-replica-dr.md:172-185, :478-507).

Inputs per control tick: copy failure rate and mirror lag.  Outputs: the
concurrency/rate budget for the next tick and whether write-side gating
should engage.  Policy mirrors the doc:

- failure rate above threshold → multiplicative backoff;
- healthy + lag under target → additive recovery up to the cap;
- lag beyond the hard limit → write-side gating (slow the producer).

The policy's one caller is the oracle-checked
``queries.lake_ops.backpressure_budget_trajectory`` query, which folds a
day-by-day observation series through ``RateController.tick``.  No sync
path reads the budget: replication copies one file at a time in the
driver, and ``coordinate_write`` gates on the commit gate alone.
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
    """Stateful wrapper over ``next_budget`` with the default policy:
    ``tick()`` feeds the latest observations and returns the decision;
    the next tick starts from its concurrency (≙ the doc's control
    loop)."""

    def __init__(self):
        self.concurrency = BackpressureConfig().max_concurrency

    def tick(self, failure_rate: float, mirror_lag_s: float) -> BackpressureDecision:
        d = next_budget(self.concurrency, failure_rate, mirror_lag_s)
        self.concurrency = d.concurrency
        return d
