"""Commit gate — ≙ CommitGatePort + InMemoryCommitGateAdapter.

Quorum semantics (InMemoryCommitGateAdapter.java:212-227): a commit is
approved iff every required region approved and none rejected; any
rejection kills the request immediately.  The quorum check itself is the
counting aggregation SURVEY §2.A maps it to:
``count(approved) == count(required) && count(rejected) == 0``.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as SPARK_T

from ..session import local_frame


class GateDecision(str, Enum):
    PENDING = "Pending"
    APPROVED = "Approved"
    REJECTED = "Rejected"
    COMPLETED = "Completed"
    FAILED = "Failed"
    CANCELLED = "Cancelled"


@dataclass
class CommitStatus:
    """≙ CommitStatus (CommitGatePort.scala:42-57)."""

    request_id: str
    decision: GateDecision
    required_regions: tuple[str, ...]
    approved_regions: tuple[str, ...] = ()
    rejected_regions: tuple[str, ...] = ()


@dataclass
class _Request:
    request_id: str
    table: str
    commit_id: str
    required: tuple[str, ...]
    votes: dict[str, bool] = field(default_factory=dict)  # region -> approve?
    decision: GateDecision = GateDecision.PENDING
    created_at_ms: int = field(default_factory=lambda: int(time.time() * 1000))


class CommitGate:
    def __init__(self, spark: SparkSession, required_regions: dict[str, tuple[str, ...]] | None = None):
        self.spark = spark
        # per-table quorum config (≙ getRequiredApprovalRegions, :230-254)
        self._required = required_regions or {}
        self._requests: dict[str, _Request] = {}

    def get_required_approval_regions(self, table: str) -> tuple[str, ...]:
        return self._required.get(table, ())

    def request_commit_approval(self, request_id: str, table: str, commit_id: str) -> CommitStatus:
        req = _Request(request_id, table, commit_id, self.get_required_approval_regions(table))
        self._requests[request_id] = req
        if not req.required:  # no quorum configured → auto-approved
            req.decision = GateDecision.APPROVED
        return self.get_commit_status(request_id)

    def approve_commit(self, request_id: str, region: str) -> CommitStatus:
        return self._vote(request_id, region, True)

    def reject_commit(self, request_id: str, region: str) -> CommitStatus:
        return self._vote(request_id, region, False)

    def _vote(self, request_id: str, region: str, approve: bool) -> CommitStatus:
        req = self._requests[request_id]
        if req.decision in (GateDecision.PENDING,):
            if region not in req.required:
                raise ValueError(f"{region} is not a required approver for {req.table}")
            req.votes[region] = approve
            req.decision = self._quorum_decision(req)
        return self.get_commit_status(request_id)

    def _quorum_decision(self, req: _Request) -> GateDecision:
        """any rejection → REJECTED; all required approved → APPROVED."""
        if any(v is False for v in req.votes.values()):
            return GateDecision.REJECTED
        if all(req.votes.get(r) is True for r in req.required):
            return GateDecision.APPROVED
        return GateDecision.PENDING

    def notify_commit_completed(self, request_id: str) -> None:
        self._requests[request_id].decision = GateDecision.COMPLETED

    def notify_commit_failed(self, request_id: str) -> None:
        self._requests[request_id].decision = GateDecision.FAILED

    def cancel_commit_request(self, request_id: str) -> None:
        req = self._requests[request_id]
        if req.decision == GateDecision.PENDING:
            req.decision = GateDecision.CANCELLED

    def get_commit_status(self, request_id: str) -> CommitStatus:
        req = self._requests[request_id]
        return CommitStatus(
            request_id=req.request_id,
            decision=req.decision,
            required_regions=req.required,
            approved_regions=tuple(sorted(r for r, v in req.votes.items() if v)),
            rejected_regions=tuple(sorted(r for r, v in req.votes.items() if not v)),
        )

    def get_pending_commits(self) -> list[str]:
        return sorted(
            rid for rid, r in self._requests.items() if r.decision == GateDecision.PENDING
        )

    # ---- the quorum check as an aggregation (SURVEY §2.A mapping) ----------

    _VOTES_SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("request_id", SPARK_T.StringType()),
        SPARK_T.StructField("region", SPARK_T.StringType()),
        SPARK_T.StructField("required", SPARK_T.BooleanType()),
        SPARK_T.StructField("vote", SPARK_T.StringType()),  # approved|rejected|null
    ])

    def votes_df(self) -> DataFrame:
        rows = []
        for req in self._requests.values():
            for region in req.required:
                vote = req.votes.get(region)
                rows.append(
                    (req.request_id, region, True,
                     None if vote is None else ("approved" if vote else "rejected"))
                )
        return local_frame(self.spark, rows, self._VOTES_SCHEMA)

    def quorum_df(self) -> DataFrame:
        """Per-request decision computed as the counting aggregation:
        approved == required && rejected == 0."""
        v = self.votes_df()
        agg = v.groupBy("request_id").agg(
            F.count(F.lit(1)).alias("required_count"),
            F.sum(F.when(F.col("vote") == "approved", 1).otherwise(0)).alias("approved_count"),
            F.sum(F.when(F.col("vote") == "rejected", 1).otherwise(0)).alias("rejected_count"),
        )
        return agg.withColumn(
            "decision",
            F.when(F.col("rejected_count") > 0, GateDecision.REJECTED.value)
            .when(F.col("approved_count") == F.col("required_count"), GateDecision.APPROVED.value)
            .otherwise(GateDecision.PENDING.value),
        )
