"""Query leases — ≙ LeasePort (legacy LeasePort.java:6-11).

TTL leases on (table, snapshot) protecting in-flight queries from GC;
``list_active`` is the non-expired filter, and ``holds_for`` feeds the
GC watermark guard (a leased snapshot's files must never be candidates).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as SPARK_T

from ..session import local_frame


@dataclass(frozen=True)
class QueryLease:
    lease_id: str
    table: str
    snapshot_seq: int
    holder: str
    expire_at_ms: int


class LeaseStore:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._leases: dict[str, QueryLease] = {}

    def create(self, table: str, snapshot_seq: int, holder: str, ttl_s: int) -> QueryLease:
        lease = QueryLease(
            lease_id=f"lease-{uuid.uuid4().hex[:12]}",
            table=table,
            snapshot_seq=snapshot_seq,
            holder=holder,
            expire_at_ms=int(time.time() * 1000) + ttl_s * 1000,
        )
        self._leases[lease.lease_id] = lease
        return lease

    def renew(self, lease_id: str, ttl_s: int) -> QueryLease:
        old = self._leases[lease_id]
        renewed = QueryLease(
            old.lease_id, old.table, old.snapshot_seq, old.holder,
            int(time.time() * 1000) + ttl_s * 1000,
        )
        self._leases[lease_id] = renewed
        return renewed

    def release(self, lease_id: str) -> None:
        self._leases.pop(lease_id, None)

    def list_active(self, now_ms: int | None = None) -> list[QueryLease]:
        now_ms = now_ms or int(time.time() * 1000)
        return sorted(
            (l for l in self._leases.values() if l.expire_at_ms > now_ms),
            key=lambda l: l.lease_id,
        )

    def min_leased_seq(self, table: str, now_ms: int | None = None) -> int | None:
        """Oldest snapshot still leased for a table — the GC floor."""
        seqs = [l.snapshot_seq for l in self.list_active(now_ms) if l.table == table]
        return min(seqs) if seqs else None

    _SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("lease_id", SPARK_T.StringType()),
        SPARK_T.StructField("table_name", SPARK_T.StringType()),
        SPARK_T.StructField("snapshot_seq", SPARK_T.LongType()),
        SPARK_T.StructField("holder", SPARK_T.StringType()),
        SPARK_T.StructField("expire_at_ms", SPARK_T.LongType()),
    ])

    def leases_df(self) -> DataFrame:
        rows = [
            (l.lease_id, l.table, l.snapshot_seq, l.holder, l.expire_at_ms)
            for l in self._leases.values()
        ]
        return local_frame(self.spark, rows, self._SCHEMA)
