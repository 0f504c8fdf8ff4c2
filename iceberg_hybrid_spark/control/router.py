"""Read routing — ≙ ReadRouter (active Scala + legacy Java variants).

- ``route_read``: candidate regions → prefer requested-if-healthy → else
  score all and argmax (ReadRouter.scala:24-47, :52-70, :75-88).
- ``score_region``: weighted health score 0.7*storage + 0.3*activity
  (ReadRouter.scala:93-116).
- ``get_data_files``: the query-engine handoff — resolve snapshot, rewrite
  file paths to the serving region's base (legacy-java ReadRouter.java:163-195).
- ``route_with_token``: consistency-token routing — serve CLOUD iff the
  requested commit is at or below the watermark, per policy
  (legacy ReadRouter.java:18-30).

Scoring is a pure column expression over the regions dimension — at scale
this is a broadcast join + ``max_by``, never a driver loop (the DataFrame
form is ``scores_df``; the scalar form mirrors the reference's API).
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .registry import ACTIVE, Registry


class TableNotFound(Exception):
    pass


class NoHealthyRegion(Exception):
    pass


class RoutingPolicy(str, Enum):
    """≙ legacy routing policies (legacy ReadRouter.java:18-30)."""

    PREFER_CLOUD = "PREFER_CLOUD"
    PREFER_ONPREM = "PREFER_ONPREM"
    MEET_WATERMARK = "MEET_WATERMARK"


@dataclass(frozen=True)
class ReadLocation:
    """≙ ReadLocation (ReadRouter.scala:147-152)."""

    table: str
    region: str
    base_path: str
    data_path: str


class ReadRouter:
    def __init__(self, registry: Registry, storage_health: dict[str, float] | None = None):
        self.registry = registry
        # storage availability signal per region in [0,1] (the reference
        # probes StoragePort health; we accept it as an input gauge).
        self.storage_health = storage_health or {}

    # ---- scoring -----------------------------------------------------------

    def score_region(self, region_id: str) -> float:
        """0.7 * storageAvailable + 0.3 * (active ? 1.0 : 0.3)
        — exact weights of ReadRouter.scala:104-111."""
        storage = self.storage_health.get(region_id, 1.0)
        active = self.registry._status.get(region_id) == ACTIVE
        return 0.7 * storage + 0.3 * (1.0 if active else 0.3)

    def scores_df(self) -> DataFrame:
        """The same score as a column expression over regions_df —
        SURVEY §2.A's prescribed Spark form."""
        regions = self.registry.regions_df()
        spark = regions.sparkSession
        health = local_frame(
            spark,
            [(r, float(h)) for r, h in self.storage_health.items()] or [("__none__", 1.0)],
            "region string, storage_health double",
        )
        return (
            regions.join(F.broadcast(health), "region", "left")
            .withColumn("storage_health", F.coalesce("storage_health", F.lit(1.0)))
            .withColumn(
                "score",
                F.round(
                    0.7 * F.col("storage_health")
                    + 0.3 * F.when(F.col("status") == ACTIVE, 1.0).otherwise(0.3),
                    6,
                ),
            )
            .select("region", "status", "storage_health", "score")
        )

    # ---- routing -----------------------------------------------------------

    def route_read(self, table: str, preferred_region: str | None = None) -> ReadLocation:
        candidates = self.registry.get_table_regions(table)
        if not candidates:
            raise TableNotFound(table)
        chosen = None
        if (
            preferred_region in candidates
            and self.storage_health.get(preferred_region, 1.0) > 0.0
            and self.registry._status.get(preferred_region) == ACTIVE
        ):
            chosen = preferred_region  # preferred-if-healthy (ReadRouter.scala:60-65)
        else:
            scored = [(r, self.score_region(r)) for r in candidates]
            scored = [(r, s) for r, s in scored if s > 0]
            if not scored:
                raise NoHealthyRegion(table)
            # argmax with deterministic tiebreak (maxByOption ≙ max_by)
            chosen = max(scored, key=lambda rs: (rs[1], rs[0]))[0]
        storage = self.registry.get_region_storage(chosen)
        data_path = self.registry.get_table_data_path(table, chosen)
        return ReadLocation(table, chosen, storage.base_path, data_path)

    def get_best_read_region(self, table: str, preferred: str | None = None) -> str:
        """3-tier fallback (legacy-java ReadRouter.java:63-93):
        preferred-if-active → best active → any (degraded)."""
        candidates = self.registry.get_table_regions(table)
        if not candidates:
            raise TableNotFound(table)
        if preferred in candidates and self.registry._status.get(preferred) == ACTIVE:
            return preferred
        active = [r for r in candidates if self.registry._status.get(r) == ACTIVE]
        if active:
            return max(active, key=lambda r: (self.score_region(r), r))
        return candidates[0]  # degraded read

    def get_data_files(self, table: str, files: DataFrame, preferred: str | None = None) -> DataFrame:
        """Query-engine handoff with path localization
        (ReadRouter.java:163-195; rewrite at :186-189): keep each file's
        name, re-base onto the serving region's path."""
        loc = self.route_read(table, preferred)
        base = loc.data_path.rstrip("/")
        return files.withColumn(
            "serving_path",
            F.concat(
                F.lit(base + "/"),
                F.element_at(F.split(F.col("file_path"), "/"), -1),
            ),
        ).withColumn("serving_region", F.lit(loc.region))

    # ---- consistency-token routing ----------------------------------------

    @staticmethod
    def route_with_token(
        requested_commit_ts_ms: int,
        watermark_ts_ms: int | None,
        policy: RoutingPolicy = RoutingPolicy.MEET_WATERMARK,
    ) -> str:
        """CLOUD iff requested.commitTs ≤ token.highWatermarkTs
        (legacy ReadRouter.java:18-30); PREFER_* bias the tie."""
        mirror_caught_up = (
            watermark_ts_ms is not None and requested_commit_ts_ms <= watermark_ts_ms
        )
        if policy == RoutingPolicy.PREFER_ONPREM:
            return "ONPREM"
        if policy == RoutingPolicy.PREFER_CLOUD:
            return "CLOUD" if mirror_caught_up else "ONPREM"
        return "CLOUD" if mirror_caught_up else "ONPREM"
