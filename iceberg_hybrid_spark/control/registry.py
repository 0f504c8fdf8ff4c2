"""Region/placement registry — ≙ RegistryPort + InMemoryRegistryAdapter.

The reference keeps three keyed maps (placements, storage locations,
region status — InMemoryRegistryAdapter.scala:11-15).  Here the state
lives as plain records with DataFrame views for the set-oriented
operations (the Spark mapping SURVEY §2.A prescribes: placement lookups
as broadcast-join-able dimension tables, status filters as `.filter`).

At scale these are exactly the "small dimension tables" that broadcast
into every placement-aware join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as SPARK_T

from ..session import local_frame

ACTIVE = "Active"
INACTIVE = "Inactive"
MAINTENANCE = "Maintenance"
FAILED = "Failed"
_STATUSES = {ACTIVE, INACTIVE, MAINTENANCE, FAILED}


@dataclass(frozen=True)
class Region:
    """≙ Region(id, displayName) — modules/domain/Region.scala:12-27."""

    region_id: str
    display_name: str

    def __post_init__(self):
        if not self.region_id:
            raise ValueError("region id must not be empty")


@dataclass(frozen=True)
class StorageLocation:
    """≙ StorageLocation — modules/domain/StorageLocation.scala:6-21."""

    region_id: str
    endpoint: str
    bucket: str
    path_prefix: str

    @property
    def base_path(self) -> str:
        return f"{self.bucket}/{self.path_prefix}".rstrip("/")


@dataclass(frozen=True)
class BatchRegistrationResult:
    """≙ BatchRegistrationResult — per-row failure accounting
    (modules/domain/BatchRegistrationResult.scala:4-45)."""

    successful: int
    failed: int
    errors: tuple[str, ...]


class Registry:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._regions: dict[str, Region] = {}
        self._status: dict[str, str] = {}
        self._storage: dict[str, StorageLocation] = {}
        # (namespace.table, region) -> data path
        self._placements: dict[tuple[str, str], str] = {}

    # ---- region dimension --------------------------------------------------

    def register_region(self, region: Region, storage: StorageLocation) -> None:
        self._regions[region.region_id] = region
        self._storage[region.region_id] = storage
        self._status.setdefault(region.region_id, ACTIVE)

    def update_region_status(self, region_id: str, status: str) -> None:
        if status not in _STATUSES:
            raise ValueError(f"invalid status {status!r}")
        if region_id not in self._regions:
            raise KeyError(region_id)
        self._status[region_id] = status

    def get_region_storage(self, region_id: str) -> StorageLocation:
        return self._storage[region_id]

    def get_active_regions(self) -> list[str]:
        return sorted(r for r, s in self._status.items() if s == ACTIVE)

    # ---- placements --------------------------------------------------------

    def register_table_location(self, table: str, region_id: str, data_path: str) -> None:
        if region_id not in self._regions:
            raise KeyError(f"unknown region {region_id}")
        self._placements[(table, region_id)] = data_path

    def register_batch(
        self, registrations: list[tuple[str, str, str]]
    ) -> BatchRegistrationResult:
        """Bulk upsert with per-row failure accounting
        (RegistryPort.scala:40-53)."""
        ok = 0
        errors = []
        for table, region_id, path in registrations:
            try:
                self.register_table_location(table, region_id, path)
                ok += 1
            except Exception as e:  # noqa: BLE001 — per-row accounting
                errors.append(f"{table}@{region_id}: {e}")
        return BatchRegistrationResult(ok, len(errors), tuple(errors))

    def get_table_data_path(self, table: str, region_id: str) -> str | None:
        return self._placements.get((table, region_id))

    def get_table_regions(self, table: str) -> list[str]:
        return sorted(r for (t, r) in self._placements if t == table)

    def get_region_tables(self, region_id: str) -> list[str]:
        return sorted(t for (t, r) in self._placements if r == region_id)

    # ---- DataFrame views (the set-oriented surface) ------------------------

    _REGIONS_SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("region", SPARK_T.StringType()),
        SPARK_T.StructField("display_name", SPARK_T.StringType()),
        SPARK_T.StructField("status", SPARK_T.StringType()),
        SPARK_T.StructField("endpoint", SPARK_T.StringType()),
        SPARK_T.StructField("bucket", SPARK_T.StringType()),
        SPARK_T.StructField("path_prefix", SPARK_T.StringType()),
    ])

    def regions_df(self) -> DataFrame:
        rows = [
            (
                r.region_id, r.display_name, self._status[r.region_id],
                self._storage[r.region_id].endpoint,
                self._storage[r.region_id].bucket,
                self._storage[r.region_id].path_prefix,
            )
            for r in self._regions.values()
        ]
        return local_frame(self.spark, rows, self._REGIONS_SCHEMA)

    _PLACEMENTS_SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("table_name", SPARK_T.StringType()),
        SPARK_T.StructField("region", SPARK_T.StringType()),
        SPARK_T.StructField("data_path", SPARK_T.StringType()),
    ])

    def placements_df(self) -> DataFrame:
        rows = [(t, r, p) for (t, r), p in sorted(self._placements.items())]
        return local_frame(self.spark, rows, self._PLACEMENTS_SCHEMA)

    def get_table_data_paths_batch(self, requests: DataFrame) -> DataFrame:
        """Bulk point lookups as a broadcast left join
        (RegistryPort.getTableDataPathsBatch ≙ requests ⟕ placements)."""
        return requests.join(
            F.broadcast(self.placements_df()), ["table_name", "region"], "left"
        )
