"""HyTable — a from-scratch snapshot table format on parquet.

Re-implements, Spark-first and without any Iceberg runtime, the table
semantics the reference coordinates (SURVEY.md §1-§2):

- immutable snapshots with monotonic sequence numbers
  (≙ ``TableMetadata``/``SnapshotId``, modules/domain/TableMetadata.scala:9-16,
  legacy/modules/domain/SnapshotId.java:23)
- optimistic CAS commits with bounded retry
  (≙ ``commitSnapshot(expectedParent)``, legacy CatalogPort.java:63;
  doc iceberg-arch-geo-distributed-ha.md:287-311)
- per-snapshot data-file manifests (≙ ``Manifest``/``FileRef``,
  legacy/modules/domain/Manifest.java:3, FileRef.java:3-4)
- time travel + commit history (≙ ``getCommitHistory``, CatalogPort.scala:43-52)
- snapshot diff / incremental read (≙ ReplicationPlanner.java:70-99)
- staged commits + publish — write-audit-publish
  (≙ ``setVisibility`` "verify and promote", legacy CatalogPort.java:75)
- snapshot expiry and orphan-file detection
  (≙ gc-producer / orphan detection, iceberg-arch-geo-distributed-ha.md:778-916)

Metadata layout (one directory per table)::

    <root>/data/<commit-uuid>/part-*.parquet
    <root>/_meta/v<seq:06d>.json        ← snapshot file; O_EXCL create = CAS

The commit primitive is ``open(v{N+1}.json, O_CREAT|O_EXCL)``: exactly one
writer can create the next version file, losers re-read and retry — the
same optimistic protocol Iceberg catalogs implement, using the filesystem
as the atomic register.  On an object store the same protocol runs against
a conditional-put (If-None-Match) or a catalog service; only ``_commit``
changes.

Scale posture: metadata ops are O(files-in-snapshot) driver-side JSON
(fine up to millions of files — this is what Iceberg manifests are), and
all *data* movement is Spark jobs; nothing row-level ever touches the
driver.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid
import zlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as SPARK_T

from ..session import local_frame

_META = "_meta"
_DATA = "data"

# ---- hidden partitioning (Iceberg partition transforms) --------------------
#
# A partition spec entry is either a plain column name (identity) or a
# transform: bucket(N, col), truncate(W, col), years(col), months(col),
# days(col), hours(col).  Data files are laid out by the TRANSFORMED value;
# queries only ever reference the source column, and pruning maps source
# predicates through the transform (Iceberg "hidden partitioning" — the
# reference's FileRef.partition strings are exactly these dir values).

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_PARAM_RE = re.compile(r"^(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$")
_TIME_RE = re.compile(r"^(years?|months?|days?|hours?)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)$")

_TIME_SPARK_FMT = {"year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd", "hour": "yyyy-MM-dd-HH"}
_TIME_PY_FMT = {"year": "%Y", "month": "%Y-%m", "day": "%Y-%m-%d", "hour": "%Y-%m-%d-%H"}


def parse_partition_spec(
    specs: list[str] | None,
) -> tuple[list[str], list[dict]]:
    """Split a partition spec into identity columns and transform dicts
    ({name, source, kind, param})."""
    identity: list[str] = []
    transforms: list[dict] = []
    for s in specs or []:
        if _IDENT_RE.match(s):
            identity.append(s)
            continue
        m = _PARAM_RE.match(s)
        if m:
            kind, param, src = m.group(1), int(m.group(2)), m.group(3)
            transforms.append(
                {"name": f"{src}_{kind}", "source": src, "kind": kind, "param": param}
            )
            continue
        m = _TIME_RE.match(s)
        if m:
            kind, src = m.group(1).rstrip("s"), m.group(2)
            transforms.append(
                {"name": f"{src}_{kind}", "source": src, "kind": kind, "param": None}
            )
            continue
        raise ValueError(f"bad partition spec entry: {s!r}")
    return identity, transforms


def transform_column(tr: dict, dtype) -> Column:
    """The transform as a JVM column expression (write path)."""
    c = F.col(tr["source"])
    kind = tr["kind"]
    if kind == "bucket":
        # crc32-of-utf8 so the driver can recompute the same bucket for
        # pruning without a Spark job (zlib.crc32 mirror below)
        return F.pmod(F.crc32(c.cast("string").cast("binary")), F.lit(tr["param"])).cast("int")
    if kind == "truncate":
        if isinstance(dtype, SPARK_T.StringType):
            return F.substring(c, 1, tr["param"])
        return (c - F.pmod(c, F.lit(tr["param"]))).cast("long")
    return F.date_format(c, _TIME_SPARK_FMT[kind])


def transform_value(tr: dict, val: object) -> object | None:
    """Driver-side mirror of ``transform_column`` for manifest pruning.
    Returns None when the value can't be transformed (⇒ no pruning)."""
    import datetime as _dt

    kind = tr["kind"]
    if kind == "bucket":
        return zlib.crc32(str(val).encode("utf-8")) % tr["param"]
    if kind == "truncate":
        if isinstance(val, str):
            return val[: tr["param"]]
        if isinstance(val, int):
            return val - (val % tr["param"])
        return None
    if isinstance(val, str):
        try:
            val = _dt.datetime.fromisoformat(val)
        except ValueError:
            return None
    if isinstance(val, (_dt.datetime, _dt.date)):
        return val.strftime(_TIME_PY_FMT[kind])
    return None


class CommitConflict(Exception):
    """Another writer committed the same sequence number first."""


class NoSuchSnapshot(Exception):
    pass


@dataclass(frozen=True)
class DataFileRef:
    """≙ reference FileRef (path, size, row_count, partition); path is
    table-relative so replication can rewrite the base
    (ReadRouter.java:186-189).

    ``stats`` carries per-column (min, max) from the parquet footer — the
    manifest-level pruning metadata Iceberg keeps, enabling file skipping
    for reads/deletes/merges without opening files.  ``partition`` carries
    hive-style partition values for partition pruning and dynamic
    partition overwrite.
    """

    path: str
    size_bytes: int
    row_count: int
    stats: tuple[tuple[str, object, object], ...] = ()  # (col, min, max)
    partition: tuple[tuple[str, str], ...] = ()  # (col, value-as-string)
    # ≙ reference ContentType (legacy ContentType.java:2):
    # data | equality_delete | position_delete
    content: str = "data"
    # for equality deletes: the identity columns the delete rows match on
    delete_cols: tuple[str, ...] = ()
    # sequence the file was added at — deletes only apply to data files
    # with added_seq <= the delete's added_seq (Iceberg sequence rule)
    added_seq: int = 0
    # content checksum (md5 hex) — ≙ the object-store ETag integrity
    # check (legacy ObjectStorePort.java:36-71); "" = not recorded
    checksum: str = ""
    # per-column null counts from the footer (≙ Iceberg's
    # null_value_counts) — enables IS NULL / IS NOT NULL file pruning;
    # a column absent here has unknown null count (file kept, safe)
    null_counts: tuple[tuple[str, int], ...] = ()

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "size_bytes": self.size_bytes,
            "row_count": self.row_count,
            "stats": [[c, lo, hi] for c, lo, hi in self.stats],
            "partition": [[c, v] for c, v in self.partition],
            "content": self.content,
            "delete_cols": list(self.delete_cols),
            "added_seq": self.added_seq,
            "checksum": self.checksum,
            "null_counts": [[c, n] for c, n in self.null_counts],
        }

    @staticmethod
    def from_json(d: dict) -> "DataFileRef":
        return DataFileRef(
            d["path"], d["size_bytes"], d["row_count"],
            tuple((c, lo, hi) for c, lo, hi in d.get("stats", [])),
            tuple((c, v) for c, v in d.get("partition", [])),
            d.get("content", "data"),
            tuple(d.get("delete_cols", [])),
            d.get("added_seq", 0),
            d.get("checksum", ""),
            tuple((c, n) for c, n in d.get("null_counts", [])),
        )

    def bounds(self, col: str) -> tuple[object, object] | None:
        for c, lo, hi in self.stats:
            if c == col:
                return (lo, hi)
        return None

    def null_count(self, col: str) -> int | None:
        for c, n in self.null_counts:
            if c == col:
                return n
        return None


@dataclass(frozen=True)
class Snapshot:
    snapshot_id: str
    sequence_number: int
    parent_id: str | None
    timestamp_ms: int
    operation: str  # create | append | overwrite | replace | publish
    schema_ddl: str
    manifest: tuple[DataFileRef, ...]
    staged: bool = False
    summary: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "sequence_number": self.sequence_number,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "schema_ddl": self.schema_ddl,
            "manifest": [f.to_json() for f in self.manifest],
            "staged": self.staged,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            sequence_number=d["sequence_number"],
            parent_id=d.get("parent_id"),
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            schema_ddl=d["schema_ddl"],
            manifest=tuple(DataFileRef.from_json(f) for f in d["manifest"]),
            staged=d.get("staged", False),
            summary=d.get("summary", {}),
        )


def _parquet_row_count(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def file_md5(path: str) -> str:
    """Content checksum recorded in the manifest — the ETag equivalent an
    object store would return at PUT time."""
    import hashlib

    h = hashlib.md5()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _delete_table_file(root: str, rel: str) -> bool:
    """Delete a table file, then what writing it left beside it: Hadoop's
    ``.<name>.crc`` sidecar and each directory up to ``data/`` that this
    empties (its commit and partition directories).  Returns whether the
    file existed; callers count and size only the file itself."""
    d, name = os.path.split(os.path.abspath(os.path.join(root, rel)))
    if not os.path.exists(os.path.join(d, name)):
        return False
    os.unlink(os.path.join(d, name))
    with contextlib.suppress(FileNotFoundError):
        os.unlink(os.path.join(d, f".{name}.crc"))
    stop = os.path.join(os.path.abspath(root), _DATA) + os.sep
    with contextlib.suppress(OSError):  # stops at the first non-empty one
        while d.startswith(stop):
            os.rmdir(d)
            d = os.path.dirname(d)
    return True


_STATS_OK_TYPES = (int, float, str, bool)


def _parquet_column_stats(
    path: str,
) -> tuple[tuple[tuple[str, object, object], ...], tuple[tuple[str, int], ...]]:
    """Per-column (min, max) AND null counts aggregated over row groups,
    from one parse of the parquet footer — no data read.  Only JSON-safe
    primitive min/max are kept; a null count is reported only when EVERY
    row group records one (≙ Iceberg null_value_counts; partial
    knowledge is treated as unknown so pruning stays safe)."""
    import pyarrow.parquet as pq

    import datetime as _dt

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    null_totals: dict[str, int] = {}
    null_known: dict[str, bool] = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            st = col.statistics
            name = col.path_in_schema
            if st is None or st.null_count is None:
                null_known[name] = False
            else:
                null_known.setdefault(name, True)
                null_totals[name] = null_totals.get(name, 0) + st.null_count
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except UnicodeDecodeError:
                    continue
            if isinstance(lo, _dt.datetime):
                # ISO "YYYY-MM-DD HH:MM:SS[.ffffff]" — JSON-safe AND
                # lexicographic order = chronological order, so the
                # string min/max below and pruning comparisons stay exact.
                # Normalize tz-aware stats (TIMESTAMP_MICROS is
                # UTC-adjusted) to naive UTC — the session runs in UTC, so
                # predicate values arrive naive.
                if lo.tzinfo is not None:
                    lo = lo.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                    hi = hi.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                lo, hi = lo.isoformat(sep=" "), hi.isoformat(sep=" ")
            elif isinstance(lo, _dt.date):
                lo, hi = lo.isoformat(), hi.isoformat()
            if not isinstance(lo, _STATS_OK_TYPES):
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return (
        tuple(sorted((c, mins[c], maxs[c]) for c in mins)),
        tuple(sorted((c, n) for c, n in null_totals.items() if null_known.get(c))),
    )


def _parse_hive_partition(rel_dir: str) -> tuple[tuple[str, str], ...]:
    """Extract key=value partition segments from a relative path."""
    parts = []
    for seg in rel_dir.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            parts.append((k, v))
    return tuple(parts)


class HyTable:
    """One snapshot-versioned parquet table rooted at a directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        # Parsed-snapshot cache.  Version files are write-once (O_EXCL
        # CAS create; publish re-commits a NEW snapshot rather than
        # flipping the staged flag in place) and only ever deleted by
        # expiry, so caching by filename is safe; concurrent writers in
        # other processes can only ADD files, which simply miss the
        # cache.  Without this, every commit/read re-parses the entire
        # version log including full manifests — O(history²) JSON work
        # over a table's life.
        self._snap_cache: dict[str, Snapshot] = {}

    # ---- paths -------------------------------------------------------------

    @property
    def meta_dir(self) -> str:
        return os.path.join(self.root, _META)

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, _DATA)

    def _version_path(self, seq: int) -> str:
        return os.path.join(self.meta_dir, f"v{seq:06d}.json")

    def exists(self) -> bool:
        return os.path.isdir(self.meta_dir) and bool(self._version_files())

    # ---- snapshot log ------------------------------------------------------

    def _version_files(self) -> list[str]:
        if not os.path.isdir(self.meta_dir):
            return []
        return sorted(
            f for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def snapshots(self, include_staged: bool = True) -> list[Snapshot]:
        files = self._version_files()
        if len(self._snap_cache) > len(files):
            # expiry deleted version files — drop their cache entries
            live = set(files)
            for k in [k for k in self._snap_cache if k not in live]:
                del self._snap_cache[k]
        out = []
        for f in files:
            s = self._snap_cache.get(f)
            if s is None:
                with open(os.path.join(self.meta_dir, f)) as fh:
                    s = Snapshot.from_json(json.load(fh))
                self._snap_cache[f] = s
            if include_staged or not s.staged:
                out.append(s)
        return out

    def current_snapshot(self) -> Snapshot | None:
        """Latest *visible* (non-staged) snapshot — ≙ getLatestMetadata."""
        visible = self.snapshots(include_staged=False)
        return visible[-1] if visible else None

    def snapshot_by_id(self, snapshot_id: str) -> Snapshot:
        for s in self.snapshots():
            if s.snapshot_id == snapshot_id:
                return s
        raise NoSuchSnapshot(snapshot_id)

    def snapshot_by_seq(self, seq: int) -> Snapshot:
        for s in self.snapshots():
            if s.sequence_number == seq:
                return s
        raise NoSuchSnapshot(f"seq={seq}")

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Time travel: latest visible snapshot committed ≤ timestamp."""
        cands = [
            s for s in self.snapshots(include_staged=False)
            if s.timestamp_ms <= timestamp_ms
        ]
        if not cands:
            raise NoSuchSnapshot(f"as_of={timestamp_ms}")
        return cands[-1]

    # ---- commit (optimistic CAS) ------------------------------------------

    def _commit(self, snap: Snapshot, expected_parent: str | None = "__any__") -> Snapshot:
        """Atomically create v{seq}.json; O_EXCL is the CAS register.

        ``expected_parent`` mirrors legacy CatalogPort.commitSnapshot's
        optimistic-concurrency check: if given, the commit only succeeds
        when the current visible head still matches.
        """
        os.makedirs(self.meta_dir, exist_ok=True)
        if expected_parent != "__any__":
            head = self.current_snapshot()
            head_id = head.snapshot_id if head else None
            if head_id != expected_parent:
                raise CommitConflict(
                    f"expected parent {expected_parent}, head is {head_id}"
                )
        path = self._version_path(snap.sequence_number)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(snap.to_json(), fh)
        # link(2) is the CAS register: it fails with EEXIST exactly like
        # O_CREAT|O_EXCL, but the version file appears fully-formed — a
        # concurrent reader (or a streaming JSON source tailing _meta/)
        # never observes a half-written snapshot.
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflict(f"seq {snap.sequence_number} already committed") from None
        finally:
            os.unlink(tmp)
        return snap

    def _write_data_files(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        distribute: bool | None = None,
        sort_by: list[str] | None = None,
    ) -> list[DataFileRef]:
        commit_dir = uuid.uuid4().hex
        out_dir = os.path.join(self.data_dir, commit_dir)
        identity, transforms = parse_partition_spec(partition_by)
        cur = None
        if distribute is None or sort_by is None:
            cur = self.current_snapshot() if self.exists() else None
        if distribute is None:
            distribute = bool(cur and cur.summary.get("write_distribution") == "hash")
        if sort_by is None:
            sort_by = list(cur.summary.get("write_sort_order", [])) if cur else []
        if distribute and (identity or transforms):
            # write.distribution-mode=hash: cluster rows by partition value
            # BEFORE partitionBy, so each table partition is written by one
            # task — N tasks × P partitions would otherwise emit N·P tiny
            # files (the Iceberg hash distribution mode).
            exprs = [F.col(c) for c in identity] + [
                transform_column(tr, df.schema[tr["source"]].dataType)
                for tr in transforms
            ]
            df = df.repartition(*exprs)
        pcols = list(identity)
        for tr in transforms:
            # hidden partition column: derived for layout, stripped by
            # partitionBy; the SOURCE column stays in the data files
            df = df.withColumn(
                tr["name"], transform_column(tr, df.schema[tr["source"]].dataType)
            )
            pcols.append(tr["name"])
        if sort_by:
            # write.sort-order: each task's rows land sorted so every
            # file's footer min/max on the sort columns is tight — the
            # pruning benefit of clustering applied to EVERY write, not
            # only after a rewrite_data_files compaction.
            df = df.sortWithinPartitions(*sort_by)
        writer = df.write.mode("error")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(out_dir)
        refs = []
        for dirpath, _, files in os.walk(out_dir):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                stats, null_counts = _parquet_column_stats(full)
                refs.append(
                    DataFileRef(
                        path=rel,
                        size_bytes=os.path.getsize(full),
                        row_count=_parquet_row_count(full),
                        stats=stats,
                        partition=_parse_hive_partition(
                            os.path.relpath(dirpath, out_dir)
                        ),
                        checksum=file_md5(full),
                        null_counts=null_counts,
                    )
                )
        return sorted(refs, key=lambda r: r.path)

    def _make_snapshot(
        self,
        operation: str,
        manifest: tuple[DataFileRef, ...],
        schema_ddl: str,
        staged: bool = False,
        summary: dict | None = None,
        seq: int | None = None,
        parent: str | None = None,
    ) -> Snapshot:
        import dataclasses

        if seq is None or parent is None:
            snaps = self.snapshots()
            if seq is None:
                seq = (snaps[-1].sequence_number + 1) if snaps else 1
            if parent is None and snaps:
                parent = snaps[-1].snapshot_id
        # stamp newly-added files (added_seq 0) with this commit's sequence
        manifest = tuple(
            dataclasses.replace(f, added_seq=seq) if f.added_seq == 0 else f
            for f in manifest
        )
        return Snapshot(
            snapshot_id=f"commit-{uuid.uuid4()}",
            sequence_number=seq,
            parent_id=parent,
            timestamp_ms=int(time.time() * 1000),
            operation=operation,
            schema_ddl=schema_ddl,
            manifest=manifest,
            staged=staged,
            summary=summary or {},
        )

    _COMMIT_ATTEMPTS = 5
    # table metadata every commit carries forward: partition spec,
    # write properties, evolved schema and rename history
    _CARRY_KEYS = (
        "partition_by", "partition_types", "partition_spec",
        "partition_transforms", "write_distribution", "write_sort_order",
        "table_schema", "renames",
    )

    def _commit_files(
        self,
        operation: str,
        meta: Callable[[Snapshot | None], tuple[str, dict]],
        added: tuple[DataFileRef, ...] = (),
        removed: tuple[DataFileRef, ...] = (),
        base: Snapshot | None = None,
        carry: Snapshot | None = None,
        staged: bool = False,
        branch: str | None = None,
    ) -> Snapshot:
        """The one commit path.  A write is a file delta: the files it
        ``added``, the files it ``removed`` (read and rewrote, taken from
        ``base``, the snapshot it read) and ``meta(head) -> (schema_ddl,
        summary changes)``, which may raise to refuse the head.

        Each attempt re-reads the head and validates the delta against it,
        as Iceberg's RewriteFiles / OverwriteFiles do: a removed file that
        is no longer live raises :class:`CommitConflict`, and so, for an
        op that removes data files, does a delete file or a schema or
        rename change committed after ``base``.  A conflict is not
        retried; the op must re-plan.  The manifest is head − removed +
        added; the summary carries the ``_CARRY_KEYS`` of ``carry`` (the
        head unless the op states another snapshot's).  The version file
        is committed by link(2) CAS, and losing that race retries with
        jitter (doc iceberg-arch-geo-distributed-ha.md:287-311).
        ``branch`` commits onto that branch's head instead of main's."""
        import random

        gone = {f.path for f in removed}
        rewrites_data = any(f.content == "data" for f in removed)
        for attempt in range(self._COMMIT_ATTEMPTS):
            snaps = self.snapshots()
            if branch:
                head = self.branch_head(branch)
            else:
                head = next((s for s in reversed(snaps) if not s.staged), None)
            kept = head.manifest if head else ()
            manifest = kept + tuple(added)
            if removed:
                lost = gone - {f.path for f in kept}
                if lost:
                    raise CommitConflict(f"{operation}: {min(lost)} is no longer live")
                if rewrites_data and head.snapshot_id != base.snapshot_id and (
                    any(f.content != "data" and f not in base.manifest for f in kept)
                    or head.schema_ddl != base.schema_ddl
                    or any(head.summary.get(k) != base.summary.get(k)
                           for k in ("table_schema", "renames"))
                ):
                    raise CommitConflict(
                        f"{operation}: a delete file or a schema change was committed "
                        "after the snapshot it read"
                    )
                manifest = self._prune_dead_deletes(
                    tuple(f for f in kept if f.path not in gone), tuple(added)
                )
            schema_ddl, changes = meta(head)
            src = carry or head
            summary = {k: src.summary[k] for k in self._CARRY_KEYS if src and k in src.summary}
            summary.update(changes)
            last = snaps[-1] if snaps else None
            snap = self._make_snapshot(
                operation, manifest, schema_ddl, staged=staged, summary=summary,
                seq=last.sequence_number + 1 if last else 1,
                parent=head.snapshot_id if branch else (last.snapshot_id if last else None),
            )
            try:
                return self._commit(snap)
            except CommitConflict:
                if attempt == self._COMMIT_ATTEMPTS - 1:
                    raise
                time.sleep(random.uniform(0.01, 0.05) * (attempt + 1))
        raise AssertionError("unreachable")

    # ---- write operations --------------------------------------------------

    def _partition_summary(self, df: DataFrame, partition_by: list[str] | None) -> dict:
        if not partition_by:
            return {}
        identity, transforms = parse_partition_spec(partition_by)
        types = {
            f.name: f.dataType.simpleString()
            for f in df.schema.fields
            if f.name in identity
        }
        out = {
            "partition_by": identity,
            "partition_types": types,
            "partition_spec": list(partition_by),
        }
        if transforms:
            out["partition_transforms"] = transforms
        return out

    def partition_spec(self) -> tuple[list[str], dict[str, str]]:
        """The table's partition spec (identity columns and/or transform
        strings) + identity-column types, from the latest summary."""
        cur = self.current_snapshot()
        if cur is None:
            return [], {}
        return self._spec(cur), dict(cur.summary.get("partition_types", {}))

    @staticmethod
    def _spec(snap: Snapshot | None) -> list[str]:
        if snap is None:
            return []
        return list(snap.summary.get("partition_spec", snap.summary.get("partition_by", [])))

    def _merged_partition_summary(
        self, cur: "Snapshot | None", df: DataFrame, partition_by: list[str] | None
    ) -> dict:
        """Partition summary for a write, with identity-column types
        merged over the parent's: after spec evolution the manifest still
        holds files written under older specs, and reconstructing their
        stripped columns needs the old types forever."""
        ps = self._partition_summary(df, partition_by)
        if cur is not None and "partition_types" in ps:
            ps["partition_types"] = {
                **dict(cur.summary.get("partition_types", {})),
                **ps["partition_types"],
            }
        return ps

    def evolve_partition_spec(self, partition_by: list[str]) -> Snapshot:
        """≙ Iceberg partition spec evolution (ALTER TABLE … ADD/REPLACE
        PARTITION FIELD): a metadata-only commit that changes the spec
        for FUTURE writes.  Existing files are untouched — the manifest
        records each file's own partition tuple, so old files keep
        reading (column reconstruction) and pruning under the spec they
        were written with, while new appends lay data out under the new
        spec.  No data rewrite at any table size."""
        identity, transforms = parse_partition_spec(partition_by)

        def meta(head):
            if head is None:
                raise NoSuchSnapshot("cannot evolve the spec of an empty table")
            schema = SPARK_T.StructType.fromDDL(head.schema_ddl)
            known = {f.name: f.dataType.simpleString() for f in schema.fields}
            missing = [c for c in identity if c not in known]
            if missing:
                raise ValueError(
                    f"partition columns not in table schema: {missing}"
                )
            return head.schema_ddl, {
                "partition_by": identity,
                "partition_spec": list(partition_by),
                "partition_types": {
                    **dict(head.summary.get("partition_types", {})),
                    **{c: known[c] for c in identity},
                },
                "partition_transforms": transforms,
                "evolved_from": self._spec(head),
            }

        return self._commit_files("evolve_spec", meta)

    def create(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        distribution: str = "none",
        sort_by: list[str] | None = None,
    ) -> Snapshot:
        """``distribution="hash"`` clusters rows by partition value before
        every write (carried table property, ≙ write.distribution-mode);
        ``sort_by`` persists a write sort order (≙ write.sort-order /
        WRITE ORDERED BY): every subsequent append sorts rows within
        tasks on these columns, keeping footer min/max tight for
        manifest pruning without waiting for a compaction pass."""
        if self.exists():
            raise FileExistsError(f"table already exists at {self.root}")
        if distribution not in ("none", "hash"):
            raise ValueError(f"unknown distribution mode: {distribution}")
        files = self._write_data_files(
            df, partition_by, distribute=(distribution == "hash"),
            sort_by=list(sort_by or []),
        )
        summary = self._partition_summary(df, partition_by)
        if distribution != "none":
            summary["write_distribution"] = distribution
        if sort_by:
            summary["write_sort_order"] = list(sort_by)

        def meta(head):
            if head is not None:
                raise FileExistsError(f"table already exists at {self.root}")
            return df.schema.simpleString(), summary

        return self._commit_files("create", meta, added=tuple(files))

    def _written_meta(self, df: DataFrame, partition_by: list[str] | None, **changes):
        """``meta`` of a commit whose schema is that of the rows it wrote."""
        return lambda head: (df.schema.simpleString(), {
            **changes, **self._merged_partition_summary(head, df, partition_by),
        })

    def append(self, df: DataFrame, staged: bool = False) -> Snapshot:
        """Append commit: parent manifest + new files (Iceberg fast-append)."""
        partition_by, _ = self.partition_spec()
        files = self._write_data_files(df, partition_by or None)
        return self._commit_files(
            "append", self._written_meta(df, partition_by, added_files=len(files)),
            added=tuple(files), staged=staged,
        )

    def overwrite(
        self, df: DataFrame, staged: bool = False,
        partition_by: list[str] | None = None,
    ) -> Snapshot:
        base = self.current_snapshot()
        if partition_by is None:
            partition_by = self._spec(base) or None
        files = self._write_data_files(df, partition_by)
        return self._commit_files(
            "overwrite", self._written_meta(df, partition_by, added_files=len(files)),
            added=tuple(files), removed=base.manifest if base else (), base=base,
            staged=staged,
        )

    def overwrite_partitions(self, df: DataFrame) -> Snapshot:
        """Dynamic partition overwrite (≙ overwritePartitions): replace
        only the partitions present in ``df``; files of untouched
        partitions survive unchanged."""
        base = self.current_snapshot()
        partition_by = self._spec(base)
        if not partition_by:
            raise ValueError("table is not partitioned; use overwrite()")
        new_files = self._write_data_files(df, partition_by)
        replaced = {f.partition for f in new_files}
        return self._commit_files(
            "overwrite_partitions",
            self._written_meta(
                df, partition_by, added_files=len(new_files),
                replaced_partitions=sorted(str(dict(p)) for p in replaced),
            ),
            added=tuple(new_files),
            removed=tuple(f for f in base.manifest if f.partition in replaced),
            base=base,
        )

    def stage_append(self, df: DataFrame) -> Snapshot:
        """Write-audit-publish step 1: commit an invisible snapshot
        (≙ two-phase marker ``_inprogress/vN.marker``,
        iceberg-arch-hybrid-replica-dr.md:90-104)."""
        return self.append(df, staged=True)

    def publish(self, snapshot_id: str) -> Snapshot:
        """WAP step 2 (≙ setVisibility / cherrypick): re-commit the staged
        manifest as a new visible head after verification."""
        staged = self.snapshot_by_id(snapshot_id)
        if not staged.staged:
            raise ValueError(f"{snapshot_id} is not staged")
        base = self.current_snapshot()

        def meta(head):
            # Cherry-pick safety: publish re-commits the STAGED manifest
            # wholesale, so a commit that landed after the stage would be
            # silently dropped (lost update).  Refuse unless the current
            # head is an ancestor of the staged snapshot — the Iceberg
            # cherry-pick conflict rule.
            if head is not None and not self._is_ancestor(head.snapshot_id, staged):
                raise CommitConflict(
                    f"cannot publish {snapshot_id}: head {head.snapshot_id} "
                    "is not an ancestor of the staged snapshot (a commit "
                    "landed after staging; re-stage on the new head)"
                )
            return staged.schema_ddl, {"published_from": snapshot_id}

        return self._commit_files(
            "publish", meta, added=staged.manifest,
            removed=base.manifest if base else (), base=base, carry=staged,
        )

    def rewrite_data_files(
        self,
        target_file_size_bytes: int = 256 * 1024 * 1024,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        n_files: int | None = None,
    ) -> Snapshot:
        """Compaction (≙ rewrite_data_files; doc :1111-1115): rewrite the
        current snapshot's data into ~target-sized files, commit as
        'replace' (same rows, new layout).  The commit swaps only the files
        it read, so a file appended meanwhile stays.

        ``sort_by`` range-clusters on the given columns (each output file
        owns a contiguous key range → tight min/max footer stats → manifest
        pruning on those columns skips all but ~1/n files).

        ``zorder_by`` interleaves the bits of 2+ columns into a single
        Z-value and range-clusters on that — every listed column gets
        partial locality, so single-column predicates on ANY of them prune
        (the multi-dimensional clustering Iceberg's zorder rewrite
        strategy provides).
        """
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        cur = self.current_snapshot()
        if cur is None:
            raise NoSuchSnapshot("table is empty")
        total = sum(f.size_bytes for f in cur.manifest)
        if n_files is None:
            n_files = max(1, round(total / target_file_size_bytes))
        df = self.read(snapshot_id=cur.snapshot_id)
        layout: dict = {}
        if sort_by:
            df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
            layout = {"sort_by": list(sort_by)}
        elif zorder_by:
            zval = self._zvalue_column(df, zorder_by)
            df = (
                df.withColumn("__zval", zval)
                .repartitionByRange(n_files, "__zval")
                .sortWithinPartitions("__zval")
                .drop("__zval")
            )
            layout = {"zorder_by": list(zorder_by)}
        else:
            df = df.coalesce(n_files)
        # compaction preserves the table's partition layout (hive dirs /
        # hidden transforms) — pruning by partition value must survive a
        # rewrite, exactly as Iceberg's rewrite respects the current spec.
        # distribute=False: the compaction's own layout (coalesce / range /
        # z-order) governs row placement here.
        files = self._write_data_files(df, self._spec(cur) or None, distribute=False)
        return self._commit_files(
            "replace",
            lambda head: (head.schema_ddl, {
                **layout, "compacted_from": len(cur.manifest), "to": len(files),
            }),
            added=tuple(files), removed=cur.manifest, base=cur,
        )

    def _zvalue_column(self, df: DataFrame, cols: list[str]):
        """Morton (Z-order) value: scale each column to 16 bits against its
        global min/max, then interleave the bits.  One tiny agg job fetches
        the bounds; the interleave itself is a pure JVM column expression
        (whole-stage codegen — no UDF)."""
        numeric = set()
        for name in cols:
            dt = df.schema[name].dataType
            if isinstance(dt, (SPARK_T.DateType, SPARK_T.TimestampType)):
                continue
            if isinstance(dt, SPARK_T.NumericType):
                numeric.add(name)
                continue
            raise ValueError(
                f"zorder_by supports numeric/date/timestamp columns, got {name}: {dt}"
            )

        def as_double(name: str):
            c = F.col(name)
            return c.cast("double") if name in numeric else c.cast("timestamp").cast("double")

        bounds = df.select(
            *[F.min(as_double(c)).alias(f"mn_{i}") for i, c in enumerate(cols)],
            *[F.max(as_double(c)).alias(f"mx_{i}") for i, c in enumerate(cols)],
        ).collect()[0]
        scaled = []
        for i, name in enumerate(cols):
            mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
            if mn is None or mx is None or mx == mn:
                scaled.append(F.lit(0).cast("long"))
            else:
                frac = (as_double(name) - F.lit(float(mn))) / F.lit(float(mx - mn))
                scaled.append(
                    F.coalesce(F.floor(frac * 65535.0), F.lit(0)).cast("long")
                )
        z = F.lit(0).cast("long")
        for bit in range(15, -1, -1):
            for c in scaled:
                z = F.shiftleft(z, 1).bitwiseOR(
                    F.shiftrightunsigned(c, bit).bitwiseAND(F.lit(1))
                )
        return z

    # ---- read operations + pruning -----------------------------------------

    @staticmethod
    def _transform_excludes(tr: dict, raw: str, op: str, val: object) -> bool:
        """True iff a transformed partition value PROVES the file has no
        row matching ``col op val``.  Bucket prunes equality only; the
        order-preserving transforms (truncate, year/month/day/hour) prune
        ranges: col < v ⇒ t(col) <= t(v), col > v ⇒ t(col) >= t(v)."""
        if op in ("in", "!="):
            return False  # transforms don't prove exclusion for these
        tval = transform_value(tr, val)
        if tval is None:
            return False
        if tr["kind"] == "bucket":
            return op == "=" and int(raw) != tval
        pv: object = raw
        if not isinstance(tval, str):
            try:
                pv = int(raw)
            except ValueError:
                return False
        if op == "=" and pv != tval:
            return True
        if op in ("<", "<=") and not (pv <= tval):
            return True
        if op in (">", ">=") and not (pv >= tval):
            return True
        return False

    @staticmethod
    def _file_may_match(
        f: DataFileRef,
        preds: list[tuple[str, str, object]],
        transforms: list[dict] | tuple = (),
    ) -> bool:
        """Manifest-level pruning: False only when the file PROVABLY has no
        matching row (partition value — identity or transformed — or
        footer min/max excludes the predicate).  Missing stats ⇒ keep the
        file (safe)."""
        part = dict(f.partition)
        by_source = {t["source"]: t for t in transforms}
        for col, op, val in preds:
            # null-existence predicates prune on null_value_counts
            # (≙ Iceberg) or the partition value; unknown count ⇒ keep
            if op in ("is_null", "is_not_null"):
                if col in part:
                    is_null_part = part[col] == "__HIVE_DEFAULT_PARTITION__"
                    if op == "is_null" and not is_null_part:
                        return False
                    if op == "is_not_null" and is_null_part:
                        return False
                    continue
                nc = f.null_count(col)
                if nc is None:
                    continue
                if op == "is_null" and nc == 0:
                    return False
                if op == "is_not_null" and nc == f.row_count:
                    return False
                continue
            tr = by_source.get(col)
            if tr is not None and tr["name"] in part:
                raw = part[tr["name"]]
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    return False
                if HyTable._transform_excludes(tr, raw, op, val):
                    return False
                # fall through: footer min/max of the source column (kept
                # in the data files) can prune further
            if col in part:
                raw = part[col]
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    return False  # null partition never matches these ops
                # for "in" the conversion target is the ELEMENT type
                proto = val[0] if op == "in" and isinstance(val, (list, tuple)) and val else val
                try:
                    pv = type(proto)(raw) if not isinstance(proto, str) else raw
                except (TypeError, ValueError):
                    continue
                lo = hi = pv
            else:
                b = f.bounds(col)
                if b is None:
                    continue
                lo, hi = b
                import datetime as _dt

                def _coerce(v, lo=lo):
                    """Align a predicate value with the stored stat type;
                    None = incomparable (keep the file, safe)."""
                    if isinstance(v, (_dt.datetime, _dt.date)) and isinstance(lo, str):
                        # timestamp/date stats are ISO strings
                        # (lexicographic = chronological)
                        return (
                            v.isoformat(sep=" ")
                            if isinstance(v, _dt.datetime)
                            else v.isoformat()
                        )
                    if not isinstance(v, type(lo)) and not (
                        isinstance(v, (int, float)) and isinstance(lo, (int, float))
                    ):
                        return None
                    return v

                if op == "in":
                    vals = [_coerce(v) for v in val]
                    if any(v is None for v in vals):
                        continue
                    val = vals
                else:
                    val = _coerce(val)
                    if val is None:
                        continue
            if op == "=" and not (lo <= val <= hi):
                return False
            if op == "in" and not any(lo <= v <= hi for v in val):
                return False
            if op == "!=" and lo == hi == val:
                return False
            if op == "<" and not (lo < val):
                return False
            if op == "<=" and not (lo <= val):
                return False
            if op == ">" and not (hi > val):
                return False
            if op == ">=" and not (hi >= val):
                return False
        return True

    @staticmethod
    def data_files(snap: Snapshot) -> list[DataFileRef]:
        return [f for f in snap.manifest if f.content == "data"]

    @staticmethod
    def delete_files(snap: Snapshot, content: str) -> list[DataFileRef]:
        return [f for f in snap.manifest if f.content == content]

    def prune_files(
        self, preds: list[tuple[str, str, object]], snap: Snapshot | None = None
    ) -> list[DataFileRef]:
        """Data files that may contain rows matching ALL predicates
        ((col, op, value) with op ∈ {=, !=, <, <=, >, >=, in, is_null,
        is_not_null}; "in" takes a list value, the null ops take None) —
        the metadata min/max + null_value_counts pruning Iceberg
        manifests provide."""
        snap = snap or self.current_snapshot()
        if snap is None:
            return []
        transforms = list(snap.summary.get("partition_transforms", []))
        return [
            f
            for f in self.data_files(snap)
            if self._file_may_match(f, preds, transforms)
        ]

    @staticmethod
    def _preds_to_column(preds: list[tuple[str, str, object]]):
        ops = {
            "=": lambda c, v: c == v,
            "<": lambda c, v: c < v,
            "<=": lambda c, v: c <= v,
            ">": lambda c, v: c > v,
            ">=": lambda c, v: c >= v,
            "is_null": lambda c, v: c.isNull(),
            "is_not_null": lambda c, v: c.isNotNull(),
            "in": lambda c, v: c.isin(*v),
            "!=": lambda c, v: c != v,
        }
        expr = F.lit(True)
        for col, op, val in preds:
            # pass the raw value: scalar ops auto-lift literals, "in"
            # needs the Python list, the null ops ignore it
            expr = expr & ops[op](F.col(col), val)
        return expr

    def _read_refs(
        self, snap: Snapshot, refs: list[DataFileRef], with_meta: bool = False
    ) -> DataFrame:
        """Read a file subset, reconstructing typed partition columns
        (partitionBy strips them from the files).  ``with_meta`` adds
        ``__file`` (table-relative path), ``__pos`` (row index within the
        file) and ``__seq`` (the file's added_seq) — the identity columns
        position deletes and sequence rules need."""
        if not refs:
            df = local_frame(self.spark, [], snap.schema_ddl)
            if with_meta:
                df = (
                    df.withColumn("__file", F.lit(None).cast("string"))
                    .withColumn("__pos", F.lit(None).cast("long"))
                    .withColumn("__seq", F.lit(None).cast("long"))
                )
            return df
        partition_by = list(snap.summary.get("partition_by", []))
        ptypes = dict(snap.summary.get("partition_types", {}))
        seq_by_path = {f.path: f.added_seq for f in refs}

        def _load(paths: list[str]) -> DataFrame:
            df = self.spark.read.parquet(*paths)
            if with_meta:
                # greedy .*/ anchors on the LAST data/ segment → the
                # table-relative path, independent of URI scheme/root
                df = df.withColumns({
                    "__file": F.regexp_extract(
                        F.col("_metadata.file_path"), r".*/(data/.*)$", 1
                    ),
                    "__pos": F.col("_metadata.row_index"),
                })
                # file→added_seq via a broadcast join on a manifest-sized
                # DataFrame: a literal create_map would inline two
                # expressions per file into the plan, which at 100k+
                # files blows up analysis/codegen; the join stays
                # manifest-sized no matter the file count
                seq_rows = local_frame(
                    self.spark,
                    [
                        (os.path.relpath(p, self.root),
                         seq_by_path[os.path.relpath(p, self.root)])
                        for p in paths
                    ],
                    "__file string, __seq long",
                )
                df = df.join(F.broadcast(seq_rows), "__file", "left")
            return df

        has_evolution = bool(snap.summary.get("table_schema"))
        # The per-FILE partition tuple decides whether reconstruction is
        # needed, not the current spec: after partition-spec evolution
        # the manifest can hold files stripped under an older spec even
        # when the current spec is empty.
        if (
            not partition_by
            and not has_evolution
            and not any(f.partition for f in refs)
        ):
            return _load([os.path.join(self.root, f.path) for f in refs])
        # Uniform partition layout, no schema evolution → ONE scan:
        # partition values are re-derived per row from the file path
        # (same raw k=v strings the manifest carries) and cast to their
        # recorded types.  The per-partition-group union below would put
        # one parquet scan per partition value into the plan — at 10k+
        # partitions that's a plan-size blowup; this path keeps the plan
        # O(1) in partition count.
        keysets = {tuple(k for k, _ in f.partition) for f in refs}
        if not has_evolution and len(keysets) == 1 and next(iter(keysets)):
            keys = next(iter(keysets))
            df = _load([os.path.join(self.root, f.path) for f in refs])
            # the with_meta projection drops the _metadata pseudo-column;
            # its derived __file (table-relative path) carries the same
            # k=v segments
            path_col = (
                F.col("__file") if "__file" in df.columns
                else F.col("_metadata.file_path")
            )
            for col in keys:
                if col not in ptypes:
                    continue  # transform partition: source col is in the data
                raw = F.regexp_extract(path_col, f"/{col}=([^/]+)/", 1)
                df = df.withColumn(
                    col,
                    F.when(raw == "__HIVE_DEFAULT_PARTITION__", F.lit(None))
                    .otherwise(raw)
                    .cast(ptypes[col]),
                )
            return df
        # group by (partition values, schema epoch): files written under
        # different schemas or partitions load separately, get adapted to
        # the target schema, then union
        groups: dict[tuple, list[str]] = {}
        for f in refs:
            epoch = f.added_seq if has_evolution else 0
            groups.setdefault((f.partition, epoch), []).append(
                os.path.join(self.root, f.path)
            )
        out = None
        for (part, epoch), paths in sorted(groups.items()):
            df = _load(paths)
            for col, raw in part:
                if col not in ptypes:
                    continue  # transform partition: source col is in the data
                typ = ptypes[col]
                lit = (
                    F.lit(None) if raw == "__HIVE_DEFAULT_PARTITION__" else F.lit(raw)
                )
                df = df.withColumn(col, lit.cast(typ))
            if has_evolution:
                df = self._adapt_to_schema(df, snap, epoch)
            out = df if out is None else out.unionByName(df)
        return out

    def read(
        self,
        snapshot_id: str | None = None,
        as_of_ms: int | None = None,
        seq: int | None = None,
        preds: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """Scan — current snapshot, or time travel by id/seq/timestamp
        (≙ VERSION AS OF / TIMESTAMP AS OF).  ``preds`` prunes files via
        manifest stats, then applies the residual filter."""
        if snapshot_id is not None:
            snap = self.snapshot_by_id(snapshot_id)
        elif seq is not None:
            snap = self.snapshot_by_seq(seq)
        elif as_of_ms is not None:
            snap = self.snapshot_as_of(as_of_ms)
        else:
            snap = self.current_snapshot()
            if snap is None:
                raise NoSuchSnapshot("table has no visible snapshot")
        refs = self.prune_files(preds, snap) if preds else self.data_files(snap)
        eq_dels = self.delete_files(snap, "equality_delete")
        pos_dels = self.delete_files(snap, "position_delete")
        df = self._read_refs(snap, refs, with_meta=bool(eq_dels or pos_dels))
        df = self._apply_mor_deletes(snap, df, eq_dels, pos_dels)
        return df.filter(self._preds_to_column(preds)) if preds else df

    def _apply_mor_deletes(
        self,
        snap: Snapshot,
        df: DataFrame,
        eq_dels: list[DataFileRef],
        pos_dels: list[DataFileRef],
    ) -> DataFrame:
        """Merge-on-read: subtract delete-file rows from the scan.

        Equality deletes anti-join on their identity columns; position
        deletes anti-join on (file, row-position).  Both honor the
        sequence rule: a delete applies only to data files added at or
        before the delete (``__seq <= delete.added_seq``), so re-inserted
        keys survive.  Delete files are small → broadcast anti-joins.
        """
        if not eq_dels and not pos_dels:
            return df
        if eq_dels:
            # ONE broadcast anti-join per delete-column-set, with the
            # sequence rule as a join residual: a row is dropped iff SOME
            # delete entry matches its identity columns AND was added at
            # a STRICTLY larger sequence (Iceberg rule — a same-commit
            # upsert's new data file is not hidden by its own delete
            # file).  Anti-joins only remove rows, so folding every
            # delete file into one EXISTS relation is equivalent to
            # applying them iteratively — and avoids the previous
            # filter-split-union per file, whose plan tree DOUBLED per
            # delete file (2^N scan branches; a table with 20 streamed
            # delete commits would not even compile a plan).
            from collections import defaultdict

            by_cols: dict[tuple, list] = defaultdict(list)
            for ref in eq_dels:
                by_cols[tuple(ref.delete_cols)].append(ref)
            for cols_t in sorted(by_cols):
                cols = list(cols_t)
                parts = [
                    self.spark.read.parquet(os.path.join(self.root, r.path))
                    .select(*cols)
                    .distinct()
                    .withColumn("__dseq", F.lit(r.added_seq).cast("long"))
                    for r in by_cols[cols_t]
                ]
                del_all = parts[0]
                for p in parts[1:]:
                    del_all = del_all.unionByName(p)
                cond = F.col("__seq") < del_all["__dseq"]
                for c in cols:
                    cond = cond & (df[c] == del_all[c])
                df = df.join(F.broadcast(del_all), cond, "left_anti")
        if pos_dels:
            del_rows = self.spark.read.parquet(
                *[os.path.join(self.root, r.path) for r in pos_dels]
            ).selectExpr("file_path AS __file", "pos AS __pos").distinct()
            df = df.join(F.broadcast(del_rows), ["__file", "__pos"], "left_anti")
        return df.drop("__file", "__pos", "__seq")

    # ---- row-level operations (copy-on-write) ------------------------------

    def _read_live_rows(self, snap: Snapshot, refs: list[DataFileRef]) -> DataFrame:
        """Read data-file refs with the snapshot's MOR delete files
        applied — the same row set ``read()`` would produce for those
        files.  COW rewrites must go through this, not raw ``_read_refs``:
        rewritten rows get a new, higher ``added_seq``, so any
        equality/position delete that used to hide them would stop
        applying and the deleted rows would be resurrected."""
        eq_dels = self.delete_files(snap, "equality_delete")
        pos_dels = self.delete_files(snap, "position_delete")
        df = self._read_refs(snap, refs, with_meta=bool(eq_dels or pos_dels))
        return self._apply_mor_deletes(snap, df, eq_dels, pos_dels)

    def _position_delete_targets(self, ref: DataFileRef) -> set[str]:
        """Distinct data-file paths a position-delete file references
        (tiny single-part parquet — a driver-side column read)."""
        import pyarrow.parquet as pq

        table = pq.read_table(
            os.path.join(self.root, ref.path), columns=["file_path"]
        )
        return set(table.column("file_path").to_pylist())

    def _prune_dead_deletes(
        self, kept: tuple[DataFileRef, ...], added: tuple[DataFileRef, ...]
    ) -> tuple[DataFileRef, ...]:
        """``kept + added`` without the delete files in ``kept`` (the head's
        files a commit carries) that can no longer hide any data file: an
        equality delete applies only to data files added STRICTLY before
        it, a position delete only to the file paths it names.  Called
        after a commit removed files (a rewrite materialized those
        deletes).  Not-yet-stamped new files (``added_seq == 0``) are newer
        than every delete, so they never keep one alive."""
        data = [f for f in kept + added if f.content == "data"]
        min_seq = min((f.added_seq for f in data if f.added_seq), default=None)
        data_paths = {f.path for f in data}

        def live(f: DataFileRef) -> bool:
            if f.content == "equality_delete":
                return min_seq is not None and min_seq < f.added_seq
            if f.content == "position_delete":
                return bool(data_paths & self._position_delete_targets(f))
            return True

        return tuple(f for f in kept if live(f)) + added

    def _commit_rewrite(
        self, operation: str, base: Snapshot, rewritten: list[DataFileRef],
        new_files: list[DataFileRef],
    ) -> Snapshot:
        """Commit a copy-on-write op: ``new_files`` replace ``rewritten``."""
        return self._commit_files(
            operation,
            lambda head: (head.schema_ddl, {
                "rewritten_files": len(rewritten), "new_files": len(new_files),
            }),
            added=tuple(new_files), removed=tuple(rewritten), base=base,
        )

    def delete_where(self, preds: list[tuple[str, str, object]]) -> Snapshot:
        """Row-level DELETE as file-granular copy-on-write: only files
        whose stats/partition overlap the predicate are rewritten; all
        others carry over untouched (≙ Iceberg COW DELETE)."""
        cur = self.current_snapshot()
        if cur is None:
            raise NoSuchSnapshot("table is empty")
        affected = self.prune_files(preds, cur)
        if not affected:
            return cur
        keep_rows = self._read_live_rows(cur, affected).filter(
            ~self._preds_to_column(preds)
        )
        partition_by = list(cur.summary.get("partition_by", [])) or None
        new_files = (
            self._write_data_files(keep_rows, partition_by)
            if keep_rows.limit(1).count()
            else []
        )
        return self._commit_rewrite("delete", cur, affected, new_files)

    def update_where(
        self, preds: list[tuple[str, str, object]], assignments: dict[str, str]
    ) -> Snapshot:
        """Row-level UPDATE (COW): rewrite affected files applying
        ``assignments`` (column → SQL expression) to matching rows."""
        cur = self.current_snapshot()
        if cur is None:
            raise NoSuchSnapshot("table is empty")
        affected = self.prune_files(preds, cur)
        if not affected:
            return cur
        match = self._preds_to_column(preds)
        df = self._read_live_rows(cur, affected)
        for col, expr in assignments.items():
            df = df.withColumn(col, F.when(match, F.expr(expr)).otherwise(F.col(col)))
        partition_by = list(cur.summary.get("partition_by", [])) or None
        new_files = self._write_data_files(df, partition_by)
        return self._commit_rewrite("update", cur, affected, new_files)

    def merge(self, source: DataFrame, key_cols: list[str]) -> Snapshot:
        """MERGE/upsert (COW): source rows replace matching target rows,
        non-matching source rows insert.  File selection uses the
        manifest key-range stats against the source's key bounds, so only
        potentially-matching files rewrite — the rest carry over."""
        cur = self.current_snapshot()
        if cur is None:
            return self.create(source)
        bounds = source.agg(
            *[F.min(c).alias(f"_lo_{c}") for c in key_cols],
            *[F.max(c).alias(f"_hi_{c}") for c in key_cols],
        ).collect()[0]
        preds = []
        for c in key_cols:
            lo, hi = bounds[f"_lo_{c}"], bounds[f"_hi_{c}"]
            if lo is not None:
                preds.append((c, ">=", lo))
                preds.append((c, "<=", hi))
        # No usable key bounds (e.g. empty source): fall back to all DATA
        # files — never the whole manifest, which would scan delete files
        # as table rows.
        affected = self.prune_files(preds, cur) if preds else self.data_files(cur)
        target_rows = self._read_live_rows(cur, affected)
        merged = target_rows.join(
            source.select(key_cols).distinct(), key_cols, "left_anti"
        ).unionByName(source)
        partition_by = list(cur.summary.get("partition_by", [])) or None
        new_files = self._write_data_files(merged, partition_by)
        return self._commit_rewrite("merge", cur, affected, new_files)

    def incremental_read(self, from_seq: int, to_seq: int) -> DataFrame:
        """Rows in files added in (from_seq, to_seq] — the fast-forward
        diff read (doc :333; ReplicationPlanner's plan as a data scan)."""
        added = self.diff_files(from_seq, to_seq)
        return self._read_refs(self.snapshot_by_seq(to_seq), added)

    # ---- metadata tables (≙ t.files / t.snapshots / t.history) ------------

    _FILES_SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("file_path", SPARK_T.StringType()),
        SPARK_T.StructField("size_bytes", SPARK_T.LongType()),
        SPARK_T.StructField("row_count", SPARK_T.LongType()),
        SPARK_T.StructField("snapshot_seq", SPARK_T.LongType()),
        SPARK_T.StructField("content", SPARK_T.StringType()),
        SPARK_T.StructField("added_seq", SPARK_T.LongType()),
        SPARK_T.StructField(
            "partition", SPARK_T.MapType(SPARK_T.StringType(), SPARK_T.StringType())
        ),
    ])

    def files(self, seq: int | None = None) -> DataFrame:
        snap = self.snapshot_by_seq(seq) if seq is not None else self.current_snapshot()
        if snap is None:
            return local_frame(self.spark, [], self._FILES_SCHEMA)
        rows = [
            (
                f.path, f.size_bytes, f.row_count, snap.sequence_number,
                f.content, f.added_seq, dict(f.partition),
            )
            for f in snap.manifest
        ]
        return local_frame(self.spark, rows, self._FILES_SCHEMA)

    def all_files(self, include_staged: bool = True) -> DataFrame:
        """Every distinct file referenced by ANY snapshot (≙ Iceberg's
        ``all_files`` metadata table) — the left operand of the GC
        reachability diff (``unreachable = all_files − reachable(head)``,
        iceberg-arch-geo-distributed-ha.md:778-795).  ``snapshot_seq`` is
        the first snapshot that referenced the file."""
        seen: dict[str, tuple] = {}
        for s in self.snapshots(include_staged=include_staged):
            for f in s.manifest:
                if f.path not in seen:
                    seen[f.path] = (
                        f.path, f.size_bytes, f.row_count, s.sequence_number,
                        f.content, f.added_seq, dict(f.partition),
                    )
        return local_frame(self.spark, list(seen.values()), self._FILES_SCHEMA)

    _PARTITIONS_SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField(
            "partition", SPARK_T.MapType(SPARK_T.StringType(), SPARK_T.StringType())
        ),
        SPARK_T.StructField("file_count", SPARK_T.LongType()),
        SPARK_T.StructField("total_rows", SPARK_T.LongType()),
        SPARK_T.StructField("total_bytes", SPARK_T.LongType()),
    ])

    def partitions(self, seq: int | None = None) -> DataFrame:
        """Per-partition data-file stats at a snapshot (≙ Iceberg's
        ``partitions`` metadata table) — the planner's input for sizing
        compaction and spotting skewed partitions."""
        snap = self.snapshot_by_seq(seq) if seq is not None else self.current_snapshot()
        agg: dict[tuple, list] = {}
        if snap is not None:
            for f in snap.manifest:
                if f.content != "data":
                    continue
                cur = agg.setdefault(f.partition, [0, 0, 0])
                cur[0] += 1
                cur[1] += f.row_count
                cur[2] += f.size_bytes
        rows = [(dict(p), c, r, b) for p, (c, r, b) in agg.items()]
        return local_frame(self.spark, rows, self._PARTITIONS_SCHEMA)

    _MANIFESTS_SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("snapshot_id", SPARK_T.StringType()),
        SPARK_T.StructField("sequence_number", SPARK_T.LongType()),
        SPARK_T.StructField("data_file_count", SPARK_T.LongType()),
        SPARK_T.StructField("delete_file_count", SPARK_T.LongType()),
        SPARK_T.StructField("added_file_count", SPARK_T.LongType()),
        SPARK_T.StructField("total_bytes", SPARK_T.LongType()),
    ])

    def manifests(self) -> DataFrame:
        """Per-snapshot manifest summary (≙ Iceberg's ``manifests``
        metadata table; one manifest list per snapshot in this format)."""
        rows = []
        for s in self.snapshots():
            data = sum(1 for f in s.manifest if f.content == "data")
            dels = len(s.manifest) - data
            added = sum(1 for f in s.manifest if f.added_seq == s.sequence_number)
            rows.append((
                s.snapshot_id, s.sequence_number, data, dels, added,
                sum(f.size_bytes for f in s.manifest),
            ))
        return local_frame(self.spark, rows, self._MANIFESTS_SCHEMA)

    _SNAPSHOTS_SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("snapshot_id", SPARK_T.StringType()),
        SPARK_T.StructField("sequence_number", SPARK_T.LongType()),
        SPARK_T.StructField("parent_id", SPARK_T.StringType()),
        SPARK_T.StructField("committed_at_ms", SPARK_T.LongType()),
        SPARK_T.StructField("operation", SPARK_T.StringType()),
        SPARK_T.StructField("staged", SPARK_T.BooleanType()),
        SPARK_T.StructField("file_count", SPARK_T.LongType()),
        SPARK_T.StructField("total_bytes", SPARK_T.LongType()),
        SPARK_T.StructField("total_rows", SPARK_T.LongType()),
    ])

    def history(self) -> DataFrame:
        rows = [
            (
                s.snapshot_id, s.sequence_number, s.parent_id, s.timestamp_ms,
                s.operation, s.staged, len(s.manifest),
                sum(f.size_bytes for f in s.manifest),
                sum(f.row_count for f in s.manifest),
            )
            for s in self.snapshots()
        ]
        return local_frame(self.spark, rows, self._SNAPSHOTS_SCHEMA)

    def changelog(self, from_seq: int | None, to_seq: int) -> DataFrame:
        """Row-level CDC between two snapshots (≙ Iceberg's changelog
        scan / create_changelog_view): the result carries every column
        plus ``_change_type`` ∈ {insert, delete}.

        Fast path: when every file of ``from_seq`` survives into
        ``to_seq`` and every new file is a data file (pure appends), the
        changelog is exactly the added files scanned directly — map-only
        at any scale.  General path (overwrite/delete/update/compaction):
        ``exceptAll`` diffs in both directions — a row-identity diff
        necessarily shuffles once each way."""
        to_snap = self.snapshot_by_seq(to_seq)
        from_snap = None if from_seq is None else self.snapshot_by_seq(from_seq)
        from_files = {
            (f.path, f.content) for f in (from_snap.manifest if from_snap else ())
        }
        new_files = [
            f for f in to_snap.manifest if (f.path, f.content) not in from_files
        ]
        pure_append = all(f.content == "data" for f in new_files) and from_files <= {
            (f.path, f.content) for f in to_snap.manifest
        }
        if pure_append:
            added = [f for f in new_files if f.content == "data"]
            return self._read_refs(to_snap, added).withColumn(
                "_change_type", F.lit("insert")
            )
        after = self.read(seq=to_seq)
        before = (
            self.read(seq=from_seq)
            if from_seq is not None
            else after.limit(0)
        )
        inserts = after.exceptAll(before).withColumn("_change_type", F.lit("insert"))
        deletes = before.exceptAll(after).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    # ---- snapshot diff (≙ ReplicationPlanner.plan) -------------------------

    def diff_files(self, from_seq: int | None, to_seq: int) -> list[DataFileRef]:
        """Files in to_seq's manifest but not in from_seq's — the manifest
        set-difference at ReplicationPlanner.java:78-84.  from_seq=None
        diffs against empty (full snapshot)."""
        to = self.snapshot_by_seq(to_seq)
        if from_seq is None:
            return list(to.manifest)
        fro = self.snapshot_by_seq(from_seq)
        have = {f.path for f in fro.manifest}
        return [f for f in to.manifest if f.path not in have]

    def diff(self, from_seq: int | None, to_seq: int) -> DataFrame:
        """Same as diff_files but as a DataFrame (added/removed marker)."""
        to = self.snapshot_by_seq(to_seq)
        fro_paths = (
            set() if from_seq is None
            else {f.path for f in self.snapshot_by_seq(from_seq).manifest}
        )
        to_map = {f.path: f for f in to.manifest}
        rows = [
            (f.path, f.size_bytes, f.row_count, "added")
            for f in to.manifest if f.path not in fro_paths
        ]
        if from_seq is not None:
            for f in self.snapshot_by_seq(from_seq).manifest:
                if f.path not in to_map:
                    rows.append((f.path, f.size_bytes, f.row_count, "removed"))
        schema = SPARK_T.StructType([
            SPARK_T.StructField("file_path", SPARK_T.StringType()),
            SPARK_T.StructField("size_bytes", SPARK_T.LongType()),
            SPARK_T.StructField("row_count", SPARK_T.LongType()),
            SPARK_T.StructField("change", SPARK_T.StringType()),
        ])
        return local_frame(self.spark, rows, schema)

    # ---- schema evolution (≙ schema travels with each TableMetadata) -------
    #
    # The reference attaches a schema string to every commit
    # (TableMetadata.scala:15); evolution here is metadata-only commits:
    # summary["table_schema"] is the ordered (name, type) target and
    # summary["renames"] the history [(effective_seq, old, new), ...].
    # Old data files are adapted at read time (rename mapping + null-fill
    # for added columns) — no data rewrite, like Iceberg's field-id
    # evolution.

    def table_schema(self, snap: Snapshot | None = None) -> list[tuple[str, str]]:
        snap = snap or self.current_snapshot()
        if snap is None:
            raise NoSuchSnapshot("table is empty")
        cols = snap.summary.get("table_schema")
        if cols:
            return [(c, t) for c, t in cols]
        # derive from a data file footer via Spark schema
        refs = self.data_files(snap)
        if not refs:
            return []
        df = self.spark.read.parquet(os.path.join(self.root, refs[0].path))
        out = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        for col in snap.summary.get("partition_by", []):
            if col not in [c for c, _ in out]:
                out.append((col, snap.summary.get("partition_types", {}).get(col, "string")))
        return out

    def _schema_change(self, mutate, op_detail: str) -> Snapshot:
        cur = self.current_snapshot()
        if cur is None:
            raise NoSuchSnapshot("table is empty")
        # until a schema op declares one, the schema is the files' (the
        # same at every head; deriving it reads a footer, so only once)
        derived = self.table_schema(cur)

        def meta(head):
            new_schema, new_renames = mutate(
                self.table_schema(head) if head.summary.get("table_schema") else list(derived),
                [tuple(r) for r in head.summary.get("renames", [])],
                head.sequence_number + 1,
            )
            return "struct<" + ",".join(f"{c}:{t}" for c, t in new_schema) + ">", {
                "table_schema": [[c, t] for c, t in new_schema],
                "renames": [list(r) for r in new_renames],
                "change": op_detail,
            }

        return self._commit_files("schema_change", meta)

    def add_column(self, name: str, ddl_type: str) -> Snapshot:
        def mutate(schema, renames, _seq):
            if any(c == name for c, _ in schema):
                raise ValueError(f"column {name!r} already exists")
            schema.append((name, ddl_type))
            return schema, renames

        return self._schema_change(mutate, f"add:{name}")

    def drop_column(self, name: str) -> Snapshot:
        def mutate(schema, renames, _seq):
            if not any(c == name for c, _ in schema):
                raise ValueError(f"no column {name!r}")
            return [(c, t) for c, t in schema if c != name], renames

        return self._schema_change(mutate, f"drop:{name}")

    def rename_column(self, old: str, new: str) -> Snapshot:
        partition_by, _ = self.partition_spec()
        if old in partition_by:
            raise ValueError("renaming partition columns is not supported")

        def mutate(schema, renames, seq):
            if not any(c == old for c, _ in schema):
                raise ValueError(f"no column {old!r}")
            schema = [(new if c == old else c, t) for c, t in schema]
            renames.append((seq, old, new))
            return schema, renames

        return self._schema_change(mutate, f"rename:{old}->{new}")

    def _adapt_to_schema(self, df: DataFrame, snap: Snapshot, added_seq: int) -> DataFrame:
        """Adapt a file-epoch DataFrame to the snapshot's target schema:
        apply renames that became effective after the file was written,
        then null-fill added columns and project the target order."""
        target = self.table_schema(snap)
        if not target:
            return df
        for eff_seq, old, new in [tuple(r) for r in snap.summary.get("renames", [])]:
            if eff_seq > added_seq and old in df.columns:
                df = df.withColumnRenamed(old, new)
        keep_meta = [c for c in ("__file", "__pos", "__seq") if c in df.columns]
        cols = [
            F.col(c).cast(t).alias(c) if c in df.columns else F.lit(None).cast(t).alias(c)
            for c, t in target
        ]
        return df.select(*cols, *[F.col(m) for m in keep_meta])

    # ---- merge-on-read deletes (≙ ContentType POSITION/EQUALITY_DELETE) ----

    def _write_delete_file(
        self, rows: DataFrame, content: str, delete_cols: tuple[str, ...]
    ) -> DataFileRef | None:
        import dataclasses

        refs = self._write_data_files(rows)
        if not refs:
            return None
        if len(refs) > 1:  # tiny files; keep one ref per delete commit
            refs = self._write_data_files(rows.coalesce(1))
        return dataclasses.replace(
            refs[0], content=content, delete_cols=delete_cols, added_seq=0
        )

    def delete_where_mor(
        self, preds: list[tuple[str, str, object]], delete_cols: list[str]
    ) -> Snapshot:
        """Merge-on-read DELETE via an EQUALITY delete file: write the
        identity values of matching rows; scans subtract them until
        compaction materializes the delete.  O(matching keys) write
        instead of rewriting data files — the streaming-upsert-friendly
        path (≙ FileRef.ContentType EQUALITY_DELETE)."""
        cur = self.current_snapshot()
        if cur is None:
            raise NoSuchSnapshot("table is empty")
        matching = self.read(preds=preds).select(delete_cols).distinct().coalesce(1)
        ref = self._write_delete_file(matching, "equality_delete", tuple(delete_cols))
        if ref is None or ref.row_count == 0:
            return cur
        return self._commit_files(
            "delete_mor",
            lambda head: (head.schema_ddl, {"delete_rows": ref.row_count}),
            added=(ref,),
        )

    def delete_positions_mor(self, preds: list[tuple[str, str, object]]) -> Snapshot:
        """Merge-on-read DELETE via a POSITION delete file: (file, row
        position) pairs of matching rows (≙ POSITION_DELETE)."""
        cur = self.current_snapshot()
        if cur is None:
            raise NoSuchSnapshot("table is empty")
        affected = self.prune_files(preds, cur)
        rows = (
            self._read_refs(cur, affected, with_meta=True)
            .filter(self._preds_to_column(preds))
            .selectExpr("__file AS file_path", "__pos AS pos")
            .coalesce(1)
        )
        ref = self._write_delete_file(rows, "position_delete", ())
        if ref is None or ref.row_count == 0:
            return cur

        def meta(head):
            # the delete names rows by (file, position): every file it
            # read must still be live, or the delete hides nothing
            live = {f.path for f in head.manifest}
            if any(f.path not in live for f in affected):
                raise CommitConflict(
                    "delete_mor: a file the position delete names is no longer live"
                )
            return head.schema_ddl, {"delete_rows": ref.row_count}

        return self._commit_files("delete_mor", meta, added=(ref,))

    def upsert_mor(self, source: DataFrame, key_cols: list[str]) -> Snapshot:
        """Streaming-friendly MOR upsert (the Flink-CDC / equality-delete
        write pattern): ONE commit adds the source rows as a data file plus
        an equality-delete file of the source keys.  The delete (added at
        the same sequence) hides older versions of those keys while the
        new data file (same sequence, not "older") survives — no target
        file is read or rewritten, O(source) work regardless of table
        size."""
        cur = self.current_snapshot()
        if cur is None:
            return self.create(source)
        partition_by, _ = self.partition_spec()
        data_files = self._write_data_files(source, partition_by or None)
        keys = source.select(key_cols).distinct().coalesce(1)
        del_ref = self._write_delete_file(keys, "equality_delete", tuple(key_cols))
        return self._commit_files(
            "upsert_mor",
            lambda head: (source.schema.simpleString(), {
                "added_files": len(data_files),
                "delete_rows": del_ref.row_count if del_ref else 0,
            }),
            added=tuple(data_files) + ((del_ref,) if del_ref else ()),
        )

    # ---- branches (≙ promote_to_regional_branch, doc :287-311) -------------

    def _branch_dir(self, name: str) -> str:
        return os.path.join(self.meta_dir, "branches", name)

    def _branch_versions(self, name: str) -> list[str]:
        d = self._branch_dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(f for f in os.listdir(d) if f.endswith(".json"))

    def _branch_names(self) -> list[str]:
        d = os.path.join(self.meta_dir, "branches")
        if not os.path.isdir(d):
            return []
        return sorted(n for n in os.listdir(d) if self._branch_versions(n))

    def _advance_branch(self, name: str, snapshot_id: str) -> None:
        """CAS-advance the branch pointer (O_EXCL versioned files — the
        same register as main commits)."""
        d = self._branch_dir(name)
        os.makedirs(d, exist_ok=True)
        n = len(self._branch_versions(name)) + 1
        path = os.path.join(d, f"v{n:06d}.json")
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)  # raises on race
        with os.fdopen(fd, "w") as fh:
            json.dump({"snapshot_id": snapshot_id}, fh)

    def create_branch(self, name: str, seq: int | None = None) -> Snapshot:
        """Branch from a snapshot (default: current head) — ≙ ALTER TABLE
        CREATE BRANCH.  Branch state is a pointer; no data copies."""
        if self._branch_versions(name):
            raise FileExistsError(f"branch {name!r} already exists")
        head = self.snapshot_by_seq(seq) if seq is not None else self.current_snapshot()
        if head is None:
            raise NoSuchSnapshot("cannot branch an empty table")
        self._advance_branch(name, head.snapshot_id)
        return head

    def branch_head(self, name: str) -> Snapshot:
        versions = self._branch_versions(name)
        if not versions:
            raise NoSuchSnapshot(f"branch {name!r}")
        with open(os.path.join(self._branch_dir(name), versions[-1])) as fh:
            return self.snapshot_by_id(json.load(fh)["snapshot_id"])

    def append_to_branch(self, name: str, df: DataFrame) -> Snapshot:
        """Append on a branch: the commit is staged (invisible to main
        reads) and the branch pointer advances — the regional-branch write
        of the geo design (writers never touch main directly)."""
        files = self._write_data_files(df, self._spec(self.branch_head(name)) or None)
        snap = self._commit_files(
            "branch_append",
            lambda head: (df.schema.simpleString(), {"branch": name}),
            added=tuple(files), staged=True, branch=name,
        )
        self._advance_branch(name, snap.snapshot_id)
        return snap

    def read_branch(self, name: str) -> DataFrame:
        """Scan the branch head — data files only, with the snapshot's
        MOR delete files applied (mirrors ``read()``; a raw manifest read
        would load delete files as data and skip delete application)."""
        head = self.branch_head(name)
        return self._read_live_rows(head, self.data_files(head))

    def _is_ancestor(self, ancestor_id: str | None, snap: Snapshot) -> bool:
        seen: Snapshot | None = snap
        ids = {s.snapshot_id: s for s in self.snapshots()}
        while seen is not None:
            if seen.snapshot_id == ancestor_id:
                return True
            seen = ids.get(seen.parent_id) if seen.parent_id else None
        return ancestor_id is None

    def fast_forward(self, name: str) -> Snapshot:
        """Fast-forward main to the branch head — the CAS promote with
        ancestry check (expected_hash semantics): refuses if main moved
        past the branch point (diverged)."""
        bh = self.branch_head(name)
        base = self.current_snapshot()

        def meta(head):
            if not self._is_ancestor(head.snapshot_id if head else None, bh):
                raise CommitConflict(
                    f"branch {name!r} does not descend from main head; cannot fast-forward"
                )
            return bh.schema_ddl, {"fast_forwarded_from": name}

        return self._commit_files(
            "fast_forward", meta, added=bh.manifest,
            removed=base.manifest if base else (), base=base, carry=bh,
        )

    # ---- tags + refs metadata table (≙ Iceberg refs: BRANCH/TAG) -----------

    def _tag_path(self, name: str) -> str:
        return os.path.join(self.meta_dir, "tags", f"{name}.json")

    def _tag_names(self) -> list[str]:
        d = os.path.join(self.meta_dir, "tags")
        if not os.path.isdir(d):
            return []
        return sorted(n[: -len(".json")] for n in os.listdir(d) if n.endswith(".json"))

    def create_tag(self, name: str, seq: int | None = None) -> Snapshot:
        """Immutable named snapshot pointer (≙ ALTER TABLE CREATE TAG —
        the audit/release-pinning ref).  O_EXCL create: a tag can never
        be repointed, only dropped."""
        snap = self.snapshot_by_seq(seq) if seq is not None else self.current_snapshot()
        if snap is None:
            raise NoSuchSnapshot("cannot tag an empty table")
        path = self._tag_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "x") as fh:  # O_EXCL — fails if the tag exists
            json.dump({"snapshot_id": snap.snapshot_id}, fh)
        return snap

    def tag_head(self, name: str) -> Snapshot:
        try:
            with open(self._tag_path(name)) as fh:
                return self.snapshot_by_id(json.load(fh)["snapshot_id"])
        except FileNotFoundError:
            raise NoSuchSnapshot(f"tag {name!r}") from None

    def read_tag(self, name: str) -> DataFrame:
        """Time-travel read pinned by tag (≙ VERSION AS OF 'tag') —
        data files only, with the pinned snapshot's MOR delete files
        applied (mirrors ``read()``)."""
        head = self.tag_head(name)
        return self._read_live_rows(head, self.data_files(head))

    def drop_tag(self, name: str) -> bool:
        try:
            os.remove(self._tag_path(name))
            return True
        except FileNotFoundError:
            return False

    _REFS_SCHEMA = SPARK_T.StructType([
        SPARK_T.StructField("ref_name", SPARK_T.StringType()),
        SPARK_T.StructField("ref_type", SPARK_T.StringType()),
        SPARK_T.StructField("snapshot_id", SPARK_T.StringType()),
        SPARK_T.StructField("sequence_number", SPARK_T.LongType()),
    ])

    def refs(self) -> DataFrame:
        """≙ Iceberg's ``refs`` metadata table: main + every branch and
        tag with the snapshot each points at."""
        rows = []
        cur = self.current_snapshot()
        if cur is not None:
            rows.append(("main", "BRANCH", cur.snapshot_id, cur.sequence_number))
        for name in self._branch_names():
            try:
                h = self.branch_head(name)
                rows.append((name, "BRANCH", h.snapshot_id, h.sequence_number))
            except NoSuchSnapshot:
                pass
        for name in self._tag_names():
            try:
                h = self.tag_head(name)
                rows.append((name, "TAG", h.snapshot_id, h.sequence_number))
            except NoSuchSnapshot:
                pass
        return local_frame(self.spark, rows, self._REFS_SCHEMA)

    # ---- maintenance: expiry + orphans (≙ GC family) -----------------------

    def expire_snapshots(
        self,
        retain_last: int = 1,
        older_than_ms: int | None = None,
        delete_files: bool = True,
        min_leased_seq: int | None = None,
    ) -> dict:
        """≙ expire_snapshots(retain_last, older_than): drop old snapshot
        metadata; physically delete files unreachable from any retained
        snapshot (the gc-producer's `all_files − reachable`,
        doc :778-795).

        ``min_leased_seq`` is the query-lease GC floor (≙ QueryLease —
        legacy LeasePort.java:6-11): snapshots at or after the oldest
        leased sequence survive expiry whatever the retention window, so
        an in-flight reader pinned to a leased snapshot never loses its
        version file or data files.  Pass
        ``LeaseStore.min_leased_seq(table)``."""
        snaps = self.snapshots()
        if not snaps:
            return {"expired_snapshots": 0, "deleted_files": 0}
        keep = set(s.sequence_number for s in snaps[-retain_last:]) if retain_last else set()
        cur = self.current_snapshot()
        if cur:
            keep.add(cur.sequence_number)
        if min_leased_seq is not None:
            keep.update(
                s.sequence_number
                for s in snaps
                if s.sequence_number >= min_leased_seq
            )
        # Branch pointers are refs: their head snapshots (and so their
        # files) must survive expiry even when older than the retain
        # window — Iceberg's ref-protected expire_snapshots.  Expiring a
        # branch head would unlink its version file and physically delete
        # its exclusive data files: live branch data loss.
        for name in self._branch_names():
            try:
                keep.add(self.branch_head(name).sequence_number)
            except NoSuchSnapshot:
                pass
        # Tags are immutable refs with the same protection: an expired
        # tag head would break VERSION AS OF 'tag' and delete its files.
        for name in self._tag_names():
            try:
                keep.add(self.tag_head(name).sequence_number)
            except NoSuchSnapshot:
                pass
        expired = [
            s for s in snaps
            if s.sequence_number not in keep
            and (older_than_ms is None or s.timestamp_ms < older_than_ms)
        ]
        reachable = {
            f.path
            for s in snaps
            if s.sequence_number not in {e.sequence_number for e in expired}
            for f in s.manifest
        }
        deletable = {
            f.path for s in expired for f in s.manifest if f.path not in reachable
        }
        for s in expired:
            os.unlink(self._version_path(s.sequence_number))
        deleted = 0
        if delete_files:
            deleted = sum(_delete_table_file(self.root, rel) for rel in deletable)
        return {"expired_snapshots": len(expired), "deleted_files": deleted}

    def orphan_files(self) -> list[str]:
        """Files under data/ referenced by NO snapshot — the doc's
        `Orphan ≈ Inventory − Reachable` (doc :886-899).  Inventory here
        is a filesystem walk; on S3 it would be the Inventory parquet.
        A copy killed mid-file leaves its ``<file>.parquet.inprogress``
        temp file, which is listed too."""
        reachable = {f.path for s in self.snapshots() for f in s.manifest}
        orphans = []
        for dirpath, _, files in os.walk(self.data_dir):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if rel not in reachable and fn.endswith((".parquet", ".parquet.inprogress")):
                    orphans.append(rel)
        return sorted(orphans)

    def remove_orphan_files(self, older_than_ms: int | None = None) -> list[str]:
        """Delete orphans older than the grace period (doc: P14D general,
        P3D tmp prefixes — caller picks the window)."""
        removed = []
        for rel in self.orphan_files():
            full = os.path.join(self.root, rel)
            mtime_ms = os.path.getmtime(full) * 1000
            if older_than_ms is None or mtime_ms < older_than_ms:
                _delete_table_file(self.root, rel)
                removed.append(rel)
        return removed
