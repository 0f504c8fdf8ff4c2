"""Counts recorded by the tracer at the lake layer's boundaries.

Each hook runs after a traced call returns, with tracing paused, and reads
only metadata the call already produced (snapshots, manifests, replication
metrics), so it adds no Spark work.
"""

from __future__ import annotations

import inspect
import os

from iceberg_hybrid_spark.lake.table import HyTable, Snapshot

_READ_SIG = inspect.signature(inspect.unwrap(HyTable.read))
_COMMITS = (
    "create", "append", "overwrite", "overwrite_partitions", "upsert_mor", "publish",
    "rewrite_data_files", "delete_where", "delete_where_mor", "delete_positions_mor",
    "update_where", "merge", "stage_append",
)


def _on_read(tr, args, kwargs, _df) -> None:
    bound = _READ_SIG.bind(*args, **kwargs)
    bound.apply_defaults()
    p = bound.arguments
    table: HyTable = p["self"]
    if p["snapshot_id"] is not None:
        snap = table.snapshot_by_id(p["snapshot_id"])
    elif p["seq"] is not None:
        snap = table.snapshot_by_seq(p["seq"])
    elif p["as_of_ms"] is not None:
        snap = table.snapshot_as_of(p["as_of_ms"])
    else:
        snap = table.current_snapshot()
    tr.count("lake.table.manifest_entries", len(snap.manifest))
    tr.count("lake.table.zero_row_files",
             sum(1 for f in HyTable.data_files(snap) if f.row_count == 0))


def _on_commit(tr, args, _kwargs, snap) -> None:
    if isinstance(snap, Snapshot):
        table: HyTable = args[0]
        path = os.path.join(table.meta_dir, f"v{snap.sequence_number:06d}.json")
        tr.count("lake.table.meta_bytes_per_commit", os.path.getsize(path))


def _on_copy(tr, _args, _kwargs, metrics) -> None:
    tr.count("lake.replication.files_copied", metrics.files_copied)
    tr.count("lake.replication.bytes_copied", metrics.bytes_copied)


def _on_replicate(tr, _args, _kwargs, result) -> None:
    published, metrics = result
    if published is not None and published.manifest:
        tr.count("lake.replication.copy_useful_ratio", metrics.files_copied / len(published.manifest))


def _on_maintenance(tr, _args, _kwargs, reports) -> None:
    tr.count("lake.gc.orphans_removed", sum(r.get("orphans_removed", 0) for r in reports))


def attach(tracer) -> None:
    tracer.on("lake.table.HyTable.read", _on_read)
    for name in _COMMITS:
        tracer.on(f"lake.table.HyTable.{name}", _on_commit)
    tracer.on("lake.replication.copy_files", _on_copy)
    tracer.on("lake.replication.replicate", _on_replicate)
    tracer.on("lake.catalog.HyCatalog.run_maintenance", _on_maintenance)
