"""HyCatalog — namespace/table catalog over a warehouse directory.

≙ the reference CatalogPort's namespace surface (CatalogPort.scala:22-40):
listTables / tableExists / createTable / dropTable / listNamespaces, with
``TableId = (namespace, name)`` (TableId.scala:11-26) mapping to
``<warehouse>/<namespace>/<name>`` directories.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .table import HyTable


class NoSuchTable(Exception):
    pass


class HyCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = os.path.abspath(warehouse)
        os.makedirs(self.warehouse, exist_ok=True)

    def _split(self, identifier: str) -> tuple[str, str]:
        if "." not in identifier:
            raise ValueError(f"expected namespace.table, got {identifier!r}")
        ns, _, name = identifier.partition(".")
        if not ns or not name:
            raise ValueError(f"invalid identifier {identifier!r}")
        return ns, name

    def _root(self, identifier: str) -> str:
        ns, name = self._split(identifier)
        return os.path.join(self.warehouse, ns, name)

    # ---- CatalogPort surface ----------------------------------------------

    def table_exists(self, identifier: str) -> bool:
        return HyTable(self.spark, self._root(identifier)).exists()

    def create_table(
        self, identifier: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> HyTable:
        t = HyTable(self.spark, self._root(identifier))
        t.create(df, partition_by=partition_by)
        return t

    def load_table(self, identifier: str) -> HyTable:
        t = HyTable(self.spark, self._root(identifier))
        if not t.exists():
            raise NoSuchTable(identifier)
        return t

    def drop_table(self, identifier: str) -> bool:
        root = self._root(identifier)
        if not HyTable(self.spark, root).exists():
            return False
        shutil.rmtree(root)
        return True

    def list_namespaces(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    def list_tables(self, namespace: str) -> list[str]:
        ns_dir = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(ns_dir):
            return []
        out = []
        for name in sorted(os.listdir(ns_dir)):
            if HyTable(self.spark, os.path.join(ns_dir, name)).exists():
                out.append(f"{namespace}.{name}")
        return out

    def list_tables_paginated(
        self, namespace: str, page_size: int = 1000, offset: int = 0
    ) -> tuple[list[str], bool]:
        """≙ listTablesPaginated with the 10k page cap (Pagination.scala:9)."""
        if page_size > 10_000:
            raise ValueError("page size capped at 10000")
        names = self.list_tables(namespace)
        page = names[offset : offset + page_size]
        return page, offset + page_size < len(names)

    # ---- catalog-wide maintenance ------------------------------------------

    def run_maintenance(
        self,
        retain_last: int = 3,
        compact_min_files: int = 8,
        lease_floor=None,
        ann_indexes: dict | None = None,
    ) -> list[dict]:
        """The nightly upkeep cycle over EVERY table in the warehouse —
        compaction (only when fragmented past ``compact_min_files``) →
        snapshot expiry → tiered orphan removal (P14D general / P3D tmp
        prefixes, from ``gc.orphan_grace_s``) → L2 closure audit.
        Returns one report dict per table; ANY per-table failure (audit,
        compaction, IO) is recorded in that table's report, not raised,
        so one broken table cannot block the fleet's cycle.

        Expiry and the GC producer keep the same snapshots, by the one
        retention rule ``HyTable._retained``: the last ``retain_last``,
        the head, every branch and tag head, and every snapshot at or
        after the table's lease floor.  So once expiry has deleted the
        files of the snapshots it dropped, the candidates it leaves are
        orphans only, and they go through the same candidates →
        DeletePlan → apply discipline as the standalone GC (per-file
        delete_after already encodes the tiered grace, so the plan-level
        safety delay is 0 for this pre-aged nightly plan).  Each table's
        cycle is independent — on a real cluster the driver fans these
        out as separate jobs (the scheduler parallelism knob, not a
        data-plane shuffle).

        ``lease_floor``: optional callable ``identifier -> int | None``
        (typically ``lambda t: lease_store.min_leased_seq(t)``) — the
        query-lease GC floor, which both expiry and the producer keep,
        so a nightly sweep can never delete files under an in-flight
        leased reader.

        ``ann_indexes``: optional ``identifier -> {"threshold": float,
        "rebuild": callable | None}`` declaring which tables are
        persisted ANN code tables (PQ / IVF-PQ codes — the FAISS-style
        frozen-codebook artifacts of ``functions/similarity.py``).  For
        each, the sweep reads ``index_staleness`` off the snapshot log
        (fraction of served codes appended after the last full rebuild
        — appends encode against FROZEN codebooks, so quantization
        error grows with drift) and records the staleness + rebuild
        recommendation in the report; when a ``rebuild`` callable is
        supplied and the threshold is crossed, the sweep invokes it
        (an atomic overwrite via pq_write_index/ivfpq_write_index,
        which resets the drift base) and records the post-rebuild
        staleness.  This closes the FAISS add() contract loop the
        append path opens: appends are cheap, drift is measured, and
        the nightly cycle is what acts on it."""
        import time as _time

        from . import gc as G
        from .replication import VerificationError, audit_closure

        reports = []
        now_ms = int(_time.time() * 1000)
        for ns in self.list_namespaces():
            for identifier in self.list_tables(ns):  # already ns-qualified
                t = self.load_table(identifier)
                rep: dict = {"table": identifier}
                try:
                    head = t.current_snapshot()
                    n_data = len(t.data_files(head)) if head else 0
                    if n_data >= compact_min_files:
                        t.rewrite_data_files()
                        rep["compacted"] = True
                    else:
                        rep["compacted"] = False
                    # ANN staleness reads the last rebuild snapshot off
                    # the log as its drift base, so it MUST run before
                    # snapshot expiry: with retain_last=3 and more
                    # appends than that, expiry drops the rebuild
                    # snapshot and the drift base with it.  Running
                    # first also lets a triggered auto-rebuild commit
                    # its overwrite BEFORE expiry, so the fresh drift
                    # base is the newest snapshot and always retained.
                    if ann_indexes and identifier in ann_indexes:
                        from ..functions.similarity import index_staleness

                        opts = ann_indexes[identifier]
                        thr = opts.get("threshold", 0.2)
                        st = index_staleness(t, threshold=thr)
                        rep["index_staleness"] = round(st["staleness"], 4)
                        rep["index_rebuild_recommended"] = st[
                            "rebuild_recommended"
                        ]
                        rebuild = opts.get("rebuild")
                        if st["rebuild_recommended"] and rebuild:
                            rebuild(t)
                            post = index_staleness(t, threshold=thr)
                            rep["index_rebuilt"] = True
                            rep["index_staleness_after_rebuild"] = round(
                                post["staleness"], 4
                            )
                    floor = lease_floor(identifier) if lease_floor else None
                    exp = t.expire_snapshots(
                        retain_last=retain_last, min_leased_seq=floor
                    )
                    rep["expired_snapshots"] = exp["expired_snapshots"]
                    rep["deleted_files"] = exp["deleted_files"]
                    plan = G.DeletePlan(
                        t.root,
                        G.produce_candidates(
                            t, retain_last=retain_last, now_ms=now_ms, min_leased_seq=floor
                        ),
                        generated_at_ms=now_ms,
                        valid_from_ms=now_ms,
                        valid_until_ms=now_ms + 3_600_000,
                    )
                    execs = G.apply_delete_plan(
                        plan, safety_delay_s=0, now_ms=now_ms
                    )
                    rep["orphans_removed"] = sum(
                        1 for e in execs if e.result == "deleted"
                    )
                    rep["orphans_deferred"] = sum(
                        1 for e in execs if e.result == "blocked_window"
                    )
                    audit = audit_closure(t)
                    rep["audit_ok"] = True
                    rep["files_checked"] = audit["files_checked"]
                except VerificationError as exc:
                    rep["audit_ok"] = False
                    rep["audit_error"] = str(exc)[:200]
                except Exception as exc:  # isolate ANY per-table failure
                    rep["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
                reports.append(rep)
        return reports
