"""Streaming reads over a HyTable (≙ Iceberg's streaming read / the
incremental consumption path of the replica design).

Two forms:

- ``stream_table_appends``: Structured Streaming file source rooted at the
  table's data directory — every commit's files arrive as a micro-batch
  (exactly-once per file via the checkpoint).  Append-only semantics: an
  overwrite/compaction rewrites rows into NEW files, which a file-level
  stream would re-deliver; restrict to fast-append workflows (the event /
  CDC-feed tables of the reference design) or use
  ``incremental_batches`` for snapshot-accurate consumption.
- ``incremental_batches``: driver-paced snapshot tailing built on
  ``HyTable.incremental_read`` — each call returns the rows added since
  the consumer's last seen sequence number, with snapshot (not file)
  semantics.  This is the reference's fast-forward consumption
  (iceberg-arch-hybrid-replica-dr.md:140-142) as a pull loop.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as SPARK_T

from ..lake.table import HyTable


def stream_table_appends(spark: SparkSession, table: HyTable) -> DataFrame:
    """readStream over an append-only HyTable's data files.

    The schema is pinned from the current snapshot; new parquet files
    under any commit directory become the next micro-batch.  Combine with
    ``withWatermark``/windowing downstream exactly like any other stream.
    """
    cur = table.current_snapshot()
    if cur is None:
        raise ValueError("table has no snapshot to infer a schema from")
    # schema_ddl is a struct simpleString; parse it to the StructType the
    # streaming reader accepts
    schema = SPARK_T.StructType.fromDDL(cur.schema_ddl)
    return (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(os.path.join(table.root, "data"))
    )


_COMMIT_EVENT_SCHEMA = SPARK_T.StructType([
    SPARK_T.StructField("snapshot_id", SPARK_T.StringType()),
    SPARK_T.StructField("sequence_number", SPARK_T.LongType()),
    SPARK_T.StructField("parent_id", SPARK_T.StringType()),
    SPARK_T.StructField("timestamp_ms", SPARK_T.LongType()),
    SPARK_T.StructField("operation", SPARK_T.StringType()),
    SPARK_T.StructField("staged", SPARK_T.BooleanType()),
])


def stream_commit_history(spark: SparkSession, table: HyTable) -> DataFrame:
    """True ``readStream`` over the table's commit log
    (≙ CatalogPort.getCommitHistoryStream, CatalogPort.scala — the
    streaming overload of getCommitHistory).

    Each version file under ``_meta/`` is one commit event; new commits
    arrive as micro-batches with exactly-once delivery via the stream
    checkpoint.  Safe because ``_commit`` publishes version files with
    link(2) — they appear fully-formed, never half-written.  The schema
    projects the snapshot header only (the manifest array is skipped by
    the JSON reader), so a batch row stays O(1) regardless of table size.
    """
    return (
        spark.readStream.schema(_COMMIT_EVENT_SCHEMA)
        .option("pathGlobFilter", "v*.json")
        .json(table.meta_dir)
    )


class IncrementalTableReader:
    """Pull-based snapshot tailing: ``next_batch()`` returns the rows of
    all snapshots committed since the previous call (None when caught
    up).  State is one integer — restartable by persisting ``last_seq``."""

    def __init__(self, table: HyTable, from_seq: int | None = None):
        self.table = table
        cur = table.current_snapshot()
        # default: start from the current head (only future commits)
        self.last_seq = from_seq if from_seq is not None else (
            cur.sequence_number if cur else 0
        )

    def next_batch(self) -> DataFrame | None:
        cur = self.table.current_snapshot()
        if cur is None or cur.sequence_number <= self.last_seq:
            return None
        # seq 0 = before the first commit → full read of the head
        frm = self.last_seq if self.last_seq > 0 else None
        added = self.table.diff_files(frm, cur.sequence_number)
        df = self.table._read_refs(cur, added)
        self.last_seq = cur.sequence_number
        return df


class ChangelogTailer:
    """Pull-based CDC tailing (≙ Iceberg's changelog streaming read):
    ``next_batch()`` returns the row-level changelog — ``_change_type``
    insert/delete rows — for all snapshots committed since the previous
    call (None when caught up).  Pure appends stream through the
    changelog's map-only added-files fast path; destructive commits pay
    the two-way row diff.  State is one integer — restartable by
    persisting ``last_seq`` (the consistency-token pattern of
    control/tokens.py)."""

    def __init__(self, table: HyTable, from_seq: int | None = None):
        self.table = table
        cur = table.current_snapshot()
        self.last_seq = from_seq if from_seq is not None else (
            cur.sequence_number if cur else 0
        )

    def next_batch(self) -> DataFrame | None:
        cur = self.table.current_snapshot()
        if cur is None or cur.sequence_number <= self.last_seq:
            return None
        frm = self.last_seq if self.last_seq > 0 else None
        df = self.table.changelog(frm, cur.sequence_number)
        self.last_seq = cur.sequence_number
        return df
