"""Parquet lake sources.

The driver's testdata is one parquet file per table per scale factor
(``/root/testdata/sf*/<name>.parquet``).  On a real 100 TB lake each
"table" would be a directory of many files — ``spark.read.parquet`` takes
either, so nothing here changes at scale.  Filters and projections applied
by callers push down into the scan (Catalyst → parquet footer min/max).

``load_table`` reads the table's schema from one parquet footer in the
driver (pyarrow) — the file itself, or a directory's summary file or else
its first data file in sorted order, the footer Spark's own inference
reads — and hands it to ``spark.read.schema``, so registering a table runs
no Spark job.  Spark's inference (a one-task job) reads only footers whose
types Spark reads differently from their Arrow type.
"""

from __future__ import annotations

import json
import os
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import as_nullable

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
DIM_TABLES = frozenset({"region", "nation", "supplier"})

# Tables whose scan layout is part of a result.  Seeded distributed
# KMeans and PQ training over ``embeddings`` (IVF, SemDeDup, the ``*_pq_*``
# codebooks) reads the rows in the order and partitioning the scan hands
# it, and its fitted artifacts are pinned as oracle literals, so the
# table is read in the layout they were trained on.  ``documents`` is
# not here: every documents query is a value-level function of its rows,
# and on one-row-group files the 64-way exchange cost more than the
# parallelism it bought, even for the fold-heavy queries (docs/SCALING.md,
# "The rescue re-measured").
FOLD_HEAVY_TABLES = frozenset({"embeddings"})

# Width of the pinned training layout.  A CONSTANT, not defaultParallelism:
# round-robin repartition (sort-before-shuffle, so the layout is a pure
# function of input order and width) feeds the seeded training above, and
# a core-count-dependent width would make the trained model, and so
# correctness, depend on the machine.
_RESCUE_PARTITIONS = 64


def _ensure_scan_parallelism(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Hold a pinned-artifact table in its training layout: when the scan
    arrives as fewer splits than the constant width (single-file
    fixtures, one-row-group parquet, a non-splittable codec), round-robin
    repartition to that width.

    The layout, not parallelism, is the reason: the seeded KMeans and PQ
    artifacts pinned as oracle literals were trained on this 64-way
    round-robin layout, so both the width and the *decision to fire*
    must be a pure function of the input files, never of
    defaultParallelism.  An explicit partition count pins the exchange
    against AQE coalescing.  Round-robin repartition is value-neutral and
    Catalyst pushes filters and column pruning through it into the scan
    (docs/PLANS.md: PushedFilters survive).  A scan of 64 or more splits
    is left as it is."""
    if df.rdd.getNumPartitions() < _RESCUE_PARTITIONS:
        return df.repartition(_RESCUE_PARTITIONS)
    return df


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Where Spark's parquet writer keeps the frame's schema; Spark's inference
# takes a footer's schema from it when it is there.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# The Arrow types a footer reports that Spark's parquet reader reads as
# ``from_arrow_type`` converts them.  Not here, so Spark infers: unsigned
# ints (Spark widens them), nanosecond timestamps (INT96 is a timestamp,
# TIMESTAMP(NANOS) a bigint under nanosAsLong), dictionaries and durations
# (Arrow-only types over plain parquet columns), binaries (strings under
# binaryAsString, as ENUM-annotated ones always are), time, date64,
# decimal256, null.
_FOOTER_ATOMIC = (
    pa.types.is_boolean, pa.types.is_signed_integer, pa.types.is_float32,
    pa.types.is_float64, pa.types.is_decimal128, pa.types.is_string,
    pa.types.is_large_string, pa.types.is_date32,
)


def _arrow_convertible(at: pa.DataType) -> bool:
    """Whether Spark reads a parquet column Arrow reports as ``at`` as the
    type ``from_arrow_type`` gives for ``at``."""
    if pa.types.is_struct(at):
        return all(_arrow_convertible(f.type) for f in at)
    if pa.types.is_list(at) or pa.types.is_large_list(at):
        return _arrow_convertible(at.value_type)
    if pa.types.is_map(at):
        return _arrow_convertible(at.key_type) and _arrow_convertible(at.item_type)
    if pa.types.is_timestamp(at):
        return at.unit != "ns"
    return any(is_t(at) for is_t in _FOOTER_ATOMIC)


# Summary files Spark's inference reads before any data file, in this order.
_SUMMARY_FILES = ("_common_metadata", "_metadata")


def _footer_file(path: str) -> str | None:
    """The file whose footer Spark infers ``path``'s schema from: ``path``
    itself; for a directory, its summary file, else its first data file in
    sorted order (Spark's listing skips names starting with ``_`` or
    ``.``).  None for an empty directory, and for a partitioned one: its
    subdirectories add columns no footer holds."""
    if not os.path.isdir(path):
        return path
    names = os.listdir(path)
    data = sorted(n for n in names if not n.startswith(("_", ".")))
    if not data or any(os.path.isdir(os.path.join(path, n)) for n in data):
        return None
    summary = [n for n in _SUMMARY_FILES if n in names]
    return os.path.join(path, (summary or data)[0])


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, read from one footer
    in the driver, or None where only Spark's inference gives it."""
    footer = _footer_file(path)
    if footer is None:
        return None
    arrow = pq.read_schema(footer)
    spark_json = (arrow.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is not None:
        schema = StructType.fromJson(json.loads(spark_json))
    elif all(_arrow_convertible(f.type) for f in arrow):
        from pyspark.sql.pandas.types import from_arrow_schema

        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        schema = from_arrow_schema(arrow, prefer_timestamp_ntz=ntz)
    else:
        return None
    return as_nullable(schema)


# Per-session DataFrame cache.  The testdata lake is immutable and a
# DataFrame is just an analyzed plan, so re-handing the same object out
# skips the file listing, the driver's footer read and the relation's
# analysis (several py4j round trips per call — measured ~0.2-0.5 s of
# plan-build time per multi-table query).  Keyed weakly on the session so
# a stopped session's plans never leak into its successor.
_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    per_session = _CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # An events file that stores ts as INT64 TIMESTAMP(NANOS) (the
        # fixtures store TIMESTAMP(MICROS)) is one a vanilla Spark session
        # rejects outright (PARQUET_TYPE_ILLEGAL).  Callers may hand us a
        # SparkSession we didn't build (the harness does), so set the
        # legacy conf here at runtime — it's a session conf, idempotent,
        # and safe to flip before every events read.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    schema = _footer_schema(spark, path)
    if schema is None:
        df = spark.read.parquet(path)
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        # A TIMESTAMP(NANOS) ts arrives as int64 nanos under nanosAsLong.
        # Floor-divide to micros (matches DuckDB's ns→µs truncation) and
        # restore a proper timestamp column.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        ts = (df.schema if schema is None else schema)["ts"].dataType
        if isinstance(ts, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if name in FOLD_HEAVY_TABLES:
        df = _ensure_scan_parallelism(spark, df)
    per_session[key] = df
    return df


# --- deterministic corpus sampling ------------------------------------------
# Shared hash-sample predicate for the audit-tier calibrators' sampled
# production twins (minhash_estimate_calibration_sampled,
# dedup_modality_agreement_sampled, kmv_source_overlap_sampled): keep a
# document iff the first hex nibble of md5(doc_id || ':cal') is <= the
# threshold nibble.  md5 over the same byte string is identical in Spark
# and DuckDB (the domain_mix_sample trick), so BOTH engines evaluate the
# exact same predicate — no RNG state, reproducible across runs, and the
# sample composes with any downstream per-pair operator because
# membership is a pure function of doc_id.  The default nibble '3' keeps
# 4/16 = ~25% of documents; a 100 TB deployment tightens the threshold
# (more hex digits, smaller prefix) so the expected sample size stays
# FIXED as the corpus grows — that is the knob that turns the
# corpus-wide audit queries into fixed-cost scheduled monitors.
DOC_SAMPLE_NIBBLE = "3"


def duck_doc_sample_where(
    col: str = "doc_id", nibble: str = DOC_SAMPLE_NIBBLE
) -> str:
    """DuckDB text of the sample predicate over column ``col`` — the
    byte-identical twin of ``sample_documents``'s Spark filter.
    ``nibble`` may be a multi-character hex prefix for finer rates:
    '3' keeps 4/16, '00' keeps 1/256, '00f' keeps 16/4096 — the knob a
    growing corpus tightens to hold the expected SAMPLE SIZE fixed."""
    n = len(nibble)
    return f"substr(md5({col}::VARCHAR || ':cal'), 1, {n}) <= '{nibble}'"


DUCK_DOC_SAMPLE_WHERE = duck_doc_sample_where()


# The fixed-SIZE sample contract for the SCHEDULED monitors: every
# run derives the hex-prefix threshold from the live corpus count so
# the expected sample stays ~this many documents as the corpus grows —
# the knob that makes pipeline_health and the calibrator twins
# fixed-cost at 100 TB (docs/SCALING.md: fixed-fraction 2.9x at 64x
# vs fixed-size 1.9x).
PIPELINE_SAMPLE_TARGET_DOCS = 1200


def nibble_for_target(corpus_docs: int, target_docs: int) -> str:
    """The hex-prefix threshold that keeps an expected ``target_docs``
    out of ``corpus_docs`` — the mechanical form of the fixed-size
    sample knob (schedule: recompute from the corpus row count each
    run; the returned prefix is deterministic, so two runs at the same
    corpus size sample the same documents).

    Uses an 8-hex-digit prefix (2^32 buckets): the threshold is the
    largest prefix value P such that (P+1)/2^32 <= target/corpus,
    floored at one bucket.  One bucket is worth corpus/2^32 documents,
    so the expected sample stays within one document of the target
    through ~10^12-doc corpora (a 4-digit prefix's 65,536 buckets
    already overshoot a 1,200-doc target 12x at 10^9 docs — real
    100 TB corpora need the finer knob).  Rates above 1 return the
    accept-everything threshold.  Pure INTEGER arithmetic (``//``, not
    ``int(/)``) so the in-SQL twin (``(4294967296 * target) // n`` in
    DuckDB, ``duck_doc_sample_where_fixed_size``) derives the identical
    threshold bit-for-bit from the same corpus count."""
    if corpus_docs <= 0 or target_docs >= corpus_docs:
        return "ffffffff"
    buckets = max(1, (4294967296 * target_docs) // corpus_docs)
    return format(buckets - 1, "08x")


def duck_doc_sample_where_fixed_size(
    col: str = "doc_id",
    target: int = PIPELINE_SAMPLE_TARGET_DOCS,
    table: str = "documents",
) -> str:
    """DuckDB text of the FIXED-SIZE sample predicate: the threshold is
    derived INSIDE SQL from the live corpus count (scalar subquery), so
    the oracle and the Spark side (``sample_documents_fixed_size``,
    which derives the same threshold via ``nibble_for_target`` from
    ``docs.count()``) agree bit-for-bit at every corpus size — integer
    division, ``greatest(1, ·)`` floor, lowercase 8-hex padding all
    mirror the Python arithmetic exactly."""
    thr = (
        f"(SELECT CASE WHEN n <= 0 OR {target} >= n THEN 'ffffffff' "
        f"ELSE lower(lpad(to_hex(greatest(1, (4294967296 * {target}) // n)"
        f" - 1), 8, '0')) END "
        f"FROM (SELECT COUNT(*) AS n FROM {table}) AS _corpus_n)"
    )
    return f"substr(md5({col}::VARCHAR || ':cal'), 1, 8) <= {thr}"


DUCK_DOC_SAMPLE_WHERE_FIXED_SIZE = duck_doc_sample_where_fixed_size()


def sample_documents(docs: DataFrame, nibble: str = DOC_SAMPLE_NIBBLE) -> DataFrame:
    """Deterministic hash-sample of a documents relation (see above).

    Evaluates map-side in the scan stage (a pure projection predicate —
    Catalyst pushes it into the parquet scan), so everything downstream
    of the filter runs on the sampled relation only."""
    from pyspark.sql import functions as F

    return docs.filter(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cal"))),
            1,
            len(nibble),
        )
        <= nibble
    )


def sample_documents_fixed_size(
    docs: DataFrame, target: int = PIPELINE_SAMPLE_TARGET_DOCS
) -> DataFrame:
    """Fixed-SIZE deterministic sample: count the corpus (a
    parquet-metadata count — row-group stats, no data scan), derive the
    hex-prefix threshold with ``nibble_for_target``, and filter with it.
    The expected sample size stays ~``target`` documents no matter how
    large the corpus grows — the scheduled-monitor form of the sample
    knob.  ``duck_doc_sample_where_fixed_size`` is the byte-identical
    SQL twin (same count, same integer derivation, same predicate)."""
    return sample_documents(docs, nibble_for_target(docs.count(), target))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every lake table as a temp view (for spark.sql queries)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
