"""``load_table`` reads a table's schema from a parquet footer in the
driver: the schema must equal the one Spark's own inference gives, and
registering a table must launch no Spark job.  Only ``embeddings`` is
repartitioned to the 64-way layout its pinned trained artifacts need;
every other table is the bare scan."""

import datetime
import decimal
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from iceberg_hybrid_spark.sources.tables import TABLE_NAMES, _footer_schema, load_table, table_path

SF_DIR = "/root/testdata/sf0.001"

# one column of each type the footer schema is derived for in the driver
DERIVED = {
    "nested": pa.table({
        "l": pa.array([[1, 2], None], pa.list_(pa.int64())),
        "s": pa.array([{"a": 1, "b": "x"}, None], pa.struct([("a", pa.int32()), ("b", pa.string())])),
        "m": pa.array([[("k", 1.0)], None], pa.map_(pa.string(), pa.float64())),
        "ll": pa.array([[[1]], None], pa.list_(pa.list_(pa.int16()))),
        "req": pa.array([[1], [2]], pa.list_(pa.field("item", pa.int8(), nullable=False))),
    }),
    "atomic": pa.table({
        "d": pa.array([decimal.Decimal("1.23")], pa.decimal128(10, 2)),
        "d38": pa.array([decimal.Decimal("1.23")], pa.decimal128(38, 2)),
        "date": pa.array([datetime.date(2020, 1, 1)], pa.date32()),
        "b": pa.array([True]),
        "f": pa.array([1.5], pa.float32()),
        "ls": pa.array(["x"], pa.large_string()),
        "ll": pa.array([[1]], pa.large_list(pa.int32())),
    }),
    "timestamps": pa.table({
        "tz_us": pa.array([1], pa.timestamp("us", tz="UTC")),
        "tz_ms": pa.array([1], pa.timestamp("ms", tz="America/New_York")),
        "naive_us": pa.array([1], pa.timestamp("us")),
        "naive_ms": pa.array([1], pa.timestamp("ms")),
    }),
}

# types Spark reads differently from their Arrow type: Spark infers them
ROUTED = {
    "int96": (pa.table({"ts": pa.array([1], pa.timestamp("ns"))}), {"use_deprecated_int96_timestamps": True}),
    "nanos": (pa.table({"ts": pa.array([1], pa.timestamp("ns"))}), {}),
    "uint32": (pa.table({"u": pa.array([1], pa.uint32())}), {}),
    "dictionary": (pa.table({"c": pa.array(["a", "b"]).dictionary_encode()}), {}),
    "binary": (pa.table({"b": pa.array([b"x"], pa.binary())}), {}),
    "nested_nanos": (pa.table({"s": pa.array([{"t": 1}], pa.struct([("t", pa.timestamp("ns"))]))}), {}),
}


@pytest.fixture()
def conf(spark):
    """``conf(key, value)`` sets a session conf for the test's length."""
    saved = {}

    def set_conf(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_conf
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def _as_orders(tmp_path, table, **write_opts):
    """``table`` written as the ``orders`` table of a fresh directory."""
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    pq.write_table(table, table_path(str(sf_dir), "orders"), **write_opts)
    return str(sf_dir), table_path(str(sf_dir), "orders")


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_fixture_schema_matches_spark_inference(spark, name):
    assert _footer_schema(spark, table_path(SF_DIR, name)) is not None
    assert load_table(spark, SF_DIR, name).schema == spark.read.parquet(table_path(SF_DIR, name)).schema


@pytest.mark.parametrize("case", sorted(DERIVED))
def test_derived_schema_matches_spark_inference(spark, tmp_path, case):
    sf_dir, path = _as_orders(tmp_path, DERIVED[case])
    assert _footer_schema(spark, path) is not None
    assert load_table(spark, sf_dir, "orders").schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_naive_timestamps_follow_the_ntz_inference_conf(spark, tmp_path, conf, ntz):
    conf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
    sf_dir, path = _as_orders(tmp_path, DERIVED["timestamps"])
    schema = load_table(spark, sf_dir, "orders").schema
    assert schema == spark.read.parquet(path).schema
    assert schema["naive_us"].dataType.typeName() == ("timestamp_ntz" if ntz == "true" else "timestamp")


@pytest.mark.parametrize("case", sorted(ROUTED))
def test_routed_schema_is_spark_inference(spark, tmp_path, case):
    table, opts = ROUTED[case]
    sf_dir, path = _as_orders(tmp_path, table, **opts)
    assert _footer_schema(spark, path) is None
    assert load_table(spark, sf_dir, "orders").schema == spark.read.parquet(path).schema


def test_binary_as_string_is_spark_inference(spark, tmp_path, conf):
    conf("spark.sql.parquet.binaryAsString", "true")
    sf_dir, path = _as_orders(tmp_path, ROUTED["binary"][0])
    schema = load_table(spark, sf_dir, "orders").schema
    assert schema == spark.read.parquet(path).schema
    assert schema["b"].dataType.typeName() == "string"


def test_nanos_without_nanos_as_long_fail_as_spark_does(spark, tmp_path, conf):
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    sf_dir, path = _as_orders(tmp_path, ROUTED["nanos"][0])
    for read in (lambda: load_table(spark, sf_dir, "orders"), lambda: spark.read.parquet(path)):
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read()


def test_nanos_events_ts_becomes_micros(spark, tmp_path, conf):
    """An events file storing ts as TIMESTAMP(NANOS) is read under
    nanosAsLong, which load_table turns on, and floored to micros."""
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    ns = [1_600_000_000_123_456_789, 1_600_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))}),
        table_path(sf_dir, "events"),
    )
    ev = load_table(spark, sf_dir, "events")
    assert ev.schema["ts"].dataType.typeName() == "timestamp"
    got = [r.us for r in ev.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()]
    assert got == [n // 1000 for n in ns]


def test_spark_written_directory_matches_spark_inference(spark, tmp_path):
    """A directory of Spark-written files: the schema comes from the
    first data file's footer, where Spark's writer records it."""
    path = str(tmp_path / "sf" / "orders.parquet")
    spark.range(40).selectExpr(
        "id", "cast(id AS decimal(12, 2)) AS amount", "timestamp_seconds(id) AS ts",
        "cast(timestamp_seconds(id) AS timestamp_ntz) AS ts_ntz", "array(id, id) AS ids",
        "map(cast(id AS string), named_struct('x', id)) AS m",
    ).repartition(4).write.parquet(path)
    assert len([n for n in os.listdir(path) if n.endswith(".parquet")]) == 4
    assert _footer_schema(spark, path) is not None
    assert load_table(spark, str(tmp_path / "sf"), "orders").schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("summary", ["_common_metadata", "_metadata"])
def test_directory_summary_file_schema_matches_spark_inference(spark, tmp_path, summary):
    """Spark's inference takes a directory's summary file before its data
    files; here the summary holds a column the data file lacks."""
    path = tmp_path / "sf" / "orders.parquet"
    path.mkdir(parents=True)
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), str(path / "part-0.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("b", pa.string())]), str(path / summary))
    schema = load_table(spark, str(tmp_path / "sf"), "orders").schema
    assert schema == spark.read.parquet(str(path)).schema and schema.names == ["a", "b"]


def test_partitioned_directory_is_spark_inference(spark, tmp_path):
    """A partition subdirectory adds a column no footer holds."""
    path = str(tmp_path / "sf" / "orders.parquet")
    spark.range(4).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(path)
    assert _footer_schema(spark, path) is None
    schema = load_table(spark, str(tmp_path / "sf"), "orders").schema
    assert schema == spark.read.parquet(path).schema and "k" in schema.names


def test_load_runs_no_spark_job(spark, tmp_path, count_jobs):
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    for name in TABLE_NAMES:
        shutil.copy(table_path(SF_DIR, name), table_path(sf_dir, name))
    with count_jobs() as jobs:
        for name in TABLE_NAMES:
            load_table(spark, sf_dir, name)
    assert jobs.n == 0


def _round_robins(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"RoundRobinPartitioning\(\d+\)", plan)


def test_only_embeddings_keeps_the_training_layout(spark):
    assert _round_robins(load_table(spark, SF_DIR, "documents")) == []
    assert _round_robins(load_table(spark, SF_DIR, "embeddings")) == ["RoundRobinPartitioning(64)"]


def test_dedup_exact_documents_task_budget(spark, count_jobs):
    """500 one-row-group documents hash in a handful of tasks (68 at
    ``local[4]`` while every documents scan went through the 64-way
    round-robin exchange)."""
    from iceberg_hybrid_spark.queries.llm import dedup_exact_documents

    load_table(spark, SF_DIR, "documents")
    with count_jobs() as jobs:
        rows = dedup_exact_documents(spark, SF_DIR).collect()
    assert jobs.tasks <= 8
    assert sum(r.dup_count for r in rows) == 500
