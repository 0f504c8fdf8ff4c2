"""Session-level fixed costs: driver-held rows as Arrow local relations
(``local_frame``) and a codegen cache that holds a repeated working set."""

import datetime
import decimal

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError

from iceberg_hybrid_spark.session import local_frame

# (schema, rows): each case is built by local_frame and, as the reference,
# by spark.createDataFrame over the same Python list
CASES = {
    "scalars_with_nulls": (
        "s string, n bigint, x double, b boolean",
        [("a", 1, 1.5, True), (None, None, None, None), ("é", -(2**63), -0.0, False)],
    ),
    "timestamp_and_date": (
        "ts timestamp, d date",
        [
            (datetime.datetime(2024, 2, 29, 23, 59, 59, 999999), datetime.date(1970, 1, 1)),
            (datetime.datetime(1969, 12, 31, 0, 0, 1), datetime.date(2038, 1, 19)),
            (None, None),
        ],
    ),
    "array_and_map": (
        "v array<double>, m map<string,string>",
        [([1.0, None, 2.5], {"k": "v", "n": None}), ([], {}), (None, None)],
    ),
    "decimal": (
        "p decimal(12,2)",
        [(decimal.Decimal("1234567890.12"),), (decimal.Decimal("-0.01"),), (None,)],
    ),
    "struct": (
        "s struct<a:int,b:string>, i int",
        [((1, "x"), 3), ({"a": 2, "b": None}, None), (None, 0)],
    ),
    "empty": ("a int, b string", []),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, count_jobs, case):
    ddl, rows = CASES[case]
    expected = spark.createDataFrame(rows, ddl)
    frame = local_frame(spark, rows, ddl)
    assert frame.schema == expected.schema
    with count_jobs() as jobs:
        got = frame.collect()
    assert jobs.n == 0
    assert got == expected.collect()


@pytest.mark.parametrize(
    "ddl, row, error",
    [
        ("a int", ("x",), PySparkTypeError),
        ("a int", (2**31,), PySparkValueError),
        ("a string, b bigint", ("x",), PySparkValueError),
    ],
    ids=["wrong_type", "out_of_range", "wrong_arity"],
)
def test_local_frame_rejects_what_the_schema_does_not_admit(spark, ddl, row, error):
    with pytest.raises(error):
        spark.createDataFrame([row], ddl)
    with pytest.raises(error):
        local_frame(spark, [row], ddl)


def test_repeated_plans_compile_nothing(spark):
    """A working set of 150 distinct generated plans fits the session's
    codegen cache: running the set a second time compiles no class."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def one_pass() -> int:
        before = compiles()
        for i in range(150):
            spark.range(4).selectExpr(f"id * {i + 7} + {i} AS x").collect()
        return compiles() - before

    assert one_pass() >= 150  # each plan generated at least one class
    assert one_pass() == 0
