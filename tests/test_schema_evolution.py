"""Schema evolution: add/drop/rename as metadata-only commits; old files
adapt at read time (null-fill + rename mapping), mixed-epoch reads union
cleanly — the schema-travels-with-commit model of the reference."""

from datetime import datetime
from decimal import Decimal

import pytest

from iceberg_hybrid_spark.lake.table import HyTable, NoSuchSnapshot
from iceberg_hybrid_spark.session import local_frame


@pytest.fixture()
def table(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "tbl"))
    t.create(spark.range(0, 10).selectExpr("id", "CAST(id AS STRING) AS name"))
    return t


def test_add_column_null_fills_old_files(spark, table):
    snap = table.add_column("score", "double")
    assert snap.operation == "schema_change"
    df = table.read()
    assert df.columns == ["id", "name", "score"]
    assert all(r.score is None for r in df.collect())
    # new data carries the column; old rows stay null
    table.append(spark.createDataFrame([(100, "x", 9.5)], "id long, name string, score double"))
    rows = {r.id: r.score for r in table.read().collect()}
    assert rows[100] == 9.5 and rows[0] is None


def test_drop_column(table):
    table.drop_column("name")
    assert table.read().columns == ["id"]
    # time travel before the change still shows the column
    assert table.read(seq=1).columns == ["id", "name"]


def test_rename_column_maps_old_files(spark, table):
    table.rename_column("name", "label")
    df = table.read()
    assert df.columns == ["id", "label"]
    assert {r.label for r in df.collect()} == {str(i) for i in range(10)}
    # appends after the rename write the new name natively; both epochs union
    table.append(spark.createDataFrame([(50, "fifty")], "id long, label string"))
    got = {r.id: r.label for r in table.read().collect()}
    assert got[50] == "fifty" and got[3] == "3"


def test_rename_epoch_is_the_commit_sequence(spark, table):
    """A rename takes effect at the sequence number its commit takes,
    which counts staged snapshots too: a file staged before the rename
    was written under the old name."""
    staged = table.stage_append(spark.range(10, 12).selectExpr("id", "CAST(id AS STRING) AS name"))
    snap = table.rename_column("name", "label")
    assert snap.sequence_number == staged.sequence_number + 1
    assert snap.summary["renames"] == [[snap.sequence_number, "name", "label"]]


def test_rename_then_add_same_name(spark, table):
    table.rename_column("name", "label")
    table.add_column("name", "int")  # new, unrelated column reusing the name
    df = table.read()
    assert df.columns == ["id", "label", "name"]
    rows = df.collect()
    assert all(r.name is None for r in rows)          # new column: null
    assert all(r.label is not None for r in rows)     # renamed data intact


def test_drop_then_add_same_name_with_another_type(spark, table):
    """A re-added name is a new column: files written before the add do
    not supply it, whatever type they held it as."""
    table.drop_column("name")
    table.add_column("name", "int")
    table.append(spark.createDataFrame([(100, 7)], "id long, name int"))
    df = table.read()
    assert dict(df.dtypes)["name"] == "int"
    assert {r.id: r.name for r in df.collect()} == {**{i: None for i in range(10)}, 100: 7}
    assert sorted(r.name for r in table.read(seq=1).collect()) == sorted(str(i) for i in range(10))


def test_schema_errors(table):
    with pytest.raises(ValueError):
        table.add_column("id", "long")
    with pytest.raises(ValueError):
        table.drop_column("nope")
    with pytest.raises(ValueError):
        table.rename_column("nope", "x")
    with pytest.raises(ValueError):
        table.rename_column("name", "id")


def test_write_that_changes_a_column_type_is_refused(spark, table):
    """The table's schema reads every live file, so a write may widen a
    held column within its family but not change its type otherwise."""
    head = table.current_snapshot()
    with pytest.raises(ValueError, match="'id'"):
        table.append(spark.createDataFrame([("x", "y")], "id string, name string"))
    assert table.current_snapshot() == head
    assert table.read().count() == 10


def test_evolution_on_partitioned_table(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "p"))
    t.create(spark.range(0, 30).selectExpr("id", "id % 3 AS part"), partition_by=["part"])
    t.add_column("extra", "string")
    df = t.read()
    assert set(df.columns) == {"id", "part", "extra"}
    assert df.count() == 30
    with pytest.raises(ValueError):
        t.rename_column("part", "day")


def test_evolution_with_mor_deletes(spark, table):
    table.delete_where_mor([("id", "<", 2)], delete_cols=["id"])
    table.add_column("v", "double")
    df = table.read()
    assert df.columns == ["id", "name", "v"]
    assert df.count() == 8


def test_rename_of_an_equality_delete_column(spark, table):
    """An equality delete names its columns as they were when it was
    written; a later rename maps them like a data file's."""
    table.delete_where_mor([("id", "<", 3)], delete_cols=["name"])
    table.rename_column("name", "label")
    table.delete_where_mor([("id", ">", 7)], delete_cols=["label"])
    assert sorted(r.label for r in table.read().collect()) == [str(i) for i in range(3, 8)]
    with pytest.raises(ValueError, match="equality deletes"):
        table.drop_column("label")
    assert table.read().count() == 5


def test_schema_change_requires_table(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "none"))
    with pytest.raises(NoSuchSnapshot):
        t.add_column("x", "int")


# ---- reads take their schema from the manifest ------------------------------

EPOCH_DDL = "id bigint, region string, amount decimal(12,2), ts timestamp, note string, junk string"


def _epoch_rows(lo, hi):
    return [
        (i, ("eu", "us")[i % 2], Decimal(i) / 4, datetime(2024, 1, 1 + i % 3, i % 24),
         f"n{i}", "j")
        for i in range(lo, hi)
    ]


@pytest.mark.parametrize("spec", [["region"], ["days(ts)", "bucket(4, id)"]])
def test_reads_across_epochs_build_without_a_spark_job(spark, tmp_path, count_jobs, spec):
    """Files of three schema epochs (a rename, an add, a drop) under
    identity or hidden-transform partitions read back with decimal and
    timestamp values intact, and building each read runs no Spark job:
    the schema comes from the manifest, never a footer."""
    t = HyTable(spark, str(tmp_path / "t"))
    t.create(local_frame(spark, _epoch_rows(0, 6), EPOCH_DDL), partition_by=spec)
    t.rename_column("note", "memo")
    t.append(local_frame(spark, _epoch_rows(6, 9), EPOCH_DDL.replace("note", "memo")))
    t.add_column("score", "double")
    t.append(local_frame(
        spark, [r + (float(r[0]),) for r in _epoch_rows(9, 12)],
        EPOCH_DDL.replace("note", "memo") + ", score double",
    ))
    t.drop_column("junk")
    with count_jobs() as jobs:
        df = t.read()
        first = t.read(seq=1)
    assert jobs.n == 0
    assert sorted(df.columns) == ["amount", "id", "memo", "region", "score", "ts"]
    assert dict(df.dtypes)["amount"] == "decimal(12,2)" and dict(df.dtypes)["ts"] == "timestamp"
    got = {r.id: r for r in df.collect()}
    for i, region, amount, ts, note, _ in _epoch_rows(0, 12):
        r = got[i]
        assert (r.region, r.amount, r.ts, r.memo) == (region, amount, ts, note)
        assert r.score == (float(i) if i >= 9 else None)
    assert sorted(r.note for r in first.collect()) == sorted(f"n{i}" for i in range(6))


@pytest.mark.parametrize("first, second", [("int", "bigint"), ("bigint", "int")])
@pytest.mark.parametrize("writer", ["driver", "spark"])
def test_appends_mixing_int_and_bigint_read_as_bigint(spark, tmp_path, first, second, writer):
    """A column never narrows: after an int and a bigint append, in
    either order, the column reads as bigint, before and after a schema
    change."""
    from pyspark.sql.types import LongType

    def batch(lo, typ):
        if writer == "driver":
            return local_frame(spark, [(i, i) for i in range(lo, lo + 3)], f"k bigint, v {typ}")
        return spark.range(lo, lo + 3).selectExpr("id AS k", f"CAST(id AS {typ}) AS v")

    t = HyTable(spark, str(tmp_path / "t"))
    t.create(batch(0, first))
    t.append(batch(10, second))
    want = [(i, i) for i in (0, 1, 2, 10, 11, 12)]
    for evolve in (False, True):
        if evolve:
            t.add_column("z", "string")
        df = t.read()
        assert df.schema["v"].dataType == LongType()
        assert sorted((r.k, r.v) for r in df.collect()) == want


@pytest.mark.parametrize("first, second", [("int", "bigint"), ("bigint", "int")])
def test_append_after_a_schema_change_widens_the_recorded_schema(spark, tmp_path, first, second):
    """A wider write after a schema op widens the recorded ``table_schema``
    too, so the files of both types read as bigint."""
    t = HyTable(spark, str(tmp_path / "t"))
    t.create(local_frame(spark, [(0, 0)], f"k bigint, v {first}"))
    t.add_column("z", "string")
    t.append(local_frame(spark, [(1, 1)], f"k bigint, v {second}"))
    assert dict(t.table_schema())["v"] == "bigint"
    df = t.read()
    assert dict(df.dtypes)["v"] == "bigint"
    assert sorted((r.k, r.v, r.z) for r in df.collect()) == [(0, 0, None), (1, 1, None)]
