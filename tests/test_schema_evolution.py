"""Schema evolution: add/drop/rename as metadata-only commits; old files
adapt at read time (null-fill + rename mapping), mixed-epoch reads union
cleanly — the schema-travels-with-commit model of the reference."""

import pytest

from iceberg_hybrid_spark.lake.table import HyTable, NoSuchSnapshot


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


def test_schema_errors(table):
    with pytest.raises(ValueError):
        table.add_column("id", "long")
    with pytest.raises(ValueError):
        table.drop_column("nope")
    with pytest.raises(ValueError):
        table.rename_column("nope", "x")


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


def test_schema_change_requires_table(spark, tmp_path):
    t = HyTable(spark, str(tmp_path / "none"))
    with pytest.raises(NoSuchSnapshot):
        t.add_column("x", "int")
