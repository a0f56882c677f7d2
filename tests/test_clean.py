"""Unit tests for the cleaning operators (SURVEY §5.2): tiny inline
frames pinning the reference's exact semantics, including the
null->'None'->cast interplay quirk."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from synthea_etl_spark.operators import clean
from synthea_etl_spark.sources.schema_registry import schema_from_fields


def test_normalize_column_names(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["First Name!", " ZIP-code ", "ok"])
    out = clean.normalize_column_names(df)
    assert out.columns == ["first_name", "zip_code", "ok"]


def test_drop_unnamed(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "unnamed_1", "b"])
    assert clean.drop_unnamed_columns(df).columns == ["a", "b"]


def test_trim_only_strings(spark):
    df = spark.createDataFrame([("  x  ", 5)], ["s", "n"])
    row = clean.trim_strings(df).collect()[0]
    assert row.s == "x" and row.n == 5


def test_fix_phone_columns(spark):
    df = spark.createDataFrame([("555-123-4567", "a-b")], ["phone", "other"])
    row = clean.fix_phone_columns(df).collect()[0]
    assert row.phone == "5551234567" and row.other == "a-b"


def test_multivalue_probe_and_split(spark):
    df = spark.createDataFrame(
        [("apple or banana", "x"), ("plain", "y"), (None, "z")], ["fruit", "tag"]
    )
    assert clean.find_multivalue_columns(df) == ["fruit"]
    out = clean.split_multivalue(df)
    rows = {r.tag: r for r in out.collect()}
    assert "fruit" not in out.columns
    assert rows["x"].fruit_part1 == "apple" and rows["x"].fruit_part2 == "banana"
    assert rows["y"].fruit_part1 == "plain" and rows["y"].fruit_part2 is None
    assert rows["z"].fruit_part1 is None

    # accented variant from the reference's locale regex
    df2 = spark.createDataFrame([("uno óR dos",)], ["v"])
    assert clean.find_multivalue_columns(df2) == ["v"]


@pytest.mark.parametrize(
    "name", ["a.b", "a`b", "it's", "a b"], ids=["dot", "backtick", "quote", "space"]
)
def test_steps_take_names_with_sql_characters(spark, name):
    """Each step quotes every column as one identifier: a dot is not a
    struct path, and a backtick, quote or space does not break the SQL
    text of its projection."""
    df = spark.createDataFrame([(" 5-1 or 2 ", "", "k")], [name, "unnamed_1", "key"])
    assert clean.drop_unnamed_columns(df).columns == [name, "key"]
    out = clean.empty_to_null(clean.trim_strings(df))
    assert tuple(out.collect()[0]) == ("5-1 or 2", None, "k")
    assert clean.find_multivalue_columns(out) == [name]
    assert clean.fix_phone_columns(out, [name]).collect()[0][name] == "51 or 2"
    split = clean.split_multivalue(out, schema_columns={name})
    assert split.columns == [name, "unnamed_1", "key", f"{name}_part1", f"{name}_part2"]
    assert tuple(split.collect()[0]) == ("5-1", None, "k", "5-1", "2")
    schema = schema_from_fields(
        [{"name": f"{name}_part2", "type": "int"}, {"name": f"{name}.x", "type": "int"},
         {"name": name, "type": "string"}]
    )
    cast = clean.cast_to_schema(split, schema)
    assert cast.dtypes == [(f"{name}_part2", "int"), (f"{name}.x", "int"), (name, "string")]
    assert tuple(cast.collect()[0]) == (2, None, "5-1")


def test_multivalue_schema_declared_column_kept(spark):
    """Reference fidelity (Raw_To_Staging.py:123-125): a multi-value
    column that IS in the declared schema keeps its original column,
    value replaced with part1, alongside _part1/_part2; a schema-absent
    column is dropped."""
    df = spark.createDataFrame(
        [("apple or banana", "red or blue")], ["fruit", "extra"]
    )
    out = clean.split_multivalue(df, schema_columns={"fruit"})
    assert set(out.columns) == {
        "fruit",
        "fruit_part1",
        "fruit_part2",
        "extra_part1",
        "extra_part2",
    }
    row = out.collect()[0]
    assert row.fruit == "apple" and row.fruit_part1 == "apple"
    assert row.fruit_part2 == "banana"
    assert row.extra_part1 == "red" and row.extra_part2 == "blue"


def test_null_sentinel_then_cast_reference_quirk(spark):
    """Reference semantics (Raw_To_Staging.py:128-137): fillna('None')
    touches only string cols; casting 'None' to a numeric/date type
    yields null again — sentinel survives only in string columns."""
    df = spark.createDataFrame([("a", None, None), (None, "5", "x")], ["s1", "num", "s2"])
    schema = schema_from_fields(
        [{"name": "s1", "type": "string"}, {"name": "num", "type": "int"},
         {"name": "s2", "type": "string"}]
    )
    out = clean.cast_to_schema(clean.null_sentinel(df), schema)
    rows = out.collect()
    assert rows[0].s1 == "a" and rows[0].num is None and rows[0].s2 == "None"
    assert rows[1].s1 == "None" and rows[1].num == 5 and rows[1].s2 == "x"


def test_cast_timestamp_as_iso_string(spark):
    """Timestamps become yyyy-MM-dd'T'H:mm:ss STRINGS, millis dropped
    (Raw_To_Staging.py:133-135)."""
    df = spark.createDataFrame([("2020-03-04 05:06:07.890",)], ["ts"])
    schema = schema_from_fields([{"name": "ts", "type": "timestamp"}])
    out = clean.cast_to_schema(df, schema)
    assert out.collect()[0].ts == "2020-03-04T5:06:07"
    assert dict(out.dtypes)["ts"] == "string"
    # and the knowingly-fixed variant keeps real timestamps
    out2 = clean.cast_to_schema(df, schema, timestamps_as_iso_strings=False)
    assert dict(out2.dtypes)["ts"] == "timestamp"


def test_dedup_by_key_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "b", 2), (1, "a", 1), (2, "c", 9)], ["k", "v", "ord"]
    )
    out = clean.dedup_by_key(df, ["k"], ["ord"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "a", 2: "c"}


def test_clean_pipeline_end_to_end(spark):
    df = spark.createDataFrame(
        [(" 1 ", " Bob ", "cat or dog", "x"), (" 1 ", " Bob ", "cat or dog", "x")],
        ["ID!", "Name", "Pets", "unnamed_3"],
    )
    schema = schema_from_fields(
        [{"name": "id", "type": "int"}, {"name": "name", "type": "string"},
         {"name": "pets_part1", "type": "string"}, {"name": "pets_part2", "type": "string"}]
    )
    out = clean.clean_pipeline(df, schema=schema)
    rows = out.collect()
    assert len(rows) == 1  # dup dropped
    r = rows[0]
    assert r.id == 1 and r.name == "Bob"
    assert r.pets_part1 == "cat" and r.pets_part2 == "dog"
    assert "unnamed_3" not in out.columns


def _probe_everything(df, schema):
    """The chain with the multi-value probe over every string column:
    ``split_multivalue`` with the declared names, then the rest."""
    out = clean.fix_phone_columns(
        clean.trim_strings(clean.drop_unnamed_columns(clean.normalize_column_names(df)))
    )
    out = clean.split_multivalue(out, schema_columns={f.name for f in schema.fields})
    out = clean.cast_to_schema(clean.null_sentinel(clean.empty_to_null(out)), schema)
    return clean.dedup_full(out)


def test_clean_pipeline_equals_probe_everything(spark):
    """The registry path probes only columns with a declared part and
    declared phone columns; every other declared column splits per row.
    Row for row that is the probe-everything result."""
    df = spark.createDataFrame(
        [
            # mixed: matching and plain rows in the declared column
            ("cat or dog", "red", "a or b", "Pen", "x", "- 555", " 1 "),
            ("fish", "blue", "c", "Ink", "y", "555 or 666", "2"),
            (" bird  óR  bee ", None, "d", "Cap", "z", "5-5", "3"),
            (None, "green", "", "Hat", "w", None, "4"),
        ],
        ["Pets", "colour", "tags", "toy", "note", "phone", "id"],
    )
    schema = schema_from_fields(
        [
            {"name": "id", "type": "int"},
            # declared, some rows match
            {"name": "pets", "type": "string"},
            # declared, no row matches
            {"name": "colour", "type": "string"},
            # declared parts of a column with matching rows ...
            {"name": "tags_part1", "type": "string"},
            {"name": "tags_part2", "type": "string"},
            # ... and of one with none (no _part columns exist)
            {"name": "toy_part1", "type": "string"},
            {"name": "toy_part2", "type": "string"},
            # '- 555' -> ' 555' by the phone fix, which no per-row form trims
            {"name": "phone", "type": "string"},
        ]
    )
    # "note" matches nowhere but is undeclared; "tags" is undeclared and
    # matches: both are dropped by the cast either way
    got = clean.clean_pipeline(df, schema=schema)
    want = _probe_everything(df, schema)
    assert got.schema == want.schema
    rows = got.collect()
    assert sorted(rows, key=repr) == sorted(want.collect(), key=repr)
    by_id = {r.id: r for r in rows}
    assert by_id[1].pets == "cat" and by_id[2].pets == "fish"
    assert by_id[3].pets == "bird" and by_id[3].colour == "None"
    assert by_id[1].tags_part1 == "a" and by_id[1].tags_part2 == "b"
    assert by_id[1].toy_part1 is None and by_id[1].toy_part2 is None
    assert by_id[1].phone == "555" and by_id[2].phone == "555"


def test_clean_pipeline_undeclared_match_and_plain_phone(spark):
    """An undeclared matching column and a declared phone column with no
    matching row: nothing to split in the declared output, and the phone
    keeps the fix's untrimmed value."""
    df = spark.createDataFrame(
        [("a or b", "- 555", "k1"), ("c", "555-1", "k2")], ["extra", "mobile", "key"]
    )
    schema = schema_from_fields(
        [{"name": "key", "type": "string"}, {"name": "mobile", "type": "string"}]
    )
    got = clean.clean_pipeline(df, schema=schema)
    want = _probe_everything(df, schema)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert sorted(map(tuple, got.collect())) == [("k1", " 555"), ("k2", "5551")]
