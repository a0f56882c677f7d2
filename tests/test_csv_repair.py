"""Dirty-CSV repair reader tests (SURVEY §5.2 P7/P8): ragged rows,
quoted commas, unnamed columns, header-row drop (the reference bug at
Source_Raw_Dynamic.py:102-110 that we deliberately fix)."""

from __future__ import annotations

import os

import pytest

from synthea_etl_spark.sources.csv_repair import repair_csv, repair_csv_python

DIRTY = """id,name,,city
1,Alice,x,Springfield
2,"Bob, Jr.",y
3,Carol,z,Shelbyville,EXTRA,JUNK

4,Dan
"""


@pytest.fixture()
def dirty_csv(tmp_path):
    p = tmp_path / "dirty.csv"
    p.write_text(DIRTY)
    return str(p)


def test_repair_aligns_and_drops_header(spark, dirty_csv):
    out = repair_csv(spark, dirty_csv)
    rows = {r.id: r for r in out.collect()}
    # header removed (reference leaks it as a data row — fixed here)
    assert "id" not in rows
    assert len(rows) == 4
    # quoted comma honored
    assert rows["2"].name == "Bob, Jr."
    # short row padded with ''
    assert rows["2"].city == ""
    assert rows["4"].name == "Dan" and rows["4"].city == ""
    # long row truncated to header width
    assert rows["3"].city == "Shelbyville"
    # unnamed column dropped
    assert out.columns == ["id", "name", "city"]


def test_repair_keep_unnamed(spark, dirty_csv):
    out = repair_csv(spark, dirty_csv, drop_unnamed=False)
    assert out.columns == ["id", "name", "unnamed_2", "city"]
    assert {r.unnamed_2 for r in out.collect()} == {"x", "y", "z", ""}


def test_python_fallback_matches(spark, dirty_csv):
    a = repair_csv(spark, dirty_csv, drop_unnamed=False)
    b = repair_csv_python(spark, dirty_csv)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_data_row_equal_to_header_survives(spark, tmp_path):
    """Only ONE header occurrence is dropped: a legitimate data row
    that textually equals the header line must survive repair (both
    readers)."""
    p = tmp_path / "selfref.csv"
    p.write_text("id,name\n1,Alice\nid,name\n2,Bob\nid,name\n")
    for reader in (repair_csv, repair_csv_python):
        out = reader(spark, str(p))
        rows = sorted(map(tuple, out.collect()))
        assert rows == [("1", "Alice"), ("2", "Bob"), ("id", "name"), ("id", "name")]


def test_empty_file_raises(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("")
    with pytest.raises(Exception):
        repair_csv(spark, str(p))


def test_header_dropped_once_across_partitions(spark, tmp_path):
    """A CSV split over several read partitions, with header-equal data
    rows in the later ones: only the physical first line goes."""
    lines = ["id,name"] + [f"{i},name{i:03d}" for i in range(60)]
    lines[25:25] = ["id,name"]
    lines[50:50] = ["id,name"]
    p = tmp_path / "split.csv"
    p.write_text("\n".join(lines) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "128")
        assert spark.read.text(str(p)).rdd.getNumPartitions() >= 3
        for reader in (repair_csv, repair_csv_python):
            out = reader(spark, str(p))
            rows = sorted(map(tuple, out.collect()))
            assert rows.count(("id", "name")) == 2
            assert len(rows) == 62
    finally:
        spark.conf.set(key, prev)


@pytest.mark.parametrize(
    "name", ["Patient.Id", "we`ird", "it's", "two words"], ids=["dot", "backtick", "quote", "space"]
)
def test_header_cells_with_sql_characters(spark, tmp_path, name):
    """A header cell is one column name, whatever it holds: a dot is not
    a struct path and a backtick does not break the ``from_csv`` schema.
    The trailing unnamed cell makes the keep projection run."""
    p = tmp_path / "names.csv"
    p.write_text(f'"{name}",plain,\n1,a,x\n2,"b, c"\n')
    for drop, cols in ((True, [name, "plain"]), (False, [name, "plain", "unnamed_2"])):
        out = repair_csv(spark, str(p), drop_unnamed=drop)
        assert out.columns == cols
        rows = sorted(map(tuple, out.collect()))
        assert rows == [("1", "a", "x")[: len(cols)], ("2", "b, c", "")[: len(cols)]]
    assert sorted(map(tuple, repair_csv_python(spark, str(p)).collect())) == [
        ("1", "a", "x"),
        ("2", "b, c", ""),
    ]


def test_landed_directory_read_once(spark, dirty_csv, monkeypatch):
    """One text relation per repair: the header job and the parse read
    the same relation, so a landed directory is resolved and listed
    once."""
    from pyspark.sql.readwriter import DataFrameReader

    calls = []
    stock = DataFrameReader.text

    def counted(self, *args, **kwargs):
        calls.append(args)
        return stock(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "text", counted)
    for reader in (repair_csv, repair_csv_python):
        calls.clear()
        reader(spark, dirty_csv)
        assert len(calls) == 1, reader.__name__
