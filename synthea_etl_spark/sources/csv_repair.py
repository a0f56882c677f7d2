"""Dirty-CSV repair reader (reference: Glue_Scripts/Source_Raw_Dynamic.py:59-123).

The reference repairs ragged CSVs by dropping to an RDD of Python
``csv.reader`` calls, padding/truncating each row to header width, and
rebuilding a DataFrame. That is a row-at-a-time Python path — the slow
lane at any scale. Here the whole repair is DataFrame-native:

    spark.read.text -> from_csv(header-width all-string schema)

``from_csv`` runs JVM-side (univocity parser, whole-stage codegen),
honors quoted commas and leading whitespace like ``csv.reader(...,
skipinitialspace=True)``, pads short rows (null -> '' to match the
reference's pad value), and truncates long rows — the reference's exact
align semantics (`Source_Raw_Dynamic.py:67-69`) at ~100x the speed.

Divergences (deliberate, documented):
- the header row is REMOVED from the data. The reference forgets to
  drop it before createDataFrame (`Source_Raw_Dynamic.py:102-110`) and
  emits the header as a data row — a bug we do not reproduce.
- unnamed header cells get positional ``unnamed_<i>`` names before the
  drop-unnamed step, instead of colliding as empty strings.

For pathological quoting that univocity and Python's csv disagree on,
``repair_csv_python`` keeps a mapPartitions fallback with the
reference's exact csv.reader semantics.

The per-column projections (pad, keep) are SQL text in one
``selectExpr`` each, with every header cell quoted by
``operators.util.sql_ident``, and the ``from_csv`` schema string uses
the same quoting. Built as ``Column`` objects they would cost several
py4j round trips per column on every landed file (see
``operators.clean``). The quoting keeps any header cell, one with a dot
(``Patient.Id``), a backtick, a quote or a space included, one column
name rather than a struct path or broken SQL.
"""

from __future__ import annotations

import csv
import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from synthea_etl_spark.operators.util import sql_ident


def _read_header(lines: DataFrame, path: str) -> tuple[list[str], str]:
    """First text line of ``lines`` (the ``spark.read.text`` relation of
    ``path``) = header (reference: Source_Raw_Dynamic.py:93): (column
    names, the raw line). One tiny job; does not scan the file. Taking
    the relation the parse reads, not a path, resolves and lists the
    landed directory once."""
    first = lines.limit(1).collect()
    if not first:
        raise ValueError(f"empty CSV at {path}")
    line = first[0].value
    header = next(csv.reader(io.StringIO(line), skipinitialspace=True))
    names = [h if h and h.strip() else f"unnamed_{i}" for i, h in enumerate(header)]
    return names, line


def _drop_one_header(lines: DataFrame, header_line: str) -> DataFrame:
    """Remove exactly ONE occurrence of the header line: the physical
    first line, which ``_read_header`` read.

    A plain ``value != header`` filter silently deletes every DATA row
    that textually equals the header, not just the physical first line.
    ``_read_header``'s ``limit(1)`` returns the first row of partition
    0, the one row whose ``monotonically_increasing_id()`` is 0, so
    dropping that row when it equals the header removes the header and
    nothing else. A filter with no shuffle: the read stays one stage."""
    first = (F.monotonically_increasing_id() == 0) & (F.col("value") == F.lit(header_line))
    return lines.filter(~first)


def repair_csv(spark: SparkSession, path: str, drop_unnamed: bool = True) -> DataFrame:
    """Read a possibly-ragged CSV, aligned to header width, all-string.

    Column set = header of the first line; every data row is padded
    (with '') or truncated to that width.
    """
    lines = spark.read.text(path)
    header, header_line = _read_header(lines, path)
    schema = ", ".join(f"{sql_ident(c)} string" for c in header)
    parsed = (
        _drop_one_header(lines, header_line)
        .filter("length(trim(value)) > 0")  # and blank lines
        .select(
            F.from_csv(
                "value", schema, {"ignoreLeadingWhiteSpace": "true"}
            ).alias("r")
        )
        .selectExpr(*[f"coalesce(r.{sql_ident(c)}, '') AS {sql_ident(c)}" for c in header])
    )
    keep = [c for c in header if not (drop_unnamed and c.startswith("unnamed_"))]
    return parsed if keep == header else parsed.selectExpr(*map(sql_ident, keep))


def repair_csv_python(spark: SparkSession, path: str) -> DataFrame:
    """Fallback with the reference's exact Python csv semantics
    (`Source_Raw_Dynamic.py:60-69`), as mapPartitions (batch-per-task,
    not the reference's row lambdas). Use only when univocity's quote
    handling materially differs."""
    lines = spark.read.text(path)
    header, header_line = _read_header(lines, path)
    n = len(header)

    def fix_partition(rows):
        for row in rows:
            line = row.value
            if not line.strip():
                continue
            fields = next(csv.reader(io.StringIO(line), skipinitialspace=True), [])
            yield fields[:n] + [""] * (n - len(fields))

    rdd = _drop_one_header(lines, header_line).rdd.mapPartitions(fix_partition)
    return spark.createDataFrame(rdd, header)
