"""Raw->Staging cleaning transforms (reference: Glue_Scripts/Raw_To_Staging.py:100-140).

The reference's "major cleaning" is a fixed 7-step pipeline applied to
every inbound table. Here each step is a composable DataFrame->DataFrame
function, all expressed with built-in (JVM/codegen) expressions — no
Python UDFs anywhere on the data path. Divergences from the reference
are deliberate and documented per function:

- the multi-value probe runs as ONE aggregate job instead of a
  count() action per column (`Raw_To_Staging.py:118` — N full scans at
  100 TB is a non-starter). Against a declared schema it runs only for
  the few columns whose answer the output can depend on (see
  `clean_pipeline`); every other declared column takes its split as a
  per-row expression, so the registry path usually runs no probe job;
- everything else preserves reference semantics exactly, including the
  null->'None' sentinel + cast interplay (sentinel survives only in
  string-typed columns; 'None' cast to int/double/date yields null).

Each per-column step builds its projection as SQL text (``selectExpr``
strings quoted by ``util.sql_ident``/``sql_string``), not as ``Column``
objects. Building a frame is plan construction on the driver, and with
``Column`` objects every ``F.col``/``F.trim``/``alias`` is its own py4j
round trip to the JVM (about nine each while PySpark's DataFrame
debugging captures call sites; ``session`` turns that off). One SQL
string per output column costs one round trip, and the JVM parses it
into the same expressions. The four tables of the patient mart (~60
columns) are cleaned in about 500 round trips instead of about 16k, a
cost paid on every load of every landed table. The quoting also keeps
names with dots, spaces or quotes working: every column is one backtick
identifier, never a path.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from synthea_etl_spark.operators.util import sql_ident, sql_string

# The reference's multi-value cell marker: ' or ' with optional accents
# (`Raw_To_Staging.py:106` — locale regex preserved exactly).
MULTIVALUE_PATTERN = r"\s+[oOóÓ][rR]\s+"
_PATTERN_SQL = sql_string(MULTIVALUE_PATTERN)


def normalize_column_names(df: DataFrame) -> DataFrame:
    """P2: lowercase, collapse non-word runs to '_', strip edges
    (reference: Raw_To_Staging.py:103-104). Pure metadata — no job."""
    names = [re.sub(r"\W+", "_", c.strip().lower()).strip("_") for c in df.columns]
    return df if names == df.columns else df.toDF(*names)


def drop_unnamed_columns(df: DataFrame) -> DataFrame:
    """P4: drop columns with empty/placeholder names
    (reference: Source_Raw_Dynamic.py:72-73)."""
    keep = [c for c in df.columns if c and not c.lower().startswith("unnamed")]
    return df if keep == df.columns else df.selectExpr(*map(sql_ident, keep))


def trim_strings(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """X1: trim every string column (reference: Raw_To_Staging.py:111).
    One projection; whole-stage codegen handles all columns in a pass."""
    targets = set(
        columns
        if columns is not None
        else [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
    )
    return df.selectExpr(
        *[
            f"trim({sql_ident(c)}) AS {sql_ident(c)}" if c in targets else sql_ident(c)
            for c in df.columns
        ]
    )


def _phone_like(c: str) -> bool:
    return "phone" in c.lower() or "mobile" in c.lower()


def fix_phone_columns(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """X2: strip '-' from phone-like columns
    (reference: Raw_To_Staging.py:114-115)."""
    targets = columns if columns is not None else [c for c in df.columns if _phone_like(c)]
    return _project(
        df, {c: f"regexp_replace({sql_ident(c)}, '-', '')" for c in targets}
    )


def find_multivalue_columns(df: DataFrame, columns: list[str] | None = None) -> list[str]:
    """F1/F2 one-pass probe: which string columns contain ' or '-joined
    multi-values? The reference answers this with a filter+limit+count
    job PER COLUMN (`Raw_To_Staging.py:118`); at scale that is N full
    scans. We compute max(rlike) for every candidate in a single
    aggregate — one scan, one reduce, same answer."""
    cands = (
        columns
        if columns is not None
        else [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
    )
    if not cands:
        return []
    probes = [
        f"max(cast(coalesce({sql_ident(c)} rlike {_PATTERN_SQL}, false) AS int)) AS {sql_ident(c)}"
        for c in cands
    ]
    row = df.selectExpr(*probes).collect()[0]
    return [c for c in cands if row[c] == 1]


def _part(c: str, i: int) -> str:
    """SQL text of the trimmed ``i``-th ' or '-separated part of ``c``;
    get (not ``[i]``): a missing part is NULL under ANSI mode."""
    return f"trim(get(split(trim({sql_ident(c)}), {_PATTERN_SQL}), {i}))"


def _project(df: DataFrame, exprs: dict[str, str | None]) -> DataFrame:
    """One ``selectExpr`` doing what ``withColumn(name, expr)`` (or
    ``drop(name)`` for ``None``) per ``exprs`` entry would: an existing
    name keeps its position, a new one is appended, and every
    expression reads the columns of ``df``."""
    if not exprs:
        return df
    have = df.columns
    return df.selectExpr(
        *[
            f"{exprs[c]} AS {sql_ident(c)}" if c in exprs else sql_ident(c)
            for c in have + [c for c in exprs if c not in have]
            if c not in exprs or exprs[c] is not None
        ]
    )


def split_multivalue(
    df: DataFrame,
    columns: list[str] | None = None,
    schema_columns: set[str] | None = None,
) -> DataFrame:
    """X3/P3: split ' or '-separated cells into <col>_part1/_part2
    (reference: Raw_To_Staging.py:119-125). Columns autodetected with
    the one-pass probe when not given.

    The reference's disposition of the ORIGINAL column depends on the
    declared schema (Raw_To_Staging.py:123-125): a schema-declared
    column is KEPT, its value replaced with part1; a schema-absent
    column is dropped. Pass ``schema_columns`` (the declared field
    names) to reproduce that branch; with the default ``None`` every
    original is dropped — the right call when no schema registry is in
    play and downstream reads *_part1/_part2."""
    targets = columns if columns is not None else find_multivalue_columns(df)
    declared = schema_columns or set()
    exprs: dict[str, str | None] = {}
    for c in targets:
        exprs[f"{c}_part1"] = _part(c, 0)
        exprs[f"{c}_part2"] = _part(c, 1)
        exprs[c] = _part(c, 0) if c in declared else None
    return _project(df, exprs)


def empty_to_null(df: DataFrame) -> DataFrame:
    """Standard CSV semantics: an empty string field IS a null. The
    reference gets this implicitly (its repair stage writes '' to CSV,
    and the next stage's CSV read parses '' as null,
    Source_Raw_Dynamic.py:122 -> Raw_To_Staging.py:166); a single-pass
    pipeline must apply it explicitly before the null sentinel."""
    return df.selectExpr(
        *[
            f"CASE WHEN {sql_ident(c)} = '' THEN NULL ELSE {sql_ident(c)} END AS {sql_ident(c)}"
            if t == "string"
            else sql_ident(c)
            for c, t in df.dtypes
        ]
    )


def null_sentinel(df: DataFrame, sentinel: str = "None") -> DataFrame:
    """F6: replace nulls in string columns with the literal 'None'
    (reference: Raw_To_Staging.py:128). fillna(str) only touches
    string-typed columns — same as the reference."""
    return df.fillna(sentinel)


def cast_to_schema(df: DataFrame, schema: StructType, timestamps_as_iso_strings: bool = True) -> DataFrame:
    """P6/X4/X10: cast each column to its registry type
    (reference: Raw_To_Staging.py:131-137). Reference quirk preserved
    behind a flag: timestamp fields are NOT cast to timestamp but
    formatted to `yyyy-MM-dd'T'H:mm:ss` STRINGS (`:133-135`,
    milliseconds dropped). A 'None' sentinel cast to a non-string type
    yields null (Spark cast semantics) — exactly the reference's
    behavior."""
    from pyspark.sql.types import TimestampType

    have = set(df.columns)
    iso = sql_string("yyyy-MM-dd'T'H:mm:ss")
    cols = []
    for f_ in schema.fields:
        c, t = sql_ident(f_.name), f_.dataType.simpleString()
        if f_.name not in have:
            cols.append(f"CAST(NULL AS {t}) AS {c}")
        elif isinstance(f_.dataType, TimestampType) and timestamps_as_iso_strings:
            cols.append(f"date_format(CAST({c} AS timestamp), {iso}) AS {c}")
        else:
            # try_cast, not cast: under ANSI mode (Spark 4 default) a
            # plain cast of the 'None' sentinel to int/double/date
            # throws; the reference ran non-ANSI where it yields null.
            # try_cast reproduces that null-on-malformed semantics.
            cols.append(f"try_cast({c} AS {t}) AS {c}")
    return df.selectExpr(*cols)


def dedup_full(df: DataFrame) -> DataFrame:
    """A2: full-row distinct (reference: Raw_To_Staging.py:140).
    Catalyst plans partial hash-agg before the exchange, so the shuffle
    carries only per-partition-unique rows."""
    return df.dropDuplicates()


def dedup_by_key(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """A3, deterministic: one row per key, chosen by an explicit total
    order. The reference's dropDuplicates(subset)
    (`Patient_datamart.py:196`) keeps an arbitrary row — non-reproducible
    across runs/parallelism, so we require an ordering."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _split_declared(df: DataFrame, schema: StructType) -> DataFrame:
    """``split_multivalue(df, schema_columns=<schema's names>)`` as far
    as ``cast_to_schema(_, schema)`` can tell, on trimmed input, with a
    probe job only where the declared output depends on it.

    The probe decides two things per column: whether ``c_part1`` /
    ``c_part2`` exist, and whether a declared ``c`` is replaced by its
    part1. The cast keeps only declared fields, so the first matters
    only when a part is declared. The second can be decided per row:
    on a row without the marker, part1 of a trimmed value is the value
    itself, so ``when(c.rlike(P), part1).otherwise(c)`` is exact. That
    fails only when the value is not a trim fixed point, which after
    ``trim_strings`` means a phone/mobile column rewritten by
    ``fix_phone_columns`` (``'- 555'`` -> ``' 555'``). So the probe
    covers string columns with a declared part and declared phone-like
    columns; no job runs when there are none."""
    declared = {f.name for f in schema.fields}
    strings = [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
    probed = [
        c
        for c in strings
        if f"{c}_part1" in declared
        or f"{c}_part2" in declared
        or (c in declared and _phone_like(c))
    ]
    out = split_multivalue(df, find_multivalue_columns(df, probed), declared)
    rowwise = {c for c in strings if c in declared and c not in probed}
    return _project(
        out,
        {
            c: f"CASE WHEN {sql_ident(c)} rlike {_PATTERN_SQL} "
            f"THEN {_part(c, 0)} ELSE {sql_ident(c)} END"
            for c in out.columns
            if c in rowwise
        },
    )


def clean_pipeline(
    df: DataFrame,
    schema: StructType | None = None,
    sentinel: str = "None",
) -> DataFrame:
    """The reference's full Raw->Staging transform chain
    (`Raw_To_Staging.py:100-140`): normalize names -> trim -> phone fix
    -> multi-value split -> null sentinel -> schema cast -> full dedup.

    With a ``schema`` the split is ``_split_declared``: the same rows as
    probing every string column, but the probe job runs only for string
    columns with a declared ``_part1``/``_part2`` and for declared
    phone/mobile columns, so a registry schema with neither builds the
    frame without a job. Without a schema every string column is
    probed, one aggregate job."""
    out = normalize_column_names(df)
    out = drop_unnamed_columns(out)
    out = trim_strings(out)
    out = fix_phone_columns(out)
    out = _split_declared(out, schema) if schema is not None else split_multivalue(out)
    out = empty_to_null(out)
    out = null_sentinel(out, sentinel)
    if schema is not None:
        out = cast_to_schema(out, schema)
    return dedup_full(out)
