"""The stream-maintained store format and lifecycle: the one module
that knows how a store names its partitions on disk, how the
compaction watermark flips, and in which order a fold publishes,
flips and collects. The store families in operators/dedup.py and the
ingest streams in pipeline.py only supply the rows.

Two on-disk layouts, both data formats (stores already written must
stay readable):

- ``ROWS`` (row-set stores: near-dedup corpus + band index, postings,
  ANN cells, curation tables, the prompt-key companion): batch ``k``
  at ``batch_id=<k>``; compacted generation ``n`` at
  ``batch_id=-(n+2)``, negative so ``batch_id < current`` probes keep
  seeing compacted history with no reader change.
- ``SLICES`` (mergeable-aggregate stores: line frequencies, token
  counts, prompt keys, histograms, Bloom buckets, Count-Min cells):
  batch ``k`` at ``slice_id=batch<k>``; generation ``n`` at
  ``slice_id=compacted<n>``.

Every publish is one dynamic partition overwrite, so a replayed batch
rewrites its own partition instead of appending twice. The
``_COMPACTED_UPTO`` file holds the watermark: the highest batch folded
into the CURRENT compacted generation (absent: never compacted).
Readers (:func:`live`) see that generation plus batches above the
watermark and nothing else, so folded leftovers and half-published
next generations stay invisible.

SCHEMA RECORD (``_SCHEMA``): the first publish records the frame's
data schema (Spark JSON, partition column left out) before it writes
any data, by a tmp write + ``os.replace``; later publishes and folds
leave it byte-identical, and one whose column names or types differ
from it raises ``ValueError`` (nullability is not compared).
:func:`read` — the one way a store is read — passes the record to the
parquet reader, so a read runs no schema-inference job; partition
discovery still types the partition column. A crash between the
record and the first data write leaves a store that reads as empty.
A store written before records existed has no ``_SCHEMA``: it is read
through Spark's inference and gets its record at its next publish or
fold.

CRASH-SAFE FOLD ORDER (:func:`fold`): (1) write generation ``upto``
from the current generation + batches in (watermark, upto] — inputs
that do not change until the flip, so a retry rewrites the same
partition with the same rows; (2) flip the watermark atomically
(tmp write + ``os.replace``), then drop a ``_COMPACTED_UPTO.<upto>``
sidecar whose mtime records when that flip happened; (3) GC the dirs
the flip superseded. A crash anywhere leaves readers correct and a
retry with the same ``upto`` convergent.

GRACED GC (:func:`gc`): a reader that planned its scan before a flip
may still be reading the dirs the flip superseded. With ``grace_s`` >
the longest reader, a superseded dir is deleted only once the flip
that superseded IT (its sidecar) is that old — judging every dir by
the LATEST flip would make GC a no-op whenever compaction cadence
outpaces the grace. An orphan next generation (crash before its flip;
never visible) is judged by its own mtime."""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_SLICE_ID = re.compile(r"(batch|compacted)(\d+)")


@dataclass(frozen=True)
class Layout:
    """How a store names its partitions: ``col`` is the partition
    column; ``numeric`` selects the ROWS encoding (batch ``k`` ->
    ``k``, generation ``n`` -> ``-(n+2)``) over the SLICES one
    (``batch<k>`` / ``compacted<n>``)."""

    col: str
    numeric: bool

    def batch(self, k: int):
        return k if self.numeric else f"batch{k}"

    def compacted(self, n: int):
        return -(n + 2) if self.numeric else f"compacted{n}"

    def parse(self, entry: str) -> tuple[bool, int] | None:
        """(is_batch, number) of a ``<col>=<value>`` partition dir;
        None for any other directory entry."""
        col, sep, value = entry.partition("=")
        if not sep or col != self.col:
            return None
        if self.numeric:
            try:
                v = int(value)
            except ValueError:
                return None
            return (True, v) if v >= 0 else (False, -v - 2)
        m = _SLICE_ID.fullmatch(value)
        return (m.group(1) == "batch", int(m.group(2))) if m else None

    def batch_num(self) -> tuple[Column, Column]:
        """(is a batch partition, its batch number) as columns."""
        if self.numeric:
            c = F.col(self.col)
            return c >= 0, c
        num = F.regexp_extract(self.col, r"^batch(\d+)$", 1)
        return num != "", num.cast("long")


ROWS = Layout("batch_id", numeric=True)
SLICES = Layout("slice_id", numeric=False)


def check_batch_slice(slice_id: str) -> None:
    """Refuse a free-form slice id for a compactable SLICES store: the
    fold and the watermark filters key on the numeric ``batch<k>``
    suffix, and any other id would be SILENTLY excluded from the
    totals after the first compaction."""
    m = _SLICE_ID.fullmatch(slice_id)
    if m is None or m.group(1) != "batch":
        raise ValueError(
            f"slice_id must be 'batch<k>' (got {slice_id!r}): compaction "
            "watermarks key on the numeric batch suffix"
        )


def schema_path(path: str) -> str:
    return os.path.join(path, "_SCHEMA")


def recorded_schema(path: str) -> StructType | None:
    """The data schema recorded at the store's first publish, or None
    for a store that has no record (never published, or written
    before records existed)."""
    try:
        with open(schema_path(path)) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        return None


def _columns(schema: StructType) -> list[tuple[str, str]]:
    return sorted((f.name, f.dataType.simpleString()) for f in schema.fields)


def _record_schema(path: str, schema: StructType) -> None:
    """Write ``schema`` as the store's record if it has none; refuse
    one whose column names or types drift from the record."""
    recorded = recorded_schema(path)
    if recorded is None:
        os.makedirs(path, exist_ok=True)
        tmp = schema_path(path) + ".tmp"
        with open(tmp, "w") as f:
            f.write(schema.json())
        os.replace(tmp, schema_path(path))
    elif _columns(recorded) != _columns(schema):
        raise ValueError(
            f"schema drift in store {path}: recorded "
            f"{recorded.simpleString()}, got {schema.simpleString()}"
        )


def read(spark, path: str) -> DataFrame:
    """Read every partition of the store at ``path`` (partition column
    included) with its recorded schema; a store without a record is
    read through Spark's schema inference."""
    schema = recorded_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def publish(df: DataFrame, path: str, layout: Layout, part) -> None:
    """Write ``df`` as partition ``<layout.col>=<part>`` of the store
    at ``path`` with dynamic partition overwrite (replay-idempotent:
    only that partition is replaced), after checking its data schema
    against the store's record (written here at the first publish)."""
    _record_schema(
        path, StructType([f for f in df.schema.fields if f.name != layout.col])
    )
    (
        df.withColumn(layout.col, F.lit(part))
        .hint("rebalance")  # size output files adaptively (guide §6):
        # without it every upstream task writes a sliver into every
        # partition dir (tasks × partitions tiny files; the store's
        # read path then pays listing + footer per sliver). Keyless
        # REBALANCE targets the AQE advisory size — one file per
        # slice locally, split-by-size at scale.
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(layout.col)
        .parquet(path)
    )


def watermark_path(path: str) -> str:
    return os.path.join(path, "_COMPACTED_UPTO")


def watermark(path: str) -> int:
    """Highest batch folded into the current compacted generation, or
    -1 if the store was never compacted."""
    p = watermark_path(path)
    if not os.path.exists(p):
        return -1
    with open(p) as f:
        return int(f.read().strip())


def _visible(layout: Layout, wm: int, upto: int | None = None) -> Column:
    """The current generation ``wm`` plus batches in (wm, upto]
    (unbounded above when ``upto`` is None)."""
    is_batch, num = layout.batch_num()
    batches = is_batch & (num > wm)
    if upto is not None:
        batches = batches & (num <= upto)
    return (F.col(layout.col) == layout.compacted(wm)) | batches


def _read_where(spark, path: str, layout: Layout, cond: Column) -> DataFrame:
    df = read(spark, path)
    # no partition dir (every publish so far wrote no rows): the read
    # is empty and has no partition column to filter on
    return df.filter(cond) if layout.col in df.columns else df


def live(spark, path: str, layout: Layout) -> DataFrame:
    """Read the live partitions of the store at ``path``; crash
    leftovers of any fold window stay invisible."""
    wm = watermark(path)
    # never compacted: only batch partitions count (an orphan
    # generation from a crash before the FIRST flip stays hidden)
    cond = layout.batch_num()[0] if wm < 0 else _visible(layout, wm)
    return _read_where(spark, path, layout, cond)


def max_live(path: str, layout: Layout) -> int:
    """Largest batch number with a partition dir (driver-side listdir;
    -1 when none)."""
    parsed = (layout.parse(d) for d in os.listdir(path))
    return max((n for is_batch, n in filter(None, parsed) if is_batch), default=-1)


def _record_flip(path: str, upto: int) -> None:
    """Drop the ``_COMPACTED_UPTO.<upto>`` sidecar right after the
    watermark flip to ``upto``: its mtime is the flip time graced GC
    judges the dirs that flip superseded by. A crash before this
    create only loses the sidecar; GC then falls back to the main
    watermark file's mtime, the LATEST flip time — conservative."""
    with open(f"{watermark_path(path)}.{upto}", "w") as f:
        f.write(str(upto))


def _flip(path: str, upto: int) -> None:
    tmp = watermark_path(path) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(upto))
    os.replace(tmp, watermark_path(path))
    _record_flip(path, upto)


def _sidecars(path: str) -> dict[int, str]:
    prefix = os.path.basename(watermark_path(path)) + "."
    return {
        int(d[len(prefix):]): os.path.join(path, d)
        for d in os.listdir(path)
        if d.startswith(prefix) and d[len(prefix):].isdigit()
    }


def _flip_times(path: str, wm: int) -> dict[int, float]:
    """{watermark -> flip time} from the sidecars, with the main
    watermark file's mtime standing in for a missing sidecar of the
    current watermark."""
    out: dict[int, float] = {}
    for n, p in _sidecars(path).items():
        try:
            out[n] = os.path.getmtime(p)
        except OSError:
            pass
    if wm >= 0 and wm not in out:
        try:
            out[wm] = os.path.getmtime(watermark_path(path))
        except OSError:
            pass
    return out


def gc(path: str, layout: Layout, grace_s: float = 0.0) -> list[str]:
    """Delete the dirs the watermark has superseded — folded batches
    (k <= watermark) and non-current generations — whose superseding
    flip is at least ``grace_s`` old, then the sidecars no surviving
    dir is judged by (keeping the current watermark's). Returns the
    deleted dir paths."""
    wm = watermark(path)
    if wm < 0:
        return []
    flips = _flip_times(path, wm)
    now = time.time()
    deleted: list[str] = []
    live_flips: set[int] = set()
    for d in os.listdir(path):
        parsed = layout.parse(d)
        if parsed is None:
            continue
        is_batch, n = parsed
        live_dir = n > wm if is_batch else n == wm
        if live_dir:
            continue
        # the EARLIEST flip that hid this dir: n' >= k for a batch,
        # n' > n for a generation; None only for an orphan generation
        flip = min(
            (f for f in flips.items() if (f[0] >= n if is_batch else f[0] > n)),
            default=None,
        )
        p = os.path.join(path, d)
        if flip is not None:
            ts = flip[1]
        elif is_batch:
            continue
        else:
            try:
                ts = os.path.getmtime(p)
            except OSError:
                continue
        if now - ts >= grace_s:
            shutil.rmtree(p)
            deleted.append(p)
        elif flip is not None:
            live_flips.add(flip[0])
    # sidecars must not become the unbounded-growth vector themselves;
    # dropping one only makes later GC more conservative (a dir whose
    # earliest flip went unrecorded is judged by a younger one)
    for n, p in _sidecars(path).items():
        if n != wm and n not in live_flips:
            try:
                os.remove(p)
            except OSError:
                pass
    return deleted


def fold(
    spark,
    path: str,
    layout: Layout,
    upto: int,
    transform: Callable[[DataFrame], DataFrame],
    gc_grace_s: float = 0.0,
    collect: Callable[..., object] | None = None,
) -> None:
    """Fold the current generation + every batch in (watermark,
    ``upto``] through ``transform`` into generation ``upto`` under the
    crash-safe order (write, atomic flip, GC). ``transform`` gets the
    folded rows (partition column included) and returns the rows of
    the new generation: identity for a row-set compaction, a
    re-aggregate for a slice compaction, an anti-join for a purge.

    ``gc_grace_s`` > 0 runs the graced GC BEFORE the write — the
    previous generation, judged by its own flip's age — and leaves
    the dirs this flip supersedes to the next fold or an explicit
    :func:`gc`; 0 collects them right after the flip. A call whose
    ``upto`` the watermark already covers only finishes what a
    crashed run of it left: the flip sidecar, then the GC.

    ``collect(path, grace_s)`` runs each GC pass (default :func:`gc`
    on ``layout``); the store families pass their public GC function
    so that patching or wrapping it covers the GC inside a fold."""
    collect = collect or (lambda p, grace_s: gc(p, layout, grace_s))
    wm = watermark(path)
    if wm < upto:
        if gc_grace_s > 0:
            collect(path, gc_grace_s)
        folded = _read_where(spark, path, layout, _visible(layout, wm, upto))
        publish(transform(folded), path, layout, layout.compacted(upto))
        _flip(path, upto)
        if gc_grace_s > 0:
            return
    elif wm == upto and upto not in _sidecars(path):
        _record_flip(path, upto)
    collect(path, gc_grace_s)
