"""The store lifecycle (operators/store.py) under injected crashes: a
fold interrupted after any of its steps leaves the live reader exact,
and a retry with the same ``upto`` converges to the directory a clean
fold leaves — on both on-disk layouts."""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from synthea_etl_spark.operators import store

BATCHES = [[("a", 1), ("b", 2)], [("a", 3)], [("c", 4), ("a", 5)]]
UPTO = 1


class Crash(Exception):
    pass


def _raise(*args, **kwargs):
    raise Crash


def _then_raise(fn):
    def wrapped(*args, **kwargs):
        fn(*args, **kwargs)
        raise Crash

    return wrapped


def _crash_mid_gc(mp):
    """The first rmtree succeeds, the second dies."""
    calls = []

    def rmtree(p):
        if calls:
            raise Crash
        calls.append(p)
        shutil.rmtree(p)

    mp.setattr(store, "shutil", SimpleNamespace(rmtree=rmtree))


CRASHES = {
    "after_generation_write": lambda mp: mp.setattr(store, "_flip", _raise),
    "after_watermark_replace": lambda mp: mp.setattr(store, "_record_flip", _raise),
    "after_record_flip": lambda mp: mp.setattr(
        store, "_record_flip", _then_raise(store._record_flip)
    ),
    "mid_gc": _crash_mid_gc,
}


def _transform(layout):
    if layout.numeric:  # row-set store: rows pass through
        return lambda df: df
    return lambda df: df.groupBy("k").agg(F.sum("c").cast("long").alias("c"))


def _publish_batches(spark, path, layout):
    for k, rows in enumerate(BATCHES):
        df = spark.createDataFrame(rows, "k string, c long")
        store.publish(df, path, layout, layout.batch(k))


def _totals(spark, path, layout):
    live = store.live(spark.read.parquet(path), path, layout)
    return {
        (r.k, r.c)
        for r in live.groupBy("k").agg(F.sum("c").alias("c")).collect()
    }


@pytest.mark.parametrize("layout", [store.ROWS, store.SLICES], ids=["rows", "slices"])
def test_fold_converges_after_a_crash_at_every_step(
    spark, tmp_path, monkeypatch, layout
):
    clean = str(tmp_path / "clean")
    _publish_batches(spark, clean, layout)
    want = _totals(spark, clean, layout)
    store.fold(spark, clean, layout, UPTO, _transform(layout))
    assert _totals(spark, clean, layout) == want
    want_listing = sorted(os.listdir(clean))
    assert os.path.basename(store.watermark_path(clean)) + f".{UPTO}" in want_listing

    for name, inject in CRASHES.items():
        path = str(tmp_path / name)
        _publish_batches(spark, path, layout)
        with monkeypatch.context() as mp:
            inject(mp)
            with pytest.raises(Crash):
                store.fold(spark, path, layout, UPTO, _transform(layout))
        assert _totals(spark, path, layout) == want, name
        store.fold(spark, path, layout, UPTO, _transform(layout))
        assert _totals(spark, path, layout) == want, name
        assert sorted(os.listdir(path)) == want_listing, name
