"""The store lifecycle (operators/store.py) under injected crashes: a
fold interrupted after any of its steps leaves the live reader exact,
and a retry with the same ``upto`` converges to the directory a clean
fold leaves — on both on-disk layouts. Also the schema record: written
once at the first publish, checked by every later one, and what lets
a read skip schema inference."""

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
    "after_schema_record": lambda mp: mp.setattr(
        store, "_record_schema", _then_raise(store._record_schema)
    ),
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
    live = store.live(spark, path, layout)
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


LAYOUTS = pytest.mark.parametrize(
    "layout", [store.ROWS, store.SLICES], ids=["rows", "slices"]
)


def _record_bytes(path):
    with open(store.schema_path(path), "rb") as f:
        return f.read()


def _jobs_in_group(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@LAYOUTS
def test_first_publish_records_the_schema_once(spark, tmp_path, layout):
    path = str(tmp_path / "s")
    df = spark.createDataFrame(BATCHES[0], "k string, c long")
    store.publish(df, path, layout, layout.batch(0))
    assert store.recorded_schema(path).simpleString() == "struct<k:string,c:bigint>"
    first = _record_bytes(path)
    for k in (1, 2):
        df = spark.createDataFrame(BATCHES[k], "k string, c long")
        store.publish(df, path, layout, layout.batch(k))
    store.fold(spark, path, layout, UPTO, _transform(layout))
    assert _record_bytes(path) == first


@LAYOUTS
def test_reading_with_the_record_submits_no_job(spark, tmp_path, layout):
    path = str(tmp_path / "s")
    _publish_batches(spark, path, layout)
    group = f"store-read-{layout.col}"
    jobs = _jobs_in_group(spark, group, lambda: store.live(spark, path, layout))
    assert jobs == []
    # the same read without a record infers the schema: one job
    os.remove(store.schema_path(path))
    jobs = _jobs_in_group(
        spark, group + "-inferred", lambda: store.live(spark, path, layout)
    )
    assert len(jobs) == 1


@LAYOUTS
def test_publish_that_drifts_from_the_record_raises(spark, tmp_path, layout):
    path = str(tmp_path / "s")
    _publish_batches(spark, path, layout)
    drifted = spark.createDataFrame([("d", 6)], "k string, c int")
    with pytest.raises(ValueError, match="schema drift"):
        store.publish(drifted, path, layout, layout.batch(3))
    # nullability is not compared
    strict = spark.createDataFrame(
        [("d", 6)], "k string not null, c long not null"
    )
    store.publish(strict, path, layout, layout.batch(3))
    assert ("d", 6) in _totals(spark, path, layout)


@LAYOUTS
def test_store_without_a_record_reads_and_records_again(spark, tmp_path, layout):
    path = str(tmp_path / "s")
    _publish_batches(spark, path, layout)
    want, record = _totals(spark, path, layout), _record_bytes(path)
    os.remove(store.schema_path(path))
    assert _totals(spark, path, layout) == want
    df = spark.createDataFrame([("d", 6)], "k string, c long")
    store.publish(df, path, layout, layout.batch(3))
    assert _record_bytes(path) == record
    assert _totals(spark, path, layout) == want | {("d", 6)}


@LAYOUTS
def test_crash_after_the_first_record_reads_empty(
    spark, tmp_path, monkeypatch, layout
):
    """A first publish that dies between the record and the data
    leaves a store with no partition dir: it reads as empty, and the
    retried publish fills it."""
    path = str(tmp_path / "s")
    df = spark.createDataFrame(BATCHES[0], "k string, c long")
    with monkeypatch.context() as mp:
        mp.setattr(store, "_record_schema", _then_raise(store._record_schema))
        with pytest.raises(Crash):
            store.publish(df, path, layout, layout.batch(0))
    assert os.path.exists(store.schema_path(path))
    assert store.live(spark, path, layout).collect() == []
    store.publish(df, path, layout, layout.batch(0))
    assert _totals(spark, path, layout) == {("a", 1), ("b", 2)}
