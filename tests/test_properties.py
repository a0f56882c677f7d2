"""Property-based checks (SURVEY §5 item 4) with hypothesis over
small in-memory frames: SCD2 invariants, repair width guarantees,
dedup idempotence, as-of join vs a per-row Python reference.

Example counts are small (Spark jobs per example are ~100ms); the
properties, not the volume, carry the value.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from synthea_etl_spark.operators.scd2 import scd2_merge

TS1, TS2 = datetime(2024, 1, 1), datetime(2024, 2, 1)

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

snapshot_st = st.dictionaries(
    st.integers(min_value=0, max_value=9),  # key
    st.integers(min_value=0, max_value=3),  # attribute version
    min_size=0,
    max_size=8,
)


@given(snap1=snapshot_st, snap2=snapshot_st)
@settings(**SETTINGS)
def test_scd2_invariants_hold_for_any_two_snapshots(spark, snap1, snap2):
    """For ANY pair of snapshots: exactly one active row per key seen;
    active rows equal the latest snapshot's values for keys it
    contains; history rows are never lost."""

    def df(snap):
        rows = [(k, f"v{v}") for k, v in snap.items()]
        return spark.createDataFrame(rows, "k int, name string")

    if not snap1 and not snap2:
        return
    dim1 = scd2_merge(None, df(snap1), ["k"], ["name"], TS1) if snap1 else None
    dim2 = (
        scd2_merge(dim1, df(snap2), ["k"], ["name"], TS2) if snap2 else dim1
    )
    rows = dim2.collect()

    seen_keys = set(snap1) | set(snap2)
    active = {r.k: r.name for r in rows if r.is_active}
    assert set(active) == seen_keys  # one active row per key, no loss
    n_active = sum(1 for r in rows if r.is_active)
    assert n_active == len(seen_keys)
    for k in seen_keys:
        expected = snap2.get(k, snap1.get(k))
        assert active[k] == f"v{expected}"
    # a key changed between snapshots keeps its expired v1 row
    for k in set(snap1) & set(snap2):
        if snap1[k] != snap2[k]:
            hist = [r for r in rows if r.k == k and not r.is_active]
            assert len(hist) == 1 and hist[0].name == f"v{snap1[k]}"


@given(
    rows=st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    blacklist_characters='",\n\r', min_codepoint=32, max_codepoint=126
                ),
                max_size=6,
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_csv_repair_always_yields_header_width(spark, tmp_path_factory, rows):
    """Ragged rows of ANY width pad/truncate to exactly the header's
    column count (P7). Blank lines are skipped (standard CSV reader
    semantics — the reference would pad them into all-empty rows;
    documented divergence)."""
    from synthea_etl_spark.sources.csv_repair import repair_csv

    tmp = tmp_path_factory.mktemp("prop_csv")
    header = ["a", "b", "c"]
    lines = [",".join(header)] + [",".join(r) for r in rows]
    (tmp / "f.csv").write_text("\n".join(lines) + "\n")
    out = repair_csv(spark, str(tmp))
    assert out.columns == header
    n_nonblank = sum(1 for r in rows if ",".join(r) != "")
    assert out.count() == n_nonblank


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3)), min_size=1, max_size=12
    )
)
@settings(**SETTINGS)
def test_exact_dedup_idempotent_and_minimal(spark, vals):
    """dedup_full: applying twice equals applying once, and the result
    has no duplicate rows."""
    from synthea_etl_spark.operators.clean import dedup_full

    df = spark.createDataFrame(vals, "a int, b int")
    once = dedup_full(df)
    twice = dedup_full(once)
    r1 = sorted(map(tuple, once.collect()))
    r2 = sorted(map(tuple, twice.collect()))
    assert r1 == r2
    assert len(r1) == len(set(r1)) == len(set(vals))


cell_st = st.one_of(
    st.none(),
    st.lists(st.sampled_from(["x", "5", " ", "-", "or", "óR", " or ", "  OR "]), max_size=5).map(
        "".join
    ),
)


@given(
    rows=st.lists(st.tuples(cell_st, cell_st, cell_st), min_size=1, max_size=6),
    declared=st.sets(
        st.sampled_from(["a", "a_part1", "a_part2", "b", "b_part2", "phone", "phone_part1"])
    ),
)
@settings(**SETTINGS)
def test_registry_clean_equals_probe_everything(spark, rows, declared):
    """For ANY cells and ANY declared subset: the registry clean chain,
    which probes only declared parts and declared phone columns, returns
    the rows of the chain that probes every string column."""
    from synthea_etl_spark.operators.clean import clean_pipeline
    from synthea_etl_spark.sources.schema_registry import schema_from_fields
    from tests.test_clean import _probe_everything

    df = spark.createDataFrame(rows, "a string, b string, phone string")
    schema = schema_from_fields([{"name": c, "type": "string"} for c in sorted(declared | {"b"})])
    got = clean_pipeline(df, schema=schema)
    want = _probe_everything(df, schema)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@given(
    left=st.lists(st.integers(0, 50), min_size=1, max_size=8),
    right=st.lists(st.integers(0, 50), min_size=0, max_size=8),
)
@settings(**SETTINGS)
def test_asof_join_matches_python_reference(spark, left, right):
    """asof_join's carried value equals the max right ts <= left ts,
    computed independently in Python, for one key and arbitrary
    timestamps (duplicates on the right collapse to one row first —
    the determinism precondition the operator documents)."""
    from synthea_etl_spark.operators.asof import asof_join

    right = sorted(set(right))
    l = spark.createDataFrame(
        [(1, t) for t in left], "k int, lts long"
    ).select("k", F.timestamp_seconds("lts").alias("lts"))
    r = spark.createDataFrame(
        [(1, t, t * 10) for t in right], "k int, rts long, payload long"
    ).select("k", F.timestamp_seconds("rts").alias("rts"), "payload")
    out = asof_join(l, r, ["k"], "lts", "rts", ["payload"])
    got = {r_.lts: r_.payload for r_ in out.collect()}
    for t in left:
        import datetime as _dt

        key = _dt.datetime.fromtimestamp(t, _dt.timezone.utc).replace(tzinfo=None)
        preceding = [x for x in right if x <= t]
        expect = max(preceding) * 10 if preceding else None
        assert got[key] == expect


# ---------------------------------------------------------------------------
# New-operator properties: incremental merge, heavy hitters, gap fill
# ---------------------------------------------------------------------------

values_st = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=20,
)


@given(rows=values_st, split=st.integers(min_value=0, max_value=20))
@settings(**SETTINGS)
def test_incremental_merge_equals_recompute_any_split(spark, rows, split):
    """For ANY dataset and ANY split point, folding the delta into the
    state equals the from-scratch aggregate (counts, exact sums,
    min/max)."""
    from synthea_etl_spark.operators.incremental import (
        agg_state,
        finalize,
        merge_states,
    )

    split = min(split, len(rows))
    full = spark.createDataFrame(rows, "k string, v double")
    h1 = spark.createDataFrame(rows[:split] or [("_none", 0.0)], "k string, v double")
    h2 = spark.createDataFrame(rows[split:] or [("_none", 0.0)], "k string, v double")
    merged = finalize(
        merge_states(agg_state(h1, ["k"], "v"), agg_state(h2, ["k"], "v"))
    ).filter(F.col("k") != "_none")
    direct = finalize(agg_state(full, ["k"], "v"))
    pad = {r["k"] for r in full.select("k").distinct().collect()}
    got = {r["k"]: (r["count"], round(r["sum"], 6)) for r in merged.collect()
           if r["k"] in pad or split in (0, len(rows))}
    want = {r["k"]: (r["count"], round(r["sum"], 6)) for r in direct.collect()}
    # padding rows add phantom keys only when a half was empty
    for k, v in want.items():
        assert got[k] == v


@given(
    hot=st.integers(min_value=30, max_value=60),
    cold_keys=st.integers(min_value=0, max_value=30),
)
@settings(**SETTINGS)
def test_heavy_hitters_guarantee_any_distribution(spark, hot, cold_keys):
    """For ANY mix of one hot key and many cold keys, heavy_hitters
    with threshold > N/k returns exactly the exact answer."""
    from synthea_etl_spark.operators.frequency import heavy_hitters

    rows = [(0,)] * hot + [(k,) for k in range(1, cold_keys + 1) for _ in range(2)]
    n = len(rows)
    k = 32
    thr = max(n // k + 1, 25)
    df = spark.createDataFrame(rows, "key long").repartition(4)
    got = {(r["key"], r["cnt"]) for r in
           heavy_hitters(df, "key", threshold=thr, k=k).collect()}
    want = {(0, hot)} if hot >= thr else set()
    assert got == want


@given(
    days=st.lists(st.integers(min_value=1, max_value=15), min_size=1,
                  max_size=6, unique=True),
)
@settings(**SETTINGS)
def test_gap_fill_dense_and_carries(spark, days):
    """For ANY observed day set: output covers [min,max] densely, every
    carried value equals the latest observation at or before it."""
    from synthea_etl_spark.operators.timeseries import gap_fill

    rows = [(1, datetime(2024, 1, d), float(d)) for d in days]
    df = spark.createDataFrame(rows, "k int, day timestamp_ntz, v double")
    out = gap_fill(df, "k", "day", "INTERVAL 1 DAY", ["v"]).collect()
    lo, hi = min(days), max(days)
    assert sorted(r["day"].day for r in out) == list(range(lo, hi + 1))
    obs = sorted(days)
    for r in out:
        latest = max(d for d in obs if d <= r["day"].day)
        assert r["v"] == float(latest)
        assert r["was_observed"] == (r["day"].day in obs)


# ---------------------------------------------------------------------------
# exact-sum ladder: dsum == exact_agg == msum_bounded, any partitioning
# ---------------------------------------------------------------------------

from synthea_etl_spark.plans.common import davg, dsum, exact_agg, msum_bounded  # noqa: E402


@given(data=st.data())
@settings(**{**SETTINGS, "max_examples": 10})
def test_exact_sum_ladder_agrees_any_partitioning(spark, data):
    """The load-bearing claim behind q01/q16/q105 (SCALE.md's exact-sum
    ladder): on <=6-dp inputs the three order-independent SUM/AVG
    implementations — decimal-per-row (dsum/davg), two-phase micro-long
    (exact_agg), and single-phase bounded micro-long (msum_bounded) —
    produce BIT-IDENTICAL doubles, for any values (positive and
    negative), any grouping, and ANY physical partitioning; and the
    result is invariant under input reordering + repartitioning."""
    n = data.draw(st.integers(1, 40))
    rows = [
        (
            data.draw(st.integers(0, 3)),
            data.draw(st.integers(-(10**8), 10**8)) / 1e6,
        )
        for _ in range(n)
    ]

    def frame(rs, parts):
        return spark.createDataFrame(rs, "k int, x double").repartition(parts)

    df = frame(rows, data.draw(st.integers(1, 8)))
    a = {
        (r.k): (r.s, r.m)
        for r in df.groupBy("k").agg(dsum("x", "s"), davg("x", "m")).collect()
    }
    b = {
        (r.k): (r.s, r.m)
        for r in exact_agg(df, ["k"], sums={"s": "x"}, avgs={"m": "x"}).collect()
    }
    c = {
        (r.k): r.s
        for r in df.groupBy("k").agg(msum_bounded("x", "s")).collect()
    }
    assert a == b
    assert {k: v[0] for k, v in a.items()} == c
    # order/partitioning independence: reversed rows, different split
    df2 = frame(rows[::-1], data.draw(st.integers(1, 8)))
    b2 = {
        (r.k): (r.s, r.m)
        for r in exact_agg(df2, ["k"], sums={"s": "x"}, avgs={"m": "x"}).collect()
    }
    assert b2 == b


corpus_st = st.lists(
    st.text(
        alphabet="ab c",  # tiny alphabet -> real term collisions
        min_size=0,
        max_size=12,
    ),
    min_size=0,
    max_size=8,
)


@given(texts_a=corpus_st, texts_b=corpus_st)
@settings(**SETTINGS)
def test_inverted_index_union_invariant_any_corpora(spark, texts_a, texts_b):
    """For ANY two disjoint-id document batches, the union of their
    postings equals the postings of the union corpus — the invariant
    that makes streaming/batch index maintenance append-only."""
    from synthea_etl_spark.operators.retrieval import inverted_index

    rows_a = [(i, t) for i, t in enumerate(texts_a)]
    rows_b = [(100 + i, t) for i, t in enumerate(texts_b)]
    if not rows_a and not rows_b:
        return

    def idx(rows):
        return inverted_index(
            spark.createDataFrame(rows, "doc_id long, text string")
        )

    def collected(df):
        return sorted((r.t, r.doc_id, r.tf) for r in df.collect())

    if rows_a and rows_b:
        unioned = collected(idx(rows_a).unionByName(idx(rows_b)))
    else:
        unioned = collected(idx(rows_a or rows_b))
    assert unioned == collected(idx(rows_a + rows_b))


scores_st = st.lists(
    st.integers(min_value=-5, max_value=5), min_size=1, max_size=24
)


@given(scores=scores_st)
@settings(**SETTINGS)
def test_value_decile_bins_properties(spark, scores):
    """For ANY score column: every row keeps exactly one bin, bins
    are monotone in score, equal scores share a bin, bin ids stay in
    [0, bins), and bin = floor(bins * |strictly smaller| / N)."""
    from synthea_etl_spark.operators.text import value_decile_bins

    rows = [(i, s) for i, s in enumerate(scores)]
    df = spark.createDataFrame(rows, "id long, s long")
    out = {r.id: r.decile for r in value_decile_bins(df, "s").collect()}
    n = len(scores)
    assert set(out) == {i for i, _ in rows}  # one bin per row
    for i, s in rows:
        smaller = sum(1 for v in scores if v < s)
        assert out[i] == (10 * smaller) // n
        assert 0 <= out[i] < 10
    for i, si in rows:
        for j, sj in rows:
            if si < sj:
                assert out[i] <= out[j]
            if si == sj:
                assert out[i] == out[j]
