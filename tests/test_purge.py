"""Right-to-erasure propagation across the maintained stores:
filtering compaction for row-set stores, negative deletion slices
for additive counting stores. The contract under test everywhere:
a purged store answers BIT-IDENTICALLY to one rebuilt from only the
surviving documents."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _docs(spark, ids_texts):
    return spark.createDataFrame(
        [(i, t, f"src{i % 3}") for i, t in ids_texts],
        "doc_id long, text string, source string",
    )


def test_purge_batch_store_matches_rebuild(spark, tmp_path):
    from synthea_etl_spark.operators.dedup import (
        compaction_watermark,
        purge_batch_store,
    )
    from synthea_etl_spark.operators.store import ROWS, live

    store = str(tmp_path / "bands")
    rows = [(d, b, f"h{d % 4}") for d in range(8) for b in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, band int, bh string")
    for bid, lo, hi in [(1, 0, 4), (2, 4, 8)]:
        (
            df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .withColumn("batch_id", F.lit(bid))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(store)
        )
    purge_batch_store(spark, store, 3, [2, 5], "doc_id")
    assert compaction_watermark(store) == 3
    got = {
        (r.doc_id, r.band, r.bh)
        for r in live(spark, store, ROWS).collect()
    }
    want = {(d, b, h) for d, b, h in rows if d not in (2, 5)}
    assert got == want
    # the consumed batch slot cannot be reused
    with pytest.raises(ValueError):
        purge_batch_store(spark, store, 3, [2], "doc_id")
    # a second purge takes the next slot and composes
    purge_batch_store(spark, store, 4, [0], "doc_id")
    got2 = {
        r.doc_id
        for r in live(spark, store, ROWS).collect()
    }
    assert got2 == {1, 3, 4, 6, 7}


def test_purge_leaves_later_batches_untouched(spark, tmp_path):
    """Rows ingested ABOVE the purge slot survive (the documented
    completeness contract) and fold out on the NEXT purge."""
    from synthea_etl_spark.operators.dedup import purge_batch_store
    from synthea_etl_spark.operators.store import ROWS, live

    store = str(tmp_path / "bands")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, bh string"
    )
    df.withColumn("batch_id", F.lit(1)).write.mode("append").partitionBy(
        "batch_id"
    ).parquet(store)
    purge_batch_store(spark, store, 2, [2], "doc_id")
    # doc 2 re-ingested later in batch 5: this purge never saw it
    df.filter(F.col("doc_id") == 2).withColumn(
        "batch_id", F.lit(5)
    ).write.mode("append").partitionBy("batch_id").parquet(store)
    ids = {
        r.doc_id
        for r in live(spark, store, ROWS).collect()
    }
    assert ids == {1, 2}
    purge_batch_store(spark, store, 6, [2], "doc_id")
    ids2 = {
        r.doc_id
        for r in live(spark, store, ROWS).collect()
    }
    assert ids2 == {1}


def test_purge_rejects_slot_below_live_batch(spark, tmp_path):
    """upto_batch below an existing live positive batch would leave
    the erased ids visible in that batch while reporting success — a
    silent right-to-erasure violation. The guard raises instead."""
    from synthea_etl_spark.operators.dedup import purge_batch_store

    store = str(tmp_path / "bands")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, bh string"
    )
    for bid in (1, 5):
        df.withColumn("batch_id", F.lit(bid)).write.mode(
            "append"
        ).partitionBy("batch_id").parquet(store)
    with pytest.raises(ValueError, match="strictly above every"):
        purge_batch_store(spark, store, 3, [2], "doc_id")
    # above every live batch: succeeds
    purge_batch_store(spark, store, 6, [2], "doc_id")


def test_purge_batch_store_string_key(spark, tmp_path):
    """A store keyed by a string column (e.g. a fingerprint) purges
    with an iterable of ids: the key type comes from the store's schema
    (inferred for a store written without a record, then from the
    record the purge's fold wrote), not hardcoded long."""
    from synthea_etl_spark.operators.dedup import purge_batch_store
    from synthea_etl_spark.operators.store import ROWS, live, recorded_schema

    store = str(tmp_path / "fps")
    df = spark.createDataFrame(
        [("fp_a", 1), ("fp_b", 2), ("fp_c", 3)], "fp string, n long"
    )
    df.withColumn("batch_id", F.lit(1)).write.mode("append").partitionBy(
        "batch_id"
    ).parquet(store)
    purge_batch_store(spark, store, 2, ["fp_b"], "fp")
    got = {
        r.fp
        for r in live(spark, store, ROWS).collect()
    }
    assert got == {"fp_a", "fp_c"}
    assert recorded_schema(store)["fp"].dataType.simpleString() == "string"
    spark.createDataFrame([("fp_d", 4)], "fp string, n long").withColumn(
        "batch_id", F.lit(3)
    ).write.mode("append").partitionBy("batch_id").parquet(store)
    purge_batch_store(spark, store, 4, ["fp_a"], "fp")
    assert {r.fp for r in live(spark, store, ROWS).collect()} == {"fp_c", "fp_d"}


def test_deletion_slice_token_store_matches_rebuild(spark, tmp_path):
    """Ingest two batches, erase two docs via a negative slice +
    compaction: totals — and the q222 drift report — match a store
    rebuilt from only the survivors, bit for bit; tokens unique to
    the deleted docs vanish entirely (no zero rows)."""
    from synthea_etl_spark.operators.dedup import (
        compact_counting_slices,
        counting_store_totals,
        deletion_slice,
        drift_from_token_store,
        token_stats_slice,
        token_stats_store,
    )

    all_docs = [
        (0, "alpha beta gamma"),
        (1, "alpha secretword secretword"),
        (2, "beta gamma delta"),
        (3, "alpha beta"),
        (4, "uniquetoken gamma"),
        (5, "delta delta alpha"),
    ]
    deleted = {1, 4}
    docs = _docs(spark, all_docs)
    store = str(tmp_path / "tok")
    token_stats_store(docs.filter(F.col("doc_id") < 3), store, "batch1")
    token_stats_store(docs.filter(F.col("doc_id") >= 3), store, "batch2")
    # erase: negative slice for the deleted docs, then compact
    dele = docs.filter(F.col("doc_id").isin(*deleted))
    (
        deletion_slice(token_stats_slice(dele), ["c"])
        .withColumn("slice_id", F.lit("batch3"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("slice_id")
        .parquet(store)
    )
    rebuilt = str(tmp_path / "tok_rebuilt")
    token_stats_store(
        docs.filter(~F.col("doc_id").isin(*deleted)), rebuilt, "batch1"
    )
    # erasure is correct IMMEDIATELY on slice publish (zero-net keys
    # read as absent), before any compaction
    pre = {
        tuple(r) for r in drift_from_token_store(spark, store).collect()
    }
    want_drift = {
        tuple(r)
        for r in drift_from_token_store(spark, rebuilt).collect()
    }
    assert pre == want_drift
    compact_counting_slices(spark, store, 3, ["source", "t"], "c")
    got = {
        (r.source, r.t, r.c)
        for r in counting_store_totals(
            spark, store, ["source", "t"], "c"
        ).collect()
    }
    want = {
        (r.source, r.t, r.c)
        for r in counting_store_totals(
            spark, rebuilt, ["source", "t"], "c"
        ).collect()
    }
    assert got == want
    assert not any(t == "secretword" for _, t, _c in got)
    assert not any(t == "uniquetoken" for _, t, _c in got)
    drift_purged = {
        tuple(r) for r in drift_from_token_store(spark, store).collect()
    }
    drift_rebuilt = {
        tuple(r)
        for r in drift_from_token_store(spark, rebuilt).collect()
    }
    assert drift_purged == drift_rebuilt


def test_purge_prompt_key_cluster_matches_rebuild(spark, tmp_path):
    """Erasure for the MIXED-AGG store family: erase docs including
    one that IS its cluster's min_doc representative — the case
    deletion_slice can't express (min doesn't subtract). The repaired
    agg store must answer bit-identically to one rebuilt from only
    the surviving documents: the representative moves to the next
    smallest survivor, a fully-erased cluster vanishes, untouched
    clusters keep their rows."""
    from synthea_etl_spark.operators.dedup import (
        prompt_clusters_from_store,
        prompt_key_pairs_store,
        prompt_key_store,
        purge_prompt_key_cluster,
    )

    # prompts: docs 0,2,4 share prompt A (rep=0); 1,3 share B (rep=1);
    # 5 alone on C. Erase {0 (A's REPRESENTATIVE), 5 (all of C)}.
    texts = {
        0: "alpha beta shared prompt a",
        2: "alpha beta shared prompt a",
        4: "alpha beta shared prompt a",
        1: "gamma delta shared prompt b",
        3: "gamma delta shared prompt b",
        5: "epsilon zeta lone prompt c",
    }
    docs = _docs(spark, sorted(texts.items()))
    agg = str(tmp_path / "pk_agg")
    pairs = str(tmp_path / "pk_pairs")
    for bid, lo, hi in [(1, 0, 3), (2, 3, 6)]:
        b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        prompt_key_store(b, agg, slice_id=f"batch{bid}")
        prompt_key_pairs_store(b, pairs, bid)
    erased = {0, 5}
    purge_prompt_key_cluster(spark, agg, pairs, erased, 3)
    got = {
        tuple(r)
        for r in prompt_clusters_from_store(spark, agg).collect()
    }
    rebuilt = str(tmp_path / "pk_rebuilt")
    prompt_key_store(
        docs.filter(~F.col("doc_id").isin(*erased)), rebuilt, "batch1"
    )
    want = {
        tuple(r)
        for r in prompt_clusters_from_store(spark, rebuilt).collect()
    }
    assert got == want
    # the representative actually moved (cluster A: 0 -> 2) and the
    # lone cluster vanished
    reps = {r.pkey: r.rep_doc_id for r in
            prompt_clusters_from_store(spark, agg).collect()}
    assert set(reps.values()) == {1, 2}
    sizes = sorted(
        r.cluster_n for r in
        prompt_clusters_from_store(spark, agg).collect()
    )
    assert sizes == [2, 2]
    # consumed slot replay raises (both halves guard it)
    with pytest.raises(ValueError):
        purge_prompt_key_cluster(spark, agg, pairs, {2}, 3)


def test_deletion_slice_rejects_nothing_but_negates(spark):
    from synthea_etl_spark.operators.dedup import deletion_slice

    df = spark.createDataFrame(
        [("a", "t1", 3), ("b", "t2", 1)], "source string, t string, c long"
    )
    out = {(r.source, r.t, r.c) for r in deletion_slice(df, ["c"]).collect()}
    assert out == {("a", "t1", -3), ("b", "t2", -1)}


def test_purge_prompt_key_cluster_recovers_from_mid_purge_crash(
    spark, tmp_path, monkeypatch
):
    """The r14-ADVICE crash window: the companion purge's watermark
    flips, then the process dies BEFORE the agg-store repair. A
    fresh-slot retry must still repair the agg store — the affected
    pkeys are no longer derivable from the (already purged)
    companion, so they must come from the durable staging set.
    Without staging the retry silently keeps agg rows whose min_doc
    is an erased doc (an undetected right-to-erasure violation)."""
    import synthea_etl_spark.operators.dedup as dd
    from synthea_etl_spark.operators.store import ROWS, live

    texts = {
        0: "alpha beta shared prompt a",
        2: "alpha beta shared prompt a",
        4: "alpha beta shared prompt a",
        1: "gamma delta shared prompt b",
        3: "gamma delta shared prompt b",
    }
    docs = _docs(spark, sorted(texts.items()))
    agg = str(tmp_path / "pk_agg")
    pairs = str(tmp_path / "pk_pairs")
    dd.prompt_key_store(docs, agg, slice_id="batch1")
    dd.prompt_key_pairs_store(docs, pairs, 1)

    # crash: the agg repair (step 5) never runs
    real = dd.purge_agg_store

    def _boom(*a, **k):
        raise RuntimeError("simulated crash before agg repair")

    monkeypatch.setattr(dd, "purge_agg_store", _boom)
    with pytest.raises(RuntimeError):
        dd.purge_prompt_key_cluster(spark, agg, pairs, {0}, 2)
    monkeypatch.setattr(dd, "purge_agg_store", real)

    # the companion HAS purged doc 0 — the hole the staging closes
    left = {
        r.doc_id
        for r in live(spark, pairs, ROWS).collect()
    }
    assert 0 not in left
    # pre-fix behavior check: the agg store still claims rep=0
    reps = {
        r.pkey: r.rep_doc_id
        for r in dd.prompt_clusters_from_store(spark, agg).collect()
    }
    assert 0 in set(reps.values())

    # fresh-slot retry completes the erasure from the staged set
    dd.purge_prompt_key_cluster(spark, agg, pairs, {0}, 3)
    got = {
        tuple(r)
        for r in dd.prompt_clusters_from_store(spark, agg).collect()
    }
    rebuilt = str(tmp_path / "pk_rebuilt")
    dd.prompt_key_store(
        docs.filter(F.col("doc_id") != 0), rebuilt, "batch1"
    )
    want = {
        tuple(r)
        for r in dd.prompt_clusters_from_store(spark, rebuilt).collect()
    }
    assert got == want
    reps2 = {
        r.pkey: r.rep_doc_id
        for r in dd.prompt_clusters_from_store(spark, agg).collect()
    }
    assert set(reps2.values()) == {1, 2}
    # staging cleaned up after the completed retry
    import os

    staging = os.path.join(agg, "_purge_staging")
    assert (not os.path.isdir(staging)) or os.listdir(staging) == []
