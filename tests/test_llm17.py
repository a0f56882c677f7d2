"""Round-11 tests, part 2: link-graph extraction, the recrawl
schedule composition, bigram-LM scoring semantics, and the streamed
boilerplate line-frequency store."""

from __future__ import annotations

import json as _json
import math
import os
import tempfile

from pyspark.sql import functions as F


def _write_docs(spark, d, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(os.path.join(d, "documents.parquet"))


def test_link_graph_extracts_hrefs_only_and_normalizes_host(spark):
    """Only href attributes count (the data-src decoy must not),
    uppercase hosts normalize, and edge weights count links."""
    from synthea_etl_spark.plans.llm17 import q218_link_graph

    with tempfile.TemporaryDirectory() as d:
        _write_docs(spark, d, [(0, "x", "en", "s"), (4, "y", "en", "s")])
        out = q218_link_graph(spark, d).collect()
    # doc 0: src site0.com -> site3.com (7*0+3) and site5.com (11*0+5)
    # doc 4: src site1.com -> site31.com (7*4+3=31) and site9.com (49%40)
    edges = {(r.src_host, r.dst_host): r.n_links for r in out}
    assert edges[("site0.com", "site3.com")] == 1
    assert edges[("site0.com", "site5.com")] == 1
    assert edges[("site1.com", "site31.com")] == 1
    assert edges[("site1.com", "site9.com")] == 1
    assert not any(dst == "decoy.com" for _, dst in edges)


def test_recrawl_schedule_interval_rules(spark):
    """Interval arithmetic on the documented boundaries, verified
    against the tier/churn inputs the query itself derives."""
    from synthea_etl_spark.plans.llm17 import q219_recrawl_schedule

    out = q219_recrawl_schedule(spark, "/root/testdata/sf0.001").collect()
    assert out
    base = {"high": 1, "medium": 7, "low": 30}
    for r in out:
        b = base[r.crawl_tier]
        if r.changed_share_micro >= 300_000:
            want = max(1, b // 2)
        elif r.changed_share_micro < 100_000:
            want = b * 2
        else:
            want = b
        assert r.crawl_interval_days == want, (r,)


def test_bigram_lm_scores_reference_fluency_lower(spark):
    """A doc made of reference-slice bigrams must score lower NLL
    than a doc of never-seen bigrams; smoothing handles unseen
    contexts without nulls; hand-check one probability."""
    from synthea_etl_spark.plans.llm17 import q220_bigram_lm_quality

    # doc_ids 0,1,2 are reference (id % 10 < 3)
    ref_text = "the cat sat on the mat " * 5
    with tempfile.TemporaryDirectory() as d:
        _write_docs(
            spark,
            d,
            [
                (0, ref_text.strip(), "en", "s"),
                (1, ref_text.strip(), "en", "s"),
                (2, "the cat sat", "en", "s"),
                # non-ref: fluent (seen bigrams) vs gibberish
                (13, "the cat sat on the mat", "en", "s"),
                (14, "zz qq ww ee rr tt", "en", "s"),
            ],
        )
        out = {r.doc_id: r for r in q220_bigram_lm_quality(spark, d).collect()}
    assert out[13].nll_micro_mean < out[14].nll_micro_mean
    # unseen everything: every bigram scores exactly ln(V) (ctx=0,
    # c2=0 -> -ln(1/V)); V = distinct ref tokens
    vocab = {"the", "cat", "sat", "on", "mat"}
    want = int(math.floor(round(math.log(len(vocab)), 6) * 1_000_000 + 0.5))
    assert out[14].nll_micro_mean == want
    assert out[14].n_bigrams == 5


def test_boilerplate_stream_store_matches_batch_frequency(spark, tmp_path):
    """The streamed line-frequency store, summed over slices, equals
    the one-shot corpus frequency; replayed slices are idempotent;
    and the store-driven verdict matches q212's inline verdict."""
    from synthea_etl_spark.operators.dedup import (
        boilerplate_from_store,
        line_frequency_slice,
        line_frequency_store,
    )
    from synthea_etl_spark.pipeline import boilerplate_ingest_stream
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    boiler = "nav home about contact login cart search help terms faq"
    rows = [
        # exactly 10 unique tokens, so the shared boiler text IS the
        # doc's second 10-token line in every doc
        (i, " ".join(f"u{i}w{j}" for j in range(10)) + " " + boiler)
        for i in range(30)
    ]
    landing = tmp_path / "landing"
    store = tmp_path / "store"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )

    def land(name, batch):
        (landing / name).write_text(
            "\n".join(
                _json.dumps({"doc_id": i, "text": t}) for i, t in batch
            )
        )

    def run():
        boilerplate_ingest_stream(
            spark, str(landing), str(store), str(ckpt), schema
        ).awaitTermination(120)

    land("b0.json", rows[:12])
    run()
    land("b1.json", rows[12:])
    run()  # restart: only b1 new

    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    batch_freq = {
        r.fp: r.n_docs for r in line_frequency_slice(corpus).collect()
    }
    streamed = (
        spark.read.parquet(str(store))
        .groupBy("fp")
        .agg(F.sum("n_docs").alias("n"))
        .collect()
    )
    assert {r.fp: r.n for r in streamed} == batch_freq
    # replayed slice partition is a no-op
    b1 = spark.createDataFrame(rows[12:], "doc_id long, text string")
    line_frequency_store(b1, str(store), slice_id="batch1")
    again = (
        spark.read.parquet(str(store))
        .groupBy("fp")
        .agg(F.sum("n_docs").alias("n"))
        .collect()
    )
    assert {r.fp: r.n for r in again} == batch_freq
    # the verdict from the store: the shared boiler line is flagged
    verdict = boilerplate_from_store(spark, str(store), min_docs=2)
    flagged = {r.fp for r in verdict.collect()}
    import hashlib

    # the boiler text is exactly one 10-token line in every doc
    boiler_fp = hashlib.md5(boiler.encode()).hexdigest()
    assert boiler_fp in flagged
    # unique lines are not flagged: flagged set is small
    assert len(flagged) < 10


def test_line_store_compaction_preserves_counts_and_replay_safety(
    spark, tmp_path
):
    """Compaction folds batch slices into one partition with
    identical per-fp sums; a crash that leaves folded batch dirs
    behind never double-counts (watermark filter); a replayed folded
    batch is a no-op; post-watermark batches still publish."""
    import os

    from synthea_etl_spark.operators.dedup import (
        boilerplate_from_store,
        compact_line_frequency_store,
        compaction_watermark,
        line_frequency_slice,
        line_frequency_store,
    )

    store = str(tmp_path / "store")
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(10)) + " shared line "
         "of ten tokens exactly here okay fine done")
        for i in range(40)
    ]
    mk = lambda lo, hi: spark.createDataFrame(
        rows[lo:hi], "doc_id long, text string"
    )
    for b, (lo, hi) in enumerate([(0, 10), (10, 20), (20, 30), (30, 40)]):
        line_frequency_store(mk(lo, hi), store, slice_id=f"batch{b}")
    corpus_freq = {
        r.fp: r.n_docs
        for r in line_frequency_slice(mk(0, 40)).collect()
    }

    def store_sums():
        return {
            r.fp: r.n_docs
            for r in boilerplate_from_store(spark, store, min_docs=1).collect()
        }

    assert store_sums() == corpus_freq
    # CRASH WINDOW 1 (publish -> watermark): simulate a compaction
    # that wrote its versioned partition but died before the
    # watermark flip — readers must not see it, and the retry must
    # converge (the unversioned first cut double-counted here)
    import pyspark.sql.functions as SF

    orphan = (
        line_frequency_slice(mk(0, 30))
        .withColumn("slice_id", SF.lit("compacted2"))
    )
    (
        orphan.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("slice_id")
        .parquet(store)
    )
    assert store_sums() == corpus_freq  # orphan invisible (wm=-1)
    compact_line_frequency_store(spark, store, upto_batch=2)
    assert compaction_watermark(store) == 2
    slices = {
        d.split("=", 1)[1]
        for d in os.listdir(store)
        if d.startswith("slice_id=")
    }
    assert slices == {"compacted2", "batch3"}
    assert store_sums() == corpus_freq
    # crash simulation: a folded batch dir left behind must be
    # invisible to readers (watermark filter, no double counting)
    line_frequency_store(mk(10, 20), store, slice_id="batch1")
    assert store_sums() == corpus_freq
    # re-compaction folds the leftover dir away again + the next batch
    compact_line_frequency_store(spark, store, upto_batch=3)
    assert store_sums() == corpus_freq
    # second compaction is idempotent on counts
    compact_line_frequency_store(spark, store, upto_batch=3)
    assert store_sums() == corpus_freq
    # a NEW post-watermark batch still lands and counts
    extra = [(100 + i, f"brand new doc {i} " * 3) for i in range(5)]
    line_frequency_store(
        spark.createDataFrame(extra, "doc_id long, text string"),
        store,
        slice_id="batch9",
    )
    full = line_frequency_slice(
        spark.createDataFrame(
            rows + extra, "doc_id long, text string"
        )
    ).collect()
    assert store_sums() == {r.fp: r.n_docs for r in full}


def test_near_dedup_store_compaction_transparent_to_stream(
    spark, tmp_path
):
    """compact_batch_partitions on the near-dedup corpus + band index:
    post-compaction the stream keeps deduplicating against FOLDED
    history (the -1 partition rides the batch_id < current probe), a
    replayed folded batch is a no-op, and crash-leftover folded dirs
    are invisible to readers."""
    import json as _json
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from synthea_etl_spark.operators import store
    from synthea_etl_spark.operators.dedup import (
        compact_batch_partitions,
        compaction_watermark,
    )
    from synthea_etl_spark.pipeline import near_dedup_ingest_stream

    from tests.test_llm3 import NEAR_A, OTHER

    landing = tmp_path / "landing"
    corpus = tmp_path / "corpus"
    index = tmp_path / "index"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def land(name, rows):
        (landing / name).write_text(
            "\n".join(_json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )

    def run():
        near_dedup_ingest_stream(
            spark, str(landing), str(corpus), str(index), str(ckpt), schema
        ).awaitTermination(120)

    def corpus_ids():
        return sorted(
            r.doc_id
            for r in store.live(spark, str(corpus), store.ROWS).collect()
        )

    land("b0.json", [(0, NEAR_A), (2, OTHER)])
    run()
    land("b1.json", [(11, "genuinely novel content here ok")])
    run()
    assert corpus_ids() == [0, 2, 11]

    # fold batches 0..1 in BOTH stores (versioned partition -(1+2))
    compact_batch_partitions(spark, str(corpus), upto_batch=1)
    compact_batch_partitions(spark, str(index), upto_batch=1)
    assert compaction_watermark(str(corpus)) == 1
    assert {
        d for d in os.listdir(str(index)) if d.startswith("batch_id=")
    } == {"batch_id=-3"}
    assert corpus_ids() == [0, 2, 11]
    # CRASH WINDOW 1: a half-published NEXT compacted partition (no
    # watermark flip yet) must be invisible, and re-compaction to the
    # same upto must converge rather than double
    (
        spark.read.parquet(str(corpus))
        .filter("batch_id = -3")
        .withColumn("batch_id", F.lit(-4))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(str(corpus))
    )
    assert corpus_ids() == [0, 2, 11]
    compact_batch_partitions(spark, str(corpus), upto_batch=1)
    assert corpus_ids() == [0, 2, 11]

    # a new batch near-duplicating FOLDED history still dedups
    land("b2.json", [(20, NEAR_A + " tail"), (21, "another brand new doc entirely")])
    run()
    assert corpus_ids() == [0, 2, 11, 21]

    # crash leftover: a folded batch dir reappears -> readers blind to it
    leftover = spark.createDataFrame(
        [(0, NEAR_A, 0)], "doc_id long, text string, batch_id long"
    )
    (
        leftover.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(str(corpus))
    )
    assert corpus_ids() == [0, 2, 11, 21]
