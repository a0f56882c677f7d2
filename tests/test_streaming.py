"""Structured Streaming ingestion tests: AvailableNow file ingest with
checkpoint (exactly-once across re-runs), the 18-table completeness
barrier, and batch/stream parity of the hourly rollup incl. watermarked
late data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from synthea_etl_spark.streaming.ingest import (
    completeness_barrier,
    hourly_rollup,
    ingest_available_now,
)

CSV_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
    ]
)


def test_available_now_ingest_and_incremental_rerun(spark, tmp_path):
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    (landing / "a.csv").write_text("id,name\n1,x\n2,y\n")

    ingest_available_now(spark, str(landing), str(out), str(ckpt), CSV_SCHEMA)
    got = spark.read.parquet(str(out))
    assert got.count() == 2
    assert "source_file" in got.columns

    # second run with one new file: only the new rows land (checkpoint)
    (landing / "b.csv").write_text("id,name\n3,z\n")
    ingest_available_now(spark, str(landing), str(out), str(ckpt), CSV_SCHEMA)
    rows = {r.id: r.name for r in spark.read.parquet(str(out)).collect()}
    assert rows == {1: "x", 2: "y", 3: "z"}


def test_available_now_ingest_archives_processed_files(spark, tmp_path):
    """S10 (Datasource_To_Source.py's copy-to-archive, Spark-native):
    cleanSource=archive moves committed source files into the archive
    dir on a later batch — the landing zone drains without a driver
    file loop."""
    landing = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    archive = tmp_path / "archive"
    landing.mkdir()
    (landing / "a.csv").write_text("id,name\n1,x\n")
    ingest_available_now(
        spark, str(landing), str(out), str(ckpt), CSV_SCHEMA, archive_dir=str(archive)
    )
    # archiving is asynchronous-per-batch: a later run performs it
    (landing / "b.csv").write_text("id,name\n2,y\n")
    ingest_available_now(
        spark, str(landing), str(out), str(ckpt), CSV_SCHEMA, archive_dir=str(archive)
    )
    archived = [p.name for p in archive.rglob("*.csv")]
    assert "a.csv" in archived
    assert not (landing / "a.csv").exists()
    rows = {r.id for r in spark.read.parquet(str(out)).collect()}
    assert rows == {1, 2}


def test_completeness_barrier(tmp_path):
    base = tmp_path / "lake"
    tables = ["patients", "encounters", "conditions"]
    for t in tables[:2]:
        os.makedirs(base / "2024-01-01" / t)
    assert not completeness_barrier(str(base), "2024-01-01", tables)
    os.makedirs(base / "2024-01-01" / "conditions")
    assert completeness_barrier(str(base), "2024-01-01", tables)
    assert not completeness_barrier(str(base), "2024-01-02", tables)


@pytest.fixture()
def event_rows(spark):
    rows = [
        (1, "2024-01-01 10:05:00", "click", 1.0),
        (2, "2024-01-01 10:55:00", "click", 2.0),
        (3, "2024-01-01 11:05:00", "view", 3.0),
        (4, "2024-01-01 10:20:00", "view", 4.0),  # late but inside watermark
    ]
    return spark.createDataFrame(
        rows, ["event_id", "ts_s", "event_type", "value"]
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )


def test_stream_batch_parity_hourly_rollup(spark, tmp_path, event_rows):
    """The same hourly_rollup transform, run over a file stream with
    watermark + AvailableNow, must equal the batch result — including a
    late row arriving in a second file."""
    src = tmp_path / "events"
    # two 'arrival batches': the late 10:20 row lands in file 2
    event_rows.filter(F.col("event_id") <= 3).write.parquet(str(src / "f1"))
    event_rows.filter(F.col("event_id") == 4).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(event_rows.schema)
        .option("recursiveFileLookup", True)
        .parquet(str(src))
        .withWatermark("ts", "2 hours")
    )
    q = (
        hourly_rollup(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("rollup_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (str(r.hour), r.event_type): (r.cnt, r.sum_value)
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    batch = {
        (str(r.hour), r.event_type): (r.cnt, r.sum_value)
        for r in hourly_rollup(event_rows).collect()
    }
    assert streamed == batch
    assert streamed[("2024-01-01 10:00:00", "click")] == (2, 3.0)
    assert streamed[("2024-01-01 10:00:00", "view")] == (1, 4.0)


def _sess_df(spark, rows):
    return spark.createDataFrame(rows, ["user_id", "ts_s"]).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )


def test_stateful_sessionize_gap_close_and_timeout_flush(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions close (and emit)
    when a later in-key event exceeds the gap, and idle sessions flush
    when the event-time watermark passes their timeout — across
    restarts of an AvailableNow query (checkpointed state)."""
    from synthea_etl_spark.streaming.stateful import sessionize_stateful

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "user_id string, ts timestamp"

    def run_batch(rows, sub):
        _sess_df(spark, rows).write.parquet(f"{src}/{sub}")
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", True)
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        q = (
            sessionize_stateful(stream, gap_seconds=1800)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: u1 has a 2-event session then a >30min-later singleton
    # (closes the first session in-batch); u2 stays open.
    run_batch(
        [
            ("u1", "2024-01-01 10:00:00"),
            ("u1", "2024-01-01 10:10:00"),
            ("u1", "2024-01-01 11:30:00"),
            ("u2", "2024-01-01 10:00:00"),
        ],
        "b1",
    )
    # batch 2: watermark (11:30 from batch 1) > u2's 10:30 timeout ->
    # u2 flushes; advance event time past u1's 12:00 timeout.
    run_batch([("u3", "2024-01-01 13:00:00")], "b2")
    # batch 3: watermark (13:00) > u1's 12:00 timeout -> u1 flushes.
    run_batch([("u4", "2024-01-01 15:00:00")], "b3")

    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert ("u1", "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2) in got
    assert ("u2", "2024-01-01 10:00:00", "2024-01-01 10:00:00", 1) in got
    assert ("u1", "2024-01-01 11:30:00", "2024-01-01 11:30:00", 1) in got
    # open sessions (u3 after b3's watermark? u4 always) never emit early
    assert not any(u == "u4" for u, *_ in got)


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark): a
    duplicate fingerprint arriving in a later batch inside the
    watermark window is suppressed — the streaming twin of the q30
    batch dedup, with state bounded by the watermark (old fingerprints
    age out instead of accumulating forever)."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "fp string, ts timestamp"

    def run(rows, sub):
        spark.createDataFrame(rows, ["fp", "ts_s"]).select(
            "fp", F.col("ts_s").cast("timestamp").alias("ts")
        ).write.parquet(f"{src}/{sub}")
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", True)
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["fp"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(
        [("a", "2024-01-01 10:00:00"), ("b", "2024-01-01 10:05:00")],
        "b1",
    )
    # 'a' again within the watermark -> dropped; 'c' is new -> kept
    run(
        [("a", "2024-01-01 10:20:00"), ("c", "2024-01-01 10:30:00")],
        "b2",
    )
    got = sorted(r.fp for r in spark.read.parquet(out).collect())
    assert got == ["a", "b", "c"]


def test_windowed_agg_state_evicted_after_watermark(spark, tmp_path):
    """State-store boundedness — the property that keeps an infinite
    stream's state finite at 100 TB/day: a watermarked tumbling-window
    aggregation must EVICT window state once the watermark passes the
    window end, not accumulate it. Asserted from the query progress
    state-operator metrics (numRowsTotal/numRowsRemoved) across three
    checkpointed AvailableNow restarts spanning 11 hours of event time:
    after every run the store holds exactly ONE row (the sole open
    window) no matter how many windows have closed, closed windows emit
    exactly once, and the still-open window never emits early."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "k string, ts timestamp"
    progresses = []

    def run(rows, sub):
        spark.createDataFrame(rows, ["k", "ts_s"]).select(
            "k", F.col("ts_s").cast("timestamp").alias("ts")
        ).write.parquet(f"{src}/{sub}")
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", True)
            .parquet(src)
            .withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "k")
            .count()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progresses.append(q.lastProgress)

    # three windows in run 1; watermark lands at 10:25, closing two
    run(
        [
            ("a", "2024-01-01 10:00:00"),
            ("a", "2024-01-01 10:15:00"),
            ("b", "2024-01-01 10:25:00"),
        ],
        "b1",
    )
    run([("a", "2024-01-01 20:00:00")], "b2")  # closes the 10:20 window
    run([("a", "2024-01-01 21:00:00")], "b3")  # closes the 20:00 window

    state = [p["stateOperators"][0] for p in progresses]
    # bounded: exactly the one open window survives each run
    assert [s["numRowsTotal"] for s in state] == [1, 1, 1], state
    # and the bound is from EVICTION, not absence of closed windows
    assert [s["numRowsRemoved"] for s in state] == [2, 1, 1], state

    emitted = sorted(
        (r.k, str(r.w.start), r["count"])
        for r in spark.read.parquet(out).collect()
    )
    assert emitted == [
        ("a", "2024-01-01 10:00:00", 1),
        ("a", "2024-01-01 10:10:00", 1),
        ("a", "2024-01-01 20:00:00", 1),
        ("b", "2024-01-01 10:20:00", 1),
    ]  # the open 21:00 window has not emitted


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The 100 TB state backend: the same watermarked windowed agg runs
    on the RocksDB state-store provider with changelog checkpointing
    (incremental commits instead of full snapshots — the setting that
    makes multi-GB per-partition state restartable at scale). Asserts
    checkpointed restart on RocksDB, correct append output, watermark
    eviction, and that the provider actually engaged (rocksdb custom
    metrics present in the progress)."""
    confs = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    # provider-specific confs are unregistered until set: read with a
    # default and unset (not restore) the ones that were absent
    saved = {k: spark.conf.get(k, None) for k in confs}
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    schema = "k string, ts timestamp"

    def run(rows, sub):
        spark.createDataFrame(rows, ["k", "ts_s"]).select(
            "k", F.col("ts_s").cast("timestamp").alias("ts")
        ).write.parquet(f"{src}/{sub}")
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", True)
            .parquet(src)
            .withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "k")
            .count()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q.lastProgress

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        run([("a", "2024-01-01 10:00:00"), ("b", "2024-01-01 10:25:00")], "b1")
        p2 = run([("a", "2024-01-01 20:00:00")], "b2")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    so = p2["stateOperators"][0]
    assert so["numRowsTotal"] == 1 and so["numRowsRemoved"] == 1, so
    assert any("rocksdb" in k.lower() for k in (so.get("customMetrics") or {}))
    emitted = sorted(
        (r.k, str(r.w.start)) for r in spark.read.parquet(out).collect()
    )
    assert emitted == [
        ("a", "2024-01-01 10:00:00"),
        ("b", "2024-01-01 10:20:00"),
    ]


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream inner join: purchases join the same
    user's views within the preceding hour. Both sides carry
    watermarks so Catalyst can bound the join state; results equal the
    equivalent batch interval join."""
    src = tmp_path / "ss_events"
    rows = [
        ("u1", "view", "2024-01-01 10:00:00"),
        ("u1", "purchase", "2024-01-01 10:30:00"),   # joins the 10:00 view
        ("u1", "purchase", "2024-01-01 12:00:00"),   # no view within 1h
        ("u2", "view", "2024-01-01 09:00:00"),
        ("u2", "purchase", "2024-01-01 09:20:00"),   # joins the 9:00 view
    ]
    df = spark.createDataFrame(rows, ["user_id", "kind", "ts_s"]).select(
        "user_id", "kind", F.col("ts_s").cast("timestamp").alias("ts")
    )
    df.write.parquet(str(src))

    def split(stream):
        views = (
            stream.filter(F.col("kind") == "view")
            .select("user_id", F.col("ts").alias("view_ts"))
            .withWatermark("view_ts", "2 hours")
        )
        purchases = (
            stream.filter(F.col("kind") == "purchase")
            .select("user_id", F.col("ts").alias("buy_ts"))
            .withWatermark("buy_ts", "2 hours")
        )
        return purchases.join(
            views,
            (purchases.user_id == views.user_id)
            & (F.col("view_ts") <= F.col("buy_ts"))
            & (F.col("view_ts") >= F.col("buy_ts") - F.expr("INTERVAL 1 HOUR")),
        ).select(purchases.user_id, "buy_ts", "view_ts")

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = (
        split(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.user_id, str(r.buy_ts), str(r.view_ts))
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    batch = {
        (r.user_id, str(r.buy_ts), str(r.view_ts)) for r in split(df).collect()
    }
    assert streamed == batch
    assert ("u1", "2024-01-01 10:30:00", "2024-01-01 10:00:00") in streamed
    assert ("u2", "2024-01-01 09:20:00", "2024-01-01 09:00:00") in streamed
    assert not any(b == "2024-01-01 12:00:00" for _, b, _ in streamed)


def test_streaming_warc_ingest_incremental_and_exactly_once(spark, tmp_path):
    """Streaming crawl ingestion: WARC.gz payload batches land as
    parquet files, a file-source stream explodes them through the
    Arrow-batched record parser (mapInPandas is stateless, so it
    composes with Structured Streaming unchanged), and an
    AvailableNow + checkpoint loop proves incremental exactly-once:
    re-running without new input appends nothing; a second landing
    batch appends exactly its own records."""
    from synthea_etl_spark.operators.warc import encode_warc_gz, warc_records

    src = tmp_path / "landing"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def land(batch_id: int, doc_ids: list[int]) -> None:
        rows = []
        for doc_id in doc_ids:
            recs = [
                {
                    "type": "response",
                    "uri": f"http://x/{doc_id}/{k}",
                    "payload": f"body {doc_id} {k}".encode(),
                }
                for k in range(2)
            ]
            rows.append((doc_id, bytearray(encode_warc_gz(recs))))
        spark.createDataFrame(rows, "id long, payload binary").write.mode(
            "append"
        ).parquet(str(src))

    def run_once() -> None:
        stream = (
            spark.readStream.schema("id long, payload binary")
            .parquet(str(src))
        )
        q = (
            warc_records(stream)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land(0, [1, 2, 3])
    run_once()
    got = spark.read.parquet(str(out))
    assert got.count() == 6  # 3 archives x 2 records
    # idempotent: no new files -> no new rows
    run_once()
    assert spark.read.parquet(str(out)).count() == 6
    # incremental: a second landing batch adds exactly its records
    land(1, [4, 5])
    run_once()
    final = spark.read.parquet(str(out))
    assert final.count() == 10
    uris = {r.target_uri for r in final.collect()}
    assert uris == {f"http://x/{d}/{k}" for d in (1, 2, 3, 4, 5) for k in range(2)}


def test_prompt_key_stream_replay_backfills_missing_companion(
    spark, tmp_path, monkeypatch
):
    """The r14-ADVICE replay hole: a micro-batch lands its agg slice,
    crashes before the pairs-companion write, and the agg store is
    compacted past that batch before the stream restarts. The replay
    guard must be PER-STORE — a single guard on the agg watermark
    would skip the replay entirely, leaving the companion permanently
    missing the batch (and later purge repairs recomputing survivor
    counts from incomplete row-grain truth, silently)."""
    import json

    import synthea_etl_spark.operators.dedup as dd
    from synthea_etl_spark.operators.store import ROWS, live
    from synthea_etl_spark.pipeline import prompt_key_ingest_stream

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    landing = str(tmp_path / "landing")
    agg = str(tmp_path / "agg")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    with open(os.path.join(landing, "b0.json"), "w") as fh:
        for i in range(4):
            fh.write(
                json.dumps(
                    {"doc_id": i, "source": "s", "text": f"p{i % 2} body {i}"}
                )
                + "\n"
            )

    # crash AFTER the agg slice, BEFORE the companion write
    real_pairs_store = dd.prompt_key_pairs_store

    def _boom(*a, **k):
        raise RuntimeError("simulated crash before companion write")

    # the pipeline imports the store writers at call time from the
    # dedup module, so patching the module attribute intercepts it
    monkeypatch.setattr(
        "synthea_etl_spark.operators.dedup.prompt_key_pairs_store", _boom
    )
    q = prompt_key_ingest_stream(
        spark, landing, agg, ckpt, schema, pairs_store_dir=pairs
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
    monkeypatch.setattr(
        "synthea_etl_spark.operators.dedup.prompt_key_pairs_store",
        real_pairs_store,
    )
    assert os.path.isdir(agg) and not os.path.isdir(pairs)

    # out-of-band maintenance compacts the agg store past the batch
    dd.compact_agg_slices(
        spark, agg, upto_batch=1, key_cols=["pkey"], aggs=dd.PROMPT_KEY_AGGS
    )
    assert dd.compaction_watermark(agg) == 1

    # restart with the SAME checkpoint: the batch replays; the agg
    # write is skipped (covered) but the companion write must run
    prompt_key_ingest_stream(
        spark, landing, agg, ckpt, schema, pairs_store_dir=pairs
    ).awaitTermination(300)
    got_pairs = {
        (r.pkey, r.doc_id)
        for r in live(spark, pairs, ROWS).collect()
    }
    assert {d for _, d in got_pairs} == {0, 1, 2, 3}
    # and the agg store did NOT double-count: totals equal a rebuild
    docs = spark.read.schema(schema).json(landing)
    rebuilt = str(tmp_path / "rebuilt")
    dd.prompt_key_store(docs, rebuilt, "batch1")
    got = {
        tuple(r) for r in dd.prompt_clusters_from_store(spark, agg).collect()
    }
    want = {
        tuple(r)
        for r in dd.prompt_clusters_from_store(spark, rebuilt).collect()
    }
    assert got == want
