"""End-to-end pipeline: the reference's four stages (file
orchestration -> minor clean -> major clean -> mart refresh;
SURVEY §0) as ONE composable Spark program.

The reference spreads these over S3 events, a Lambda poller, three
Glue jobs, and a Glue workflow (`Automation/Lambda:14-107`,
`Glue_Scripts/*`). Here:

- landing/arrival   = Structured Streaming file source (or direct
                      batch read for a known load date);
- minor clean       = sources/csv_repair.repair_csv (ragged rows,
                      quoted commas, unnamed cols, header drop);
- major clean       = operators/clean.clean_pipeline against the
                      schema registry (trim, regex fixes, multi-value
                      split, null sentinel, cast, dedup);
- staging           = parquet + catalog (`saveAsTable`), partitioned
                      by load_date so "latest load" is partition
                      pruning (never folder listing, S9);
- mart refresh      = operators/marts.build_patient_mart (SCD2 dims +
                      fact), written with the temp-swap writer;
- completeness      = streaming/ingest.completeness_barrier.

`scd2_refresh_stream` is the streaming flavor of dim maintenance:
snapshots arrive as files, `foreachBatch` applies the SCD2 merge with
exactly-once checkpointing — the reference's entire event-driven
refresh loop as one restartable query.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from synthea_etl_spark.operators import store
from synthea_etl_spark.operators.clean import clean_pipeline
from synthea_etl_spark.operators.marts import build_patient_mart
from synthea_etl_spark.operators.scd2 import scd2_merge, write_swap
from synthea_etl_spark.sources.csv_repair import repair_csv
from synthea_etl_spark.sources.schema_registry import load_schema


def stage_table(
    spark: SparkSession,
    csv_dir: str,
    table: str,
    registry_dir: str,
    out_dir: str,
    load_date: str,
    database: str | None = None,
) -> DataFrame:
    """One table through minor+major clean into partitioned staging
    parquet (and optionally the catalog). Returns the staged frame."""
    repaired = repair_csv(spark, csv_dir)
    schema = load_schema(registry_dir, table)
    cleaned = clean_pipeline(repaired, schema=schema).withColumn(
        "load_date", F.lit(load_date)
    )
    path = os.path.join(out_dir, table)
    writer = (
        cleaned.write.mode("overwrite")
        .partitionBy("load_date")
        .option("partitionOverwriteMode", "dynamic")
    )
    if database:
        writer.format("parquet").option("path", path).saveAsTable(
            f"{database}.{table}"
        )
    else:
        writer.parquet(path)
    # the written columns are known: passing them skips the footer-merge
    # job of schema inference; discovery still types load_date as DATE
    return (
        spark.read.schema(cleaned.drop("load_date").schema)
        .parquet(path)
        .filter(F.col("load_date") == load_date)
    )


def run_batch_pipeline(
    spark: SparkSession,
    landing_dir: str,
    registry_dir: str,
    staging_dir: str,
    mart_dir: str,
    load_date: str,
    tables: list[str],
    database: str | None = None,
) -> dict[str, DataFrame]:
    """Full load for one date: every landed table staged, then the
    patient mart refreshed against its previous state. Returns the
    new mart frames (also persisted under mart_dir via temp-swap)."""
    staged: dict[str, DataFrame] = {}
    for table in tables:
        csv_dir = os.path.join(landing_dir, load_date, table)
        if not os.path.isdir(csv_dir):
            continue
        staged[table] = stage_table(
            spark, csv_dir, table, registry_dir, staging_dir, load_date, database
        )

    existing: dict[str, DataFrame] = {}
    for name in os.listdir(mart_dir) if os.path.isdir(mart_dir) else []:
        existing[name] = spark.read.parquet(os.path.join(mart_dir, name))

    load_ts = datetime.strptime(load_date, "%Y-%m-%d")
    mart = build_patient_mart(staged, existing or None, load_ts)
    # fact first: its dim_location input lazily scans the OLD dim files,
    # which the dim's own write_swap deletes
    for name in sorted(mart, key=lambda n: n != "fact_patient"):
        write_swap(mart[name], os.path.join(mart_dir, name))
    return {
        name: spark.read.schema(mart[name].schema).parquet(os.path.join(mart_dir, name))
        for name in mart
    }


def scd2_refresh_stream(
    spark: SparkSession,
    snapshot_dir: str,
    dim_path: str,
    checkpoint_dir: str,
    schema: StructType,
    keys: list[str],
    attrs: list[str],
):
    """Streaming SCD2 dimension maintenance: snapshot files land,
    each micro-batch merges into the dimension via foreachBatch +
    temp-swap write. Checkpointing makes re-runs exactly-once over
    input files; the merge itself is idempotent (hash equality), so
    the pair is safe under every failure/retry combination."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        existing = (
            spark.read.parquet(dim_path) if os.path.isdir(dim_path) else None
        )
        # deterministic per-batch version timestamp (epoch + batch_id
        # days); a production caller derives it from snapshot metadata
        from datetime import timedelta

        ts = datetime(2024, 1, 1) + timedelta(days=batch_id)
        merged = scd2_merge(existing, batch_df, keys, attrs, ts)
        write_swap(merged, dim_path)

    return (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", True)
        .parquet(snapshot_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _available_now(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    ingest,
):
    """The JSON ingest-stream skeleton every ``*_ingest_stream`` runs:
    documents landed under ``landing_dir`` (recursively) arrive as
    micro-batches, ``ingest(batch_df, batch_id)`` publishes each
    non-empty one, and the availableNow trigger processes every file
    not yet recorded in ``checkpoint_dir``, then stops. Returns the
    started query."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            ingest(batch_df, batch_id)

    return (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", True)
        .json(landing_dir)
        .writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def near_dedup_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    corpus_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    verify_threshold: float = 0.5,
):
    """Streaming incremental NEAR-dedup ingestion — q158's persisted
    MinHash band index maintained by a restartable stream. Each
    micro-batch of landed documents:

    1. computes its own MinHash band signatures (one explode + one
       aggregate; operators/dedup),
    2. probes the ACCUMULATED index (all prior batches' bands) for
       near-dup candidates — and VERIFIES every candidate with exact
       shingle Jaccard >= ``verify_threshold`` before dropping
       anything (band buckets are probabilistic: a raw band collision
       between genuinely dissimilar docs must not delete data; the
       verify reads only the candidate docs' text, a set the size of
       the collisions, never the corpus),
    3. drops verified history near-dups plus the higher id of each
       verified intra-batch pair, appends survivors to the corpus
       and their bands to the index.

    Exactly-once under every crash/replay window WITHOUT a
    transactional store: both sinks are ROWS-layout stores
    (operators/store.py), so a replayed batch OVERWRITES its own
    partition instead of appending twice; and the index probe reads
    only partitions with batch_id < current (a replay must not see
    the half-written bands of its first attempt). At 100 TB the
    index is the ~50-byte-per-row band table, never the corpus — the
    same scale shape the q158 gate certifies.

    COMPACTION: long-running streams fold old batch partitions with
    ``dedup.compact_batch_partitions`` (call it on corpus_dir AND
    index_dir with the same ``upto_batch``). Compacted rows land at
    a negative partition, which ``batch_id < current`` probes keep
    seeing; the watermark filter hides crash leftovers, and this
    ingest skips replayed batches at or below the index watermark."""
    from synthea_etl_spark.operators.dedup import (
        banded_signatures,
        exploded_shingles,
        incremental_lsh_candidates,
        lsh_candidates,
        minhash_signature,
    )

    def shingle_sets(docs: DataFrame, out_key: str) -> DataFrame:
        return (
            exploded_shingles(docs, "text", "doc_id", shingle_n)
            .select(F.col("doc_id").alias(out_key), "s")
            .distinct()
        )

    def verified_pairs(
        pairs: DataFrame, a_docs: DataFrame, b_docs: DataFrame,
        a_key: str, b_key: str,
    ) -> DataFrame:
        """Exact shingle-Jaccard >= verify_threshold filter over
        candidate pairs — only candidate docs' text is shingled."""
        sa = shingle_sets(a_docs, a_key)
        sb = shingle_sets(b_docs, b_key)
        na = sa.groupBy(a_key).agg(F.count("*").alias("_na"))
        nb = sb.groupBy(b_key).agg(F.count("*").alias("_nb"))
        inter = (
            pairs.join(sa, a_key)
            .join(sb, [b_key, "s"])
            .groupBy(a_key, b_key)
            .agg(F.count("*").alias("_i"))
        )
        return (
            pairs.join(inter, [a_key, b_key], "left")
            .join(na, a_key)
            .join(nb, b_key)
            .withColumn("_i", F.coalesce("_i", F.lit(0)))
            .filter(
                F.col("_i")
                / (F.col("_na") + F.col("_nb") - F.col("_i"))
                >= verify_threshold
            )
            .select(a_key, b_key)
        )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from synthea_etl_spark.operators.dedup import compaction_watermark

        # a replayed batch already folded into the compacted
        # partition must not republish — its rows live there now
        if batch_id <= compaction_watermark(index_dir):
            return
        batch_df = batch_df.localCheckpoint()  # read many times below
        sig = minhash_signature(
            batch_df, "text", "doc_id", num_hashes, shingle_n
        ).localCheckpoint()  # two consumers below: compute once
        bands_df = banded_signatures(sig, "doc_id", num_hashes, bands)
        if os.path.isdir(index_dir) and any(
            e.startswith("batch_id=") for e in os.listdir(index_dir)
        ):
            # batch_id < current keeps seeing the compacted partition;
            # the watermark filter additionally hides crash-leftover
            # folded dirs (publish succeeded, GC not)
            history = (
                store.live(spark, index_dir, store.ROWS)
                .filter(F.col("batch_id") < batch_id)
                .select("doc_id", "band", "bh")
            )
            cands = incremental_lsh_candidates(bands_df, history, "doc_id")
            # verify against the candidates' HISTORICAL TEXT (persisted
            # survivors in the corpus) — band collisions alone never
            # delete data
            hist_ids = cands.select(
                F.col("hist_id").alias("doc_id")
            ).distinct()
            hist_docs = (
                store.live(spark, corpus_dir, store.ROWS)
                .filter(F.col("batch_id") < batch_id)
                .select("doc_id", "text")
                .join(hist_ids, "doc_id")
            )
            new_docs = batch_df.join(
                cands.select(F.col("new_id").alias("doc_id")).distinct(),
                "doc_id",
            ).select("doc_id", "text")
            matched = (
                verified_pairs(
                    cands, new_docs, hist_docs, "new_id", "hist_id"
                )
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
        else:
            matched = None
        # intra-batch near-dups: min id of each VERIFIED pair wins
        intra_cands = lsh_candidates(sig, "doc_id", num_hashes, bands)
        intra = (
            verified_pairs(
                intra_cands,
                batch_df.select("doc_id", "text"),
                batch_df.select("doc_id", "text"),
                "id_a",
                "id_b",
            )
            .select(F.greatest("id_a", "id_b").alias("doc_id"))
            .distinct()
        )
        survivors = batch_df.join(intra, "doc_id", "left_anti")
        if matched is not None:
            survivors = survivors.join(matched, "doc_id", "left_anti")
        surviving_bands = bands_df.join(survivors.select("doc_id"), "doc_id")
        store.publish(survivors, corpus_dir, store.ROWS, batch_id)
        store.publish(surviving_bands, index_dir, store.ROWS, batch_id)

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def retrieval_index_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: StructType,
):
    """Streaming maintenance of the BM25 inverted index — q167's
    persisted postings table kept current by a restartable stream.
    Each micro-batch of landed documents tokenizes ONLY itself
    (operators/retrieval.inverted_index) and publishes its postings
    as one ROWS-layout batch partition (operators/store.py).

    No merge step exists because none is needed: postings rows are
    per (doc, term) under a fixed tokenizer, so the UNION of batch
    partitions IS the index of the union corpus (the invariant
    tests/test_llm4.py pins), and every statistic BM25 needs (df, dl,
    totals) derives from the accumulated table at probe time.
    ``bm25_topk_from_index(postings_from_store(spark, index_dir),
    ...)`` serves queries between (or during) ingests.

    A long-running stream accumulates unbounded batch partitions
    (round-11 VERDICT): fold them with
    ``dedup.compact_batch_partitions(spark, index_dir, upto)`` — the
    postings rows are a row-set per (doc, term), so the generic
    row-pass compactor applies unchanged. This stream skips replayed
    batches at or below the watermark (their rows live in the
    compacted partition now), and ``postings_from_store`` is the
    watermark-filtered reader.

    CHECKPOINT-LOSS CONTRACT (round-12 review): the skip keys on the
    STREAMING batch_id, which is only meaningful under the
    checkpoint that assigned it. If the checkpoint is lost, a
    restart renumbers from 0 and may lump already-ingested AND
    brand-new files into one batch whose id falls at or below the
    watermark — silently dropping the new documents (and re-running
    WITHOUT the skip would instead double the old ones; no
    content-blind rule can recover). The checkpoint and the store
    are ONE integrity domain: after checkpoint loss either rebuild
    the store from scratch, or point a fresh (landing, checkpoint)
    pair at only the not-yet-ingested files. Replay under the SAME
    checkpoint — the crash/restart case the drives exercise — stays
    exactly-once as documented. The same contract governs every
    watermark-skipping ingest stream in this module."""
    from synthea_etl_spark.operators.dedup import compaction_watermark
    from synthea_etl_spark.operators.retrieval import inverted_index

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # a replayed batch already folded into the compacted
        # partition must not republish — its rows live there now
        if batch_id <= compaction_watermark(index_dir):
            return
        store.publish(inverted_index(batch_df), index_dir, store.ROWS, batch_id)

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def postings_from_store(spark: SparkSession, index_dir: str) -> DataFrame:
    """Watermark-aware reader for the streamed postings store: the
    current compacted partition + live batch slices, crash leftovers
    (folded batch dirs, half-published compacted partitions)
    invisible — hand the result straight to ``bm25_topk_from_index``."""
    return store.live(spark, index_dir, store.ROWS).drop("batch_id")


def ann_index_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming maintenance of the IVF ANN index — the vector-side
    analog of ``retrieval_index_ingest_stream``, completing the
    recurring-crawl story for embeddings. Each micro-batch of landed
    vectors is assigned to its nearest centroid under the FROZEN
    quantizer (operators/similarity.ivf_index — per-row arithmetic,
    no shuffle, no training scan) and published as one ROWS-layout
    batch partition (operators/store.py).

    No merge step exists because none is needed: assignment under a
    fixed quantizer is per-row, so the UNION of batch partitions IS
    ``ivf_index`` of the union corpus (the invariant
    tests/test_llm3.py pins for the batch path), and
    ``knn_ann_ivf_grouped_probe(store.read(spark, index_dir), ...)``
    serves queries between (or during) ingests with per-cluster BLAS
    scoring. Centroid drift is handled by ROLLOVER, not merge:
    retrain offline, rebuild into a fresh index_dir, swap readers —
    the documented contract of ivf_index."""
    from synthea_etl_spark.operators.similarity import ivf_index

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        store.publish(
            ivf_index(batch_df, centroids, id_col=id_col, vec_col=vec_col),
            index_dir,
            store.ROWS,
            batch_id,
        )

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def sketch_store_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    k: int = 64,
):
    """Streaming maintenance of the corpus SKETCH STORE — the fifth
    and last index family (exact fingerprints, MinHash bands, IVF
    cells, lexical postings, and now bottom-k sketches) gains the
    same restartable ingest the others have. Each micro-batch of
    landed documents computes ONLY its own k-row bottom-k sketch and
    publishes it as one slice partition ``batch<id>``
    (operators/dedup.corpus_sketch_store).

    No merge step at ingest because the sketch is MERGEABLE by
    construction: ``merge_bottomk_sketches`` over any subset of the
    accumulated partitions IS the sketch of those slices' union
    (dedup.py's union invariant), so overlap/governance questions
    (q178/q186) are answered from the store between (or during)
    ingests in k-row arithmetic — the corpus text is read exactly
    once, at landing time."""
    from synthea_etl_spark.operators.dedup import corpus_sketch_store

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        corpus_sketch_store(
            batch_df, store_dir, slice_id=store.SLICES.batch(batch_id), k=k
        )

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def curation_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    admitted_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    schema: StructType,
):
    """Streaming maintenance of the curation funnel — q192's filter
    stages kept current by a restartable stream, so a recurring
    crawl is curated as it lands instead of by nightly full rescans.
    Each micro-batch of landed documents:

    1. exact-dup stage: fingerprints the batch, drops docs whose
       fingerprint already exists in the ACCUMULATED admitted table
       (prior batches only) or earlier in the same batch (min doc_id
       wins) — the q151 incremental-dedup contract;
    2. quality stage: the q188 Gopher bounds
       (operators/text.gopher_quality_ok — zero-shuffle lambdas);
    3. repetition stage: the q184 thresholds over the Arrow
       dict-counting covs (operators/text.gopher_repetition_covs),
       computed only for stage-1/2 survivors.

    Publishes per-doc verdicts (doc_id, lang, stage) AND admitted
    docs (doc_id, lang, text, fp), both ROWS-layout stores
    (operators/store.py); the fingerprint probe reads only
    partitions with batch_id < current — together the same
    exactly-once-under-replay contract as the dedup/postings/ANN
    streams, so the union of verdict partitions IS the funnel report
    of the union corpus.

    Per-language QUOTA is deliberately NOT a stream stage: admission
    caps depend on corpus-wide counts, so replaying a batch after
    later batches landed would change its verdicts and break replay
    idempotence. Quota/mixture are planning-time passes over the
    accumulated admitted table (q181/q182/q192's quota stage run in
    batch) — the same separation the index families draw between
    ingest-time maintenance and probe-time statistics."""
    from synthea_etl_spark.operators.text import (
        fingerprint,
        gopher_quality_ok,
        gopher_repetition_covs,
    )

    from synthea_etl_spark.plans.llm6 import (
        _DUP5_MAX,
        _TOP2_MAX,
        _TOP3_MAX,
    )

    _MICRO = 1_000_000

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        b = batch_df.localCheckpoint()  # read by three stages below
        fp = b.select(
            "doc_id", "lang", "text", fingerprint("text").alias("fp")
        )
        w = Window.partitionBy("fp").orderBy("doc_id")
        fp = fp.withColumn("_rn", F.row_number().over(w))
        if os.path.isdir(verdicts_dir) and any(
            e.startswith("batch_id=") for e in os.listdir(verdicts_dir)
        ):
            # history = EVERY previously seen fingerprint (the verdicts
            # table carries fp precisely for this): a later duplicate
            # of a REJECTED doc is still an exact_dup, matching the
            # batch funnel's fprn semantics on the union corpus
            hist = (
                store.read(spark, verdicts_dir)
                .filter(F.col("batch_id") < batch_id)
                .select("fp")
                .distinct()
                .withColumn("_hist", F.lit(True))
            )
            fp = fp.join(hist, "fp", "left")
        else:
            fp = fp.withColumn("_hist", F.lit(None).cast("boolean"))
        staged = fp.withColumn(
            "_dup", (F.col("_rn") > 1) | F.coalesce("_hist", F.lit(False))
        ).withColumn("_q_ok", gopher_quality_ok("text"))
        surv = staged.filter(~F.col("_dup") & F.col("_q_ok")).select(
            "doc_id", "text"
        )
        covs = gopher_repetition_covs(surv, "text", "doc_id")
        frac = lambda cov: F.least(  # noqa: E731
            F.lit(_MICRO).cast("long"),
            F.expr(f"{cov} * {_MICRO} div chars"),
        )
        rep = covs.select(
            "doc_id",
            (
                (frac("cov2") <= _TOP2_MAX)
                & (frac("cov3") <= _TOP3_MAX)
                & (frac("cov5") <= _DUP5_MAX)
            ).alias("_r_ok"),
        )
        staged = staged.join(rep, "doc_id", "left")
        verdicts = staged.select(
            "doc_id",
            "lang",
            "fp",
            F.when(F.col("_dup"), F.lit("exact_dup"))
            .when(~F.col("_q_ok"), F.lit("quality"))
            .when(
                ~F.coalesce(F.col("_r_ok"), F.lit(False)),
                F.lit("repetition"),
            )
            .otherwise(F.lit("admitted"))
            .alias("stage"),
        )
        admitted = staged.filter(
            ~F.col("_dup")
            & F.col("_q_ok")
            & F.coalesce(F.col("_r_ok"), F.lit(False))
        ).select("doc_id", "lang", "text", "fp")
        # admitted FIRST, verdicts LAST: the fingerprint probe keys on
        # the verdicts table, so a crash between the two writes leaves
        # the replay indistinguishable from a clean retry
        store.publish(admitted, admitted_dir, store.ROWS, batch_id)
        store.publish(verdicts, verdicts_dir, store.ROWS, batch_id)

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def boilerplate_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    line_window: int = 10,
    min_docs: int = 2,
):
    """Streaming maintenance of the BOILERPLATE line-frequency store
    (q212's corpus line frequency, kept current per ingest batch) —
    the sixth stream-maintained artifact family. Each micro-batch of
    landed documents publishes ONLY its own per-line-fingerprint
    distinct-doc counts as one slice partition
    (operators/dedup.line_frequency_store). Because landing is
    append-only (each document arrives in exactly one batch), summing
    n_docs across slices equals the corpus-wide distinct-document
    count per line, so ``dedup.boilerplate_from_store`` answers the
    boilerplate verdict (and any document set is cleaned by one
    anti-join on the line fingerprint) WITHOUT rescanning history —
    the same mergeability contract as the sketch store.
    ``min_docs`` is a read-time parameter, not baked into the store,
    so governance can re-threshold retroactively."""
    from synthea_etl_spark.operators.dedup import (
        compaction_watermark,
        line_frequency_store,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # a replayed batch already folded into the compacted
        # partition must NOT republish (its counts live there)
        if batch_id <= compaction_watermark(store_dir):
            return
        line_frequency_store(
            batch_df,
            store_dir,
            slice_id=store.SLICES.batch(batch_id),
            line_window=line_window,
        )

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def token_stats_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: StructType,
):
    """Streaming maintenance of the TOKEN-DISTRIBUTION store — the
    seventh stream-maintained artifact family, making the q222 drift
    monitor operational: each micro-batch publishes only its own
    (source, token) counts (plus ``__ref__`` rows for its
    trusted-slice documents) as one slice partition
    (operators/dedup.token_stats_store); additive, so
    ``dedup.drift_from_token_store`` answers per-source KL drift
    between ingests from store-sized arithmetic without rereading
    any text, and ``dedup.compact_counting_slices(keys=['source',
    't'], count='c')`` folds old slices."""
    from synthea_etl_spark.operators.dedup import (
        compaction_watermark,
        token_stats_store,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= compaction_watermark(store_dir):
            return
        token_stats_store(batch_df, store_dir, slice_id=store.SLICES.batch(batch_id))

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def length_hist_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: StructType,
):
    """Streaming maintenance of the LENGTH-QUANTILE HISTOGRAM store —
    the tenth stream-maintained artifact family: each micro-batch
    publishes its own (source, log-bin, count) histogram partial as
    one slice partition (operators/dedup.length_hist_store). Bins
    are pure-integer log-scale (~12.5% width), counts are ADDITIVE,
    so ``dedup.quantiles_from_hist_store`` answers any per-source
    quantile with a proven one-bin error bound from store-sized
    arithmetic, ``dedup.compact_counting_slices(keys=['source','b'],
    count='c')`` folds old slices, and right-to-erasure rides the
    negative-slice path verbatim (all-'sum' store). Same
    checkpoint-loss caveat as every batch_id-keyed skip."""
    from synthea_etl_spark.operators.dedup import (
        compaction_watermark,
        length_hist_store,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= compaction_watermark(store_dir):
            return
        length_hist_store(batch_df, store_dir, slice_id=store.SLICES.batch(batch_id))

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def bloom_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: StructType,
):
    """Streaming maintenance of the COUNTING-BLOOM MEMBERSHIP store —
    the eleventh stream-maintained artifact family: each micro-batch
    publishes its own sparse (bucket, count) partial as one slice
    partition (operators/dedup.bloom_store). Bucket counts are
    ADDITIVE under a fixed modulus, so
    ``dedup.bloom_probe_from_store`` answers "seen this fingerprint
    before?" with zero false negatives from store-sized bucket
    lookups, ``dedup.compact_counting_slices(keys=['b'], count='c')``
    folds old slices, and right-to-erasure rides the negative-slice
    path verbatim (all-'sum' store; the purged store is
    bit-identical to a rebuild from survivors). Same checkpoint-loss
    caveat as every batch_id-keyed skip."""
    from synthea_etl_spark.operators.dedup import (
        bloom_store,
        compaction_watermark,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= compaction_watermark(store_dir):
            return
        bloom_store(batch_df, store_dir, slice_id=store.SLICES.batch(batch_id))

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def prompt_key_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    pairs_store_dir: str | None = None,
):
    """Streaming maintenance of the PROMPT-KEY CLUSTER store — the
    ninth stream-maintained artifact family, making the q233 SFT
    prompt dedup operational: each micro-batch publishes only its
    own (pkey, n, min_doc) partials as one slice partition
    (operators/dedup.prompt_key_store). Both statistics are
    MERGEABLE (sum / min), so ``dedup.prompt_clusters_from_store``
    answers cluster sizes and representatives from store-sized
    arithmetic without rereading any text, and
    ``dedup.compact_agg_slices(keys=['pkey'], aggs=PROMPT_KEY_AGGS)``
    folds old slices. Same checkpoint-loss caveat as every
    batch_id-keyed skip: the store and its checkpoint are one
    integrity domain.

    ``pairs_store_dir`` (optional): also maintain the row-grain
    (pkey, doc_id) ERASURE COMPANION (dedup.prompt_key_pairs_store)
    on the same batch axis — required for right-to-erasure on this
    family (min_doc doesn't subtract; dedup.purge_prompt_key_cluster
    repairs the agg store from the purged companion). Without it the
    agg store purges only by full rebuild."""
    from synthea_etl_spark.operators.dedup import (
        compaction_watermark,
        prompt_key_pairs_store,
        prompt_key_store,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # PER-STORE replay guards: a single guard on the agg store's
        # watermark would skip a replayed batch whose agg slice
        # landed but whose companion write crashed — if the agg
        # store was then compacted past the batch before restart,
        # the pairs companion would permanently miss it and later
        # purge repairs would recompute survivor counts from
        # incomplete row-grain truth, silently. Each store skips
        # only batches ITS OWN compaction has folded; rewriting a
        # live-but-present slice is idempotent (dynamic partition
        # overwrite of deterministically derived rows), and a
        # rewritten already-folded slice is invisible to
        # watermark-filtered readers anyway.
        if batch_id > compaction_watermark(store_dir):
            prompt_key_store(batch_df, store_dir, slice_id=store.SLICES.batch(batch_id))
        if pairs_store_dir is not None and batch_id > compaction_watermark(
            pairs_store_dir
        ):
            prompt_key_pairs_store(batch_df, pairs_store_dir, batch_id)

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)


def cms_sandwich_ingest_stream(
    spark: SparkSession,
    landing_dir: str,
    cms_store_dir: str,
    cand_store_dir: str,
    checkpoint_dir: str,
    schema: StructType,
):
    """Streaming maintenance of the frequency-sandwich pair — the
    twelfth stream-maintained artifact family: each micro-batch is
    term-counted ONCE (dedup.batch_term_counts), then publishes its
    Count-Min cell slice (upper bounds) and its k-bounded candidate
    slice (lower bounds) as slice partitions. Both stores are
    additive counting stores, so compaction (compact_counting_slices)
    and right-to-erasure (negative deletion_slice) ride the certified
    machinery unchanged. PER-STORE replay guards, per the prompt-key
    lesson: a single guard on one store's watermark would let a
    replayed batch whose other-store write crashed go permanently
    missing once the guarded store compacts past it."""
    from synthea_etl_spark.operators.dedup import (
        batch_term_counts,
        cms_slice_from_counts,
        compaction_watermark,
        hh_candidate_slice,
        publish_counting_slice,
    )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        cms_wm = compaction_watermark(cms_store_dir)
        cand_wm = compaction_watermark(cand_store_dir)
        if batch_id <= cms_wm and batch_id <= cand_wm:
            return
        tc = batch_df.transform(batch_term_counts).localCheckpoint()
        slice_id = store.SLICES.batch(batch_id)
        if batch_id > cms_wm:
            publish_counting_slice(cms_slice_from_counts(tc), cms_store_dir, slice_id)
        if batch_id > cand_wm:
            publish_counting_slice(hh_candidate_slice(tc), cand_store_dir, slice_id)

    return _available_now(spark, landing_dir, checkpoint_dir, schema, ingest)
