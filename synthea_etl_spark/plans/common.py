"""Shared helpers for the declared query inventory (plans/*).

Every query exists twice: a Spark DataFrame builder (a ``queries()``
entry) and an equivalent ANSI-SQL oracle string run by DuckDB (an
``oracle_sql()`` entry). The helpers here keep the two halves
numerically and schema-wise comparable:

**Exact double aggregation** (``dsum`` / ``sql_dsum``): floating-point
addition is not associative, so a double SUM depends on partial-
aggregation order and differs between engines (and between runs at
different parallelism). Casting each addend to DECIMAL makes the sum
exact and order-independent; casting the result back to DOUBLE is then
deterministic. This is a scale design decision, not a test hack: at
100 TB partial-aggregation order is never reproducible, so any pipeline
needing stable money sums must aggregate in decimal. Averages are
``exact_sum / count`` computed in double (one deterministic division).

**Type alignment**: DuckDB SUM(INTEGER) returns HUGEINT and year()
returns BIGINT; oracles cast explicitly so schemas line up with Spark
(long<->BIGINT, int<->INTEGER, double<->DOUBLE, string<->VARCHAR,
timestamp_ntz<->TIMESTAMP).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from synthea_etl_spark.operators.util import rebalance_by_key

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class QuerySpec:
    """One declared query: Spark builder + DuckDB oracle.

    ``oracle`` is None for genuinely non-SQL-expressible operators
    (approximate/stateful ops); the driver then records a weaker
    rows-only check.
    """

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


# Schema cache for the immutable TESTDATA tables: every bare
# ``spark.read.parquet(path)`` runs a serial 1-task footer-read job
# for schema inference BEFORE any real work (stage-profile evidence:
# bench_artifacts/stage_profile_sf1_r05.json shows 3-5 such stages
# burning 0.3-0.4 s of driver wall per multi-table query). The tables
# behind ``load`` never change within a process, so infer once per
# (path) and pass the schema explicitly afterwards — the same move a
# production serving layer makes with a schema registry instead of
# per-query inference. CONTRACT: a cached path's files are immutable
# for the life of the process — true for the read-only TESTDATA dirs
# this loader serves. A process that rewrites a table in place must
# call clear_schema_cache() (or use a fresh path) or reads will carry
# the stale schema.
_SCHEMA_CACHE: dict[str, object] = {}


def clear_schema_cache() -> None:
    """Drop all cached table schemas (for processes that regenerate a
    table at a previously-read path)."""
    _SCHEMA_CACHE.clear()


def _read_cached(spark: SparkSession, path: str) -> DataFrame:
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one TESTDATA parquet table (column-pruned/pushed-down by
    Catalyst based on downstream use; schema served from the per-path
    cache after first touch)."""
    if name == "events":
        return load_events(spark, sf_dir)
    return _read_cached(spark, f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's events.parquet stores ts as parquet
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects. Read
    nanos as long (legacy conf, runtime-settable) and convert to
    timestamp_ntz at microsecond precision — same truncation DuckDB
    applies when it reads NANOS. Regenerated events tables (e.g. the
    sf1 bench replica) carry ordinary micro timestamps; those read
    natively and only get the ntz cast."""
    # Engine sessions get this from session._DEFAULTS; the guarded
    # fallback is for FOREIGN sessions (the round driver's vanilla
    # SparkSession runs queries() without our factory) and is the one
    # conf mutation allowed outside session.py for that reason.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_cached(spark, f"{sf_dir}/events.parquet")
    if dict(df.dtypes)["ts"] in ("bigint", "long"):
        # integer div: ns values exceed 2^53, double division would round
        ts = F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    else:
        ts = F.col("ts").cast("timestamp_ntz")
    return df.select(
        "event_id", ts.alias("ts"), "user_id", "event_type", "value", "props"
    )


def doc_payloads(
    spark: SparkSession, sf_dir: str, payload: Callable[[int], bytes]
) -> DataFrame:
    """One synthetic media payload per document, ``(id long, payload
    binary)``, where ``payload(doc_id)`` builds the bytes. The doc_id
    frame goes through ``rebalance_by_key`` (the narrow scan's only
    shuffle), then one Arrow-batched mapInPandas stage builds the
    payloads: no other shuffle, no collect, and payloads never leave
    the executor."""

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {"id": ids, "payload": [payload(int(i)) for i in ids]}
            )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return rebalance_by_key(docs, "doc_id").mapInPandas(
        build, schema="id long, payload binary"
    )


# ---------------------------------------------------------------------------
# Exact (order-independent) double aggregation
# ---------------------------------------------------------------------------

DEC = "decimal(25,6)"


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM of a double expression via decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided in
    double (single deterministic fp division)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(DEC)).cast("double") / F.count(c).cast("double")
    ).alias(alias)


def exact_agg(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column | str] | None = None,
    avgs: dict[str, Column | str] | None = None,
    count_alias: str | None = None,
    micro: int = 1_000_000,
) -> DataFrame:
    """Exact two-phase SUM/AVG in integer micro-units — the fast form
    of ``dsum``/``davg`` for aggregate-heavy plans.

    Phase 1 groups by (keys, spark_partition_id) and accumulates
    ``round(x * 1e6)`` in plain 64-bit longs: long addition stays in
    whole-stage codegen and is ~4x cheaper than Decimal accumulation
    (measured on TPC-H Q1: 0.33s vs 0.72s per pair of sums at sf0.1).
    A partition holds <= ~1e7 rows (128MB splits), so the partial sum
    is bounded by 1e7 * |x|max * 1e6 << 2^63 — no overflow at ANY
    total data size, because the bound is per partition. Phase 2
    combines the per-partition partials into DECIMAL(38,0) (exact at
    100 TB) and divides back to doubles.

    Results are identical to dsum (same 6-dp rounding per addend,
    exact total); the oracle twin is ``sql_msum``/``sql_mavg``."""
    sums, avgs = dict(sums or {}), dict(avgs or {})
    all_exprs = {**{a: c for a, c in sums.items()}, **{f"_avg_{a}": c for a, c in avgs.items()}}

    def as_col(c):
        return F.col(c) if isinstance(c, str) else c

    def to_micro(c):
        # NOT F.round: Spark's round(double) drops out of codegen into a
        # per-row BigDecimal (measured ~50% of q01's whole runtime at
        # sf0.1). floor(x+0.5) with an explicit sign branch is the same
        # half-away-from-zero rounding in pure long/double codegen.
        x = as_col(c) * micro
        return (
            F.when(x >= 0, F.floor(x + F.lit(0.5)))
            .otherwise(-F.floor(-x + F.lit(0.5)))
            .cast("long")
        )

    p = df.select(
        *keys,
        F.spark_partition_id().alias("_pid"),
        *[to_micro(c).alias(f"_m_{a}") for a, c in all_exprs.items()],
    )
    partial = p.groupBy(*keys, "_pid").agg(
        *[F.sum(f"_m_{a}").alias(f"_m_{a}") for a in all_exprs],
        *[F.count(f"_m__avg_{a}").alias(f"_n_{a}") for a in avgs],
        F.count(F.lit(1)).alias("_cnt"),
    )
    out = partial.groupBy(*keys).agg(
        *[
            F.sum(F.col(f"_m_{a}").cast("decimal(38,0)")).alias(f"_m_{a}")
            for a in all_exprs
        ],
        *[F.sum(f"_n_{a}").alias(f"_n_{a}") for a in avgs],
        F.sum("_cnt").alias("_cnt"),
    )
    cols = [F.col(k) for k in keys]
    cols += [
        (F.col(f"_m_{a}").cast("double") / micro).alias(a) for a in sums
    ]
    cols += [
        (
            F.col(f"_m__avg_{a}").cast("double")
            / micro
            / F.col(f"_n_{a}").cast("double")
        ).alias(a)
        for a in avgs
    ]
    if count_alias:
        cols.append(F.col("_cnt").alias(count_alias))
    return out.select(*cols)


def msum_bounded(col: Column | str, alias: str, micro: int = 1_000_000) -> Column:
    """Exact order-independent SUM for aggregations whose PER-GROUP row
    count is structurally bounded (lines per order, items per session):
    one long sum in micro-units, entirely inside codegen — no decimal,
    no second phase. Overflow bound is group_rows * |x|max * micro,
    which must stay << 2^63 BY CONSTRUCTION of the key (e.g. <= 7
    lineitems per orderkey means <= 7 * 50 * 1e6 ~ 3.5e8 per group at
    ANY total data size). For unbounded groups use ``exact_agg``
    (per-partition partials + decimal combine) or ``dsum``. Same
    results as dsum on <=6-dp inputs; oracle twin stays sql_dsum."""
    c = F.col(col) if isinstance(col, str) else col
    x = c * micro
    m = F.when(x >= 0, F.floor(x + F.lit(0.5))).otherwise(
        -F.floor(-x + F.lit(0.5))
    )
    return (F.sum(m).cast("double") / micro).alias(alias)


def sql_msum(expr: str, alias: str) -> str:
    """DuckDB twin of exact_agg sums: micro-int sum (DuckDB SUM(BIGINT)
    accumulates in HUGEINT — exact), back to double."""
    return (
        f"CAST(SUM(CAST(round(({expr}) * 1000000) AS BIGINT)) AS DOUBLE)"
        f" / 1000000 AS {alias}"
    )


def sql_mavg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(round(({expr}) * 1000000) AS BIGINT)) AS DOUBLE)"
        f" / 1000000 / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(25,6))) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )


# ---------------------------------------------------------------------------
# Registry aggregation
# ---------------------------------------------------------------------------

# Queries the driver's 50-row correctness gate has already certified
# fully green (union of CORRECTNESS_r01..r04 keys). The gate checks the
# FIRST 50 entries of ``queries()`` only, so ``all_queries()`` orders
# never-certified queries first and rotates this set to the back; the
# local oracle differential (tests/test_oracle.py, all 121 queries)
# keeps rotated-out queries guarded every round. Append each new
# round's newly-certified names so the rotation keeps advancing.
DRIVER_CERTIFIED = frozenset({
    # r1-r3 (50; q39/q123 PULLED in r8 and re-certified there;
    # q43/q101/q102 PULLED in r10: their only rows ever were
    # `err: no_oracle` -- each is redesigned as a tolerance-verdict
    # query WITH an oracle (exact fields + deterministic verdict
    # booleans) and re-enters the never-certified front block until
    # a green hash-match row lands)
    "q01_pricing_summary", "q02_select_alias", "q03_normalize_names",
    "q04_filter_rlike", "q05_multivalue_split", "q06_regex_fix",
    "q07_null_sentinel", "q08_cast_format", "q09_trim", "q10_dedup_full",
    "q11_dedup_by_key", "q12_join_left", "q13_join_anti", "q14_join_inner",
    "q15_join_compound_dim", "q16_join_chain_revenue", "q17_union_by_name",
    "q18_groupby_count", "q19_topk", "q20_date_histogram", "q21_window_rank",
    "q22_json_extract", "q23_existence_probe", "q24_clean_pipeline",
    "q25_scd2_two_loads", "q26_csv_repair_roundtrip", "q27_star_mart",
    "q30_doc_exact_dedup", "q31_text_quality", "q32_lang_guess",
    "q33_minhash_lsh_candidates", "q34_simhash", "q35_simhash_near_pairs",
    "q36_jaccard_pairs", "q37_knn_bruteforce", "q38_embedding_near_dup",
    "q40_multimodal_meta", "q41_token_stats",
    "q42_bottomk_sketch", "q48_winnow_fingerprints",
    "q49_corpus_filter", "q71_near_dup_clusters", "q72_tfidf_top_terms",
    "q77_sentence_udtf", "q79_repetition_signals", "q80_pii_redaction",
    "q81_cdc_apply", "q82_scd2_asof",
    "q124_image_header_dims",
    # r4 (50 minus the r10-pulled q101/q102)
    "q44_jsonl_source", "q45_partition_pruned_read", "q46_salted_agg",
    "q50_events_hourly", "q51_sessionize", "q52_session_window",
    "q53_distinct_agg", "q54_percentiles", "q55_rollup", "q56_pivot",
    "q57_sql_dashboard", "q58_regr_stats", "q59_asof_join",
    "q60_range_join", "q61_tpch_q3", "q62_tpch_q5", "q63_tpch_q6",
    "q64_exists_semi", "q65_salted_join", "q66_schema_evolution",
    "q66b_grouping_sets", "q67_full_outer", "q68_window_suite",
    "q70_fuzzy_pairs", "q73_group_median_pandas", "q74_profile_table",
    "q75_stratified_sample", "q78_corrupt_records",
    "q83_time_range_window", "q84_tpch_q7", "q85_tpch_q8",
    "q86_tpch_q10", "q87_tpch_q13", "q103_zorder_key", "q111_expectations",
    "q112_gap_fill", "q113_incremental_agg", "q114_orc_source",
    "q115_variant_extract", "q116_heavy_hitters", "q117_listagg",
    "q118_pagerank", "q119_skew_profile", "q120_funnel",
    "q121_retention", "q122_outliers", "q125_pixel_stats",
    "q126_png_pixel_stats",
    # r5 (19; CORRECTNESS_r05.json all green -- closes certification
    # at 121/121 declared queries)
    "q88_tpch_q14", "q89_tpch_q15", "q90_tpch_q17", "q91_tpch_q18",
    "q92_tpch_q19", "q93_tpch_q22", "q94_intersect", "q95_except",
    "q96_cube", "q97_pack_sequences", "q98_contamination",
    "q99_embed_quantize", "q104_tpch_q2", "q105_tpch_q9",
    "q106_tpch_q11", "q107_tpch_q12", "q108_tpch_q16",
    "q109_tpch_q20", "q110_tpch_q21",
    # r6 (31; CORRECTNESS_r06.json all green -- certification at
    # 152/152 declared queries)
    "q127_jpeg_pixel_stats", "q128_y4m_frame_stats",
    "q129_wav_audio_stats", "q130_resize_pixel_stats",
    "q131_media_census", "q132_wav_dominant_freq",
    "q133_webdataset_shards", "q134_gif_pixel_stats",
    "q135_wav_rms_windows", "q136_gif_frame_stats",
    "q137_progressive_jpeg_stats", "q138_g711_audio_stats",
    "q139_adpcm_audio_stats", "q140_chunk_overlap",
    "q141_mjpeg_frame_stats", "q142_flac_audio_stats",
    "q143_warc_ingest", "q144_tiff_pixel_stats", "q145_html_extract",
    "q146_bigram_familiarity", "q147_url_domain_stats",
    "q148_crawl_pipeline", "q149_bpe_tokenize",
    "q150_dataset_fingerprint", "q151_incremental_dedup",
    "q152_png_sub8_stats", "q153_wav_deep_stats",
    "q154_jpeg_subsampled_stats", "q155_dataset_mixture",
    "q156_ico_stats", "q157_domain_quota",
    # r7 (8; CORRECTNESS_r07.json green rows -- q166 stays OUT: its
    # array-shaped frame errored in the driver canonicalizer, and it
    # re-enters the r8 window with the scalar (grp,pos,m,n_vecs)
    # shape)
    "q158_incremental_minhash", "q159_perceptual_near_dup",
    "q160_knn_ann_ivf_seeded", "q161_quality_model", "q162_bm25_topk",
    "q163_duplicated_spans", "q164_remove_dup_spans",
    "q165_semantic_dedup",
    # r8 (14; CORRECTNESS_r08.json 50/50 green -- the q166 exploded
    # scalar reshape and the q39/q123 exact bit_count twins all
    # landed hash-match rows, closing certification at 172/172
    # declared queries)
    "q39_knn_ann_lsh", "q123_embedding_near_dup_lsh",
    "q166_embedding_centroids", "q167_bm25_index_topk",
    "q168_phash_near_dup", "q169_knn_label_propagation",
    "q170_quality_binned_sample", "q171_random_projection",
    "q172_raster_exact_dedup", "q173_phrase_search",
    "q174_proximity_search", "q175_cluster_top_terms",
    "q176_corpus_overlap", "q177_chunk_retrieval",
    # r9 (26; CORRECTNESS_r09.json 50/50 green)
    "q178_corpus_overlap_from_store", "q179_hybrid_rrf_retrieval",
    "q180_canonical_near_dup_reps", "q181_language_quota",
    "q182_temperature_mixture", "q183_ivf_index_stats",
    "q184_gopher_repetition_filter", "q185_unigram_nll_quality",
    "q186_source_overlap_matrix", "q187_paragraph_dedup",
    "q188_gopher_quality_rules", "q189_pq_adc_topk",
    "q190_cluster_balanced_sample", "q191_mined_bitext",
    "q192_curation_funnel", "q193_dataset_diff",
    "q194_dsir_importance", "q195_dup_cluster_histogram",
    "q196_dataset_card", "q197_bloom_dedup_probe",
    "q198_token_fertility", "q199_train_order_manifest",
    "q200_token_budget_curriculum", "q201_epoch_repetition_plan",
    "q202_minhash_recall_eval", "q203_embedding_recall_eval",
    # r10 (CORRECTNESS_r10.json 50/50 green -- the redesigned
    # tolerance-verdict trio q43/q101/q102 landed hash-match rows,
    # closing certification at 206/206 declared queries)
    "q43_knn_ann_ivf", "q101_approx_distinct", "q102_approx_percentiles",
    "q204_ivf_rollover_probe", "q205_sampled_minhash_recall",
    "q206_sampled_embedding_recall", "q207_minhash_retuned_recall",
    "q208_pq_rerank", "q209_incremental_clusters",
    "q210_url_dedup", "q211_content_hash_split",
    # r11 (CORRECTNESS_r11.json 50/50 green -- the 14 line-curation /
    # crawl-governance / LM-scoring / drift / annealing queries all
    # landed hash-match rows, closing certification at 220/220
    # declared queries)
    "q212_boilerplate_line_removal", "q213_c4_line_filters",
    "q214_split_leakage_audit", "q215_host_reputation",
    "q216_snapshot_churn", "q217_blocklist_scores",
    "q218_link_graph", "q219_recrawl_schedule",
    "q220_bigram_lm_quality", "q221_quality_feature_frame",
    "q222_token_drift_monitor", "q223_site_boilerplate_removal",
    "q224_drift_from_store", "q225_annealing_schedule",
    # r12 (CORRECTNESS_r12.json 50/50 green -- the composed
    # crawl->training-set pipeline plus crawl-governance and mixture
    # allocation queries all landed hash-match rows, closing
    # certification at 226/226 declared queries)
    "q226_crawl_training_pipeline", "q227_snapshot_novelty",
    "q228_crawl_budget_allocation", "q229_doremi_reweight",
    "q230_unimax_allocation", "q231_robots_filter",
    # r13 (CORRECTNESS_r13.json 50/50 green -- the SFT/curation,
    # tokenizer-governance, audit, LSH-verify, CDC, bootstrap-CI,
    # split/contamination and post-training queries all landed
    # hash-match rows, closing certification at 253/253 declared
    # queries)
    "q232_turn_structure", "q233_prompt_dedup", "q234_hrw_shards",
    "q235_memorization_risk", "q236_selective_pruning",
    "q237_vocab_coverage", "q238_filter_threshold_sweep",
    "q239_ranking_metrics", "q240_prompt_dedup_from_store",
    "q241_ngram_saturation", "q242_packing_efficiency",
    "q243_politeness_capacity", "q244_dedup_axis_funnel",
    "q245_lsh_operating_curve", "q246_char_entropy_quality",
    "q247_pii_luhn_audit", "q248_script_mix_audit",
    "q249_lsh_verified_pairs", "q250_ppl_rules_calibration",
    "q251_dup_weighted_budget", "q252_hard_negatives",
    "q253_cdc_chunk_dedup", "q254_bootstrap_ci",
    "q255_cluster_grain_split", "q256_contamination_ci",
    "q257_preference_pairs", "q258_icl_order",
    # r14 (CORRECTNESS_r14.json 50/50 green -- the ANN-path ranking
    # metrics, post-training/RLHF audits, Matryoshka/FIM/ablation
    # accounting, the length-quantile histogram store pair, numeric/
    # burstiness audits, dedup-quality-shift and response-opener
    # dedup all landed hash-match rows, closing certification at
    # 266/266 declared queries)
    "q259_ranking_metrics_ann", "q260_preference_length_bias",
    "q261_reward_length_corr", "q262_bon_uplift",
    "q263_matryoshka_audit", "q264_fim_split_stats",
    "q265_ablation_manifest", "q266_length_quantiles_from_store",
    "q267_length_drift_from_store", "q268_numeric_token_audit",
    "q269_dedup_quality_shift", "q270_burstiness_audit",
    "q271_response_dedup",
})

# Round counter: the gate slots left over after the never-certified
# block are filled by rotating the certified list with a per-round
# stride, so every certified query keeps getting re-verified by the
# driver on a rolling schedule instead of the same module-order prefix
# each round. Each finished round leaves one CORRECTNESS_r<NN>.json at
# the repository root, so the round in progress is their count + 1.
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
GATE_ROUND_FALLBACK = 17


def gate_round(root: str = REPO_ROOT) -> int:
    """The current gate round: one more than the number of
    ``CORRECTNESS_r*.json`` files in ``root``, or
    ``GATE_ROUND_FALLBACK`` when there are none (an installed package
    without the repository's round records)."""
    n = len(glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    return n + 1 if n else GATE_ROUND_FALLBACK


def all_queries() -> dict[str, QuerySpec]:
    """Aggregate every plans module's QUERIES dict, ordered so that
    queries the driver gate has never certified come first (see
    DRIVER_CERTIFIED); within each group, module order = SURVEY §2
    order. The dict still contains the complete inventory."""
    from synthea_etl_spark.plans import (
        relational,
        etl,
        llm,
        streaming_batch,
        extended,
        extended2,
        extended3,
        tpch,
        tpch2,
        tpch3,
        llm2,
        llm3,
        llm4,
        llm5,
        llm6,
        llm7,
        llm8,
        llm9,
        llm10,
        llm11,
        llm12,
        llm13,
        llm14,
        llm15,
        llm16,
        llm17,
        llm18,
        llm19,
        llm20,
        llm21,
        llm22,
        llm23,
        llm24,
        llm25,
        llm26,
        llm27,
        llm28,
        llm29,
        llm30,
        llm31,
        llm32,
        llm33,
    )

    merged: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        etl,
        llm,
        streaming_batch,
        extended,
        extended2,
        extended3,
        tpch,
        tpch2,
        tpch3,
        llm2,
        llm3,
        llm4,
        llm5,
        llm6,
        llm7,
        llm8,
        llm9,
        llm10,
        llm11,
        llm12,
        llm13,
        llm14,
        llm15,
        llm16,
        llm17,
        llm18,
        llm19,
        llm20,
        llm21,
        llm22,
        llm23,
        llm24,
        llm25,
        llm26,
        llm27,
        llm28,
        llm29,
        llm30,
        llm31,
        llm32,
        llm33,
    ):
        for name, spec in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = spec

    stale = DRIVER_CERTIFIED - merged.keys()
    if stale:
        raise ValueError(
            "DRIVER_CERTIFIED names absent from the registry (typo or "
            f"renamed query would silently mis-rotate the gate): {sorted(stale)}"
        )

    out: dict[str, QuerySpec] = {}
    for name, spec in merged.items():
        if name not in DRIVER_CERTIFIED:
            out[name] = spec
    certified = [n for n in merged if n in DRIVER_CERTIFIED]
    # stride 37 is coprime with any realistic inventory size, so
    # successive rounds start the certified block at well-spread
    # offsets and the driver's 50-row window sweeps the whole set
    k = (gate_round() * 37) % len(certified) if certified else 0
    for name in certified[k:] + certified[:k]:
        out[name] = merged[name]
    return out
