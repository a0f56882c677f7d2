"""Round-14 LLM-pipeline queries, batch 1: production-shape eval.

- q259 ranking metrics over the IVF ANN path: the q239 MRR/NDCG
  plumbing with its candidate source swapped from the brute-force
  O(n*q) scan to the seeded IVF quantizer (q160's exactly-checkable
  machinery: md5-seeded centroids, first-max assignment, top-4 probe)
  — the gated embodiment of q239's production story. q239 stays as
  the exact measurement twin (the by-design brute-force truth side);
  THIS is the shape a 100 TB eval harness actually runs: each query
  scores n_probe/n_centroids of the corpus, assignment is one Arrow
  matmul pass, and every metric aggregate lives on the query grain.

Reference scope: beyond-reference extension surface; methods public
(Jarvelin & Kekalainen 2002 for NDCG; IVF coarse quantization per
Jegou et al. 2011).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import synthea_etl_spark.operators.similarity as S
import synthea_etl_spark.operators.text as T
from synthea_etl_spark.operators.dedup import PROMPT_KEY_TOKENS
from synthea_etl_spark.operators.util import rebalance_by_key
from synthea_etl_spark.plans.common import QuerySpec, load
from synthea_etl_spark.plans.llm23 import (
    MICRO,
    _RANK_K,
    _RANK_QUERIES,
    ranking_metrics_from_topk,
)
from synthea_etl_spark.plans.llm30 import ORACLE_Q257, q257_preference_pairs

# q259 IVF geometry — q160's certified parameters (16 md5-seeded
# centroids, 4-cell probe) so the quantizer is closed-form and the
# DuckDB twin is exact
_IVF_CENTROIDS = 16
_IVF_PROBE = 4


# ---------------------------------------------------------------------------
# q259 ranking metrics over the ANN production path
# ---------------------------------------------------------------------------

def q259_ranking_metrics_ann(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MRR + NDCG@{k} per query over the IVF-ANN ranking instead of
    q239's brute force: candidates come from knn_ann_ivf with the
    seed-only quantizer (lloyd_iters=0 — q160's exact-twin
    discipline), metrics from the shared plumbing
    (llm23.ranking_metrics_from_topk). n_rel stays corpus-global, so
    the NDCG measured here IS the ANN path's retrieval quality
    against the ideal — the eval a production corpus runs nightly.

    100 TB shape: corpus assignment is a narrow per-row Arrow matmul
    (no shuffle), candidates are an equi-join on the cell id touching
    n_probe/n_centroids of the corpus per query, and the metric
    aggregates live on the fixed query grain. Contrast q239 (2.47x
    DuckDB at sf10, brute-force measurement class): this variant
    rides the q160 path measured at 0.41x marginal sf10."""
    e = load(spark, sf_dir, "embeddings")
    topk = S.knn_ann_ivf(
        e,
        e.filter(F.col("vec_id") < _RANK_QUERIES),
        k=_RANK_K,
        n_centroids=_IVF_CENTROIDS,
        n_probe=_IVF_PROBE,
        lloyd_iters=0,
    )
    return ranking_metrics_from_topk(spark, topk, e)


# DuckDB twin: ORACLE_Q160's seeded-IVF CTEs (seeds / first-max
# assignment / top-4 probe / in-cell scoring) parameterized to the
# q239 panel (queries < _RANK_QUERIES, k = _RANK_K), composed with
# ORACLE_Q239's metric CTEs verbatim.
ORACLE_Q259 = f"""
WITH c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
                  label
           FROM embeddings),
seeds AS (
  SELECT cv AS sv,
         row_number() OVER (ORDER BY md5(CAST(neighbor_id AS VARCHAR))) - 1
           AS cid
  FROM c
  ORDER BY md5(CAST(neighbor_id AS VARCHAR))
  LIMIT {_IVF_CENTROIDS}
),
asg AS (
  SELECT neighbor_id, cv, label, cid FROM (
    SELECT neighbor_id, cv, label, cid,
           row_number() OVER (PARTITION BY neighbor_id
               ORDER BY list_cosine_similarity(cv, sv) DESC, cid ASC) AS rn
    FROM c CROSS JOIN seeds
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
             label AS qlabel
      FROM embeddings WHERE vec_id < {_RANK_QUERIES}),
probe AS (
  SELECT query_id, qv, qlabel, cid FROM (
    SELECT query_id, qv, qlabel, cid,
           row_number() OVER (PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, sv), 9) DESC,
                        cid ASC) AS rn
    FROM q CROSS JOIN seeds
  ) WHERE rn <= {_IVF_PROBE}
),
scored AS (
  SELECT p.query_id, p.qlabel, a.neighbor_id, a.label,
         round(list_cosine_similarity(p.qv, a.cv), 6) AS sim
  FROM probe p JOIN asg a USING (cid)
  WHERE a.neighbor_id <> p.query_id
),
topk AS (
  SELECT query_id, neighbor_id, qlabel = label AS rel, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {_RANK_K}
),
wdim AS (
  SELECT r,
         CAST(floor(round(1.0 / log2(r + 1), 6) * {MICRO} + 0.5) AS BIGINT)
           AS w_micro,
         CAST(SUM(CAST(floor(round(1.0 / log2(r + 1), 6) * {MICRO} + 0.5)
                  AS BIGINT)) OVER (ORDER BY r) AS BIGINT) AS cum_w_micro
  FROM (SELECT UNNEST(generate_series(1, {_RANK_K})) AS r)
),
lbl_n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_lbl
          FROM embeddings GROUP BY label),
qrel AS (
  SELECT q.query_id, q.qlabel, l.n_lbl - 1 AS n_rel
  FROM q JOIN lbl_n l ON q.qlabel = l.label
),
per_q AS (
  SELECT query_id,
         MIN(CASE WHEN rel THEN rank END) AS first_rank,
         CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_topk,
         CAST(SUM(CASE WHEN rel THEN
               (SELECT w_micro FROM wdim w WHERE w.r = topk.rank)
               ELSE 0 END) AS BIGINT) AS dcg_micro
  FROM topk GROUP BY query_id
)
SELECT qr.query_id,
       CAST(qr.n_rel AS BIGINT) AS n_rel,
       COALESCE(p.n_rel_topk, 0) AS n_rel_topk,
       CAST(COALESCE(p.first_rank, 0) AS BIGINT) AS first_rel_rank,
       CAST(CASE WHEN p.first_rank IS NOT NULL
                 THEN {MICRO} // p.first_rank ELSE 0 END AS BIGINT)
         AS mrr_micro,
       COALESCE(p.dcg_micro, 0) AS dcg_micro,
       CAST(COALESCE(
           (SELECT cum_w_micro FROM wdim w
            WHERE w.r = least(qr.n_rel, {_RANK_K})), 0) AS BIGINT)
         AS idcg_micro,
       CAST(CASE WHEN least(qr.n_rel, {_RANK_K}) >= 1
                 THEN COALESCE(p.dcg_micro, 0) * {MICRO} //
                      (SELECT cum_w_micro FROM wdim w
                       WHERE w.r = least(qr.n_rel, {_RANK_K}))
                 ELSE 0 END AS BIGINT) AS ndcg_micro
FROM qrel qr LEFT JOIN per_q p USING (query_id)
"""


# ---------------------------------------------------------------------------
# q260 preference-pair length-bias audit
# ---------------------------------------------------------------------------

def q260_preference_length_bias(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-bias audit of the q257 preference pairs — the standard
    RLHF data pathology (Singhal et al. 2023: reward models latch
    onto response LENGTH; pairs where the chosen response is longer
    teach verbosity, not quality): each confident pair annotated
    with chosen/rejected token counts, the signed length delta, and
    the chosen_longer flag a curation dashboard thresholds on.

    100 TB shape: the pair frame is prompt-grain (at most one row
    per multi-response prompt — tiny BY CONSTRUCTION); both
    token-count lookups join it against the (doc_id, n_tokens)
    projection and AQE converts them to runtime broadcasts — NO
    static hint. (Measured at organic sf10: forcing the builds with
    explicit broadcast() hints serialized an extra materialization
    barrier, 13.0 s vs 7.5 s for the hint-free plan whose two
    projection scans run as parallel stages; the wall is q257's own
    aggregate, the joins are free.)"""
    pairs = q257_preference_pairs(spark, sf_dir)
    toks = (
        load(spark, sf_dir, "documents")
        .filter(T.token_count("text") > 0)
        .select("doc_id", T.token_count("text").cast("long").alias("_nt"))
    )
    return (
        pairs.join(
            toks.select(
                F.col("doc_id").alias("chosen_id"),
                F.col("_nt").alias("chosen_tokens"),
            ),
            "chosen_id",
        )
        .join(
            toks.select(
                F.col("doc_id").alias("rejected_id"),
                F.col("_nt").alias("rejected_tokens"),
            ),
            "rejected_id",
        )
        .select(
            "prompt_key",
            "chosen_id",
            "rejected_id",
            "margin_milli",
            "chosen_tokens",
            "rejected_tokens",
            (F.col("chosen_tokens") - F.col("rejected_tokens")).alias(
                "len_delta_tokens"
            ),
            (F.col("chosen_tokens") > F.col("rejected_tokens")).alias(
                "chosen_longer"
            ),
        )
    )


ORACLE_Q260 = f"""
WITH pairs AS ({ORACLE_Q257}),
toks AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS nt
  FROM documents WHERE length(trim(text)) > 0
)
SELECT p.prompt_key, p.chosen_id, p.rejected_id, p.margin_milli,
       tc.nt AS chosen_tokens, tr.nt AS rejected_tokens,
       CAST(tc.nt - tr.nt AS BIGINT) AS len_delta_tokens,
       tc.nt > tr.nt AS chosen_longer
FROM pairs p
JOIN toks tc ON tc.doc_id = p.chosen_id
JOIN toks tr ON tr.doc_id = p.rejected_id
"""


# ---------------------------------------------------------------------------
# q261 reward-vs-length correlation per source
# ---------------------------------------------------------------------------

def q261_reward_length_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-level companion to q260: per source, the Pearson
    correlation and least-squares slope of reward vs token count
    over ALL responses (not just the selected pairs) — a reward
    model whose scores correlate with length before any pair
    selection is biased at the source. Exact moment accumulation
    (n, Σx, Σy, Σxx, Σxy, Σyy as int64 through decimal(38,0) —
    the q58 discipline: partial-agg friendly, order-independent)
    with the double derivation in one fixed expression order, so
    the result is bit-stable at any parallelism and the DuckDB twin
    hashes identically. x centered at 90 tokens, y is already
    near-centered (rewards are ~uniform in [-1000, 1000]). NO scan
    rebalance (reverted round 15): the narrow-scan lesson is for
    EXPLODE-heavy plans where post-shuffle work dwarfs the exchange;
    here the per-row work is one token_count regex pass, so the
    rebalance shipped the full text column (88 MB measured at tiled
    sf10) to spread work cheaper than the shuffle itself — profiled
    at 4.9 s with vs ~2.5 s without (stage_profile, r15). The moment
    computation now runs inside the scan stage and partial-aggregates
    straight to the source grain."""
    d = load(spark, sf_dir, "documents").filter(T.token_count("text") > 0)
    reward = (
        F.expr(
            "CAST(conv(substring(md5(concat('rw', CAST(doc_id AS"
            " STRING))), 1, 8), 16, 10) AS BIGINT) % 2001"
        )
        - 1000
    )
    base = d.select(
        "source",
        (T.token_count("text").cast("long") - 90).alias("xi"),
        reward.cast("long").alias("yi"),
    )
    big = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(big(F.col("xi"))).cast("double").alias("_sx"),
        F.sum(big(F.col("yi"))).cast("double").alias("_sy"),
        F.sum(big(F.col("xi") * F.col("xi"))).cast("double").alias("_sxx"),
        F.sum(big(F.col("xi") * F.col("yi"))).cast("double").alias("_sxy"),
        F.sum(big(F.col("yi") * F.col("yi"))).cast("double").alias("_syy"),
    )
    nn = F.col("n_docs").cast("double")
    cov = nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    varx = nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vary = nn * F.col("_syy") - F.col("_sy") * F.col("_sy")
    return m.select(
        "source",
        "n_docs",
        F.floor(F.round(cov / F.sqrt(varx * vary), 6) * MICRO + F.lit(0.5))
        .cast("long")
        .alias("corr_micro"),
        F.floor(F.round(cov / varx, 6) * MICRO + F.lit(0.5))
        .cast("long")
        .alias("slope_milli_per_token_micro"),
        F.floor(
            F.round(F.col("_sx") / nn + F.lit(90.0), 6) * MICRO + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_tokens_micro"),
        F.floor(F.round(F.col("_sy") / nn, 6) * MICRO + F.lit(0.5))
        .cast("long")
        .alias("mean_reward_milli_micro"),
    )


ORACLE_Q261 = f"""
WITH base AS (
  SELECT source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) - 90
           AS xi,
         CAST(concat('0x', substr(md5('rw' || doc_id), 1, 8)) AS BIGINT)
           % 2001 - 1000 AS yi
  FROM documents WHERE length(trim(text)) > 0
),
m AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(CAST(SUM(xi) AS HUGEINT) AS DOUBLE) AS sx,
         CAST(CAST(SUM(yi) AS HUGEINT) AS DOUBLE) AS sy,
         CAST(CAST(SUM(xi * xi) AS HUGEINT) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(xi * yi) AS HUGEINT) AS DOUBLE) AS sxy,
         CAST(CAST(SUM(yi * yi) AS HUGEINT) AS DOUBLE) AS syy
  FROM base GROUP BY source
)
SELECT source, n_docs,
       CAST(floor(round((n_docs * sxy - sx * sy) /
            sqrt((n_docs * sxx - sx * sx) * (n_docs * syy - sy * sy)), 6)
            * {MICRO} + 0.5) AS BIGINT) AS corr_micro,
       CAST(floor(round((n_docs * sxy - sx * sy) /
            (n_docs * sxx - sx * sx), 6) * {MICRO} + 0.5) AS BIGINT)
         AS slope_milli_per_token_micro,
       CAST(floor(round(sx / n_docs + 90.0, 6) * {MICRO} + 0.5) AS BIGINT)
         AS mean_tokens_micro,
       CAST(floor(round(sy / n_docs, 6) * {MICRO} + 0.5) AS BIGINT)
         AS mean_reward_milli_micro
FROM m
"""


# ---------------------------------------------------------------------------
# q262 best-of-n uplift curve
# ---------------------------------------------------------------------------

_BON_NS = (1, 2, 4, 8)


def q262_bon_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n rejection-sampling uplift curve (Stiennon et al.
    2020 appendix; Nakano et al. 2021 WebGPT §3.3): per n in
    {1,2,4,8}, over prompt groups with >= n responses, the mean of
    max(reward of the first n responses in doc_id arrival order) —
    the measured value of sampling n completions and keeping the
    best, the curve that prices how many samples per prompt the
    labeling budget should buy.

    100 TB shape: ONE prompt-key exchange (the q257/q210 window
    shape) carries the arrival ranking; the conditional maxes
    collapse to prompt grain map-side and the curve is a 4-row
    aggregate over group grain."""
    d = rebalance_by_key(
        load(spark, sf_dir, "documents"), "doc_id"
    ).filter(T.token_count("text") > 0)
    reward = (
        F.expr(
            "CAST(conv(substring(md5(concat('rw', CAST(doc_id AS"
            " STRING))), 1, 8), 16, 10) AS BIGINT) % 2001"
        )
        - 1000
    )
    keyed = d.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice(T.tokens("text"), 1, PROMPT_KEY_TOKENS))
        ).alias("prompt_key"),
        reward.cast("long").alias("_r"),
    )
    w = Window.partitionBy("prompt_key").orderBy("doc_id")
    ranked = keyed.select(
        "prompt_key", "_r", F.row_number().over(w).alias("_rn")
    )
    grp = ranked.groupBy("prompt_key").agg(
        F.count("*").cast("long").alias("_sz"),
        *[
            F.max(F.when(F.col("_rn") <= n, F.col("_r"))).alias(f"_b{n}")
            for n in _BON_NS
        ],
    )
    stacked = grp.select(
        "_sz",
        F.expr(
            "stack(4, "
            + ", ".join(
                f"CAST({n} AS BIGINT), _b{n}" for n in _BON_NS
            )
            + ") AS (n, best)"
        ),
    ).filter(F.col("n") <= F.col("_sz"))
    return (
        stacked.groupBy("n")
        .agg(
            F.count("*").cast("long").alias("n_groups"),
            F.sum("best").cast("long").alias("_sb"),
        )
        .select(
            "n",
            "n_groups",
            F.expr(
                f"(_sb + 1000 * n_groups) * {MICRO} div n_groups"
                f" - 1000 * {MICRO}"
            )
            .cast("long")
            .alias("mean_best_reward_milli_micro"),
        )
    )


ORACLE_Q262 = f"""
WITH keyed AS (
  SELECT doc_id,
         md5(array_to_string(
             string_split_regex(trim(text), '\\s+')[1:{PROMPT_KEY_TOKENS}],
             ' ')) AS prompt_key,
         CAST(concat('0x', substr(md5('rw' || doc_id), 1, 8)) AS BIGINT)
           % 2001 - 1000 AS r
  FROM documents WHERE length(trim(text)) > 0
),
ranked AS (
  SELECT prompt_key, r,
         row_number() OVER (PARTITION BY prompt_key ORDER BY doc_id)
           AS rn
  FROM keyed
),
grp AS (
  SELECT prompt_key,
         CAST(COUNT(*) AS BIGINT) AS sz,
         {", ".join(f"MAX(r) FILTER (WHERE rn <= {n}) AS b{n}" for n in _BON_NS)}
  FROM ranked GROUP BY prompt_key
),
stacked AS (
  {" UNION ALL ".join(f"SELECT CAST({n} AS BIGINT) AS n, b{n} AS best, sz FROM grp" for n in _BON_NS)}
)
SELECT n, CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST((SUM(best) + 1000 * COUNT(*)) * {MICRO} // COUNT(*)
            - 1000 * {MICRO} AS BIGINT) AS mean_best_reward_milli_micro
FROM stacked WHERE n <= sz GROUP BY n
"""


# ---------------------------------------------------------------------------
# q263 matryoshka truncation audit
# ---------------------------------------------------------------------------

_MRL_WIDTHS = (16, 32, 48)


def q263_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit (Kusupati et al. 2022, MRL): per
    truncation width w in {16,32,48}, the distribution of the
    prefix-energy fraction sqrt(sum_{i<w} x_i^2 / sum_all x_i^2) —
    which IS cosine(full, zero-padded truncation), the retrieval
    quality proxy that decides whether serving can run at w dims.
    Exact int64: per-dim squared terms quantized at 9 dp and summed
    (the q258 distance discipline — never a float reduction over
    dims), fractions derived in one fixed double expression.

    100 TB shape: one posexplode pass with FOUR conditional sums
    riding the vec_id partitioning (pure codegen — the q246 lesson:
    HOF lambdas evaluate interpreted per element, a 64-dim explode
    with whole-stage codegen beats them); the report is a 3-row
    aggregate over width grain."""
    e = load(spark, sf_dir, "embeddings")
    x = F.col("x").cast("double")
    term = F.floor(x * x * F.lit(1e9) + F.lit(0.5)).cast("long")
    per_vec = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select("vec_id", "pos", term.alias("_t"))
        .groupBy("vec_id")
        .agg(
            *[
                F.sum(F.when(F.col("pos") < w, F.col("_t")).otherwise(0))
                .cast("long")
                .alias(f"_e{w}")
                for w in _MRL_WIDTHS
            ],
            F.sum("_t").cast("long").alias("_eall"),
        )
        .filter(F.col("_eall") > 0)
    )
    stacked = per_vec.select(
        F.expr(
            "stack(3, "
            + ", ".join(
                f"CAST({w} AS BIGINT), _e{w}" for w in _MRL_WIDTHS
            )
            + ") AS (width, ew)"
        ),
        "_eall",
    )
    frac = (
        F.floor(
            F.round(
                F.sqrt(
                    F.col("ew").cast("double") / F.col("_eall").cast("double")
                ),
                6,
            )
            * MICRO
            + F.lit(0.5)
        )
        .cast("long")
        .alias("_f")
    )
    return (
        stacked.select("width", frac)
        .groupBy("width")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.expr(f"sum(_f) div count(*)").cast("long").alias(
                "mean_fraction_micro"
            ),
            F.min("_f").cast("long").alias("min_fraction_micro"),
        )
    )


ORACLE_Q263 = f"""
WITH terms AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * x * 1e9 + 0.5) AS BIGINT))
           AS t
  FROM embeddings
),
per_vec AS (
  SELECT vec_id,
         {", ".join(f"CAST(list_sum(t[1:{w}]) AS BIGINT) AS e{w}" for w in _MRL_WIDTHS)},
         CAST(list_sum(t) AS BIGINT) AS eall
  FROM terms
),
stacked AS (
  {" UNION ALL ".join(f"SELECT CAST({w} AS BIGINT) AS width, e{w} AS ew, eall FROM per_vec WHERE eall > 0" for w in _MRL_WIDTHS)}
),
fr AS (
  SELECT width,
         CAST(floor(round(sqrt(CAST(ew AS DOUBLE) / CAST(eall AS DOUBLE)),
              6) * {MICRO} + 0.5) AS BIGINT) AS f
  FROM stacked
)
SELECT width, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(f) // COUNT(*) AS BIGINT) AS mean_fraction_micro,
       CAST(MIN(f) AS BIGINT) AS min_fraction_micro
FROM fr GROUP BY width
"""


# ---------------------------------------------------------------------------
# q264 fill-in-middle split accounting
# ---------------------------------------------------------------------------

def q264_fim_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-middle transformation accounting (Bavarian et al.
    2022: reorder each doc to prefix-suffix-middle so an AR model
    learns infilling): seeded split points — lo = 1 + h1 % (n-1),
    span = 1 + h2 % (n - lo), both md5-derived from doc_id, so
    prefix >= 1, middle >= 1, suffix >= 0 tokens — and per-source
    totals of where the token mass lands. The split RULE is the
    operator (the transform itself is a concat in PSM order); the
    accounting is what a data-mix dashboard reads to check the
    middle-span distribution isn't degenerate.

    100 TB shape: zero joins, zero shuffles beyond the per-source
    aggregate — token counts and both hashes are codegen expressions
    on the rebalanced scan."""
    d = rebalance_by_key(
        load(spark, sf_dir, "documents"), "doc_id"
    )
    n = T.token_count("text").cast("long")
    h = lambda salt: F.expr(  # noqa: E731
        f"CAST(conv(substring(md5(concat('{salt}', CAST(doc_id AS"
        " STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    base = d.select(
        "source",
        n.alias("_n"),
        h("f1").alias("_h1"),
        h("f2").alias("_h2"),
    )
    split = (
        base.filter(F.col("_n") >= 2)
        .withColumn("_lo", F.lit(1) + F.col("_h1") % (F.col("_n") - 1))
        .withColumn("_span", F.lit(1) + F.col("_h2") % (F.col("_n") - F.col("_lo")))
    )
    agg = split.groupBy("source").agg(
        F.count("*").cast("long").alias("n_fimable"),
        F.sum("_n").cast("long").alias("fim_tokens"),
        F.sum("_lo").cast("long").alias("prefix_tokens"),
        F.sum("_span").cast("long").alias("middle_tokens"),
        F.sum(F.col("_n") - F.col("_lo") - F.col("_span"))
        .cast("long")
        .alias("suffix_tokens"),
    )
    return agg.select(
        "source",
        "n_fimable",
        "fim_tokens",
        "prefix_tokens",
        "middle_tokens",
        "suffix_tokens",
        F.expr(f"prefix_tokens * {MICRO} div fim_tokens")
        .cast("long")
        .alias("prefix_share_micro"),
        F.expr(f"middle_tokens * {MICRO} div fim_tokens")
        .cast("long")
        .alias("middle_share_micro"),
        F.expr(f"suffix_tokens * {MICRO} div fim_tokens")
        .cast("long")
        .alias("suffix_share_micro"),
    )


ORACLE_Q264 = f"""
WITH base AS (
  SELECT source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n,
         CAST(concat('0x', substr(md5('f1' || doc_id), 1, 8)) AS BIGINT)
           AS h1,
         CAST(concat('0x', substr(md5('f2' || doc_id), 1, 8)) AS BIGINT)
           AS h2
  FROM documents WHERE length(trim(text)) > 0
),
split AS (
  SELECT source, n,
         1 + h1 % (n - 1) AS lo,
         1 + h2 % (n - (1 + h1 % (n - 1))) AS span
  FROM base WHERE n >= 2
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_fimable,
         CAST(SUM(n) AS BIGINT) AS fim_tokens,
         CAST(SUM(lo) AS BIGINT) AS prefix_tokens,
         CAST(SUM(span) AS BIGINT) AS middle_tokens,
         CAST(SUM(n - lo - span) AS BIGINT) AS suffix_tokens
  FROM split GROUP BY source
)
SELECT source, n_fimable, fim_tokens, prefix_tokens, middle_tokens,
       suffix_tokens,
       CAST(prefix_tokens * {MICRO} // fim_tokens AS BIGINT)
         AS prefix_share_micro,
       CAST(middle_tokens * {MICRO} // fim_tokens AS BIGINT)
         AS middle_share_micro,
       CAST(suffix_tokens * {MICRO} // fim_tokens AS BIGINT)
         AS suffix_share_micro
FROM agg
"""


# ---------------------------------------------------------------------------
# q265 ablation-bucket manifest
# ---------------------------------------------------------------------------

_ABL_BUCKETS = 16


def q265_ablation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-ablation manifest: every document assigned to one of 16
    seeded hash arms (md5, salt 'ab' — disjoint and complete by
    construction), per arm the doc/token counts and exact token
    share — the sampling frame scaling-law data ablations train on
    (one arm held out per run). Arms are doc_id-keyed, so any arm
    union is reproducible at any scale without a manifest table.

    100 TB shape: one narrow aggregate; the share denominator is a
    16-row broadcast window."""
    d = load(spark, sf_dir, "documents").filter(T.token_count("text") > 0)
    bucket = F.expr(
        "CAST(conv(substring(md5(concat('ab', CAST(doc_id AS STRING))),"
        " 1, 8), 16, 10) AS BIGINT) % 16"
    )
    per = (
        d.select(bucket.alias("arm"), T.token_count("text").cast("long").alias("_nt"))
        .groupBy("arm")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
    )
    return per.select(
        "arm",
        "n_docs",
        "n_tokens",
        F.expr(f"n_tokens * {MICRO} div sum(n_tokens) over ()")
        .cast("long")
        .alias("token_share_micro"),
    )


ORACLE_Q265 = f"""
WITH per AS (
  SELECT CAST(concat('0x', substr(md5('ab' || doc_id), 1, 8)) AS BIGINT)
           % {_ABL_BUCKETS} AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents WHERE length(trim(text)) > 0
  GROUP BY 1
)
SELECT arm, n_docs, n_tokens,
       CAST(n_tokens * {MICRO} // SUM(n_tokens) OVER () AS BIGINT)
         AS token_share_micro
FROM per
"""


# ---------------------------------------------------------------------------
# q266 length quantiles from the histogram store (10th stream family)
# ---------------------------------------------------------------------------

_QUANT_PERMILLES = (500, 900, 990)


def q266_length_quantiles_from_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source p50/p90/p99 of document token length answered FROM
    the log-binned histogram store (the tenth stream-maintained
    family; dedup.length_hist_store / quantiles_from_hist_store),
    through a mid-build compaction — each row carries the store's
    approximate answer, the EXACT order statistic, and the
    within_bound verification column proving the one-bin error
    guarantee (approx <= exact <= approx + approx/8). The q255
    in-result-verification discipline: the guarantee is checked in
    the gated output, not asserted in prose.

    100 TB shape: the production path is the store walk —
    store-sized cumulative sums over ~80 bins x sources, no corpus
    rescan, merge-exact across slices because bins are pure-integer
    and counts additive (erasure rides deletion_slice free). The
    exact side here is the gate-scale verification twin (a global
    sort the store exists to avoid), the q240 adjudication."""
    import shutil
    import tempfile

    from synthea_etl_spark.operators.dedup import (
        compact_counting_slices,
        length_hist_store,
        quantiles_from_hist_store,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    store = tempfile.mkdtemp(prefix="q266_hist_store_")
    try:
        for b, pred in enumerate(
            (
                F.col("doc_id") % 3 == 0,
                F.col("doc_id") % 3 == 1,
                F.col("doc_id") % 3 == 2,
            )
        ):
            length_hist_store(docs.filter(pred), store, f"batch{b}")
            if b == 1:
                compact_counting_slices(
                    spark, store, 1, ["source", "b"], "c"
                )
        approx = quantiles_from_hist_store(
            spark, store, list(_QUANT_PERMILLES)
        )
        base = (
            docs.filter(F.length(F.trim("text")) > 0)
            .select(
                "doc_id",
                "source",
                T.token_count("text").cast("long").alias("_n"),
            )
            .filter(F.col("_n") > 0)
        )
        w = Window.partitionBy("source").orderBy("_n", "doc_id")
        ranked = base.select(
            "source", "_n", F.row_number().over(w).alias("_rn")
        )
        qf = F.explode(
            F.array(*[F.lit(int(q)) for q in _QUANT_PERMILLES])
        ).alias("q_permille")
        exact = (
            ranked.select("source", "_n", "_rn", qf)
            .join(
                approx.select("source", "q_permille", "n_docs"),
                ["source", "q_permille"],
            )
            .filter(
                F.col("_rn")
                == F.expr("(q_permille * n_docs + 999) div 1000")
            )
            .select(
                "source", "q_permille", F.col("_n").alias("exact")
            )
        )
        out = approx.join(exact, ["source", "q_permille"]).select(
            "source",
            "q_permille",
            "n_docs",
            "approx",
            "exact",
            (F.col("exact") - F.col("approx")).alias("abs_err"),
            (
                (F.col("approx") <= F.col("exact"))
                & (
                    F.col("exact")
                    <= F.col("approx") + F.expr("approx div 8")
                )
            ).alias("within_bound"),
        )
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        shutil.rmtree(store, ignore_errors=True)


ORACLE_Q266 = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
  FROM documents WHERE length(trim(text)) > 0
),
pos AS (SELECT * FROM base WHERE n > 0),
binned AS (
  SELECT source,
         CASE WHEN n < 8 THEN n ELSE (length(bin(n)) - 1) * 8
              + ((n >> (length(bin(n)) - 1 - 3)) & 7) END AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM pos GROUP BY 1, 2
),
cum AS (
  SELECT source, b,
         CAST(SUM(c) OVER (PARTITION BY source ORDER BY b) AS BIGINT)
           AS cm,
         CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS n_docs
  FROM binned
),
qs AS (SELECT UNNEST(ARRAY{list(_QUANT_PERMILLES)}) AS q_permille),
hit AS (
  SELECT source, q_permille, MIN(n_docs) AS n_docs, MIN(b) AS mb
  FROM cum, qs
  WHERE cm >= (q_permille * n_docs + 999) // 1000
  GROUP BY source, q_permille
),
approx AS (
  SELECT source, CAST(q_permille AS BIGINT) AS q_permille, n_docs,
         CAST(CASE WHEN mb < 8 THEN mb
              ELSE (8 + (mb % 8)) << (mb // 8 - 3) END AS BIGINT)
           AS approx
  FROM hit
),
ranked AS (
  SELECT source, n,
         row_number() OVER (PARTITION BY source ORDER BY n, doc_id)
           AS rn
  FROM pos
),
exact AS (
  SELECT r.source, a.q_permille, r.n AS exact
  FROM ranked r
  JOIN approx a ON a.source = r.source
  WHERE r.rn = (a.q_permille * a.n_docs + 999) // 1000
)
SELECT a.source, a.q_permille, a.n_docs, a.approx, e.exact,
       CAST(e.exact - a.approx AS BIGINT) AS abs_err,
       a.approx <= e.exact AND e.exact <= a.approx + a.approx // 8
         AS within_bound
FROM approx a JOIN exact e USING (source, q_permille)
"""


# ---------------------------------------------------------------------------
# q267 length-distribution drift from the histogram store
# ---------------------------------------------------------------------------

# drift threshold: flag when p50 OR p90 moves by more than 2 bins
# (~27% — two geometric bin widths) between the reference and the
# live slices
_LEN_DRIFT_PERMILLES = (500, 900)


def q267_length_drift_from_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The monitoring query the histogram store EXISTS for: per
    source, compare the length quantiles of the compacted REFERENCE
    generation against the live post-watermark slices (the docs that
    arrived since) and flag sources whose p50/p90 moved more than
    two geometric bins — the q224 drift-from-store pattern on the
    tenth family. A source whose median doc length halves mid-crawl
    is a template change or an extraction regression; this catches
    it from store-sized arithmetic, no corpus rescan, no batch
    recompute.

    Gate build: slices 0-1 (doc_id % 3 in {0,1}) are compacted as
    the reference; slice 2 lands after — so ref quantiles read the
    compacted partition and live quantiles read batch2, exercising
    the watermark split the monitor depends on."""
    import shutil
    import tempfile

    from synthea_etl_spark.operators.dedup import (
        _LOG_BIN_LB_SQL,
        compact_counting_slices,
        compaction_watermark,
        length_hist_store,
    )
    from synthea_etl_spark.operators.store import read as read_store

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    store = tempfile.mkdtemp(prefix="q267_hist_store_")
    try:
        for b, pred in enumerate(
            (
                F.col("doc_id") % 3 == 0,
                F.col("doc_id") % 3 == 1,
                F.col("doc_id") % 3 == 2,
            )
        ):
            length_hist_store(docs.filter(pred), store, f"batch{b}")
            if b == 1:
                compact_counting_slices(
                    spark, store, 1, ["source", "b"], "c"
                )
        wm = compaction_watermark(store)
        raw = read_store(spark, store)
        num = F.regexp_extract("slice_id", r"^batch(\d+)$", 1)
        ref = raw.filter(F.col("slice_id") == f"compacted{wm}")
        live = raw.filter((num != "") & (num.cast("long") > wm))

        def quants(hist: DataFrame, tag: str) -> DataFrame:
            tot = hist.groupBy("source", "b").agg(
                F.sum("c").cast("long").alias("c")
            )
            w = Window.partitionBy("source").orderBy("b")
            cum = tot.select(
                "source",
                "b",
                F.sum("c").over(w).cast("long").alias("_cum"),
                F.sum("c")
                .over(Window.partitionBy("source"))
                .cast("long")
                .alias("_n"),
            )
            qf = F.explode(
                F.array(*[F.lit(int(q)) for q in _LEN_DRIFT_PERMILLES])
            ).alias("q_permille")
            hit = (
                cum.select("source", "b", "_cum", "_n", qf)
                .filter(
                    F.col("_cum")
                    >= F.expr("(q_permille * _n + 999) div 1000")
                )
                .groupBy("source", "q_permille")
                .agg(F.min("b").alias("_b"))
            )
            return hit.select(
                "source",
                "q_permille",
                F.col("_b").alias(f"bin_{tag}"),
                F.expr(_LOG_BIN_LB_SQL.format(b="_b"))
                .cast("long")
                .alias(f"approx_{tag}"),
            )
        out = (
            quants(ref, "ref")
            .join(quants(live, "live"), ["source", "q_permille"])
            .select(
                "source",
                "q_permille",
                "approx_ref",
                "approx_live",
                (F.col("bin_live") - F.col("bin_ref")).alias("bin_shift"),
                (
                    F.abs(F.col("bin_live") - F.col("bin_ref")) > 2
                ).alias("drifted"),
            )
        )
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        shutil.rmtree(store, ignore_errors=True)


ORACLE_Q267 = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
  FROM documents WHERE length(trim(text)) > 0
),
pos AS (SELECT * FROM base WHERE n > 0),
tagged AS (
  SELECT source, n,
         CASE WHEN doc_id % 3 IN (0, 1) THEN 'ref' ELSE 'live' END AS gen,
         CASE WHEN n < 8 THEN n ELSE (length(bin(n)) - 1) * 8
              + ((n >> (length(bin(n)) - 1 - 3)) & 7) END AS b
  FROM pos
),
binned AS (
  SELECT gen, source, b, CAST(COUNT(*) AS BIGINT) AS c
  FROM tagged GROUP BY 1, 2, 3
),
cum AS (
  SELECT gen, source, b,
         CAST(SUM(c) OVER (PARTITION BY gen, source ORDER BY b)
              AS BIGINT) AS cm,
         CAST(SUM(c) OVER (PARTITION BY gen, source) AS BIGINT) AS n_docs
  FROM binned
),
qs AS (SELECT UNNEST(ARRAY{list(_LEN_DRIFT_PERMILLES)}) AS q_permille),
hit AS (
  SELECT gen, source, q_permille, MIN(b) AS mb
  FROM cum, qs
  WHERE cm >= (q_permille * n_docs + 999) // 1000
  GROUP BY 1, 2, 3
),
lb AS (
  SELECT gen, source, CAST(q_permille AS BIGINT) AS q_permille, mb,
         CAST(CASE WHEN mb < 8 THEN mb
              ELSE (8 + (mb % 8)) << (mb // 8 - 3) END AS BIGINT) AS approx
  FROM hit
)
SELECT r.source, r.q_permille,
       r.approx AS approx_ref, l.approx AS approx_live,
       CAST(l.mb - r.mb AS BIGINT) AS bin_shift,
       abs(l.mb - r.mb) > 2 AS drifted
FROM lb r JOIN lb l ON r.source = l.source
       AND r.q_permille = l.q_permille
       AND r.gen = 'ref' AND l.gen = 'live'
"""


# ---------------------------------------------------------------------------
# q268 numeric-token audit
# ---------------------------------------------------------------------------

def q268_numeric_token_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer-governance audit of NUMERIC content: per source,
    the share of tokens containing digits, the share that are pure
    integers, and the longest digit run — the numbers a tokenizer
    team reads before choosing a digit-splitting policy (single-digit
    splitting à la PaLM/Llama vs grouped): a corpus heavy in long
    digit runs inflates fertility under single-digit splitting, and
    a high pure-integer share makes right-to-left grouping
    (Singh & Strouse 2024) worth the complexity.

    100 TB shape: one explode + per-source aggregate riding the doc
    partitioning; the digit-run scan is a regexp on the token (JVM
    codegen), never a per-char lambda (the q246 lesson)."""
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = d.select(
        "source", F.explode(T.tokens("text")).alias("t")
    ).filter(F.length("t") > 0)
    scored = tok.select(
        "source",
        F.col("t").rlike("[0-9]").alias("_has_digit"),
        F.col("t").rlike("^[0-9]+$").alias("_pure_int"),
        F.when(
            F.col("t").rlike("[0-9]"),
            F.array_max(
                F.transform(
                    F.regexp_extract_all(F.col("t"), F.lit("([0-9]+)"), 1),
                    lambda s: F.length(s),
                )
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("_run"),
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("_has_digit"), 1).otherwise(0))
        .cast("long")
        .alias("digit_tokens"),
        F.sum(F.when(F.col("_pure_int"), 1).otherwise(0))
        .cast("long")
        .alias("int_tokens"),
        F.max("_run").cast("long").alias("max_digit_run"),
        F.expr(
            f"sum(CASE WHEN _has_digit THEN 1 ELSE 0 END) * {MICRO}"
            " div count(*)"
        )
        .cast("long")
        .alias("digit_share_micro"),
    )


ORACLE_Q268 = f"""
WITH tok AS (
  SELECT source, UNNEST(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
),
scored AS (
  SELECT source,
         regexp_matches(t, '[0-9]') AS has_digit,
         regexp_matches(t, '^[0-9]+$') AS pure_int,
         CASE WHEN regexp_matches(t, '[0-9]')
              THEN list_max(list_transform(
                   regexp_extract_all(t, '([0-9]+)', 1), s -> length(s)))
              ELSE 0 END AS run
  FROM tok WHERE length(t) > 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN has_digit THEN 1 ELSE 0 END) AS BIGINT)
         AS digit_tokens,
       CAST(SUM(CASE WHEN pure_int THEN 1 ELSE 0 END) AS BIGINT)
         AS int_tokens,
       CAST(MAX(run) AS BIGINT) AS max_digit_run,
       CAST(SUM(CASE WHEN has_digit THEN 1 ELSE 0 END) * {MICRO}
            // COUNT(*) AS BIGINT) AS digit_share_micro
FROM scored GROUP BY source
"""


# ---------------------------------------------------------------------------
# q269 dedup survivor quality shift
# ---------------------------------------------------------------------------

def q269_dedup_quality_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does near-dup dedup BIAS quality? Per source: mean classifier
    margin (q161's exact int64 score) over ALL docs vs over the
    dedup SURVIVORS (min-doc-id representative per connected
    near-dup cluster + all unclustered docs), and the shift — the
    selection-effect audit a curation pipeline runs after flipping
    on dedup (dedup that systematically drops high-quality docs is
    misconfigured banding, not cleaning). Exact arithmetic: margins
    are int64 milli-units; means are (sum + offset) div n with the
    q254 non-negativity offset so engine/oracle floor-division
    agrees.

    100 TB shape: clusters ride the certified banded path (q33 →
    CC, never all-pairs); the survivor frame is an UN-HINTED
    anti-join on the non-representative member list — at web-crawl
    duplication rates that list is 40-80% of the corpus, so AQE
    must size the join (broadcast only when it truly fits); both
    mean passes are per-source aggregates on the doc partitioning."""
    from synthea_etl_spark.operators.dedup import connected_components
    from synthea_etl_spark.operators.retrieval import quality_model_score
    from synthea_etl_spark.plans.llm import q33_minhash_lsh_candidates

    d = load(spark, sf_dir, "documents")
    scored = quality_model_score(d, "text", "doc_id").select(
        "doc_id", "raw_margin", "n_tokens"
    )
    src = d.select("doc_id", "source")
    # lineage cut before the iterative loop (the q255 discipline;
    # CC also cuts internally — belt and braces on a pair source
    # this expensive)
    pairs = q33_minhash_lsh_candidates(spark, sf_dir).localCheckpoint()
    comp = connected_components(pairs)
    dropped = comp.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    base = scored.join(src, "doc_id")
    # NO broadcast hint on `dropped`: at web-crawl duplication rates
    # the non-representative member set is 40-80% OF the corpus, so a
    # forced broadcast is an executor-OOM scale-killer. Un-hinted,
    # AQE broadcasts when the runtime size actually fits (verified in
    # the executed plan at organic sf10) and falls back to a shuffled
    # join on the doc_id partitioning both sides already carry.
    # ONE pass, not two: a LEFT join marks each doc kept/dropped and
    # conditional sums produce the all/kept aggregates together —
    # the two-frame shape (anti-join + two groupBys) scanned the
    # scored corpus twice for no semantic gain.
    flagged = base.join(
        dropped.withColumn("_d", F.lit(1)), "doc_id", "left"
    ).withColumn("_k", F.col("_d").isNull().cast("long"))

    def margin(prefix: str) -> str:
        rm = f"sum({prefix}raw_margin)"
        nt = f"sum({prefix}n_tokens)"
        return f"({rm} + 1000 * {nt}) * {MICRO} div (1000 * {nt}) - {MICRO}"

    return (
        flagged.select(
            "source",
            "raw_margin",
            "n_tokens",
            "_k",
            (F.col("_k") * F.col("raw_margin")).alias("k_raw_margin"),
            (F.col("_k") * F.col("n_tokens")).alias("k_n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_all"),
            F.sum("_k").cast("long").alias("n_kept"),
            F.expr(margin("")).cast("long").alias("margin_all_micro"),
            F.expr(margin("k_")).cast("long").alias("margin_kept_micro"),
        )
        .select(
            "source",
            "n_all",
            "n_kept",
            "margin_all_micro",
            "margin_kept_micro",
            (F.col("margin_kept_micro") - F.col("margin_all_micro")).alias(
                "shift_micro"
            ),
        )
    )


def _oracle_q269() -> str:
    from synthea_etl_spark.plans.llm import _sql_minhash_oracle

    return f"""
WITH RECURSIVE cand AS ({_sql_minhash_oracle().strip()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL SELECT id_b, id_a FROM cand
),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
),
comp AS (SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id),
dropped AS (SELECT id AS doc_id FROM comp WHERE id <> cluster_id),
toks AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
tok AS (SELECT doc_id, source, UNNEST(w) AS t FROM toks),
wt AS (
  SELECT doc_id, source,
         (CAST(concat('0x', substr(md5('w' || CAST(
             CAST(concat('0x', substr(md5('q' || t), 1, 8)) AS BIGINT)
               % 4096 AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000 AS w
  FROM tok
),
per_doc AS (
  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(w) AS BIGINT) AS raw_margin
  FROM wt GROUP BY doc_id, source
),
alls AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST((SUM(raw_margin) + 1000 * SUM(n_tokens)) * {MICRO}
              // (1000 * SUM(n_tokens)) - {MICRO} AS BIGINT)
           AS margin_all_micro
  FROM per_doc GROUP BY source
),
kept AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST((SUM(raw_margin) + 1000 * SUM(n_tokens)) * {MICRO}
              // (1000 * SUM(n_tokens)) - {MICRO} AS BIGINT)
           AS margin_kept_micro
  FROM per_doc p
  WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = p.doc_id)
  GROUP BY source
)
SELECT a.source, a.n_all, k.n_kept, a.margin_all_micro,
       k.margin_kept_micro,
       CAST(k.margin_kept_micro - a.margin_all_micro AS BIGINT)
         AS shift_micro
FROM alls a JOIN kept k USING (source)
"""


# ---------------------------------------------------------------------------
# q270 term burstiness audit
# ---------------------------------------------------------------------------

_BURST_TOPK = 50


def q270_burstiness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995): for the top-{k} terms
    by collection frequency, cf, df, and burstiness = cf/df in exact
    micro — a term whose occurrences pile into few documents
    (burstiness >> 1) is template/boilerplate/spam vocabulary, the
    lexical complement of the line-frequency store's structural
    boilerplate signal. Deterministic top-k (cf desc, term asc).

    100 TB shape: two stacked partial aggregates — (term, doc)
    term-frequency first, then the term rollup (cf = SUM tf, df =
    COUNT) — NOT count_distinct alongside count, which Catalyst
    plans as an Expand that doubles every exploded row through the
    first exchange (measured: the Expand shape ran 4.6 s at sf1 vs
    1.4 s DuckDB; the stacked shape keeps both aggregates
    map-side-combining). The report is k rows. The scan is
    doc_id-rebalanced (the narrow-scan lesson: the explode's
    parallelism is the scan's)."""
    d = rebalance_by_key(
        load(spark, sf_dir, "documents"), "doc_id"
    ).filter(F.length(F.trim("text")) > 0)
    tok = d.select(
        "doc_id", F.explode(T.tokens("text")).alias("t")
    ).filter(F.length("t") > 0)
    stats = (
        tok.groupBy("t", "doc_id")
        .agg(F.count("*").cast("long").alias("_tf"))
        .groupBy("t")
        .agg(
            F.sum("_tf").cast("long").alias("cf"),
            F.count("*").cast("long").alias("df"),
        )
    )
    # Global top-k via orderBy+limit, NOT an unpartitioned
    # row_number window: a global window plans a SINGLE-PARTITION
    # sort of the whole term-stats table (vocabulary-sized —
    # hundreds of millions of rows at 100 TB by Heaps' law), while
    # orderBy(...).limit(k) plans TakeOrderedAndProject: each
    # partition keeps its own top-k and only k-row candidate sets
    # merge (tests/test_llm31.py pins the physical plan). The rank
    # column is then a window over the k-row result — trivially
    # single-partition by construction.
    topk = stats.orderBy(F.desc("cf"), F.asc("t")).limit(_BURST_TOPK)
    w = Window.orderBy(F.desc("cf"), F.asc("t"))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("t").alias("term"),
            "cf",
            "df",
            F.expr(f"cf * {MICRO} div df").cast("long").alias(
                "burstiness_micro"
            ),
        )
    )


ORACLE_Q270 = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
),
stats AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS cf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tok WHERE length(t) > 0 GROUP BY t
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY cf DESC, t ASC) AS rank
  FROM stats
)
SELECT CAST(rank AS BIGINT) AS rank, t AS term, cf, df,
       CAST(cf * {MICRO} // df AS BIGINT) AS burstiness_micro
FROM ranked WHERE rank <= {_BURST_TOPK}
"""


# ---------------------------------------------------------------------------
# q271 response-side SFT dedup
# ---------------------------------------------------------------------------

def q271_response_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INVERSE of q233's prompt dedup: group documents by the
    RESPONSE OPENER key (md5 of the first 8 tokens AFTER the 8-token
    prompt) and surface groups of >= 2 — canned answer openings
    ("As an AI language model...") reused verbatim, the SFT
    pathology prompt-grain dedup cannot see: a model trained on them
    learns to emit the stock opener regardless of instruction.
    Reports response_key, group size, distinct prompt count, and the
    representative (min doc_id); groups where cross_prompt is true
    (same opener under DIFFERENT prompts) are the actionable rows.

    100 TB shape: one response-key exchange carrying count +
    distinct-prompt partial + min — the n_prompts side uses the
    stacked two-level aggregate (the q270 lesson: never
    count_distinct alongside count through an Expand)."""
    d = rebalance_by_key(
        load(spark, sf_dir, "documents"), "doc_id"
    ).filter(T.token_count("text") > F.lit(PROMPT_KEY_TOKENS))
    toks = T.tokens("text")
    keyed = d.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.slice(toks, 1, PROMPT_KEY_TOKENS))
        ).alias("pkey"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(toks, PROMPT_KEY_TOKENS + 1, PROMPT_KEY_TOKENS),
            )
        ).alias("rkey"),
    )
    per_prompt = keyed.groupBy("rkey", "pkey").agg(
        F.count("*").cast("long").alias("_n"),
        F.min("doc_id").cast("long").alias("_mn"),
    )
    return (
        per_prompt.groupBy("rkey")
        .agg(
            F.sum("_n").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_prompts"),
            F.min("_mn").cast("long").alias("rep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .select(
            F.col("rkey").alias("response_key"),
            "n_docs",
            "n_prompts",
            (F.col("n_prompts") > 1).alias("cross_prompt"),
            "rep_doc_id",
        )
    )


ORACLE_Q271 = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
keyed AS (
  SELECT doc_id,
         md5(array_to_string(w[1:{PROMPT_KEY_TOKENS}], ' ')) AS pkey,
         md5(array_to_string(
             w[{PROMPT_KEY_TOKENS + 1}:{2 * PROMPT_KEY_TOKENS}], ' '))
           AS rkey
  FROM toks WHERE len(w) > {PROMPT_KEY_TOKENS}
),
per_prompt AS (
  SELECT rkey, pkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(doc_id) AS BIGINT) AS mn
  FROM keyed GROUP BY rkey, pkey
)
SELECT rkey AS response_key,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_prompts,
       COUNT(*) > 1 AS cross_prompt,
       CAST(MIN(mn) AS BIGINT) AS rep_doc_id
FROM per_prompt GROUP BY rkey
HAVING SUM(n) >= 2
"""


QUERIES: dict[str, QuerySpec] = {
    "q259_ranking_metrics_ann": QuerySpec(
        q259_ranking_metrics_ann,
        ORACLE_Q259,
        "MRR + NDCG@10 per query over the seeded-IVF ANN ranking —"
        " q239's metric plumbing on the production candidate path",
        ("llm", "similarity", "eval"),
    ),
    "q260_preference_length_bias": QuerySpec(
        q260_preference_length_bias,
        ORACLE_Q260,
        "length-bias audit of the preference pairs: token deltas and"
        " the chosen_longer flag per confident pair",
        ("llm", "posttrain", "governance"),
    ),
    "q261_reward_length_corr": QuerySpec(
        q261_reward_length_corr,
        ORACLE_Q261,
        "per-source Pearson corr + slope of reward vs response"
        " length from exact int64 moments",
        ("llm", "posttrain", "governance"),
    ),
    "q262_bon_uplift": QuerySpec(
        q262_bon_uplift,
        ORACLE_Q262,
        "best-of-n rejection-sampling uplift curve over prompt"
        " groups with >= n responses",
        ("llm", "posttrain", "eval"),
    ),
    "q263_matryoshka_audit": QuerySpec(
        q263_matryoshka_audit,
        ORACLE_Q263,
        "prefix-energy fraction distribution per Matryoshka"
        " truncation width, exact int64 terms",
        ("llm", "similarity", "governance"),
    ),
    "q264_fim_split_stats": QuerySpec(
        q264_fim_split_stats,
        ORACLE_Q264,
        "fill-in-middle seeded split accounting per source:"
        " prefix/middle/suffix token mass and shares",
        ("llm", "text", "curation"),
    ),
    "q265_ablation_manifest": QuerySpec(
        q265_ablation_manifest,
        ORACLE_Q265,
        "16-arm seeded data-ablation manifest with exact token"
        " shares",
        ("llm", "governance", "curation"),
    ),
    "q266_length_quantiles_from_store": QuerySpec(
        q266_length_quantiles_from_store,
        ORACLE_Q266,
        "per-source length quantiles from the log-binned histogram"
        " store with the in-result one-bin error-bound verification",
        ("llm", "governance", "streaming"),
    ),
    "q267_length_drift_from_store": QuerySpec(
        q267_length_drift_from_store,
        ORACLE_Q267,
        "per-source p50/p90 length drift between the compacted"
        " reference and live slices, from the histogram store",
        ("llm", "governance", "streaming"),
    ),
    "q268_numeric_token_audit": QuerySpec(
        q268_numeric_token_audit,
        ORACLE_Q268,
        "per-source numeric-token shares and longest digit run —"
        " the digit-splitting policy audit",
        ("llm", "text", "governance"),
    ),
    "q269_dedup_quality_shift": QuerySpec(
        q269_dedup_quality_shift,
        _oracle_q269(),
        "per-source mean quality margin before vs after near-dup"
        " survivor selection",
        ("llm", "dedup", "quality"),
    ),
    "q270_burstiness_audit": QuerySpec(
        q270_burstiness_audit,
        ORACLE_Q270,
        "Church-Gale burstiness (cf/df) for the top-50 collection-"
        "frequency terms",
        ("llm", "text", "governance"),
    ),
    "q271_response_dedup": QuerySpec(
        q271_response_dedup,
        ORACLE_Q271,
        "response-opener dedup groups with cross-prompt flag —"
        " stock answer openings reused under different prompts",
        ("llm", "dedup", "sft"),
    ),
}
