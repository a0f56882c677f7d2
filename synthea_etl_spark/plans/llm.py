"""LLM-data-pipeline queries over documents/embeddings, with DuckDB
oracles (BASELINE.json north star: dedup, similarity search, text
analysis, multimodal).

Every algorithm here is deterministic by construction (md5-derived
hashing, explicit tie-breaks, decimal/integer arithmetic at reduction
points), so even MinHash-LSH banding and SimHash fingerprints are
oracle-checkable — the SQL twins are generated by the same Python
loops that build the Spark aggregates. The only rows-only entry is the
approximate ANN path (recall-tested against the exact oracle in
tests/test_llm.py instead).
"""

from __future__ import annotations

import math
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from synthea_etl_spark.operators import dedup as D
from synthea_etl_spark.operators import similarity as S
from synthea_etl_spark.operators import text as T
from synthea_etl_spark.operators.util import rebalance_by_key
from synthea_etl_spark.plans.common import QuerySpec, doc_payloads, load

# Shared oracle CTEs ---------------------------------------------------------

# word tokens of trimmed text; empty text guarded to match tokens()=[]
SQL_TOKS = r"""
toks AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
)
"""

# distinct 3-gram shingles per doc
SQL_SHINGLES = r"""
sh AS (
  SELECT DISTINCT doc_id, source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w)-2)) AS i) u
  WHERE len(w) >= 3
)
"""

HEX8 = "CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"
HEX15 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# q30 exact dedup
# ---------------------------------------------------------------------------


def q30_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint (md5 of lower/collapsed
    text): keeper id + copy count per distinct content."""
    return D.exact_dedup_stats(load(spark, sf_dir, "documents"), "text", "doc_id")


ORACLE_Q30 = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q31 quality features / q32 language ID
# ---------------------------------------------------------------------------


def q31_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    feats = T.quality_features("text")
    return d.select(
        "doc_id",
        *[expr.alias(name) for name, expr in feats.items()],
        T.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
    )


ORACLE_Q31 = r"""
WITH t AS (
  SELECT doc_id, text, trim(text) AS tt,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(w) AS BIGINT) AS n_tokens,
  CAST(length(regexp_replace(tt, '\s+', '', 'g')) AS DOUBLE)
    / CAST(greatest(len(w), 1) AS DOUBLE) AS avg_token_len,
  CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
    / CAST(greatest(len(w), 1) AS DOUBLE) AS stopword_ratio,
  CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
    / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
  CAST(len(list_distinct(w)) AS DOUBLE)
    / CAST(greatest(len(w), 1) AS DOUBLE) AS uniq_token_ratio,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
    AS n_bpe_tokens
FROM t
"""


def q32_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", T.lang_guess("text").alias("lang_guess"))


def _sql_lang_oracle() -> str:
    score = {
        lang: f"len(regexp_extract_all(lower(text), '\\b({'|'.join(ws)})\\b'))"
        for lang, ws in T.LANG_STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    whens = "\n".join(
        f"WHEN {score[lang]} = best THEN '{lang}'" for lang in T.LANG_PRIORITY
    )
    return f"""
WITH s AS (SELECT doc_id, text, {best} AS best FROM documents)
SELECT doc_id, CASE WHEN best = 0 THEN 'und' {whens} ELSE 'und' END AS lang_guess
FROM s
"""


# ---------------------------------------------------------------------------
# q33 MinHash-LSH / q34 SimHash / q35 SimHash pairs / q36 Jaccard
# ---------------------------------------------------------------------------

NUM_HASHES, BANDS, ROWS_PER_BAND = 32, 8, 4


def q33_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via MinHash signatures (32 perms) +
    8-band LSH bucketing — deterministic md5-based permutations."""
    d = load(spark, sf_dir, "documents")
    sig = D.minhash_signature(d, "text", "doc_id", NUM_HASHES, 3)
    return D.lsh_candidates(sig, "doc_id", NUM_HASHES, BANDS)


def _sql_minhash_oracle(
    num_hashes: int = NUM_HASHES, bands: int = BANDS
) -> str:
    rows_per_band = num_hashes // bands
    h = HEX8.format(x="s")
    mins = ",\n    ".join(
        f"MIN(({2 * i + 1} * h + {(1000000007 * (i + 1)) % D.MINHASH_P}) % {D.MINHASH_P}) AS sig_{i}"
        for i in range(num_hashes)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"sig_{b * rows_per_band + j}" for j in range(rows_per_band))
        + ")) AS bh FROM sig"
        for b in range(bands)
    )
    return f"""
WITH {SQL_TOKS}, {SQL_SHINGLES},
hashed AS (SELECT doc_id, {h} AS h FROM sh),
sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id),
bands AS (
{band_rows}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""


def q34_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprint per document."""
    return D.simhash(load(spark, sf_dir, "documents"), "text", "doc_id")


def _sql_simhash_oracle() -> str:
    h = HEX15.format(x="t")
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(D.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{j} >= 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END"
        for j in range(D.SIMHASH_BITS)
    )
    return f"""
WITH {SQL_TOKS},
tok AS (SELECT doc_id, UNNEST(w) AS t FROM toks),
h AS (SELECT doc_id, {h} AS h FROM tok),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


def q35_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with SimHash hamming distance <= 3, found via 4-band
    pigeonhole + exact verify (exact result, bucket-join cost)."""
    sim = D.simhash(load(spark, sf_dir, "documents"), "text", "doc_id")
    return D.simhash_near_pairs(sim, "doc_id", max_hamming=3)


def _sql_simhash_pairs_oracle() -> str:
    # brute-force pair scan over the simhash CTE — the pigeonhole
    # banding in the engine is exact, so results must coincide
    inner = _sql_simhash_oracle().strip()
    return f"""
WITH sims AS ({inner})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q36_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.3 pairs, blocked by source (at scale
    the block key comes from LSH buckets; shingle equi-join, no cross
    join)."""
    d = load(spark, sf_dir, "documents")
    return D.jaccard_pairs(d, "text", "doc_id", 3, 0.3, block_col="source")


ORACLE_Q36 = f"""
WITH {SQL_TOKS}, {SQL_SHINGLES},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
  FROM sh x JOIN sh y ON x.s = y.s AND x.source = y.source AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(i AS DOUBLE) / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.3
"""


# ---------------------------------------------------------------------------
# q41 token statistics / q42 bottom-k sketch
# ---------------------------------------------------------------------------


def q41_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting by language (the dataset-sizing query
    every training pipeline runs): doc counts, whitespace + BPE-ish
    token totals, average tokens/doc. One partial-agg groupBy."""
    d = load(spark, sf_dir, "documents")
    ntok = T.token_count("text").cast("long")
    nbpe = T.bpe_ish_token_count("text").cast("long")
    return (
        d.select("lang", ntok.alias("ntok"), nbpe.alias("nbpe"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
            F.sum("nbpe").alias("total_bpe_tokens"),
            (F.sum("ntok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
    )


ORACLE_Q41 = r"""
WITH t AS (
  SELECT lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS ntok,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS nbpe
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       CAST(SUM(nbpe) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(ntok) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM t GROUP BY lang
"""


def q42_bottomk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-8 minwise sketch per document (k smallest distinct 32-bit
    shingle hashes), exploded to (doc_id, slot, h) rows."""
    return D.bottomk_sketch(load(spark, sf_dir, "documents"), "text", "doc_id", k=8)


def _sql_bottomk_oracle() -> str:
    h = HEX8.format(x="s")
    return f"""
WITH {SQL_TOKS}, {SQL_SHINGLES},
hashed AS (SELECT DISTINCT doc_id, {h} AS h FROM sh),
ranked AS (
  SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
  FROM hashed
)
SELECT doc_id, CAST(rn - 1 AS INTEGER) AS slot, h FROM ranked WHERE rn <= 8
"""


# ---------------------------------------------------------------------------
# q48 winnowing fingerprints / q49 composite corpus filter
# ---------------------------------------------------------------------------

WINNOW_W = 4


def q48_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (MOSS) rolling-hash fingerprints per document:
    min-of-each-4-hash-window over 3-gram hashes, distinct — the
    codegen-friendly exploded form (see operators/dedup.
    winnow_fingerprints for why not array lambdas)."""
    d = load(spark, sf_dir, "documents")
    return D.winnow_fingerprints(d, "text", "doc_id", 3, WINNOW_W)


def _sql_winnow_oracle() -> str:
    h = HEX8.format(x="w[i] || ' ' || w[i+1] || ' ' || w[i+2]")
    return f"""
WITH {SQL_TOKS},
grams AS (
  SELECT doc_id, i, {h} AS h, len(w) - 2 AS m
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w)-2)) AS i) u
  WHERE len(w) >= 3
),
wins AS (
  SELECT doc_id, i, m,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams
)
SELECT DISTINCT doc_id, fp FROM wins WHERE i <= m - {WINNOW_W - 1}
"""


def q49_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite keep/drop decision a training-data pipeline makes
    per document: language gate (lang_guess = en), size gate, quality
    gates (punctuation, uniqueness), and exact-dedup keeper-ship —
    one narrow pass over the corpus plus the dedup keeper join."""
    d = load(spark, sf_dir, "documents")
    feats = T.quality_features("text")
    scored = d.select(
        "doc_id",
        T.fingerprint("text").alias("fp"),
        T.lang_guess("text").alias("lg"),
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["uniq_token_ratio"].alias("uniq_token_ratio"),
    )
    keepers = scored.groupBy("fp").agg(F.min("doc_id").alias("keeper_id"))
    return (
        scored.join(keepers, on="fp", how="inner")
        .filter(
            (F.col("doc_id") == F.col("keeper_id"))
            & (F.col("lg") == "en")
            & (F.col("n_tokens") >= 10)
            & (F.col("punct_ratio") < 0.2)
            & (F.col("uniq_token_ratio") >= 0.3)
        )
        .select("doc_id", "n_tokens")
    )


def _sql_corpus_filter_oracle() -> str:
    lang_sql = _sql_lang_oracle().strip()
    return rf"""
WITH lg AS ({lang_sql}),
t AS (
  SELECT doc_id, text, trim(text) AS tt,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\s+') END AS w
  FROM documents
),
q AS (
  SELECT doc_id,
         md5(regexp_replace(lower(tt), '\s+', ' ', 'g')) AS fp,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
           / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
         CAST(len(list_distinct(w)) AS DOUBLE)
           / CAST(greatest(len(w), 1) AS DOUBLE) AS uniq_token_ratio
  FROM t
),
k AS (SELECT fp, MIN(doc_id) AS keeper_id FROM q GROUP BY fp)
SELECT q.doc_id, q.n_tokens
FROM q JOIN k ON q.fp = k.fp AND q.doc_id = k.keeper_id
JOIN lg ON lg.doc_id = q.doc_id
WHERE lg.lang_guess = 'en' AND q.n_tokens >= 10
  AND q.punct_ratio < 0.2 AND q.uniq_token_ratio >= 0.3
"""


# ---------------------------------------------------------------------------
# q37-q39 embedding similarity
# ---------------------------------------------------------------------------


def q37_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors vec_id < 10."""
    e = load(spark, sf_dir, "embeddings")
    return S.knn_bruteforce(e, e.filter(F.col("vec_id") < 10), k=5)


ORACLE_Q37 = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv, cv), 6) AS sim
  FROM q, c WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q38_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-duplicate pairs (sim >= 0.4; data max ~0.51)
    via the blocked pair join — ids hash into B blocks, the B^2 cells
    become an equi-join key, so the exact quadratic listing shuffles
    across reducers instead of planning a CartesianProduct. Result is
    identical to the all-pairs form for any data; see
    q123_embedding_near_dup_lsh for the approximate linear-time path."""
    return S.embedding_near_dup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.4)


ORACLE_Q38 = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.e, b.e), 6) AS sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
"""


def q123_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate near-dup pairs, linear-time: hyperplane-LSH buckets
    generate candidates (within-bucket + single-bit-flip probes), exact
    cosine verifies >= threshold. No false positives; recall vs the
    exact blocked form is asserted in tests/test_llm.py. The bucketing
    is fully deterministic (md5-derived hyperplanes), so despite being
    approximate-recall it HAS an exact SQL twin: the multiprobe mask
    set {0} u {1<<p} u {bit pairs} is exactly hamming distance <= 2
    between bucket ids, which DuckDB expresses as
    bit_count(xor(b_a, b_b)) <= 2."""
    return S.embedding_near_dup_lsh(
        load(spark, sf_dir, "embeddings"), threshold=0.4, n_planes=6, multiprobe=2
    )


def q39_knn_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via hyperplane-LSH bucketing + multiprobe —
    the 100 TB path (per-bucket joins, no cross join). Recall vs the
    exact oracle is asserted in tests/test_llm.py; the bucketing itself
    is deterministic (md5-derived hyperplanes, explicit tie-breaks), so
    the whole approximate pipeline hash-checks against a DuckDB twin
    (see ORACLE_Q39)."""
    e = load(spark, sf_dir, "embeddings")
    return S.knn_ann_lsh(e, e.filter(F.col("vec_id") < 10), k=5)


def _sql_lsh_planes(n_planes: int) -> str:
    """DuckDB CTE computing the same +-1 hyperplanes as
    similarity._hyperplanes: plane(p,d) = +1 iff the first byte of
    md5(f"{p}:{d}") is even. Byte parity = parity of the low nibble =
    the md5 hex string's SECOND character."""
    return f"""
planes AS (
  SELECT p.i AS p, d.i AS d,
         CASE WHEN substr(md5(p.i || ':' || d.i), 2, 1) IN
              ('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END AS w
  FROM range({n_planes}) p(i), range(64) d(i)
),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS b0
  FROM (
    SELECT e.vec_id, pl.p, SUM(e.v[pl.d + 1] * pl.w) AS dot
    FROM e, planes pl GROUP BY e.vec_id, pl.p
  ) GROUP BY vec_id
)"""


# The multiprobe candidate condition (own bucket + all 1-bit flips +
# all 2-bit flips) is exactly hamming(b0_a, b0_b) <= 2; sign-flip risk
# at the >= 0 boundary is negligible (|dot| ~ O(1) for 64-dim data,
# engines agree to ~1e-15).
ORACLE_Q39 = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_sql_lsh_planes(5)},
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
  FROM buckets q
  JOIN buckets c ON bit_count(xor(q.b0, c.b0)) <= 2
  JOIN e qe ON qe.vec_id = q.vec_id
  JOIN e ce ON ce.vec_id = c.vec_id
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM cand
) WHERE rank <= 5
"""


ORACLE_Q123 = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_sql_lsh_planes(6)}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(ae.v, be.v), 6) AS sim
FROM buckets a JOIN buckets b
  ON a.vec_id < b.vec_id AND bit_count(xor(a.b0, b.b0)) <= 2
JOIN e ae ON ae.vec_id = a.vec_id
JOIN e be ON be.vec_id = b.vec_id
WHERE round(list_cosine_similarity(ae.v, be.v), 6) >= 0.4
"""


def q43_knn_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (deterministic seeds + one distributed Lloyd
    iteration, probe 4 of 16 cells) gated as its RECALL VERDICT: the
    query runs the approximate path AND the exact brute-force truth,
    and returns one row (n_queries, k, recall_ok) with recall_ok =
    mean recall@5 >= 0.4. Lloyd means are float-order-dependent (the
    reason the rankings themselves can't hash-match a SQL twin — the
    seed-only closed form is q160's exact gate), but the VERDICT is
    stable: measured recall is ~0.52 at gate scale, a 6-hit margin
    over the threshold, far beyond any ulp-level assignment flip.
    This retires the standing `no_oracle` row (round-9 VERDICT ask):
    the tolerance assertion tests/test_llm.py always made is now
    driver-checked every rotation. The exact side is measurement
    cost, paid at gate scale; production serves from q160/q169's
    certified index paths."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    ann = S.knn_ann_ivf(e, q, k=5, n_centroids=16, n_probe=4)
    exact = S.knn_bruteforce(e, q, k=5)
    hits = ann.select("query_id", "neighbor_id").join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    )
    return (
        exact.agg(
            F.count_distinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("_n_truth"),
        )
        .crossJoin(F.broadcast(hits.agg(F.count(F.lit(1)).alias("_n_hits"))))
        .select(
            "n_queries",
            F.lit(5).cast("int").alias("k"),
            # integer arithmetic: hits/truth >= 0.4  <=>  5*hits >= 2*truth
            (F.col("_n_hits") * 5 >= F.col("_n_truth") * 2).alias(
                "recall_ok"
            ),
        )
    )


ORACLE_Q43 = """
SELECT COUNT(DISTINCT vec_id) AS n_queries,
       CAST(5 AS INTEGER) AS k,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
"""


def q77_sentence_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence explosion through a registered Python UDTF + LATERAL
    join — the 1-row-to-N-rows table-function path (Arrow-batched in
    Spark 4)."""
    spark.udtf.register("split_sentences", T.make_sentence_udtf())
    load(spark, sf_dir, "documents").createOrReplaceTempView("v_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM v_docs d, LATERAL split_sentences(d.text) s
        """
    )


ORACLE_Q77 = r"""
WITH split AS (
  SELECT doc_id, string_split_regex(trim(text), '[.!?]+\s+') AS arr
  FROM documents
)
SELECT doc_id, CAST(i - 1 AS INTEGER) AS sent_idx, arr[i] AS sentence
FROM split, LATERAL (SELECT UNNEST(generate_series(1, len(arr))) AS i) u
WHERE length(arr[i]) > 0
"""


# ---------------------------------------------------------------------------
# q71 near-dup clustering / q72 TF-IDF top terms
# ---------------------------------------------------------------------------


def q71_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate pairs:
    every clustered doc labeled with its component's minimum doc_id —
    the representative-selection step of near-dedup. Iterative
    DataFrame min-label propagation (operators/dedup.
    connected_components); the oracle is a recursive CTE."""
    pairs = q33_minhash_lsh_candidates(spark, sf_dir)
    return D.connected_components(pairs)


def _sql_clusters_oracle() -> str:
    inner = _sql_minhash_oracle().strip()
    return f"""
WITH RECURSIVE pairs AS ({inner}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
)
SELECT id, MIN(label) AS cluster_id FROM reach GROUP BY id
"""


def q72_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf * (N+1)/(df+1) —
    ratio-idf instead of ln(idf) ON PURPOSE: ln() is libm-dependent
    (last-ulp differences across engines would flip near-tie ranks),
    while integer-ratio division is IEEE-exact on both engines, and
    the ranking it induces is identical (monotone transform). One
    explode, two aggregates (term-frequency, doc-frequency), a
    broadcast of the tiny doc count, a window top-k."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(dfreq, "t")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n") + 1).cast("double")
            / (F.col("df") + 1).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            F.col("t").alias("term"),
            F.round("score", 6).alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


ORACLE_Q72 = r"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT doc_id, t,
         CAST(tf AS DOUBLE) * CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS score
  FROM tf JOIN dfreq USING (t) CROSS JOIN n
)
SELECT doc_id, t AS term, round(score, 6) AS score,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, t) AS rank
  FROM scored
)
WHERE rank <= 3
"""


def q79_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: the fraction of all
    word 2-grams taken by the single most frequent 2-gram per doc
    (high -> boilerplate/spam). One explode + two partial-agg
    groupBys sharing the doc_id partitioning."""
    from synthea_etl_spark.operators.util import rebalance_by_key

    d = load(spark, sf_dir, "documents")
    g2 = rebalance_by_key(d.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(T.shingles("text", 2)).alias("g")
    )
    per_gram = g2.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_2grams"),
        F.max("c").alias("top_2gram_count"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_2gram_frac"
        ),
    )


ORACLE_Q79 = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
g2 AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w)-1)) AS i) u
  WHERE len(w) >= 2
),
per_gram AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams, MAX(c) AS top_2gram_count,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_2gram_frac
FROM per_gram GROUP BY doc_id
"""


def q80_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (pre-tokenization pass of every training-data
    pipeline): deterministic synthetic PII is injected (emails for
    doc_id%7==0, phones for %5==0, SSNs for %11==0), then redacted to
    <KIND> tags; output = per-doc redaction counts + a hash of the
    scrubbed text, all verified against the oracle running the same
    RE2-compatible patterns."""
    d = load(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-123-4567")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" ssn 123-45-6789")).otherwise(
            F.lit("")
        ),
    )
    counts = T.pii_counts(injected)
    return d.select(
        "doc_id",
        *[c.cast("int").alias(f"n_{k}") for k, c in counts.items()],
        F.md5(T.redact_pii(injected)).alias("redacted_md5"),
    )


def _sql_pii_oracle() -> str:
    inj = (
        "text || CASE WHEN doc_id % 7 = 0"
        " THEN ' contact user' || doc_id || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-6789' ELSE '' END"
    )
    pats = T.PII_PATTERNS
    red = f"({inj})"
    for kind in ("email", "ssn", "phone"):
        red = f"regexp_replace({red}, '{pats[kind]}', '<{kind.upper()}>', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all({inj}, '{p}')) AS INTEGER) AS n_{k}"
        for k, p in pats.items()
    )
    return f"""
SELECT doc_id,
       {counts},
       md5({red}) AS redacted_md5
FROM documents
"""


# ---------------------------------------------------------------------------
# q40 multimodal metadata
# ---------------------------------------------------------------------------


def q40_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload plumbing: utf-8 payload bytes + typed metadata;
    metadata predicates + content hash computed WITHOUT decoding
    (md5 over raw bytes)."""
    d = load(spark, sf_dir, "documents")
    m = __import__("synthea_etl_spark.operators.multimodal", fromlist=["attach_payload"])
    payloads = m.attach_payload(d, "text", "doc_id", content_type="text/plain")
    return payloads.select(
        "id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_type").alias("content_type"),
        F.md5(F.col("payload")).alias("content_md5"),
    ).filter(F.col("n_bytes") > 64)


ORACLE_Q40 = """
SELECT doc_id AS id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       'text/plain' AS content_type,
       md5(text) AS content_md5
FROM documents
WHERE octet_length(encode(text)) > 64
"""


# ---------------------------------------------------------------------------
# q124 real image-header dimension parsing
# ---------------------------------------------------------------------------

# Deterministic per-doc dimensions, sized to fit JPEG/GIF 16-bit fields.
_DIM_W = "doc_id % 640 + 16"
_DIM_H = "doc_id % 480 + 16"

# Hex layouts of three real container formats, parameterized on the
# big-endian (PNG/JPEG) or little-endian (GIF) hex of width/height.
# PNG:  signature + IHDR length/tag + w(4) + h(4) + bitdepth/color tail.
# JPEG: SOI + full APP0/JFIF segment + SOF0 (len 17, 3 components) + EOI
#       — the parser must walk over APP0 to reach SOF0.
# GIF:  GIF89a + logical screen w/h (LE) + flags/bg/aspect + trailer.
_HEX_BE4 = "lpad(hex({v}), 8, '0')"
_HEX_BE2 = "lpad(hex({v}), 4, '0')"
_HEX_LE2 = (
    "concat(substring(lpad(hex({v}), 4, '0'), 3, 2),"
    " substring(lpad(hex({v}), 4, '0'), 1, 2))"
)
_PNG_HEX = (
    "concat('89504E470D0A1A0A', '0000000D', '49484452', "
    + _HEX_BE4.format(v=_DIM_W) + ", " + _HEX_BE4.format(v=_DIM_H)
    + ", '0806000000')"
)
_JPEG_HEX = (
    "concat('FFD8', 'FFE00010', '4A46494600', '0101', '00', '00010001',"
    " '0000', 'FFC00011', '08', "
    + _HEX_BE2.format(v=_DIM_H) + ", " + _HEX_BE2.format(v=_DIM_W)
    + ", '03', '011100', '021101', '031101', 'FFD9')"
)
_GIF_HEX = (
    "concat('474946383961', "
    + _HEX_LE2.format(v=_DIM_W) + ", " + _HEX_LE2.format(v=_DIM_H)
    + ", 'F70000', '3B')"
)


def q124_image_header_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image metadata: construct valid PNG/JPEG/GIF container
    bytes JVM-side (one format per doc_id mod 3, dimensions derived
    from doc_id), then parse width/height back out of the binary
    headers with the distributed pure-Python parser
    (operators/multimodal.py image_metadata — no codec dependency).
    The oracle recomputes the encoded dimensions arithmetically, so a
    hash match proves the header parser reads real container layouts
    correctly. Scale shape: mapInPandas over Arrow batches, no
    shuffle, no collect."""
    from synthea_etl_spark.operators.multimodal import image_metadata

    d = load(spark, sf_dir, "documents")
    payload_hex = F.expr(
        "CASE doc_id % 3 WHEN 0 THEN " + _PNG_HEX
        + " WHEN 1 THEN " + _JPEG_HEX
        + " ELSE " + _GIF_HEX + " END"
    )
    shaped = d.select(
        F.col("doc_id").alias("id"), F.unhex(payload_hex).alias("payload")
    )
    return image_metadata(shaped).select(
        "id", "format", "width", "height", "n_bytes"
    )


ORACLE_Q124 = f"""
SELECT doc_id AS id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END
           AS format,
       CAST({_DIM_W} AS INTEGER) AS width,
       CAST({_DIM_H} AS INTEGER) AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 29 WHEN 1 THEN 41 ELSE 14 END
            AS BIGINT) AS n_bytes
FROM documents
"""


# ---------------------------------------------------------------------------
# q125 real pixel decode (uncompressed BMP / PPM)
# ---------------------------------------------------------------------------

# Deterministic raster: width 4, height doc_id%3+1, pixel j carries
# bytes (base+3j, base+3j+1, base+3j+2) with base = doc_id%160 (max
# byte 159+33+2=194, no wrap). Even doc_ids build a REAL 24-bit BI_RGB
# BMP (54-byte header, bottom-up rows, stride 12 = no padding at w=4,
# first stored byte per pixel is BLUE); odd doc_ids build a REAL
# binary PPM with a '# x' comment in the header (first byte per pixel
# is RED). Channel means are then linear in doc_id, so the DuckDB
# oracle recomputes them arithmetically — a hash match proves stride
# walk, header offsets, comment skipping, AND channel order.
_PX_BASE = "doc_id % 160"
_PX_H = "doc_id % 3 + 1"
_PX_RASTER_HEX = (
    "array_join(transform(sequence(0, 4 * ({h}) - 1), "
    "j -> concat(lpad(hex(({b}) + 3*j), 2, '0'), "
    "lpad(hex(({b}) + 3*j + 1), 2, '0'), "
    "lpad(hex(({b}) + 3*j + 2), 2, '0'))), '')"
).format(h=_PX_H, b=_PX_BASE)
_LE4_SMALL = "concat(lpad(hex({v}), 2, '0'), '000000')"  # value < 256
_BMP_HEX = (
    "concat('424D', " + _LE4_SMALL.format(v=f"54 + 12 * ({_PX_H})")
    + ", '00000000', '36000000', '28000000', '04000000', "
    + _LE4_SMALL.format(v=_PX_H)
    + ", '0100', '1800', '00000000', "
    + _LE4_SMALL.format(v=f"12 * ({_PX_H})")
    + ", '00000000', '00000000', '00000000', '00000000', "
    + _PX_RASTER_HEX + ")"
)
_PPM_HEX = (
    "concat('50360A', '2320780A', '3420', hex(48 + (" + _PX_H + ")), "
    "'0A', '3235350A', " + _PX_RASTER_HEX + ")"
)


def q125_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode, no codec: build valid uncompressed rasters
    JVM-side (even doc_id -> 24-bit BMP, odd -> binary PPM with a
    header comment), then compute per-channel pixel means with the
    distributed pure-Python/numpy decoder
    (operators/multimodal.pixel_stats). Scale shape: mapInPandas over
    Arrow batches, no shuffle, no collect; means are exact int64
    sums / count, deterministic at any parallelism."""
    from synthea_etl_spark.operators.multimodal import pixel_stats

    # a toy-SF documents scan is a single parquet split; the decode
    # stage is CPU-bound Python, so rebalance the (tiny, pre-payload)
    # frame across cores first -- no-op on an already-wide scan
    d = rebalance_by_key(load(spark, sf_dir, "documents"), "doc_id")
    payload_hex = F.expr(
        "CASE WHEN doc_id % 2 = 0 THEN " + _BMP_HEX + " ELSE " + _PPM_HEX + " END"
    )
    shaped = d.select(
        F.col("doc_id").alias("id"), F.unhex(payload_hex).alias("payload")
    )
    return pixel_stats(shaped)


ORACLE_Q125 = f"""
SELECT doc_id AS id,
       CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format,
       CAST(4 AS INTEGER) AS width,
       CAST({_PX_H} AS INTEGER) AS height,
       CAST({_PX_BASE} AS DOUBLE) + 3.0 * (4 * ({_PX_H}) - 1) / 2
           + CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS mean_r,
       CAST({_PX_BASE} AS DOUBLE) + 3.0 * (4 * ({_PX_H}) - 1) / 2 + 1 AS mean_g,
       CAST({_PX_BASE} AS DOUBLE) + 3.0 * (4 * ({_PX_H}) - 1) / 2
           + CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END AS mean_b
FROM documents
"""


# ---------------------------------------------------------------------------
# q126 real COMPRESSED pixel decode: PNG (zlib inflate + filter reversal)
# ---------------------------------------------------------------------------


# doc_id % 5 picks both the row filter AND the color type, so every
# filter reversal AND every color type decode runs under the gate.
_PNG_CT_CYCLE = (0, 2, 3, 4, 6)  # gray, RGB, palette, gray+alpha, RGBA


def q126_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image pixel decode, still codec-free: synthesize
    valid 8-bit PNGs per document (multimodal.encode_png — spec
    forward filtering + stdlib zlib deflate; doc_id % 5 picks both the
    per-row filter type and the color type out of gray/RGB/palette/
    gray+alpha/RGBA, so all five filter reversals AND all five color
    type decodes run under the gate; doc_id % 3 flips bit depth 8/16
    and doc_id % 7 flips Adam7 interlacing — both oracle-neutral since
    means are over raw samples; geometry and pixel bytes derived
    from doc_id), then recover per-channel means with the distributed
    decoder (pixel_stats: inflate + unfilter + PLTE resolve + exact
    int64 sums). The DuckDB oracle recomputes the means arithmetically
    — gray color types report the gray mean on all three channels — so
    a hash match proves chunk walking, decompression, every filter's
    reversal, and palette indexing."""
    from synthea_etl_spark.operators.multimodal import encode_png, pixel_stats

    def payload(doc_id):
        w, h = doc_id % 3 + 2, doc_id % 2 + 1
        base = doc_id % 200
        px = [
            (base + 3 * j, base + 3 * j + 1, base + 3 * j + 2)
            for j in range(w * h)
        ]
        ct = _PNG_CT_CYCLE[doc_id % 5]
        # depth/interlace cycle is oracle-neutral: means are
        # over raw samples, and the same 0..255 values are
        # valid 16-bit samples; palette stays 8-bit (spec)
        return encode_png(
            w,
            h,
            px,
            colortype=ct,
            filters=[doc_id % 5] * h,
            bitdepth=16 if doc_id % 3 == 0 and ct != 3 else 8,
            interlace=1 if doc_id % 7 == 0 else 0,
        )

    shaped = doc_payloads(spark, sf_dir, payload)
    return pixel_stats(shaped)


# color types 0 and 4 (cycle indices 0 and 3) are grayscale: the gray
# byte is the pixel's R component, reported on all three channels
ORACLE_Q126 = """
SELECT doc_id AS id,
       'png' AS format,
       CAST(doc_id % 3 + 2 AS INTEGER) AS width,
       CAST(doc_id % 2 + 1 AS INTEGER) AS height,
       CAST(doc_id % 200 AS DOUBLE)
         + 3.0 * ((doc_id % 3 + 2) * (doc_id % 2 + 1) - 1) / 2 AS mean_r,
       CAST(doc_id % 200 AS DOUBLE)
         + 3.0 * ((doc_id % 3 + 2) * (doc_id % 2 + 1) - 1) / 2
         + CASE WHEN doc_id % 5 IN (0, 3) THEN 0 ELSE 1 END AS mean_g,
       CAST(doc_id % 200 AS DOUBLE)
         + 3.0 * ((doc_id % 3 + 2) * (doc_id % 2 + 1) - 1) / 2
         + CASE WHEN doc_id % 5 IN (0, 3) THEN 0 ELSE 2 END AS mean_b
FROM documents
"""


# ---------------------------------------------------------------------------
# q127 real LOSSY-compressed pixel decode: baseline JPEG (SOF0)
# ---------------------------------------------------------------------------


def q127_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG pixel decode under the driver gate: build
    valid SOF0 JPEGs per document with the codec-free encoder
    (operators/jpeg.encode_jpeg — float64 DCT, uniform quant 8,
    Annex-K Huffman tables, byte stuffing, optional restart markers),
    then recover per-channel means with the distributed decoder.

    Exactness despite lossy JPEG: every 8x8 block is SOLID, so the
    only nonzero coefficient is DC = 8(v-128), which quantizes by 8
    losslessly — the decoded raster equals the encoded one bit-for-bit
    and the DuckDB oracle stays closed-form. Even doc_ids build a
    16x8 GRAY image from two different block values (exercises DC
    DPCM with negative diffs, category coding, EOB; doc_id%6==0 adds
    restart markers every MCU); odd doc_ids build a solid-COLOR 8x8
    (exercises 3-component interleave, chroma quant/Huffman tables,
    and the JFIF YCbCr round trip, whose floor(x+0.5) arithmetic the
    oracle mirrors verbatim). The AC/zigzag/ZRL paths that cannot be
    made arithmetically exact are covered by property tests against
    an independent loop-written IDCT (tests/test_multimodal_pixels)."""
    from synthea_etl_spark.operators.jpeg import encode_jpeg
    from synthea_etl_spark.operators.multimodal import pixel_stats

    def payload(doc_id):
        if doc_id % 2 == 0:
            v0, v1 = doc_id % 251, (doc_id * 3 + 17) % 251
            pix = [
                ((v0 if x < 8 else v1),) * 3
                for _ in range(8)
                for x in range(16)
            ]
            return encode_jpeg(
                16, 8, pix, gray=True,
                restart_interval=1 if doc_id % 6 == 0 else 0,
            )
        else:
            rgb = (
                doc_id % 256,
                (doc_id * 5 + 3) % 256,
                (doc_id * 11 + 7) % 256,
            )
            return encode_jpeg(8, 8, [rgb] * 64)

    shaped = doc_payloads(spark, sf_dir, payload)
    return pixel_stats(shaped)


# color constants verbatim from operators/jpeg._YCC; FLOOR(x+0.5) is
# the shared rounding convention, LEAST/GREATEST the shared clamp —
# identical float64 ops on both engines, so the hash match is exact
ORACLE_Q127 = """
WITH ycc AS (
  SELECT doc_id,
         FLOOR(0.299 * (doc_id % 256)
               + 0.587 * ((doc_id * 5 + 3) % 256)
               + 0.114 * ((doc_id * 11 + 7) % 256) + 0.5) AS y,
         FLOOR(-0.168735892 * (doc_id % 256)
               - 0.331264108 * ((doc_id * 5 + 3) % 256)
               + 0.5 * ((doc_id * 11 + 7) % 256) + 128 + 0.5) AS cb,
         FLOOR(0.5 * (doc_id % 256)
               - 0.418687589 * ((doc_id * 5 + 3) % 256)
               - 0.081312411 * ((doc_id * 11 + 7) % 256) + 128 + 0.5) AS cr
  FROM documents
)
SELECT doc_id AS id,
       'jpeg' AS format,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS INTEGER) AS width,
       CAST(8 AS INTEGER) AS height,
       CASE WHEN doc_id % 2 = 0
            THEN ((doc_id % 251) + ((doc_id * 3 + 17) % 251)) / 2.0
            ELSE LEAST(255, GREATEST(0,
                 FLOOR(y + 1.402 * (cr - 128) + 0.5)))
       END AS mean_r,
       CASE WHEN doc_id % 2 = 0
            THEN ((doc_id % 251) + ((doc_id * 3 + 17) % 251)) / 2.0
            ELSE LEAST(255, GREATEST(0,
                 FLOOR(y - 0.344136286 * (cb - 128)
                         - 0.714136286 * (cr - 128) + 0.5)))
       END AS mean_g,
       CASE WHEN doc_id % 2 = 0
            THEN ((doc_id % 251) + ((doc_id * 3 + 17) % 251)) / 2.0
            ELSE LEAST(255, GREATEST(0,
                 FLOOR(y + 1.772 * (cb - 128) + 0.5)))
       END AS mean_b
FROM documents JOIN ycc USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q128 real VIDEO frame decode: Y4M (YUV4MPEG2) container
# ---------------------------------------------------------------------------


def q128_y4m_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame decode under the driver gate, no codec: Y4M
    (YUV4MPEG2) is raw planar YUV behind ASCII markers — the video
    analogue of PPM — so frame extraction is exact byte slicing
    (operators/multimodal.parse_y4m). Per document, synthesize a
    spec-valid stream whose geometry, frame count, colorspace
    (C420jpeg/C444/C422/Cmono by doc_id%4 — all four subsampling
    layouts, including null-chroma mono), and per-plane byte ramps
    derive from doc_id; doc_id%5==0 adds an X-parameter to every
    FRAME marker (the skip path). video_frame_stats keeps every 2nd
    frame (1-to-many row explosion) and computes per-plane means as
    exact int64 sums / plane size, so the DuckDB oracle recovers them
    arithmetically — a hash match proves header tokenization, marker
    walking, plane-size arithmetic under each subsampling, AND the
    frame sampling stride."""
    from synthea_etl_spark.operators.multimodal import (
        encode_y4m,
        video_frame_stats,
    )

    cs_cycle = ("C420jpeg", "C444", "C422", "Cmono")

    def payload(doc_id):
        w = (doc_id % 2 + 1) * 2          # 2 or 4 (even: 420-safe)
        h = (doc_id % 3 + 1) * 2          # 2, 4, 6
        n_frames = doc_id % 3 + 2         # 2..4
        cs = cs_cycle[doc_id % 4]
        wd, hd = (2, 2) if cs.startswith("C420") else \
            (1, 1) if cs == "C444" else (2, 1)
        n_chroma = (w // wd) * (h // hd)
        frames = []
        for k in range(n_frames):
            base = doc_id % 100 + 17 * k
            y = bytes(base + j for j in range(w * h))
            if cs == "Cmono":
                frames.append((y, None, None))
            else:
                u = bytes(base + 29 + j for j in range(n_chroma))
                v = bytes(base + 58 + j for j in range(n_chroma))
                frames.append((y, u, v))
        return encode_y4m(
            w, h, frames, cs,
            frame_params="Xsparkgraft" if doc_id % 5 == 0 else "",
        )

    shaped = doc_payloads(spark, sf_dir, payload)
    return video_frame_stats(shaped, every_n=2)


# chroma plane size per colorspace cycle index (doc_id%4):
# 0 C420jpeg -> (w/2)*(h/2); 1 C444 -> w*h; 2 C422 -> (w/2)*h; 3 Cmono -> none
ORACLE_Q128 = """
WITH geom AS (
  SELECT doc_id,
         (doc_id % 2 + 1) * 2 AS w,
         (doc_id % 3 + 1) * 2 AS h,
         doc_id % 3 + 2 AS nf,
         doc_id % 4 AS csi
  FROM documents
), frames AS (
  SELECT doc_id, w, h, nf, csi, k.k AS k,
         CASE csi WHEN 0 THEN (w / 2) * (h / 2)
                  WHEN 1 THEN w * h
                  WHEN 2 THEN (w / 2) * h
                  ELSE NULL END AS nc
  FROM geom, (SELECT UNNEST(range(4)) AS k) k
  WHERE k.k < nf AND k.k % 2 = 0
)
SELECT doc_id AS id,
       CAST(k AS INTEGER) AS frame_idx,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CASE csi WHEN 0 THEN 'C420jpeg' WHEN 1 THEN 'C444'
                WHEN 2 THEN 'C422' ELSE 'Cmono' END AS colorspace,
       doc_id % 100 + 17 * k + (w * h - 1) / 2.0 AS mean_y,
       doc_id % 100 + 17 * k + 29 + (nc - 1) / 2.0 AS mean_u,
       doc_id % 100 + 17 * k + 58 + (nc - 1) / 2.0 AS mean_v
FROM frames
"""


# ---------------------------------------------------------------------------
# q129 real AUDIO decode: WAV (RIFF PCM) container
# ---------------------------------------------------------------------------


def q129_wav_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the driver gate, no codec: uncompressed
    PCM WAV completes the modality trio (PPM/BMP images, Y4M video,
    RIFF/WAVE audio — operators/multimodal.parse_wav). Per document,
    synthesize a spec-valid WAV whose channel count (mono/stereo by
    doc_id%2), bit width (u8/s16le by doc_id%3), length, and sample
    rate derive from doc_id; samples are interleaved linear ramps
    (sample(j, c) = base + 2j + c, negative bases for 16-bit) so
    per-channel means are closed-form; doc_id%7==0 inserts an
    odd-sized JUNK chunk before data (the chunk-skip + pad-byte
    path). audio_stats recovers exact int64-sum means distributed —
    a hash match proves RIFF chunk walking, fmt parsing, channel
    de-interleaving for both sample widths, and signed 16-bit
    arithmetic."""
    from synthea_etl_spark.operators.multimodal import (
        audio_stats,
        encode_wav,
    )

    def payload(doc_id):
        nch = doc_id % 2 + 1
        bits = 8 if doc_id % 3 == 0 else 16
        n = doc_id % 50 + 10
        rate = 8000 + doc_id % 5 * 1000
        if bits == 8:
            base = doc_id % 100  # max 99 + 2*58 + 1 = 216 < 256
            chans = [
                bytes(base + 2 * j + c for j in range(n))
                for c in range(nch)
            ]
        else:
            base = doc_id % 1000 - 500
            chans = [
                struct.pack(
                    f"<{n}h", *(base + 2 * j + c for j in range(n))
                )
                for c in range(nch)
            ]
        return encode_wav(
            rate, chans, bits,
            junk_chunk=b"pad" if doc_id % 7 == 0 else None,
        )

    shaped = doc_payloads(spark, sf_dir, payload)
    return audio_stats(shaped)


# mean over j of (base + 2j + c) = base + (n-1) + c
ORACLE_Q129 = """
SELECT doc_id AS id,
       CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
       CAST(8000 + doc_id % 5 * 1000 AS INTEGER) AS sample_rate,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INTEGER) AS bits,
       CAST(doc_id % 50 + 10 AS INTEGER) AS n_frames,
       CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 100
                 ELSE doc_id % 1000 - 500 END
            + (doc_id % 50 + 10) - 1 AS DOUBLE) AS mean_left,
       CASE WHEN doc_id % 2 = 1
            THEN CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 100
                           ELSE doc_id % 1000 - 500 END
                 + (doc_id % 50 + 10) AS DOUBLE)
            ELSE NULL END AS mean_right
FROM documents
"""


# ---------------------------------------------------------------------------
# q130 real raster RESIZE: decode -> nearest-neighbor -> PPM re-encode
# ---------------------------------------------------------------------------


def q130_resize_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize under the driver gate, codec-free end to
    end: reuse q125's JVM-synthesized rasters (even doc_id -> 24-bit
    bottom-up BMP, odd -> binary PPM, 4 × (doc_id%3+1) ramp pixels),
    nearest-neighbor resize to 2x2 via operators/multimodal.
    resize_payloads (decode_raster -> exact integer-index resample ->
    encode_ppm), then pixel_stats over the RESIZED payloads. Because
    NN sampling is pure integer arithmetic — target (x, y) samples
    source (x*sw//2, y*sh//2) — the resized means are closed-form in
    doc_id, and the BMP side's bottom-up row flip shows up in the
    oracle as a DIFFERENT sampled-row formula than the PPM side: a
    hash match therefore proves raster decode orientation, the
    resample index math, AND the PPM re-encode round trip. All three
    stages are Arrow-batched mapInPandas; the only shuffle is the
    narrow-scan rebalance of the pre-payload doc_id frame."""
    from synthea_etl_spark.operators.multimodal import (
        pixel_stats,
        resize_payloads,
    )

    d = rebalance_by_key(load(spark, sf_dir, "documents"), "doc_id")
    payload_hex = F.expr(
        "CASE WHEN doc_id % 2 = 0 THEN " + _BMP_HEX + " ELSE " + _PPM_HEX + " END"
    )
    payload = F.unhex(payload_hex)
    shaped = d.select(
        F.col("doc_id").alias("id"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("image/bmp"))
            .otherwise(F.lit("image/x-portable-pixmap"))
            .alias("content_type"),
        ).alias("meta"),
    )
    resized = resize_payloads(shaped, 2, 2)
    return pixel_stats(resized.select("id", "payload"))


# NN 2x2 from a 4×h ramp raster: sampled source columns {0, 2} and
# rows {0, h//2} (visual); the BMP payload stores rows bottom-up, so
# its sampled STORED rows are {h-1, h-1-h//2} and its first stored
# channel is blue (r_off 2) — both mirrored arithmetically here
ORACLE_Q130 = f"""
WITH g AS (
  SELECT doc_id,
         CAST({_PX_BASE} AS DOUBLE) AS base,
         ({_PX_H}) AS h
  FROM documents
), m AS (
  SELECT doc_id, base,
         CASE WHEN doc_id % 2 = 0
              THEN 2 * (h - 1) + 2 * (h - 1 - h // 2) + 1
              ELSE 2 * (h // 2) + 1
         END AS mean_j,
         CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS r_off,
         CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END AS b_off
  FROM g
)
SELECT doc_id AS id,
       'ppm' AS format,
       CAST(2 AS INTEGER) AS width,
       CAST(2 AS INTEGER) AS height,
       base + 3 * mean_j + r_off AS mean_r,
       base + 3 * mean_j + 1 AS mean_g,
       base + 3 * mean_j + b_off AS mean_b
FROM m
"""


# ---------------------------------------------------------------------------
# q131 mixed-corpus media census: the degradation contract under the gate
# ---------------------------------------------------------------------------


def q131_media_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-corpus decode census: real corpora are never one format,
    so this gates pixel_stats' null-degradation contract itself.
    doc_id%4 cycles BMP / PPM / PNG / garbage payloads; pixel_stats
    decodes what it can (garbage yields null format/stats rows and
    the corpus KEEPS FLOWING), then a per-format aggregate counts
    rows and averages mean_r. All pixel values are multiples of 0.5
    with exact int-sum provenance, so the per-format averages are
    bit-exact in float64 on both engines and the hash match proves
    the decode dispatch, the null routing, AND the aggregate. Plan
    shape: rebalance of the tiny doc_id frame, one Python decode
    stage, one 4-group aggregate — a single shuffle of 4-row
    partials."""
    from synthea_etl_spark.operators.multimodal import (
        encode_png,
        pixel_stats,
    )

    def payload(doc_id):
        w, h = 2, 2
        base = doc_id % 200
        px = [
            (base + 3 * j, base + 3 * j + 1, base + 3 * j + 2)
            for j in range(w * h)
        ]
        kind = doc_id % 4
        if kind == 0:  # 24-bit bottom-up BMP, stride pad at w=2
            stride = 8
            rows = []
            for r in (1, 0):  # bottom-up storage
                row = b"".join(
                    bytes((px[r * 2 + c][2], px[r * 2 + c][1], px[r * 2 + c][0]))
                    for c in range(2)
                )
                rows.append(row.ljust(stride, b"\x00"))
            raster = b"".join(rows)
            return (
                b"BM"
                + (54 + len(raster)).to_bytes(4, "little")
                + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
                + (40).to_bytes(4, "little")
                + (2).to_bytes(4, "little", signed=True)
                + (2).to_bytes(4, "little", signed=True)
                + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
                + (0).to_bytes(4, "little") + len(raster).to_bytes(4, "little")
                + b"\x00" * 16
                + raster
            )
        elif kind == 1:  # binary PPM
            return b"P6\n2 2\n255\n" + b"".join(bytes(p) for p in px)
        elif kind == 2:  # PNG, RGB, filter 0
            return encode_png(w, h, px, colortype=2)
        else:  # garbage -- must degrade, not fail
            return b"\x00GARBAGE" + doc_id.to_bytes(4, "big")

    shaped = doc_payloads(spark, sf_dir, payload)
    return (
        pixel_stats(shaped)
        .groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("mean_r").alias("sum_mean_r"),
        )
    )


# mean_r of a 2x2 ramp raster = doc_id%200 + 4.5 for every decodable
# format; the garbage quarter contributes a NULL-format group with a
# null sum. SUM (not AVG) keeps the float arithmetic to exact
# multiples of 0.5 at any corpus size.
ORACLE_Q131 = """
SELECT CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                       WHEN 2 THEN 'png' ELSE NULL END AS format,
       COUNT(*) AS n_docs,
       SUM(CASE WHEN doc_id % 4 = 3 THEN NULL
                ELSE doc_id % 200 + 4.5 END) AS sum_mean_r
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q132 audio dominant frequency: real DSP (FFT) under the gate
# ---------------------------------------------------------------------------


def q132_wav_dominant_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction under the driver gate: per
    document, synthesize a mono 16-bit WAV holding a quantized pure
    tone ON bin center k = doc_id%31 + 1 of a 64-point window
    (sample j = round(A*sin(2*pi*k*j/64)), A = 1000 + doc_id%500),
    then recover k distributed via operators/multimodal.audio_spectral
    (parse_wav -> rfft -> argmax over non-DC bins). On-bin tones have
    a peak of order A*n/2 against quantization noise of order
    sqrt(n), so the argmax is exact and platform-independent — the
    floating-point FFT feeds an integer answer the DuckDB oracle
    states arithmetically. Proves the chunk walk, s16le decode, and
    the spectral plumbing end to end."""
    from synthea_etl_spark.operators.multimodal import (
        audio_spectral,
        encode_wav,
    )

    n = 64

    def payload(doc_id):
        k = doc_id % 31 + 1
        amp = 1000 + doc_id % 500
        samples = [
            round(amp * math.sin(2 * math.pi * k * j / n))
            for j in range(n)
        ]
        return encode_wav(8000, [struct.pack(f"<{n}h", *samples)], 16)

    shaped = doc_payloads(spark, sf_dir, payload)
    return audio_spectral(shaped, n_fft=64)


ORACLE_Q132 = """
SELECT doc_id AS id,
       CAST(1 AS INTEGER) AS channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(64 AS INTEGER) AS n_frames,
       CAST(64 AS INTEGER) AS n_fft,
       CAST(doc_id % 31 + 1 AS INTEGER) AS dominant_bin
FROM documents
"""


# ---------------------------------------------------------------------------
# q133 training-data export: WebDataset tar shards + manifest
# ---------------------------------------------------------------------------


def q133_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export under the driver gate: pack the documents
    corpus into WebDataset-style tar shards (operators/shards.py —
    deterministic placement id//100, deterministic bytes, atomic
    rename publish) and return the manifest. The gated projection is
    the arithmetic part (shard_id, n_docs, payload_bytes) so the
    DuckDB oracle can state it from strlen(text); the tar byte
    determinism itself (stable sha256 across runs, readable-back
    members) is pinned by tests/test_shards.py. Plan shape: one
    shuffle on the derived shard id, one applyInPandas stage that
    writes shards executor-side — no driver involvement, no global
    sort, thousands of shards write in parallel at scale."""
    import os
    import tempfile

    from synthea_etl_spark.operators.multimodal import attach_payload
    from synthea_etl_spark.operators.shards import write_webdataset_shards

    d = load(spark, sf_dir, "documents")
    shaped = attach_payload(d, "text", "doc_id", "text/plain")
    out_dir = os.path.join(
        tempfile.gettempdir(),
        "sparkgraft_shards",
        os.path.basename(os.path.normpath(sf_dir)) or "default",
    )
    manifest = write_webdataset_shards(shaped, out_dir, docs_per_shard=100)
    return manifest.select("shard_id", "n_docs", "payload_bytes")


ORACLE_Q133 = """
SELECT doc_id // 100 AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(STRLEN(text)) AS BIGINT) AS payload_bytes
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q134 real GIF pixel decode: LZW + palette + extension skipping
# ---------------------------------------------------------------------------


def q134_gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode under the driver gate (operators/gif.py —
    variable-width LZW per the GIF89a spec, LSB-first bit packing,
    dictionary growth with CLEAR restart, global color table,
    extension-block skipping, interlace flag). Per document: a 6-pixel
    raster whose geometry cycles (3x2 / 2x3 / 6x1), palette size
    cycles the divisors of 6 (1/2/3/6) so index j%p covers every
    palette entry equally and the means stay closed-form, the
    interlace bit flips by parity (order-blind for means — the same
    observation the Adam7 path uses), and doc_id%3==0 prepends a
    comment extension (the skip path). A hash match therefore proves
    the LZW decode itself plus every descriptor walk."""
    from synthea_etl_spark.operators.gif import encode_gif
    from synthea_etl_spark.operators.multimodal import pixel_stats

    geoms = ((3, 2), (2, 3), (6, 1))
    sizes = (1, 2, 3, 6)

    def payload(doc_id):
        w, h = geoms[doc_id % 3]
        p = sizes[doc_id % 4]
        base = doc_id % 150
        palette = [(base + 7 * i, base + 7 * i + 1, base + 7 * i + 2) for i in range(p)]
        return encode_gif(
            w, h, [j % p for j in range(6)], palette,
            interlace=doc_id % 2 == 1,
            comment=b"sparkgraft" if doc_id % 3 == 0 else None,
        )

    shaped = doc_payloads(spark, sf_dir, payload)
    return pixel_stats(shaped)


# wh=6 is a multiple of every cycled palette size, so each entry
# appears 6/p times and mean_r = base + 7*(p-1)/2 exactly
ORACLE_Q134 = """
WITH g AS (
  SELECT doc_id,
         CAST(doc_id % 150 AS DOUBLE) AS base,
         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                         WHEN 2 THEN 3 ELSE 6 END AS p
  FROM documents
)
SELECT doc_id AS id,
       'gif' AS format,
       CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 6 END
            AS INTEGER) AS width,
       CAST(CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 1 END
            AS INTEGER) AS height,
       base + 7 * (p - 1) / 2.0 AS mean_r,
       base + 7 * (p - 1) / 2.0 + 1 AS mean_g,
       base + 7 * (p - 1) / 2.0 + 2 AS mean_b
FROM g
"""


# ---------------------------------------------------------------------------
# q135 windowed audio features: RMS / mean per fixed window
# ---------------------------------------------------------------------------


def q135_wav_rms_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction under the driver gate: per
    document, a mono s16le WAV whose samples are the deterministic
    ramp base + 2j (base = doc_id%800 - 400, length 16 * (doc_id%3+1)),
    decoded distributed into non-overlapping 16-frame windows with
    per-window RMS and mean (operators/multimodal.audio_rms_windows —
    1-to-many row explosion, exact int64 sums under the float64
    sqrt). The oracle REGENERATES the samples in SQL (range joins)
    and computes the same aggregates — both engines do IEEE sqrt over
    identical exact integers, so the hash match is exact without a
    closed form. Proves the window slicing, the trailing-partial
    drop, signed PCM decode, and the feature math end to end."""
    from synthea_etl_spark.operators.multimodal import (
        audio_rms_windows,
        encode_wav,
    )

    def payload(doc_id):
        base = doc_id % 800 - 400
        n = 16 * (doc_id % 3 + 1) + doc_id % 5  # partial tail to drop
        vals = [base + 2 * j for j in range(n)]
        return encode_wav(8000, [struct.pack(f"<{n}h", *vals)], 16)

    shaped = doc_payloads(spark, sf_dir, payload)
    return audio_rms_windows(shaped, window=16)


# the oracle regenerates the ramp samples with range() and aggregates
# them per window: identical exact integers -> identical doubles
ORACLE_Q135 = """
WITH samples AS (
  SELECT d.doc_id,
         CAST(w.range AS INTEGER) AS window_idx,
         d.doc_id % 3 + 1 AS n_windows,
         (d.doc_id % 800 - 400) + 2 * (w.range * 16 + j.range) AS v
  FROM documents d,
       range(3) w,
       range(16) j
  WHERE w.range < d.doc_id % 3 + 1
)
SELECT doc_id AS id,
       window_idx,
       CAST(n_windows AS INTEGER) AS n_windows,
       CAST(16 AS INTEGER) AS window,
       SQRT(SUM(CAST(v AS DOUBLE) * v) / 16) AS rms,
       SUM(CAST(v AS DOUBLE)) / 16 AS mean
FROM samples
GROUP BY doc_id, window_idx, n_windows
"""


# ---------------------------------------------------------------------------
# q136 animated-GIF frame decode: per-frame LZW + local tables
# ---------------------------------------------------------------------------


def q136_gif_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF decode under the driver gate: per document,
    a GIF89a animation of doc_id%3+2 full-size frames — each with its
    OWN local color table (palette base shifts 11 per frame) and a
    graphic control extension; doc_id%4==0 adds the NETSCAPE looping
    application extension (another skip path). gif_frame_stats keeps
    every 2nd frame through the 1-to-many explosion; the q134 palette
    arithmetic extends per-frame, so the oracle is closed-form. A
    hash match proves per-frame LZW decode, local-table override,
    GCE/application-extension skipping between frames, AND the
    sampling stride. Same geometry/palette-size cycling as q134
    (6-pixel frames, palette sizes over the divisors of 6)."""
    from synthea_etl_spark.operators.gif import encode_gif_animation
    from synthea_etl_spark.operators.multimodal import gif_frame_stats

    geoms = ((3, 2), (2, 3), (6, 1))
    sizes = (1, 2, 3, 6)

    def payload(doc_id):
        w, h = geoms[doc_id % 3]
        p = sizes[doc_id % 4]
        base = doc_id % 140
        frames = []
        for k in range(doc_id % 3 + 2):
            pal = [
                (base + 11 * k + 7 * i,
                 base + 11 * k + 7 * i + 1,
                 base + 11 * k + 7 * i + 2)
                for i in range(p)
            ]
            frames.append(([j % p for j in range(6)], pal))
        return encode_gif_animation(w, h, frames, loop=doc_id % 4 == 0)

    shaped = doc_payloads(spark, sf_dir, payload)
    return gif_frame_stats(shaped, every_n=2)


# frame k's palette shifts by 11k; wh=6 divides every palette size, so
# mean_r(k) = base + 11k + 7*(p-1)/2 exactly
ORACLE_Q136 = """
WITH g AS (
  SELECT doc_id,
         CAST(doc_id % 140 AS DOUBLE) AS base,
         doc_id % 3 + 2 AS nf,
         CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                         WHEN 2 THEN 3 ELSE 6 END AS p
  FROM documents
)
SELECT doc_id AS id,
       CAST(k.range AS INTEGER) AS frame_idx,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 2 ELSE 6 END
            AS INTEGER) AS width,
       CAST(CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 3 ELSE 1 END
            AS INTEGER) AS height,
       base + 11 * k.range + 7 * (p - 1) / 2.0 AS mean_r,
       base + 11 * k.range + 7 * (p - 1) / 2.0 + 1 AS mean_g,
       base + 11 * k.range + 7 * (p - 1) / 2.0 + 2 AS mean_b
FROM g, range(4) k
WHERE k.range < nf AND k.range % 2 = 0
"""


# ---------------------------------------------------------------------------
# q137 PROGRESSIVE JPEG (SOF2) pixel decode: multi-scan refinement
# ---------------------------------------------------------------------------


def q137_progressive_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode under the driver gate: per
    document, a multi-scan SOF2 stream from the codec-free progressive
    encoder (operators/jpeg.encode_jpeg_progressive) — spectral
    selection, DC/AC successive approximation, EOB-run coding — then
    per-channel means via the distributed decoder.

    Exactness despite lossy JPEG: the same solid-block argument as
    q127 (only DC coefficients nonzero; DC = 8(v-128) under uniform
    quant 8 is lossless), so the full successive-approximation ladder
    reconstructs the raster bit-for-bit and the DuckDB oracle stays
    closed-form. The progression parameters CYCLE with doc_id so the
    gate covers the scan-shape space: dc_al in {0,1,2} (raw-bit DC
    refinement scans), ac_al in {0,1,2,3} (AC correction-bit scans),
    band_split in {1,6,33} (spectral band boundaries), and
    doc_id%6==0 adds restart markers to EVERY scan. Even doc_ids are
    two-value 16x8 gray images (DC DPCM with negative diffs +
    EOBRUN accumulation across blocks); odd doc_ids solid-color 8x8
    (3-component non-interleaved AC scans + JFIF YCbCr round trip,
    mirrored verbatim by the oracle). The nonzero-AC refinement paths
    that cannot be arithmetically exact are pinned by the
    baseline-vs-progressive differential property test
    (tests/test_jpeg_progressive.py)."""
    from synthea_etl_spark.operators.jpeg import encode_jpeg_progressive
    from synthea_etl_spark.operators.multimodal import pixel_stats

    splits = (1, 6, 33)

    def payload(doc_id):
        kw = dict(
            dc_al=doc_id % 3,
            ac_al=doc_id % 4,
            band_split=splits[doc_id % 3],
            restart_interval=1 if doc_id % 6 == 0 else 0,
        )
        if doc_id % 2 == 0:
            v0, v1 = doc_id % 251, (doc_id * 3 + 17) % 251
            pix = [
                ((v0 if x < 8 else v1),) * 3
                for _ in range(8)
                for x in range(16)
            ]
            return encode_jpeg_progressive(16, 8, pix, gray=True, **kw)
        else:
            rgb = (
                doc_id % 256,
                (doc_id * 5 + 3) % 256,
                (doc_id * 11 + 7) % 256,
            )
            return encode_jpeg_progressive(8, 8, [rgb] * 64, **kw)

    shaped = doc_payloads(spark, sf_dir, payload)
    return pixel_stats(shaped)


# same pixel constructions as q127 (solid blocks are exact under any
# scan script), so the closed-form oracle is q127's verbatim
ORACLE_Q137 = ORACLE_Q127


# ---------------------------------------------------------------------------
# q138 COMPRESSED audio decode: G.711 mu-law / A-law expansion
# ---------------------------------------------------------------------------


def q138_g711_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode under the driver gate: G.711
    logarithmic companding (telephony WAVs; fmt tags 7=mu-law,
    6=A-law). Per document, a stereo WAV whose two channels each hold
    a CONSTANT code byte derived from doc_id — the decoded per-channel
    mean is then exactly the G.711 expansion of that byte, which the
    DuckDB oracle recomputes from the published closed-form bit layout
    (invert / XOR 0x55, 3-bit segment shift, 4-bit mantissa, bias).
    Even doc_ids use mu-law, odd A-law; a hash match over all 256
    byte values (doc_id cycles them) proves the full expansion tables
    of BOTH laws, the 8-bit frame de-interleave, and the fmt-tag
    routing in parse_wav."""
    from synthea_etl_spark.operators.audio_codecs import encode_wav_g711
    from synthea_etl_spark.operators.multimodal import audio_stats

    def payload(doc_id):
        law = "ulaw" if doc_id % 2 == 0 else "alaw"
        b0 = doc_id % 256
        b1 = (doc_id * 7 + 13) % 256
        n = doc_id % 5 + 2
        return encode_wav_g711(8000, [bytes([b0] * n), bytes([b1] * n)], law)

    shaped = doc_payloads(spark, sf_dir, payload)
    return audio_stats(shaped)


# the G.711 expansions as pure integer SQL — mu-law: u = NOT byte;
# sample = +/-(((u%16)*8 + 132) << seg) - 132); A-law: a = byte XOR
# 0x55; segment 0 linear else shifted; sign bit SET is positive
ORACLE_Q138 = """
WITH codes AS (
  SELECT doc_id,
         doc_id % 256 AS b0,
         (doc_id * 7 + 13) % 256 AS b1,
         doc_id % 2 = 0 AS is_ulaw
  FROM documents
), expand AS (
  SELECT doc_id, is_ulaw, b0, b1,
         255 - b0 AS u0, 255 - b1 AS u1,
         xor(b0, 85) AS a0, xor(b1, 85) AS a1
  FROM codes
), dec AS (
  SELECT doc_id, is_ulaw,
         CASE WHEN u0 >= 128 THEN 132 - (((u0 % 16) * 8 + 132) * (1 << ((u0 // 16) % 8)))
              ELSE (((u0 % 16) * 8 + 132) * (1 << ((u0 // 16) % 8))) - 132 END AS ul0,
         CASE WHEN u1 >= 128 THEN 132 - (((u1 % 16) * 8 + 132) * (1 << ((u1 // 16) % 8)))
              ELSE (((u1 % 16) * 8 + 132) * (1 << ((u1 // 16) % 8))) - 132 END AS ul1,
         CASE WHEN a0 >= 128 THEN 1 ELSE -1 END
           * CASE (a0 // 16) % 8
               WHEN 0 THEN (a0 % 16) * 16 + 8
               WHEN 1 THEN (a0 % 16) * 16 + 264
               ELSE ((a0 % 16) * 16 + 264) * (1 << (((a0 // 16) % 8) - 1))
             END AS al0,
         CASE WHEN a1 >= 128 THEN 1 ELSE -1 END
           * CASE (a1 // 16) % 8
               WHEN 0 THEN (a1 % 16) * 16 + 8
               WHEN 1 THEN (a1 % 16) * 16 + 264
               ELSE ((a1 % 16) * 16 + 264) * (1 << (((a1 // 16) % 8) - 1))
             END AS al1
  FROM expand
)
SELECT doc_id AS id,
       CAST(2 AS INTEGER) AS channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(8 AS INTEGER) AS bits,
       CAST(doc_id % 5 + 2 AS INTEGER) AS n_frames,
       CAST(CASE WHEN is_ulaw THEN ul0 ELSE al0 END AS DOUBLE) AS mean_left,
       CAST(CASE WHEN is_ulaw THEN ul1 ELSE al1 END AS DOUBLE) AS mean_right
FROM dec
"""


# ---------------------------------------------------------------------------
# q139 COMPRESSED audio decode: IMA/DVI ADPCM block state machine
# ---------------------------------------------------------------------------


def q139_adpcm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ADPCM decode under the driver gate (fmt tag 0x11): per
    document, a mono IMA ADPCM WAV of doc_id%3+1 blocks, 17 samples
    per block (12-byte blocks: header + two 4-byte nibble groups).
    Every block holds a CONSTANT signal at a doc_id-derived int16
    predictor, so the encoder twin emits all-zero nibbles and the
    decoder's state machine must hold the predictor exactly
    (nibble 0 at step index 0 adds step_table[0] >> 3 == 0): the
    per-doc mean is the closed-form average of the block predictors.
    A hash match proves block segmentation, header predictor/index
    parsing, nibble unpacking, and the zero-delta fixed point of the
    step state machine; the nonzero-nibble dynamics are pinned by the
    encoder/decoder state-agreement property test
    (tests/test_audio_codecs.py)."""
    from synthea_etl_spark.operators.audio_codecs import encode_wav_ima_adpcm
    from synthea_etl_spark.operators.multimodal import audio_stats

    def payload(doc_id):
        nblocks = doc_id % 3 + 1
        sig: list[int] = []
        for k in range(nblocks):
            p = (doc_id * 31 + 9973 * k) % 60001 - 30000
            sig.extend([p] * 17)
        return encode_wav_ima_adpcm(8000, [sig], 17)

    shaped = doc_payloads(spark, sf_dir, payload)
    return audio_stats(shaped)


# block k's 17 samples all equal its predictor, so the mean is the
# plain average of the per-block predictors
ORACLE_Q139 = """
WITH g AS (
  SELECT doc_id, doc_id % 3 + 1 AS nblocks FROM documents
)
SELECT doc_id AS id,
       CAST(1 AS INTEGER) AS channels,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(4 AS INTEGER) AS bits,
       CAST(17 * nblocks AS INTEGER) AS n_frames,
       (SELECT AVG((doc_id * 31 + 9973 * k.range) % 60001 - 30000)
        FROM range(3) k WHERE k.range < nblocks) AS mean_left,
       CAST(NULL AS DOUBLE) AS mean_right
FROM g
"""


# ---------------------------------------------------------------------------
# q140 token-window document chunking with overlap (RAG/pretraining)
# ---------------------------------------------------------------------------


def q140_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking with overlap over the documents corpus —
    the standard RAG / pretraining chunker (window 16, overlap 4,
    stride 12; chunk count = max(1, ceil((n-4)/12)) so every chunk
    past the first covers new tokens). Pure JVM expression chain
    (split -> sequence -> explode -> slice -> array_join), one
    codegen span, no shuffle: a narrow 1-to-many transform that
    chunks 100 TB of text embarrassingly parallel. The DuckDB twin
    replicates the slice arithmetic with 1-based inclusive list
    slicing over a bounded range() join."""
    from synthea_etl_spark.operators.text import chunk_by_tokens

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_by_tokens(docs, window=16, overlap=4)


ORACLE_Q140 = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), g AS (
  SELECT doc_id, toks,
         GREATEST(1, CAST(CEIL((len(toks) - 4) / 12.0) AS BIGINT))
           AS n_chunks
  FROM t
)
SELECT doc_id AS id,
       CAST(k.range AS INTEGER) AS chunk_idx,
       CAST(n_chunks AS INTEGER) AS n_chunks,
       CAST(len(toks[k.range * 12 + 1 : k.range * 12 + 16]) AS INTEGER)
         AS chunk_tokens,
       array_to_string(toks[k.range * 12 + 1 : k.range * 12 + 16], ' ')
         AS chunk_text
FROM g, range(16) k WHERE k.range < n_chunks
"""


# ---------------------------------------------------------------------------
# q141 COMPRESSED video decode: MJPEG in an AVI (RIFF) container
# ---------------------------------------------------------------------------


def q141_mjpeg_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video decode under the driver gate: motion-JPEG
    AVIs (operators/avi.py) — RIFF container walk (LIST hdrl/strl/
    movi, '00dc' frame chunks, even padding, trailing idx1) with
    per-frame baseline-JPEG entropy decode (operators/jpeg.py). Per
    document, doc_id%3+2 frames whose solid-block constructions keep
    the decoded means closed-form (the q127 exactness argument,
    shifted per frame); doc_id%5==0 STRIPS the Huffman tables from
    every frame, forcing the MJPEG convention path where the decoder
    splices in the T.81 Annex-K defaults. avi_frame_stats keeps every
    2nd frame (1-to-many explosion). A hash match proves the
    container walk, handler validation, frame/container dimension
    cross-check, DHT-less decode, AND the sampling stride."""
    from synthea_etl_spark.operators.avi import (
        avi_frame_stats,
        encode_avi_mjpeg,
    )
    from synthea_etl_spark.operators.jpeg import encode_jpeg

    def payload(doc_id):
        nf = doc_id % 3 + 2
        frames = []
        for k in range(nf):
            if doc_id % 2 == 0:
                v0 = (doc_id + 7 * k) % 251
                v1 = (doc_id * 3 + 17 + 7 * k) % 251
                pix = [
                    ((v0 if x < 8 else v1),) * 3
                    for _ in range(8)
                    for x in range(16)
                ]
                frames.append(encode_jpeg(16, 8, pix, gray=True))
            else:
                rgb = (
                    (doc_id + 13 * k) % 256,
                    (doc_id * 5 + 3 + 13 * k) % 256,
                    (doc_id * 11 + 7 + 13 * k) % 256,
                )
                frames.append(encode_jpeg(8, 8, [rgb] * 64))
        w = 16 if doc_id % 2 == 0 else 8
        return encode_avi_mjpeg(w, 8, frames, strip_dht=doc_id % 5 == 0)

    shaped = doc_payloads(spark, sf_dir, payload)
    return avi_frame_stats(shaped, every_n=2)


# per-frame shift of the q127 closed forms: gray mean = (v0+v1)/2 with
# v0/v1 shifted 7 per frame; color = the JFIF YCbCr round trip of the
# 13-per-frame-shifted solid color, floor(x+0.5) + clamp mirrored
ORACLE_Q141 = """
WITH f AS (
  SELECT doc_id, k.range AS k, doc_id % 3 + 2 AS nf
  FROM documents, range(4) k
  WHERE k.range < doc_id % 3 + 2 AND k.range % 2 = 0
), rgb AS (
  SELECT doc_id, k, nf,
         (doc_id + 13 * k) % 256 AS r,
         (doc_id * 5 + 3 + 13 * k) % 256 AS g,
         (doc_id * 11 + 7 + 13 * k) % 256 AS b
  FROM f
), ycc AS (
  SELECT doc_id, k, nf,
         FLOOR(0.299 * r + 0.587 * g + 0.114 * b + 0.5) AS y,
         FLOOR(-0.168735892 * r - 0.331264108 * g + 0.5 * b + 128 + 0.5)
           AS cb,
         FLOOR(0.5 * r - 0.418687589 * g - 0.081312411 * b + 128 + 0.5)
           AS cr
  FROM rgb
)
SELECT doc_id AS id,
       CAST(k AS INTEGER) AS frame_idx,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS INTEGER)
         AS width,
       CAST(8 AS INTEGER) AS height,
       CASE WHEN doc_id % 2 = 0
            THEN (((doc_id + 7 * k) % 251)
                  + ((doc_id * 3 + 17 + 7 * k) % 251)) / 2.0
            ELSE LEAST(255, GREATEST(0,
                 FLOOR(y + 1.402 * (cr - 128) + 0.5)))
       END AS mean_r,
       CASE WHEN doc_id % 2 = 0
            THEN (((doc_id + 7 * k) % 251)
                  + ((doc_id * 3 + 17 + 7 * k) % 251)) / 2.0
            ELSE LEAST(255, GREATEST(0,
                 FLOOR(y - 0.344136286 * (cb - 128)
                         - 0.714136286 * (cr - 128) + 0.5)))
       END AS mean_g,
       CASE WHEN doc_id % 2 = 0
            THEN (((doc_id + 7 * k) % 251)
                  + ((doc_id * 3 + 17 + 7 * k) % 251)) / 2.0
            ELSE LEAST(255, GREATEST(0,
                 FLOOR(y + 1.772 * (cb - 128) + 0.5)))
       END AS mean_b
FROM ycc
"""


# ---------------------------------------------------------------------------
# q142 LOSSLESS compressed audio: FLAC (rice + predictors + stereo)
# ---------------------------------------------------------------------------


def q142_flac_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode under the driver gate (operators/flac.py):
    fLaC/STREAMINFO parse, frame sync + CRC-8/CRC-16 verification,
    UTF-8 frame numbers, FIXED and LPC subframes with Rice-coded
    residual partitions, and mid/side stereo decorrelation. Because
    FLAC is LOSSLESS the oracle needs no special construction — per
    document a deterministic linear ramp per channel decodes back
    bit-exactly, so means are the closed-form ramp average. The gate
    cycles channel count (mono/stereo), subframe type (fixed2 vs the
    LPC code path), partition order (0 vs 2), and mid/side
    decorrelation; block size 32 forces the 16-bit blocksize-escape
    header path and multi-frame streams."""
    from synthea_etl_spark.operators.flac import encode_flac, flac_stats

    def payload(doc_id):
        nch = doc_id % 2 + 1
        n = doc_id % 60 + 20
        chans = [
            [
                (doc_id * 5 + 7 * c) % 500 - 250 + 3 * j
                for j in range(n)
            ]
            for c in range(nch)
        ]
        return encode_flac(
            44100,
            chans,
            bits=16,
            block_size=32,
            stereo_mode=(
                "mid_side" if nch == 2 and doc_id % 4 == 1
                else "independent"
            ),
            subframe_mode="lpc2" if doc_id % 3 == 0 else "fixed2",
            partition_order=2 if doc_id % 5 == 0 else 0,
        )

    shaped = doc_payloads(spark, sf_dir, payload)
    return flac_stats(shaped)


# ramp mean: base_c + 3*(n-1)/2 with base_c = (doc_id*5+7c)%500 - 250
ORACLE_Q142 = """
WITH g AS (
  SELECT doc_id, doc_id % 2 + 1 AS nch, doc_id % 60 + 20 AS n
  FROM documents
)
SELECT doc_id AS id,
       CAST(nch AS INTEGER) AS channels,
       CAST(44100 AS INTEGER) AS sample_rate,
       CAST(16 AS INTEGER) AS bits,
       CAST(n AS INTEGER) AS n_frames,
       CAST((doc_id * 5) % 500 - 250 + 3 * (n - 1) / 2.0 AS DOUBLE)
         AS mean_left,
       CASE WHEN nch = 2
            THEN CAST((doc_id * 5 + 7) % 500 - 250 + 3 * (n - 1) / 2.0
                      AS DOUBLE)
            ELSE NULL END AS mean_right
FROM g
"""


# ---------------------------------------------------------------------------
# q143 WARC.gz web-archive ingestion (Common Crawl wire format)
# ---------------------------------------------------------------------------


def q143_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WARC.gz ingestion under the driver gate — the raw input
    format of web-scale training corpora (operators/warc.py): per
    document, a multi-member gzip archive (one member per record, the
    Common Crawl convention) whose record count, types, target URIs,
    and repeated-text payloads derive from doc_id. warc_records
    splits members with bounded inflate, parses version/header/
    Content-Length framing, and explodes to one row per record. A
    hash match proves gzip member boundaries (unused_data walking),
    header parsing, payload framing against Content-Length, the CRLF
    CRLF trailer check, AND UTF-8 payload decoding."""
    from synthea_etl_spark.operators.warc import (
        encode_warc_gz,
        warc_records,
    )

    def payload(doc_id):
        recs = []
        for k in range(doc_id % 3 + 1):
            text = f"doc {doc_id} rec {k} " * (k + 1)
            recs.append(
                {
                    "type": "response" if k % 2 == 0 else "request",
                    "uri": f"http://crawl.test/{doc_id}/{k}",
                    "payload": text.encode("utf-8"),
                }
            )
        return encode_warc_gz(recs)

    shaped = doc_payloads(spark, sf_dir, payload)
    return warc_records(shaped)


ORACLE_Q143 = """
WITH g AS (
  SELECT doc_id, k.range AS k, doc_id % 3 + 1 AS nr
  FROM documents, range(3) k
  WHERE k.range < doc_id % 3 + 1
)
SELECT doc_id AS id,
       CAST(k AS INTEGER) AS record_idx,
       CAST(nr AS INTEGER) AS n_records,
       CASE WHEN k % 2 = 0 THEN 'response' ELSE 'request' END AS warc_type,
       'http://crawl.test/' || doc_id || '/' || k AS target_uri,
       CAST(LENGTH(REPEAT('doc ' || doc_id || ' rec ' || k || ' ', k + 1))
            AS INTEGER) AS content_length,
       REPEAT('doc ' || doc_id || ' rec ' || k || ' ', k + 1)
         AS payload_text
FROM g
"""


# ---------------------------------------------------------------------------
# q144 real TIFF pixel decode: IFD walk + uncompressed strips
# ---------------------------------------------------------------------------


def q144_tiff_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode under the driver gate
    (operators/multimodal.encode_tiff/_decode_tiff): per document a
    baseline TIFF — header, first IFD, 8-bit uncompressed chunky
    strips — whose geometry and ramp pixels derive from doc_id. The
    gate cycles BYTE ORDER (II little vs MM big by doc_id%2, which
    also flips every IFD field's endianness), gray (photometric 1,
    one sample/pixel) vs RGB (photometric 2) by doc_id%5, and
    rows-per-strip 0/1/2 by doc_id%3 (single-strip inline offsets vs
    multi-strip out-of-line offset/count arrays). TIFF is lossless:
    ramp means are closed-form. Routed through decode_raster, so
    pixel_stats, resize_payloads, and the media census all gained
    TIFF with this one decoder."""
    from synthea_etl_spark.operators.multimodal import (
        encode_tiff,
        pixel_stats,
    )

    def payload(doc_id):
        w, h = doc_id % 3 + 2, doc_id % 2 + 1
        base = doc_id % 200
        gray = doc_id % 5 in (0, 3)
        if gray:
            px = [(base + 3 * j,) * 3 for j in range(w * h)]
        else:
            px = [
                (base + 3 * j, base + 3 * j + 1, base + 3 * j + 2)
                for j in range(w * h)
            ]
        return encode_tiff(
            w, h, px, gray=gray,
            big_endian=doc_id % 2 == 0,
            rows_per_strip=doc_id % 3,
        )

    shaped = doc_payloads(spark, sf_dir, payload)
    return pixel_stats(shaped)


# ---------------------------------------------------------------------------
# q157 per-domain quota enforcement (top-k by quality within domain)
# ---------------------------------------------------------------------------


def q157_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enforcement half of domain curation (q147 measures, this
    selects): cap every registrable domain at K documents, keeping
    the highest-quality ones — rank within domain by a quality score
    (here exact: n_chars, tie-broken by doc_id for determinism) and
    keep rank <= K, with K itself domain-dependent (bigger quota for
    .com, the common 'head domains get more budget' policy). One
    window over the domain key — a single shuffle partitioned by
    domain; at 100 TB the domain key is low-cardinality relative to
    docs, and AQE's skew split handles the inevitable giant domains
    (the boundary tests/test_skew_aqe.py pins). Deterministic total
    order makes the selection hash-checkable."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    # reuse q147's synthetic URL -> registrable domain derivation
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("de"), F.lit("co.uk")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    domain = F.concat(
        F.lit("site"), (F.col("doc_id") % 50).cast("string"), F.lit("."), tld
    )
    quota = F.when(tld == "com", F.lit(4)).otherwise(F.lit(2))
    ranked = docs.select(
        "doc_id",
        "n_chars",
        domain.alias("registrable_domain"),
        quota.alias("quota"),
    ).withColumn(
        "quality_rank",
        F.row_number().over(
            Window.partitionBy("registrable_domain").orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            )
        ),
    )
    return (
        ranked.filter(F.col("quality_rank") <= F.col("quota"))
        .select(
            F.col("doc_id").alias("id"),
            "registrable_domain",
            F.col("quality_rank").cast("int").alias("quality_rank"),
            F.col("quota").cast("int").alias("quota"),
            "n_chars",
        )
    )


ORACLE_Q157 = """
WITH d AS (
  SELECT doc_id, n_chars,
         'site' || (doc_id % 50) || '.'
         || CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                            WHEN 2 THEN 'de' ELSE 'co.uk' END
           AS registrable_domain,
         CASE WHEN doc_id % 4 = 0 THEN 4 ELSE 2 END AS quota
  FROM documents
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY registrable_domain
           ORDER BY n_chars DESC, doc_id ASC
         ) AS quality_rank
  FROM d
)
SELECT doc_id AS id,
       registrable_domain,
       CAST(quality_rank AS INTEGER) AS quality_rank,
       CAST(quota AS INTEGER) AS quota,
       n_chars
FROM r WHERE quality_rank <= quota
"""


# ---------------------------------------------------------------------------
# q156 ICO favicon decode: container walk + member selection
# ---------------------------------------------------------------------------


def q156_ico_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICO favicon decode under the driver gate: per document a
    two-member icon whose SMALL member is a doc_id-colored 4x4 and
    whose LARGE member is a differently-colored (doc_id%3+5)-square —
    alternating member kinds (headerless-BMP vs embedded PNG) and
    member ORDER by doc_id parity, so a hash match proves the
    ICONDIR walk, both member decoders (doubled-height AND-mask BMP
    and embedded PNG), and the largest-member selection rule
    regardless of directory position. Solid colors keep the means
    closed-form."""
    from synthea_etl_spark.operators.multimodal import (
        encode_ico,
        pixel_stats,
    )

    def payload(doc_id):
        side = doc_id % 3 + 5
        big = np.full(
            (side, side, 3),
            [
                doc_id % 256,
                (doc_id * 7 + 3) % 256,
                (doc_id * 13 + 11) % 256,
            ],
            dtype=np.uint8,
        )
        small = np.full(
            (4, 4, 3), [(doc_id * 31) % 256, 0, 255], dtype=np.uint8
        )
        kinds = ("bmp", "png") if doc_id % 2 == 0 else ("png", "bmp")
        members = [(small, kinds[0]), (big, kinds[1])]
        if doc_id % 4 < 2:
            members.reverse()  # largest first vs last
        return encode_ico(members)

    shaped = doc_payloads(spark, sf_dir, payload)
    return pixel_stats(shaped)


ORACLE_Q156 = """
SELECT doc_id AS id,
       'ico' AS format,
       CAST(doc_id % 3 + 5 AS INTEGER) AS width,
       CAST(doc_id % 3 + 5 AS INTEGER) AS height,
       CAST(doc_id % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id * 7 + 3) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 13 + 11) % 256 AS DOUBLE) AS mean_b
FROM documents
"""


# ---------------------------------------------------------------------------
# q155 dataset mixture sampling (per-source epoch weights)
# ---------------------------------------------------------------------------


def q155_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture construction: replicate each document
    according to its SOURCE's epoch weight — the standard 'sample
    source A at 2.0 epochs, B at 0.5' corpus-mixing step — fully
    DETERMINISTICALLY, so reruns and the oracle agree. Weight
    w(srcK) = 0.5 + (K%4)*0.75 cycles 0.5/1.25/2.0/2.75; every doc
    gets floor(w) whole copies plus one more iff its md5-derived
    uniform draw falls under frac(w) (a per-doc hash, not RNG — the
    fractional epoch is an exact deterministic subsample). One
    narrow explode, no shuffle: mixing 100 TB rides the scan, and
    the same hash trick shards identically at any parallelism.
    copy_idx is stable so downstream packing can interleave epochs."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    k = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    w = F.lit(0.5) + (k % 4) * F.lit(0.75)
    whole = F.floor(w).cast("int")
    frac = w - F.floor(w)
    draw = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long") % 1000
    ) / F.lit(1000.0)
    n_copies = (whole + (draw < frac).cast("int")).alias("n_copies")
    return (
        docs.select("doc_id", "source", n_copies)
        .select(
            "doc_id",
            "source",
            "n_copies",
            F.explode(
                F.when(
                    F.col("n_copies") >= 1,
                    F.expr("sequence(1, n_copies)"),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("copy_idx"),
        )
        .select(
            F.col("doc_id").alias("id"),
            "source",
            F.col("copy_idx").cast("int").alias("copy_idx"),
            F.col("n_copies").cast("int").alias("n_copies"),
        )
    )


ORACLE_Q155 = """
WITH g AS (
  SELECT doc_id, source,
         0.5 + (CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER)
                % 4) * 0.75 AS w,
         (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 1000) / 1000.0 AS draw
  FROM documents
), c AS (
  SELECT doc_id, source,
         CAST(FLOOR(w) + CASE WHEN draw < w - FLOOR(w) THEN 1 ELSE 0 END
              AS INTEGER) AS n_copies
  FROM g
)
SELECT doc_id AS id,
       source,
       CAST(k.range + 1 AS INTEGER) AS copy_idx,
       n_copies
FROM c, range(3) k
WHERE k.range < n_copies
"""


# ---------------------------------------------------------------------------
# q154 chroma-subsampled JPEG decode: 4:2:0 / 4:2:2 / 4:4:4 MCUs
# ---------------------------------------------------------------------------


def q154_jpeg_subsampled_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma-subsampled JPEG under the driver gate — the sampling
    real photos actually use: per document a solid-color JPEG whose
    subsampling cycles 4:2:0 / 4:2:2 / 4:4:4 by doc_id%3 (MCU sizes
    16x16 / 16x8 / 8x8), with restart markers when doc_id%5==0.
    Constant color makes the box-average chroma downsample and the
    replication upsample both lossless, so the decoded means are the
    exact JFIF YCbCr round trip q127's oracle arithmetic mirrors. A
    hash match proves interleaved-MCU geometry (multiple luma blocks
    per MCU with per-component DC predictors), sampling-factor
    parsing, and chroma plane reassembly across all three layouts."""
    from synthea_etl_spark.operators.jpeg import encode_jpeg
    from synthea_etl_spark.operators.multimodal import pixel_stats

    subs = ("420", "422", "444")
    dims = ((16, 16), (16, 8), (8, 8))

    def payload(doc_id):
        sub = subs[doc_id % 3]
        w, h = dims[doc_id % 3]
        rgb = (
            doc_id % 256,
            (doc_id * 5 + 3) % 256,
            (doc_id * 11 + 7) % 256,
        )
        return encode_jpeg(
            w, h, [rgb] * (w * h), subsampling=sub,
            restart_interval=1 if doc_id % 5 == 0 else 0,
        )

    shaped = doc_payloads(spark, sf_dir, payload)
    return pixel_stats(shaped)


# the q127 YCbCr round-trip arithmetic, with the geometry cycling on
# doc_id%3 instead of the gray/color split
ORACLE_Q154 = """
WITH ycc AS (
  SELECT doc_id,
         FLOOR(0.299 * (doc_id % 256)
               + 0.587 * ((doc_id * 5 + 3) % 256)
               + 0.114 * ((doc_id * 11 + 7) % 256) + 0.5) AS y,
         FLOOR(-0.168735892 * (doc_id % 256)
               - 0.331264108 * ((doc_id * 5 + 3) % 256)
               + 0.5 * ((doc_id * 11 + 7) % 256) + 128 + 0.5) AS cb,
         FLOOR(0.5 * (doc_id % 256)
               - 0.418687589 * ((doc_id * 5 + 3) % 256)
               - 0.081312411 * ((doc_id * 11 + 7) % 256) + 128 + 0.5) AS cr
  FROM documents
)
SELECT doc_id AS id,
       'jpeg' AS format,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 8 ELSE 16 END AS INTEGER)
         AS width,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS INTEGER)
         AS height,
       LEAST(255, GREATEST(0,
           FLOOR(y + 1.402 * (cr - 128) + 0.5))) AS mean_r,
       LEAST(255, GREATEST(0,
           FLOOR(y - 0.344136286 * (cb - 128)
                   - 0.714136286 * (cr - 128) + 0.5))) AS mean_g,
       LEAST(255, GREATEST(0,
           FLOOR(y + 1.772 * (cb - 128) + 0.5))) AS mean_b
FROM documents JOIN ycc USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q153 deep/float audio decode: 24-bit PCM and IEEE float32 WAV
# ---------------------------------------------------------------------------


def q153_wav_deep_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The studio-grade WAV variants under the driver gate: even
    doc_ids carry IEEE float32 WAVs (fmt tag 3) whose per-channel
    constants are exactly float32-representable ((doc_id%1000)/8 has
    three fractional bits), odd doc_ids 24-bit PCM (s24le assembly
    with sign extension; constants span the full signed 24-bit
    range). Stereo, doc_id%6+2 frames. A hash match proves the
    fmt-tag routing, float finiteness screening, 3-byte sample
    assembly, and sign extension — with closed-form oracles because
    constant channels make the means exact in both domains."""
    from synthea_etl_spark.operators.multimodal import (
        audio_stats,
        encode_wav,
        encode_wav_float32,
    )

    def payload(doc_id):
        n = doc_id % 6 + 2
        if doc_id % 2 == 0:
            v0 = (doc_id % 1000) / 8.0
            v1 = -((doc_id * 3 + 5) % 1000) / 8.0
            return encode_wav_float32(44100, [[v0] * n, [v1] * n])
        else:
            s0 = doc_id * 1009 % (1 << 24) - (1 << 23)
            s1 = (doc_id * 2003 + 7) % (1 << 24) - (1 << 23)
            return encode_wav(
                48000,
                [
                    struct.pack("<i", s0)[:3] * n,
                    struct.pack("<i", s1)[:3] * n,
                ],
                bits=24,
            )

    shaped = doc_payloads(spark, sf_dir, payload)
    return audio_stats(shaped)


ORACLE_Q153 = """
SELECT doc_id AS id,
       CAST(2 AS INTEGER) AS channels,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END
            AS INTEGER) AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 32 ELSE 24 END
            AS INTEGER) AS bits,
       CAST(doc_id % 6 + 2 AS INTEGER) AS n_frames,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(doc_id % 1000 AS DOUBLE) / 8
            ELSE CAST(doc_id * 1009 % (1 << 24) - (1 << 23) AS DOUBLE)
       END AS mean_left,
       CASE WHEN doc_id % 2 = 0
            THEN -CAST((doc_id * 3 + 5) % 1000 AS DOUBLE) / 8
            ELSE CAST((doc_id * 2003 + 7) % (1 << 24) - (1 << 23)
                      AS DOUBLE)
       END AS mean_right
FROM documents
"""


# ---------------------------------------------------------------------------
# q152 sub-8-bit PNG decode: the packed-row depth matrix
# ---------------------------------------------------------------------------


def q152_png_sub8_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-8-bit PNG decode under the driver gate: per document a
    1/2/4-bit PNG (depth = 1 << (doc_id%3), gray when doc_id%2==0
    else palette, Adam7-interlaced when doc_id%7==0, filter type
    cycling doc_id%5) whose w*h ramp of depth-range codes keeps the
    means closed-form. Gray reports RAW code values (0..2^d-1) on
    all channels; palette entries are (17c, 17c+1, 17c+2) so the
    resolved means are 17*mean(code)+offset. A hash match proves
    MSB-first bit unpacking with padding-bit drop, the 1-byte filter
    unit, palette resolution at narrow depths, and interlaced
    sub-byte rows."""
    from synthea_etl_spark.operators.multimodal import (
        encode_png,
        pixel_stats,
    )

    def payload(doc_id):
        depth = 1 << (doc_id % 3)
        w, h = doc_id % 3 + 2, doc_id % 2 + 1
        maxv = (1 << depth) - 1
        codes = [j % (maxv + 1) for j in range(w * h)]
        if doc_id % 2 == 0:
            px = [(c,) * 3 for c in codes]
            ct = 0
        else:
            px = [(17 * c, 17 * c + 1, 17 * c + 2) for c in codes]
            ct = 3
        return encode_png(
            w, h, px, colortype=ct, bitdepth=depth,
            interlace=1 if doc_id % 7 == 0 else 0,
            filters=[doc_id % 5] * h,
        )

    shaped = doc_payloads(spark, sf_dir, payload)
    return pixel_stats(shaped)


# integer channel SUMS divided once at the end — the exact float64
# op order the engine uses (int64 sum / count); computing
# 17*(sum/n) instead of (17*sum)/n would drift a ULP and break the
# hash. Gray reports the raw code; palette scales by 17 with
# +0/+1/+2 channel offsets.
ORACLE_Q152 = """
WITH g AS (
  SELECT doc_id,
         (1 << (doc_id % 3)) AS depth,
         doc_id % 3 + 2 AS w,
         doc_id % 2 + 1 AS h
  FROM documents
), m AS (
  SELECT doc_id, w, h,
         (SELECT SUM(k.range % ((1 << depth)))
          FROM range(16) k WHERE k.range < w * h) AS sum_code
  FROM g
)
SELECT doc_id AS id,
       'png' AS format,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(sum_code AS DOUBLE) / (w * h)
            ELSE CAST(17 * sum_code AS DOUBLE) / (w * h) END AS mean_r,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(sum_code AS DOUBLE) / (w * h)
            ELSE CAST(17 * sum_code + w * h AS DOUBLE) / (w * h)
       END AS mean_g,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(sum_code AS DOUBLE) / (w * h)
            ELSE CAST(17 * sum_code + 2 * w * h AS DOUBLE) / (w * h)
       END AS mean_b
FROM m
"""


# ---------------------------------------------------------------------------
# q151 incremental corpus dedup (new batch vs historical fingerprints)
# ---------------------------------------------------------------------------


def q151_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The everyday pretraining-ingest shape: deduplicate a NEW batch
    against everything already ingested, without rereading old text.
    History is simulated deterministically (docs with doc_id%5 < 3
    were 'previously ingested'); only their content FINGERPRINTS
    (md5 of normalized text) form the historical set — at 100 TB the
    seen-set is a fingerprint table orders of magnitude smaller than
    the corpus, and the dedup is a LEFT ANTI join on it (sort-merge
    or broadcast as stats dictate; here the key is a 32-char hash so
    skew is impossible by construction). Batch-internal duplicates
    collapse first (min doc_id wins, deterministic), then the anti
    join removes the historically seen. Outputs the surviving new
    docs with provenance counts."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    new_batch = docs.filter(F.col("doc_id") % 5 >= 3).select(
        "doc_id", "source", fp.alias("fingerprint")
    )
    history = docs.filter(F.col("doc_id") % 5 < 3).select(
        fp.alias("fingerprint")
    ).distinct()
    batch_unique = (
        new_batch.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("int").alias("batch_copies"),
        )
    )
    return (
        batch_unique.join(history, "fingerprint", "left_anti")
        .select("fingerprint", "doc_id", "batch_copies")
    )


ORACLE_Q151 = """
WITH fp AS (
  SELECT doc_id, md5(lower(trim(text))) AS fingerprint
  FROM documents
), hist AS (
  SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 5 < 3
), batch AS (
  SELECT fingerprint,
         MIN(doc_id) AS doc_id,
         CAST(count(*) AS INTEGER) AS batch_copies
  FROM fp WHERE doc_id % 5 >= 3
  GROUP BY fingerprint
)
SELECT fingerprint, doc_id, batch_copies
FROM batch
WHERE fingerprint NOT IN (SELECT fingerprint FROM hist)
"""


# ---------------------------------------------------------------------------
# q150 order-independent dataset fingerprints (data versioning)
# ---------------------------------------------------------------------------


def q150_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning fingerprints: per source, an
    ORDER-INDEPENDENT content checksum (bit_xor of a 64-bit slice of
    each row's md5) plus row count and byte totals. XOR aggregation
    commutes, so the fingerprint is identical at any partitioning,
    any row order, any cluster size — the property a distributed
    dataset checksum must have (a concat-then-hash design would be
    partitioning-dependent). Two training-data uses: detect corpus
    drift between pipeline runs without row-level diffing, and
    verify that an export (e.g. the q133 shard sink) carried exactly
    the claimed content. One partial+final aggregation on the
    low-cardinality source key; the row hash is codegen md5/conv
    arithmetic. DuckDB's bit_xor over the identical 64-bit slice
    hash-matches exactly."""
    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", "text", "n_chars"
    )
    row_hash = F.conv(
        F.substring(F.md5(F.concat_ws("|", "doc_id", "text")), 1, 15),
        16,
        10,
    ).cast("long")  # 15 hex chars = 60 bits: fits a signed long exactly
    return (
        docs.select("source", row_hash.alias("h"), "n_chars")
        .groupBy("source")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.expr("bit_xor(h)").alias("content_fingerprint"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


ORACLE_Q150 = """
SELECT source,
       CAST(count(*) AS INTEGER) AS n_docs,
       CAST(bit_xor(CAST('0x' || substr(
             md5(doc_id || '|' || text), 1, 15) AS BIGINT)) AS BIGINT)
         AS content_fingerprint,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
"""


# ---------------------------------------------------------------------------
# q149 BPE tokenization with a fixed merge table
# ---------------------------------------------------------------------------

# a deterministic English-ish merge list (the published algorithm's
# output shape); TRAINING such a list distributed is operators/bpe.
# train_bpe, pinned against a loop-written single-node reference in
# tests/test_bpe.py — the gate checks the APPLICATION path, whose
# left-to-right non-overlapping replace chain DuckDB can mirror
_BPE_MERGES = [
    ("e", "</w>"), ("t", "h"), ("th", "e</w>"), ("s", "</w>"),
    ("e", "r"), ("i", "n"), ("a", "n"), ("o", "n"), ("er", "</w>"),
    ("d", "</w>"),
]


def q149_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization over the documents corpus with a fixed merge
    table (operators/bpe.apply_bpe): words -> space-separated symbol
    strings -> the merge replace chain in training order -> exact
    per-document BPE token counts plus the alphabetically-first
    word's actual segmentation as a hashable witness. Pure JVM
    narrow work (split/replace/aggregate) — tokenizing 100 TB rides
    the scan. The DuckDB twin applies the identical chain with its
    own replace(), so the hash match pins the merge semantics
    (left-to-right, non-overlapping, boundary-safe via sentinel
    spaces) across two engines. Distributed TRAINING of the merge
    table is train_bpe — an iterative pair-count/argmax loop with
    lineage truncation, reference-checked in tests/test_bpe.py."""
    from synthea_etl_spark.operators.bpe import apply_bpe

    docs = rebalance_by_key(
        load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    return apply_bpe(docs, "text", _BPE_MERGES)


ORACLE_Q149 = """
WITH words AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
), reps AS (
  SELECT doc_id, word,
         replace(replace(replace(replace(replace(replace(replace(
         replace(replace(replace(
           ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> ',
           ' e </w> ', ' e</w> '),
           ' t h ', ' th '),
           ' th e</w> ', ' the</w> '),
           ' s </w> ', ' s</w> '),
           ' e r ', ' er '),
           ' i n ', ' in '),
           ' a n ', ' an '),
           ' o n ', ' on '),
           ' er </w> ', ' er</w> '),
           ' d </w> ', ' d</w> ') AS rep
  FROM words WHERE word <> ''
)
SELECT doc_id AS id,
       CAST(SUM(len(string_split(trim(rep), ' '))) AS BIGINT)
         AS bpe_tokens,
       CAST(count(*) AS INTEGER) AS n_words,
       arg_min(trim(rep), word) AS first_word_segmentation
FROM reps
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q148 end-to-end crawl pipeline: WARC -> extract -> dedup
# ---------------------------------------------------------------------------


def q148_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-curation operators COMPOSED end to end, the way a
    real pretraining ingest runs them: WARC.gz archives -> record
    explosion (warc_records) -> response-only filter -> HTML
    boilerplate stripping (html_to_text) -> token counting -> exact
    dedup by content fingerprint with provenance aggregation
    (copies + first-seen doc). Each document's archive carries one
    response record whose page text collides across documents
    (doc_id%100), so the dedup stage genuinely collapses ~N/100
    groups. One Python stage (the gzip/record split), then pure JVM
    expressions and ONE shuffle (the fingerprint groupBy) — the
    pipeline a 100 TB crawl would run, in miniature, under the hash
    gate."""
    from synthea_etl_spark.operators.text import html_to_text, token_count
    from synthea_etl_spark.operators.warc import (
        encode_warc_gz,
        warc_records,
    )

    def payload(doc_id):
        page = (
            "<html><head><script>track();</script></head>"
            f"<body><h1>Title</h1><p>page {doc_id % 100} of "
            "the &amp; corpus</p></body></html>"
        )
        recs = [
            {
                "type": "response",
                "uri": f"http://crawl.test/{doc_id}",
                "payload": page.encode("utf-8"),
            },
            {
                "type": "request",
                "uri": f"http://crawl.test/{doc_id}",
                "payload": b"GET /",
            },
        ]
        return encode_warc_gz(recs)

    shaped = doc_payloads(spark, sf_dir, payload)
    pages = (
        warc_records(shaped)
        .filter(F.col("warc_type") == "response")
        .select(
            "id",
            html_to_text(F.col("payload_text")).alias("page_text"),
        )
    )
    return (
        pages.select(
            "id",
            "page_text",
            token_count("page_text").cast("int").alias("n_tokens"),
            F.md5(F.col("page_text")).alias("fingerprint"),
        )
        .groupBy("fingerprint", "page_text", "n_tokens")
        .agg(
            F.count("*").cast("int").alias("n_copies"),
            F.min("id").alias("first_doc"),
        )
    )


# the synthesized page extracts to a closed-form string, so the whole
# pipeline's output is derivable per doc_id%100 group
ORACLE_Q148 = """
WITH g AS (
  SELECT doc_id, doc_id % 100 AS grp FROM documents
), page AS (
  SELECT grp,
         'Title page ' || grp || ' of the & corpus' AS page_text,
         count(*) AS n_copies,
         MIN(doc_id) AS first_doc
  FROM g GROUP BY grp
)
SELECT md5(page_text) AS fingerprint,
       page_text,
       CAST(7 AS INTEGER) AS n_tokens,
       CAST(n_copies AS INTEGER) AS n_copies,
       CAST(first_doc AS BIGINT) AS first_doc
FROM page
"""


# ---------------------------------------------------------------------------
# q147 URL parsing + per-domain curation statistics
# ---------------------------------------------------------------------------


def q147_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-curation domain accounting: parse synthesized URLs with
    the JVM's parse_url (scheme/host/path — the real URL grammar, not
    a regex guess), reduce hosts to registrable domains with a
    public-suffix heuristic (two-label TLDs like co.uk keep three
    labels, others two — a real pipeline broadcasts the full PSL,
    same plan), then aggregate per registrable domain: document
    count, distinct hosts (subdomain spread), and exact average text
    length. Domain-level quotas/dedup are standard crawl curation;
    this is their aggregation shape — one partial+final shuffle on a
    low-cardinality key. The DuckDB twin parses with regexes, so the
    hash match cross-checks Java's URL parser against the regex
    grammar on every row."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    url = F.concat(
        F.when(F.col("doc_id") % 7 == 0, F.lit("http://")).otherwise(
            F.lit("https://")
        ),
        F.element_at(
            F.array(F.lit("www."), F.lit(""), F.lit("cdn.")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
        F.concat(F.lit("site"), (F.col("doc_id") % 50).cast("string")),
        F.lit("."),
        F.element_at(
            F.array(F.lit("com"), F.lit("org"), F.lit("de"), F.lit("co.uk")),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(
            F.concat(F.lit("/a/"), (F.col("doc_id") % 10).cast("string"))
        ),
    )
    host = F.parse_url(url, F.lit("HOST"))
    reg = F.when(
        host.rlike(r"\.co\.uk$"),
        F.regexp_extract(host, r"([^.]+\.co\.uk)$", 1),
    ).otherwise(F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1))
    return (
        docs.select(
            reg.alias("registrable_domain"),
            host.alias("host"),
            "n_chars",
        )
        .groupBy("registrable_domain")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.countDistinct("host").cast("int").alias("n_hosts"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            "registrable_domain",
            "n_docs",
            "n_hosts",
            "sum_chars",
            (F.col("sum_chars") / F.col("n_docs")).alias("avg_chars"),
        )
    )


ORACLE_Q147 = """
WITH u AS (
  SELECT doc_id, n_chars,
         CASE WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END
         || CASE doc_id % 3 WHEN 0 THEN 'www.' WHEN 1 THEN '' ELSE 'cdn.' END
         || 'site' || (doc_id % 50) || '.'
         || CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                            WHEN 2 THEN 'de' ELSE 'co.uk' END
         || CASE WHEN doc_id % 5 = 0 THEN '/'
                 ELSE '/a/' || (doc_id % 10) END AS url
  FROM documents
), parsed AS (
  SELECT doc_id, n_chars,
         regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host
  FROM u
), reg AS (
  SELECT doc_id, n_chars, host,
         CASE WHEN regexp_matches(host, '\\.co\\.uk$')
              THEN regexp_extract(host, '([^.]+\\.co\\.uk)$', 1)
              ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END
           AS registrable_domain
  FROM parsed
)
SELECT registrable_domain,
       CAST(count(*) AS INTEGER) AS n_docs,
       CAST(count(DISTINCT host) AS INTEGER) AS n_hosts,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       SUM(n_chars) / CAST(count(*) AS DOUBLE) AS avg_chars
FROM reg
GROUP BY registrable_domain
"""


# ---------------------------------------------------------------------------
# q146 corpus-level character-bigram familiarity scoring
# ---------------------------------------------------------------------------


def q146_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality scoring — the architecture of
    perplexity filtering at scale, with exact arithmetic so the gate
    can hash it: pass 1 aggregates character-bigram counts over the
    WHOLE corpus (one shuffle with map-side partial aggregation);
    pass 2 scores every document by the average corpus frequency of
    its bigrams (how 'familiar' its character sequences are —
    gibberish and wrong-language text score low). The count table is
    small (charset^2 rows), so pass 2 is an explicit broadcast join:
    documents never shuffle. A real LM filter swaps the count table
    for log-probs and the avg for a sum — same plan shape, same
    scale story. Bigrams are generated JVM-side
    (transform(sequence) + substring — no UDF); familiarity_sum is
    an exact int64 so the double division hashes deterministically
    at any parallelism."""
    # the toy documents table is one parquet split: without the
    # rebalance both bigram generations run as ONE task (profiled:
    # 2x 1.35 s serial); pass-through on already-wide scans
    docs = rebalance_by_key(
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 2),
        "doc_id",
    )
    bi = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("bigram"),
    )
    # collapse to per-(doc_id, bigram) occurrence counts FIRST: the
    # frame is hash-partitioned by doc_id, which satisfies the
    # (doc_id, bigram) clustering requirement, so this aggregate runs
    # in place (no exchange — plan-asserted in test_llm.py) and every
    # downstream stage — the corpus-count shuffle input, the broadcast
    # join probe, the final per-doc aggregate — shrinks by the per-doc
    # bigram repeat factor (~4x on English text).
    bic = bi.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    counts = bic.groupBy("bigram").agg(F.sum("c").alias("cnt"))
    return (
        bic.join(F.broadcast(counts), "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("int").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("cnt")).alias("familiarity_sum"),
        )
        .select(
            F.col("doc_id").alias("id"),
            "n_bigrams",
            "familiarity_sum",
            (F.col("familiarity_sum") / F.col("n_bigrams")).alias(
                "familiarity"
            ),
        )
    )


# bounded range() join stands in for a lateral (docs are <=2048 chars
# at every test SF); familiarity is an exact int64 / int32 division
ORACLE_Q146 = """
WITH bi AS (
  SELECT doc_id, substr(text, CAST(k.range AS INTEGER), 2) AS bigram
  FROM documents, range(1, 2049) k
  WHERE length(text) >= 2 AND k.range <= length(text) - 1
), counts AS (
  SELECT bigram, count(*) AS cnt FROM bi GROUP BY bigram
)
SELECT doc_id AS id,
       CAST(count(*) AS INTEGER) AS n_bigrams,
       CAST(SUM(cnt) AS BIGINT) AS familiarity_sum,
       SUM(cnt) / CAST(count(*) AS DOUBLE) AS familiarity
FROM bi JOIN counts USING (bigram)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q145 HTML -> text extraction (crawl boilerplate stripping)
# ---------------------------------------------------------------------------


def q145_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction over a synthesized crawl corpus: each
    document's text is wrapped in a deterministic HTML page (script
    and style elements with bodies, comments, nested tags, character
    entities), then operators/text.html_to_text strips it back down
    — script/style content dropped WITH the elements, tags removed,
    entities decoded, whitespace collapsed. All JVM regexp/replace
    expressions in one codegen span; the DuckDB oracle builds the
    same page and runs the IDENTICAL chain on its own regex engine,
    so the hash match is a two-engine differential on the extraction
    spec itself."""
    from synthea_etl_spark.operators.text import html_to_text

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.concat(
        F.lit('<html><head><script type="text/javascript">var x = '),
        F.col("doc_id").cast("string"),
        F.lit(";</script><style>p { color: red; }</style></head>"),
        F.lit("<body><!-- hidden --><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1>\n<p>"),
        F.col("text"),
        F.lit(" &amp; more &lt;tags&gt; &quot;q&quot;&#39;s&nbsp;end"),
        F.lit("</p></body></html>"),
    )
    out = docs.select(
        F.col("doc_id").alias("id"),
        html_to_text(html).alias("extracted_text"),
    )
    return out.select(
        "id",
        "extracted_text",
        F.length("extracted_text").cast("int").alias("n_chars"),
    )


ORACLE_Q145 = r"""
WITH page AS (
  SELECT doc_id,
         '<html><head><script type="text/javascript">var x = '
         || doc_id
         || ';</script><style>p { color: red; }</style></head>'
         || '<body><!-- hidden --><h1>Doc ' || doc_id || '</h1>' || chr(10)
         || '<p>' || text
         || ' &amp; more &lt;tags&gt; &quot;q&quot;&#39;s&nbsp;end'
         || '</p></body></html>' AS html
  FROM documents
), stripped AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(html,
                 '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
           '<[^>]*>', ' ', 'g') AS t
  FROM page
), decoded AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(t,
           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
           '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t
  FROM stripped
)
SELECT doc_id AS id,
       trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted_text,
       CAST(LENGTH(trim(regexp_replace(t, '\s+', ' ', 'g'))) AS INTEGER)
         AS n_chars
FROM decoded
"""


# ramp mean over n=wh pixels of base+3j is base + 3(n-1)/2; gray docs
# (doc_id%5 in (0,3)) repeat R on all channels, color adds +1/+2
ORACLE_Q144 = """
SELECT doc_id AS id,
       'tiff' AS format,
       CAST(doc_id % 3 + 2 AS INTEGER) AS width,
       CAST(doc_id % 2 + 1 AS INTEGER) AS height,
       CAST(doc_id % 200 AS DOUBLE)
         + 3.0 * ((doc_id % 3 + 2) * (doc_id % 2 + 1) - 1) / 2 AS mean_r,
       CAST(doc_id % 200 AS DOUBLE)
         + 3.0 * ((doc_id % 3 + 2) * (doc_id % 2 + 1) - 1) / 2
         + CASE WHEN doc_id % 5 IN (0, 3) THEN 0 ELSE 1 END AS mean_g,
       CAST(doc_id % 200 AS DOUBLE)
         + 3.0 * ((doc_id % 3 + 2) * (doc_id % 2 + 1) - 1) / 2
         + CASE WHEN doc_id % 5 IN (0, 3) THEN 0 ELSE 2 END AS mean_b
FROM documents
"""


QUERIES: dict[str, QuerySpec] = {
    "q30_doc_exact_dedup": QuerySpec(
        q30_doc_exact_dedup, ORACLE_Q30, "exact dedup by content fingerprint", ("llm", "dedup")
    ),
    "q31_text_quality": QuerySpec(
        q31_text_quality, ORACLE_Q31, "quality features per document", ("llm", "text")
    ),
    "q32_lang_guess": QuerySpec(
        q32_lang_guess, _sql_lang_oracle(), "stopword language ID", ("llm", "text")
    ),
    "q33_minhash_lsh_candidates": QuerySpec(
        q33_minhash_lsh_candidates, _sql_minhash_oracle(), "MinHash-LSH near-dup candidates", ("llm", "dedup")
    ),
    "q34_simhash": QuerySpec(
        q34_simhash, _sql_simhash_oracle(), "60-bit SimHash fingerprints", ("llm", "dedup")
    ),
    "q35_simhash_near_pairs": QuerySpec(
        q35_simhash_near_pairs, _sql_simhash_pairs_oracle(), "SimHash hamming<=3 pairs", ("llm", "dedup")
    ),
    "q36_jaccard_pairs": QuerySpec(
        q36_jaccard_pairs, ORACLE_Q36, "exact n-gram Jaccard pairs", ("llm", "dedup")
    ),
    "q37_knn_bruteforce": QuerySpec(
        q37_knn_bruteforce, ORACLE_Q37, "exact cosine top-k", ("llm", "similarity")
    ),
    "q38_embedding_near_dup": QuerySpec(
        q38_embedding_near_dup, ORACLE_Q38, "cosine near-dup pairs", ("llm", "similarity")
    ),
    "q39_knn_ann_lsh": QuerySpec(
        q39_knn_ann_lsh, ORACLE_Q39, "LSH-bucketed approximate top-k (deterministic; recall-tested)", ("llm", "similarity")
    ),
    "q123_embedding_near_dup_lsh": QuerySpec(
        q123_embedding_near_dup_lsh,
        ORACLE_Q123,
        "LSH-bucketed approximate near-dup pairs (deterministic; recall-tested)",
        ("llm", "similarity"),
    ),
    "q48_winnow_fingerprints": QuerySpec(
        q48_winnow_fingerprints, _sql_winnow_oracle(), "winnowed rolling-hash fingerprints", ("llm", "text")
    ),
    "q49_corpus_filter": QuerySpec(
        q49_corpus_filter, _sql_corpus_filter_oracle(), "composite corpus keep/drop filter", ("llm", "text")
    ),
    "q41_token_stats": QuerySpec(
        q41_token_stats, ORACLE_Q41, "corpus token accounting by language", ("llm", "text")
    ),
    "q42_bottomk_sketch": QuerySpec(
        q42_bottomk_sketch, _sql_bottomk_oracle(), "bottom-k minwise document sketch", ("llm", "dedup")
    ),
    "q43_knn_ann_ivf": QuerySpec(
        q43_knn_ann_ivf,
        ORACLE_Q43,
        "IVF approximate top-k gated as its recall-vs-brute-force"
        " verdict (exact rankings twin: q160)",
        ("llm", "similarity"),
    ),
    "q40_multimodal_meta": QuerySpec(
        q40_multimodal_meta, ORACLE_Q40, "binary payload metadata + hash", ("llm", "multimodal")
    ),
    "q124_image_header_dims": QuerySpec(
        q124_image_header_dims,
        ORACLE_Q124,
        "real PNG/JPEG/GIF header dimension parsing",
        ("llm", "multimodal"),
    ),
    "q125_pixel_stats": QuerySpec(
        q125_pixel_stats,
        ORACLE_Q125,
        "real uncompressed BMP/PPM pixel decode to channel means",
        ("llm", "multimodal"),
    ),
    "q126_png_pixel_stats": QuerySpec(
        q126_png_pixel_stats,
        ORACLE_Q126,
        "real PNG pixel decode (zlib inflate + all 5 filter reversals)",
        ("llm", "multimodal"),
    ),
    "q127_jpeg_pixel_stats": QuerySpec(
        q127_jpeg_pixel_stats,
        ORACLE_Q127,
        "real baseline-JPEG pixel decode (Huffman + dequant + IDCT + YCbCr)",
        ("llm", "multimodal"),
    ),
    "q128_y4m_frame_stats": QuerySpec(
        q128_y4m_frame_stats,
        ORACLE_Q128,
        "real Y4M video frame decode (marker walk + planar YUV slicing)",
        ("llm", "multimodal"),
    ),
    "q129_wav_audio_stats": QuerySpec(
        q129_wav_audio_stats,
        ORACLE_Q129,
        "real WAV audio decode (RIFF chunk walk + PCM channel means)",
        ("llm", "multimodal"),
    ),
    "q130_resize_pixel_stats": QuerySpec(
        q130_resize_pixel_stats,
        ORACLE_Q130,
        "real NN image resize (raster decode -> resample -> PPM re-encode)",
        ("llm", "multimodal"),
    ),
    "q131_media_census": QuerySpec(
        q131_media_census,
        ORACLE_Q131,
        "mixed-corpus decode census (null-degradation + per-format agg)",
        ("llm", "multimodal"),
    ),
    "q132_wav_dominant_freq": QuerySpec(
        q132_wav_dominant_freq,
        ORACLE_Q132,
        "real audio DSP: FFT dominant-frequency bin per document",
        ("llm", "multimodal"),
    ),
    "q133_webdataset_shards": QuerySpec(
        q133_webdataset_shards,
        ORACLE_Q133,
        "WebDataset tar-shard export with deterministic manifest",
        ("llm", "export"),
    ),
    "q134_gif_pixel_stats": QuerySpec(
        q134_gif_pixel_stats,
        ORACLE_Q134,
        "real GIF pixel decode (variable-width LZW + palette)",
        ("llm", "multimodal"),
    ),
    "q135_wav_rms_windows": QuerySpec(
        q135_wav_rms_windows,
        ORACLE_Q135,
        "windowed audio RMS/mean features (1-to-many window explode)",
        ("llm", "multimodal"),
    ),
    "q137_progressive_jpeg_stats": QuerySpec(
        q137_progressive_jpeg_stats,
        ORACLE_Q137,
        "real progressive-JPEG (SOF2) decode: multi-scan successive approximation",
        ("llm", "multimodal"),
    ),
    "q138_g711_audio_stats": QuerySpec(
        q138_g711_audio_stats,
        ORACLE_Q138,
        "real compressed-audio decode: G.711 mu-law/A-law expansion",
        ("llm", "multimodal"),
    ),
    "q139_adpcm_audio_stats": QuerySpec(
        q139_adpcm_audio_stats,
        ORACLE_Q139,
        "real compressed-audio decode: IMA ADPCM block state machine",
        ("llm", "multimodal"),
    ),
    "q140_chunk_overlap": QuerySpec(
        q140_chunk_overlap,
        ORACLE_Q140,
        "token-window document chunking with overlap (RAG/pretraining)",
        ("llm", "text"),
    ),
    "q141_mjpeg_frame_stats": QuerySpec(
        q141_mjpeg_frame_stats,
        ORACLE_Q141,
        "real compressed-video decode: MJPEG frames in an AVI container",
        ("llm", "multimodal"),
    ),
    "q142_flac_audio_stats": QuerySpec(
        q142_flac_audio_stats,
        ORACLE_Q142,
        "real lossless-audio decode: FLAC rice/LPC/stereo-decorrelation",
        ("llm", "multimodal"),
    ),
    "q143_warc_ingest": QuerySpec(
        q143_warc_ingest,
        ORACLE_Q143,
        "WARC.gz web-archive ingestion (gzip members + record framing)",
        ("llm", "ingest"),
    ),
    "q144_tiff_pixel_stats": QuerySpec(
        q144_tiff_pixel_stats,
        ORACLE_Q144,
        "real TIFF pixel decode (IFD walk + strips, both byte orders)",
        ("llm", "multimodal"),
    ),
    "q145_html_extract": QuerySpec(
        q145_html_extract,
        ORACLE_Q145,
        "HTML boilerplate stripping to text (two-engine regex differential)",
        ("llm", "text"),
    ),
    "q146_bigram_familiarity": QuerySpec(
        q146_bigram_familiarity,
        ORACLE_Q146,
        "corpus bigram-statistics quality scoring (agg + broadcast rescore)",
        ("llm", "text", "agg"),
    ),
    "q147_url_domain_stats": QuerySpec(
        q147_url_domain_stats,
        ORACLE_Q147,
        "URL parsing + registrable-domain curation stats (parse_url vs regex)",
        ("llm", "text", "agg"),
    ),
    "q148_crawl_pipeline": QuerySpec(
        q148_crawl_pipeline,
        ORACLE_Q148,
        "end-to-end crawl pipeline: WARC -> HTML extract -> exact dedup",
        ("llm", "ingest", "dedup"),
    ),
    "q149_bpe_tokenize": QuerySpec(
        q149_bpe_tokenize,
        ORACLE_Q149,
        "BPE tokenization (fixed merges; training reference-checked in tests)",
        ("llm", "text"),
    ),
    "q150_dataset_fingerprint": QuerySpec(
        q150_dataset_fingerprint,
        ORACLE_Q150,
        "order-independent per-source dataset checksums (bit_xor of row md5)",
        ("llm", "agg"),
    ),
    "q151_incremental_dedup": QuerySpec(
        q151_incremental_dedup,
        ORACLE_Q151,
        "incremental dedup of a new batch vs historical fingerprints",
        ("llm", "dedup"),
    ),
    "q152_png_sub8_stats": QuerySpec(
        q152_png_sub8_stats,
        ORACLE_Q152,
        "sub-8-bit PNG decode (1/2/4-bit packed rows, gray + palette)",
        ("llm", "multimodal"),
    ),
    "q153_wav_deep_stats": QuerySpec(
        q153_wav_deep_stats,
        ORACLE_Q153,
        "deep/float audio decode: 24-bit PCM + IEEE float32 WAV",
        ("llm", "multimodal"),
    ),
    "q154_jpeg_subsampled_stats": QuerySpec(
        q154_jpeg_subsampled_stats,
        ORACLE_Q154,
        "chroma-subsampled JPEG decode (4:2:0/4:2:2 interleaved MCUs)",
        ("llm", "multimodal"),
    ),
    "q155_dataset_mixture": QuerySpec(
        q155_dataset_mixture,
        ORACLE_Q155,
        "deterministic mixture sampling by per-source epoch weights",
        ("llm", "sample"),
    ),
    "q156_ico_stats": QuerySpec(
        q156_ico_stats,
        ORACLE_Q156,
        "ICO favicon decode (BMP + PNG members, largest-member rule)",
        ("llm", "multimodal"),
    ),
    "q157_domain_quota": QuerySpec(
        q157_domain_quota,
        ORACLE_Q157,
        "per-domain quota enforcement: top-k by quality within domain",
        ("llm", "window"),
    ),
    "q136_gif_frame_stats": QuerySpec(
        q136_gif_frame_stats,
        ORACLE_Q136,
        "animated-GIF frame decode (per-frame LZW + local tables)",
        ("llm", "multimodal"),
    ),
    "q79_repetition_signals": QuerySpec(
        q79_repetition_signals, ORACLE_Q79, "top-2-gram repetition quality signal", ("llm", "text")
    ),
    "q80_pii_redaction": QuerySpec(
        q80_pii_redaction, _sql_pii_oracle(), "PII redaction with verified counts", ("llm", "text")
    ),
    "q77_sentence_udtf": QuerySpec(
        q77_sentence_udtf, ORACLE_Q77, "Python UDTF sentence splitter via LATERAL", ("llm", "text", "udf")
    ),
    "q71_near_dup_clusters": QuerySpec(
        q71_near_dup_clusters, _sql_clusters_oracle(), "connected components over near-dup pairs", ("llm", "dedup")
    ),
    "q72_tfidf_top_terms": QuerySpec(
        q72_tfidf_top_terms, ORACLE_Q72, "TF-IDF-style top terms per document", ("llm", "text")
    ),
}
