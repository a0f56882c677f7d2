"""Training-data pipeline operators, fourth batch (round 8):

- q167: BM25 over a PERSISTED inverted index — the retrieval analog
  of the q151/q158/`ivf_index` incremental indexes: a (t, doc_id,
  tf) postings table replaces per-call corpus re-tokenization, and
  every statistic BM25 needs (df, dl, corpus totals) derives from
  the index itself by narrow aggregates, so incremental maintenance
  is append-only with no side tables to sync.
- q168: pHash SPECTRAL near-dup — the DCT perceptual hash driven
  end to end (decode → 32x32 DCT-II → median threshold → banded
  hamming join) against rasters that plant a known balanced 60-bit
  spectrum, closing the q159 dHash gate's sibling.
- q169: kNN label propagation — the seeded IVF ANN composed with a
  majority vote (semi-supervised labeling, exact twin).
- q170: quality-binned curation sampling — exact value deciles with
  no global sort, decile-proportional deterministic keep.
- q171: JL ±1 random projection — zero-shuffle per-row higher-order
  expressions with exact decimal accumulation.
- q172: container-invariant exact image dedup — decoded-raster md5
  keys merge PPM/BMP twins a byte hash would miss.
- q173: exact phrase search — positional postings probed with the
  single-join alignment trick (one plan for any phrase length).
- q174: proximity search — all query terms within a token window,
  via the minimal-window-starts-at-an-occurrence argument.
- q175: cluster labeling — c-TF-IDF top terms per embedding cluster
  in integer-exact ratio form.
- q176: corpus-overlap estimation — the dedup-planning Jaccard
  estimate from two mergeable k-row bottom-k sketches.
- q177: RAG chunk retrieval — q140's chunker composed with q167's
  indexed BM25, certifying the stages compose unchanged.

Beyond-reference surface (BASELINE.json north star); all reference
citations for the shared machinery live in operators/retrieval.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import synthea_etl_spark.operators.dedup as D
import synthea_etl_spark.operators.similarity as S
from synthea_etl_spark.plans.common import QuerySpec, doc_payloads, load


# ---------------------------------------------------------------------------
# q167 BM25 top-k from the persisted inverted index
# ---------------------------------------------------------------------------


def q167_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing-index retrieval shape: build the (t, doc_id, tf)
    postings table once (operators/retrieval.inverted_index — in
    production written bucketed by term; tests cover the parquet
    round trip and the index(A) ∪ index(B) == index(A ∪ B)
    incremental invariant), then answer queries from the INDEX
    alone: df/dl/corpus totals are three narrow aggregates over the
    postings, no corpus rescan, no re-tokenization
    (operators/retrieval.bm25_topk_from_index). Docs 3-5 serve as
    queries, top-5 each — disjoint from q162's query set so the two
    retrieval gates exercise different probe terms."""
    from synthea_etl_spark.operators.retrieval import (
        bm25_topk_from_index,
        inverted_index,
    )

    docs = load(spark, sf_dir, "documents")
    index = inverted_index(docs)
    queries = docs.filter(
        (F.col("doc_id") >= 3) & (F.col("doc_id") < 6)
    ).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    return bm25_topk_from_index(index, queries, k=5)


def _sql_bm25_index_oracle() -> str:
    from synthea_etl_spark.operators.retrieval import BM25_B, BM25_K1, MICRO

    # interpolate the EXACT Python float literals the engine uses so
    # both expression trees are the same IEEE computation. Unlike
    # q162, n_docs is the INDEX's document count (docs with >= 1
    # token) — the only corpus a standing index can see.
    k1p1, k1 = repr(BM25_K1 + 1.0), repr(BM25_K1)
    omb, b = repr(1.0 - BM25_B), repr(BM25_B)
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
tok AS (SELECT doc_id, UNNEST(w) AS t FROM toks),
tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM dl) AS n_docs,
         (SELECT SUM(dl) FROM dl) AS total_len
),
dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
qt AS (SELECT DISTINCT doc_id AS query_id, t FROM tok
       WHERE doc_id >= 3 AND doc_id < 6),
term_scores AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(floor(
           ((n_docs - df + 0.5) / (df + 0.5))
           * ((tf * {k1p1}) / (tf + {k1} * ({omb} + ({b} * dl)
               / (CAST(total_len AS DOUBLE) / n_docs))))
           * {MICRO} + 0.5) AS BIGINT) AS m
  FROM tf
  JOIN dl USING (doc_id)
  JOIN dft USING (t)
  JOIN qt USING (t)
  CROSS JOIN stats
),
per_doc AS (
  SELECT query_id, doc_id, SUM(m) AS micro_score
  FROM term_scores GROUP BY query_id, doc_id
)
SELECT query_id, doc_id,
       CAST(micro_score AS BIGINT) / {MICRO} AS score,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY micro_score DESC, doc_id) AS rank
  FROM per_doc
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# q168 pHash perceptual near-dup (DCT spectral hash over decoded rasters)
# ---------------------------------------------------------------------------

# Fixture: clusters of 4 consecutive doc_ids share a BALANCED planted
# 60-bit pHash — positions ranked by md5('ph<cluster>|<pos>'), the 30
# smallest hexes set. Member m=1..3 swaps the m-th smallest set
# position with the m-th smallest clear position (stays balanced,
# hamming 2 from the base, 4 between swapped siblings — so with
# max_hamming=2 exactly the (base, variant) pairs qualify). Each
# raster ENCODES its planted word spectrally: the 32x32 gray image is
# the inverse DCT of +-A at the 60 zigzag AC positions of the
# low-frequency 8x8 block. Balance makes the 60-coefficient median 0,
# and amplitude A=30 dwarfs the <=0.5/pixel rounding noise (worst-case
# coefficient error ~13, typical <2), so decode -> grayscale -> 32x32
# DCT -> median threshold provably lands back on the planted bits —
# validated exhaustively for 400 rasters in tests/test_llm4.py.
_PHASH_AMP = 30.0


def _phash_planted_set(cluster: int, m: int) -> set[int]:
    """The planted 30-of-60 set-bit positions for cluster member m."""
    import hashlib

    order = sorted(
        range(60),
        key=lambda p: hashlib.md5(
            f"ph{cluster}|{p}".encode()
        ).hexdigest(),
    )
    s = set(order[:30])
    if m:
        set_sorted = sorted(s)
        clear_sorted = sorted(set(range(60)) - s)
        s = (s - {set_sorted[m - 1]}) | {clear_sorted[m - 1]}
    return s


def _phash_fixture_raster(doc_id: int) -> bytes:
    """PPM payload whose pHash equals the planted word for doc_id."""
    import numpy as np

    from synthea_etl_spark.operators.jpeg import _ZZ
    from synthea_etl_spark.operators.multimodal import (
        _PHASH_N,
        _dct_matrix,
        encode_ppm,
    )

    s = _phash_planted_set(doc_id // 4, doc_id % 4)
    C = np.zeros((_PHASH_N, _PHASH_N))
    for p in range(60):
        u, v = divmod(_ZZ[p + 1], 8)
        C[u, v] = _PHASH_AMP if p in s else -_PHASH_AMP
    A = _dct_matrix(_PHASH_N)
    px = np.rint(128.0 + A.T @ C @ A).astype(np.uint8)
    return encode_ppm(np.repeat(px[:, :, None], 3, axis=2))


def q168_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual SPECTRAL near-dup, decoder→dedup end to end — the
    pHash sibling of q159's dHash gate: synthesize DCT-planted PPM
    rasters (Arrow batches, see fixture note above), fingerprint them
    with the REAL raster path (decode_raster → grayscale → 32x32
    DCT-II → zigzag median threshold, operators/multimodal
    .phash_fingerprints), then find every hamming<=2 pair with the
    exact pigeonhole band join (operators/dedup.hamming_near_pairs —
    3 bands of 20 bits, never all-pairs). Same 100 TB shape as q159:
    narrow-scan rebalance → one Arrow decode stage → banded self-join
    → bit_count verify."""
    from synthea_etl_spark.operators.multimodal import phash_fingerprints

    fps = phash_fingerprints(doc_payloads(spark, sf_dir, _phash_fixture_raster))
    return D.hamming_near_pairs(fps, "id", "phash", 60, 2)


# DuckDB twin: the planted pair structure is closed-form in doc_id —
# every cluster-of-4's base pairs with each of its three 2-bit-swap
# variants (variant pairs sit at hamming 4 and never qualify; cross-
# cluster words are independent balanced 60-bit draws, ~30 apart). A
# match certifies the engine's decode→DCT→median→banding pipeline
# recovered EXACTLY the planned spectrum for every raster.
ORACLE_Q168 = """
SELECT CAST((doc_id // 4) * 4 AS BIGINT) AS id_a,
       doc_id AS id_b,
       CAST(2 AS INTEGER) AS hamming
FROM documents
WHERE doc_id % 4 <> 0
"""


# ---------------------------------------------------------------------------
# q169 kNN label propagation (semi-supervised labeling via seeded IVF)
# ---------------------------------------------------------------------------


def q169_knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision labeling: vectors with vec_id % 10 < 3 are
    'labeled' (label = vec_id % 5, a deterministic stand-in for a
    curated seed set); every other vector receives the majority label
    of its 5 nearest labeled neighbors under the seed-only IVF
    quantizer (operators/similarity.knn_label_propagation — q160's
    exactly-twinned ANN machinery on the BULK per-cluster matmul
    scoring path, composed with a vote). Tie rule: most votes, then
    smallest label — deterministic on both engines. Quantizer sized
    to the workload: the query side is the WHOLE unlabeled corpus,
    so candidate work is |U|·|L|·n_probe/n_centroids — 64 cells (the
    ~sqrt(|L|) rule at bench scale) keeps it ~linear where 16 made
    it effectively all-pairs (measured 82 s → seconds at sf1)."""
    import synthea_etl_spark.operators.similarity as S

    e = load(spark, sf_dir, "embeddings")
    labeled = e.filter(F.col("vec_id") % 10 < 3).withColumn(
        "label", (F.col("vec_id") % 5).cast("int")
    )
    unlabeled = e.filter(F.col("vec_id") % 10 >= 3)
    return S.knn_label_propagation(
        labeled,
        unlabeled,
        k=5,
        n_centroids=64,
        n_probe=4,
        lloyd_iters=0,
    )


# the q160 oracle machinery (seed quantizer, assignment, probing,
# in-cell scoring, top-k) restricted to the labeled corpus, plus the
# majority-vote tail
ORACLE_Q169 = """
WITH c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings WHERE vec_id % 10 < 3),
seeds AS (
  SELECT cv AS sv,
         row_number() OVER (ORDER BY md5(CAST(neighbor_id AS VARCHAR))) - 1
           AS cid
  FROM c
  ORDER BY md5(CAST(neighbor_id AS VARCHAR))
  LIMIT 64
),
asg AS (
  SELECT neighbor_id, cv, cid FROM (
    SELECT neighbor_id, cv, cid,
           row_number() OVER (PARTITION BY neighbor_id
               ORDER BY list_cosine_similarity(cv, sv) DESC, cid ASC) AS rn
    FROM c CROSS JOIN seeds
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 10 >= 3),
probe AS (
  SELECT query_id, qv, cid FROM (
    SELECT query_id, qv, cid,
           row_number() OVER (PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, sv), 9) DESC,
                        cid ASC) AS rn
    FROM q CROSS JOIN seeds
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         round(list_cosine_similarity(p.qv, a.cv), 6) AS sim
  FROM probe p JOIN asg a USING (cid)
  WHERE a.neighbor_id <> p.query_id
),
topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= 5
),
votes AS (
  SELECT query_id, CAST(neighbor_id % 5 AS INTEGER) AS label,
         CAST(count(*) AS INTEGER) AS votes
  FROM topk GROUP BY query_id, neighbor_id % 5
)
SELECT query_id AS vec_id, label AS pred_label, votes
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY votes DESC, label) AS rn
  FROM votes
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q170 quality-binned curation sampling (value deciles, no global sort)
# ---------------------------------------------------------------------------


def q170_quality_binned_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataComp-style curation step: integer heuristic score per
    document, EXACT value-decile bins computed from the (score,
    count) aggregate — cardinality-sized, so no global-sort window
    ever touches the full frame — and a deterministic md5 keep rule
    sampling decile d at d/10 (operators/text.quality_decile_sample).
    The curated mix tilts toward high-quality strata without
    discarding the tail; every step is codegen expressions, no
    UDF."""
    from synthea_etl_spark.operators.text import quality_decile_sample

    return quality_decile_sample(load(spark, sf_dir, "documents"))


ORACLE_Q170 = r"""
WITH t AS (
  SELECT doc_id,
         COALESCE(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END
           + CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(list_distinct(string_split_regex(trim(text), '\s+')))
             END
           - len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT), 0) AS score
  FROM documents
),
sc AS (SELECT score, count(*) AS cnt FROM t GROUP BY score),
b AS (
  SELECT score,
         CAST(floor(10.0 * COALESCE(SUM(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / (SELECT count(*) FROM t)) AS INTEGER) AS decile
  FROM sc
)
SELECT t.doc_id, t.score, b.decile,
       (CAST(concat('0x', substr(md5('qs' || CAST(t.doc_id AS VARCHAR)), 1, 8))
          AS BIGINT) % 10) < b.decile AS keep
FROM t JOIN b USING (score)
"""


# ---------------------------------------------------------------------------
# q171 sparse random projection (JL dimensionality reduction, zero shuffle)
# ---------------------------------------------------------------------------


def q171_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss reduction of the 64-dim embeddings to 16
    dims with deterministic md5-seeded ±1 planes (operators/similarity
    .random_projection_dims): per-row zip_with/aggregate expressions,
    zero shuffles, exact DECIMAL accumulation — the pre-ANN compaction
    step that cuts every downstream vector-shuffle byte count 4x.
    Scalar (vec_id, pos, value) output, one row per output dim."""
    return S.random_projection_dims(
        load(spark, sf_dir, "embeddings"), out_dim=16, in_dim=64
    )


ORACLE_Q171 = """
WITH ex AS (
  SELECT vec_id, i - 1 AS d, e[i] AS x
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       LATERAL (SELECT UNNEST(generate_series(1, len(e))) AS i) u
),
signed AS (
  SELECT vec_id, j,
         CAST(CASE WHEN substr(md5('rp' || CAST(j AS VARCHAR) || '|'
                     || CAST(d AS VARCHAR)), 1, 1) <= '7'
              THEN x ELSE -x END AS DECIMAL(25,6)) AS v
  FROM ex CROSS JOIN (SELECT UNNEST(generate_series(0, 15)) AS j) pj
)
SELECT vec_id, CAST(j AS INTEGER) AS pos, CAST(SUM(v) AS DOUBLE) AS value
FROM signed GROUP BY vec_id, j
"""


# ---------------------------------------------------------------------------
# q172 cross-format raster exact dedup (container-invariant pixel key)
# ---------------------------------------------------------------------------

# Fixture: clusters of 3 consecutive doc_ids — member 0 is a PPM,
# member 1 the SAME pixels re-containered as a bottom-up 24-bit BMP
# (different bytes, identical raster), member 2 a distinct image.
# Cross-format dedup must merge {0,1} and keep 2 unique, per cluster.


def _q172_pixels(cluster: int, unique: bool) -> "object":
    """Deterministic 16x8 RGB raster from repeated md5 bytes."""
    import hashlib

    import numpy as np

    seed = f"rx{cluster}{'u' if unique else ''}".encode()
    raw = b"".join(
        hashlib.md5(seed + bytes([i])).digest() for i in range(24)
    )  # 384 bytes = 16*8*3
    return np.frombuffer(raw, np.uint8).reshape(8, 16, 3).copy()


def _encode_bmp24(px) -> bytes:
    """Minimal 24-bit BI_RGB BMP (bottom-up, BGR, 4-byte stride) —
    the fixture's second container for identical pixels."""
    import struct

    h, w = px.shape[:2]
    pad = (4 - (w * 3) % 4) % 4
    body = b"".join(
        px[y, :, ::-1].tobytes() + b"\x00" * pad
        for y in range(h - 1, -1, -1)
    )
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
        )
        + body
    )


def q172_raster_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact image dedup ACROSS containers: fingerprint every payload
    by its DECODED pixels (operators/multimodal
    .raster_exact_fingerprints — byte-level md5 of the same container
    would miss every PPM/BMP twin), then min-id-wins keeper per
    fingerprint group. Output: (doc_id, keeper, keep). Same 100 TB
    shape as exact text dedup (q30): one Arrow decode stage, one
    shuffle on the 32-hex key."""
    from synthea_etl_spark.operators.multimodal import (
        encode_ppm,
        raster_exact_fingerprints,
    )
    from pyspark.sql import Window

    def payload(doc_id):
        c, m = divmod(doc_id, 3)
        px = _q172_pixels(c, unique=m == 2)
        return _encode_bmp24(px) if m == 1 else encode_ppm(px)

    fps = raster_exact_fingerprints(doc_payloads(spark, sf_dir, payload))
    w = Window.partitionBy("raster_md5")
    return (
        fps.withColumn("keeper", F.min("id").over(w))
        .select(
            F.col("id").alias("doc_id"),
            "keeper",
            (F.col("id") == F.col("keeper")).alias("keep"),
        )
    )


# DuckDB twin: the planted duplicate structure is closed-form — member
# 1 of each cluster-of-3 duplicates member 0's pixels (its keeper),
# members 0 and 2 are unique. A match certifies the decode paths of
# BOTH containers land on identical raster bytes.
ORACLE_Q172 = """
SELECT doc_id,
       doc_id - CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS keeper,
       doc_id % 3 <> 1 AS keep
FROM documents
"""


# ---------------------------------------------------------------------------
# q173 exact phrase search over the positional index
# ---------------------------------------------------------------------------


def q173_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase retrieval: the corpus's positional postings (one row
    per token occurrence — the layout adjacency queries need;
    operators/retrieval.positional_index) probed with the first
    3-token phrase of docs 0-2 via the single-join alignment trick
    (every matching occurrence votes for start = pos - qpos; a start
    with all 3 distinct qpos votes is a full occurrence;
    operators/retrieval.phrase_search). One broadcast join + one
    aggregate regardless of phrase length — no per-term join
    chain."""
    from synthea_etl_spark.operators.retrieval import (
        phrase_search,
        positional_index,
    )
    from synthea_etl_spark.operators.text import tokens

    docs = load(spark, sf_dir, "documents")
    index = positional_index(docs)
    phrases = (
        docs.filter(F.col("doc_id") < 3)
        .select(
            F.col("doc_id").alias("phrase_id"),
            F.slice(tokens("text"), 1, 3).alias("terms"),
        )
        .filter(F.size("terms") == 3)
    )
    return phrase_search(index, phrases)


ORACLE_Q173 = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
occ AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w[i] AS t
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w))) AS i) u
),
ph AS (
  SELECT doc_id AS phrase_id, list_slice(w, 1, 3) AS terms
  FROM toks WHERE doc_id < 3 AND len(w) >= 3
),
qt AS (
  SELECT phrase_id, CAST(i - 1 AS INTEGER) AS qpos, terms[i] AS t
  FROM ph, LATERAL (SELECT UNNEST(generate_series(1, 3)) AS i) u
),
full_m AS (
  SELECT phrase_id, doc_id, pos - qpos AS s
  FROM occ JOIN qt USING (t)
  GROUP BY phrase_id, doc_id, pos - qpos
  HAVING count(DISTINCT qpos) = 3
)
SELECT phrase_id, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM full_m GROUP BY phrase_id, doc_id
"""


# ---------------------------------------------------------------------------
# q174 proximity search (all terms within a token window)
# ---------------------------------------------------------------------------

_PROX_W = 10


def q174_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy retrieval: does any 10-token window contain ALL the
    query's terms? Query q (docs 0-2) takes its own tokens at
    positions 2/5/8 — non-adjacent, so exact phrase machinery can't
    answer it — and matching uses the minimal-window argument (a
    covering window can be slid to start at a term occurrence, so
    occurrences are exactly the candidate starts;
    operators/retrieval.proximity_search). Each matching doc reports
    how many witness starts it has."""
    from synthea_etl_spark.operators.retrieval import (
        positional_index,
        proximity_search,
    )
    from synthea_etl_spark.operators.text import tokens

    docs = load(spark, sf_dir, "documents")
    index = positional_index(docs)
    t = tokens("text")
    term_sets = (
        docs.filter(F.col("doc_id") < 3)
        .filter(F.size(t) >= 8)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array(
                F.element_at(t, 2), F.element_at(t, 5), F.element_at(t, 8)
            ).alias("terms"),
        )
    )
    return proximity_search(index, term_sets, _PROX_W)


ORACLE_Q174 = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
occ_all AS (
  SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w[i] AS t
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w))) AS i) u
),
ts AS (
  SELECT doc_id AS query_id, list_distinct([w[2], w[5], w[8]]) AS terms
  FROM toks WHERE doc_id < 3 AND len(w) >= 8
),
qt AS (
  SELECT query_id, len(terms) AS n_terms, UNNEST(terms) AS t FROM ts
),
occ AS (
  SELECT query_id, doc_id, t, pos, n_terms
  FROM occ_all JOIN qt USING (t)
),
covered AS (
  SELECT s.query_id, s.doc_id, s.pos AS st, o.n_terms
  FROM occ s JOIN occ o
    ON s.query_id = o.query_id AND s.doc_id = o.doc_id
   AND o.pos >= s.pos AND o.pos < s.pos + {_PROX_W}
  GROUP BY s.query_id, s.doc_id, s.pos, o.n_terms
  HAVING count(DISTINCT o.t) = o.n_terms
)
SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_starts
FROM covered GROUP BY query_id, doc_id
"""


# ---------------------------------------------------------------------------
# q175 cluster labeling (c-TF-IDF top terms per embedding cluster)
# ---------------------------------------------------------------------------


def q175_cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cartography: assign every document to an embedding
    cluster (the q165 seed-only quantizer — vec_id keys the
    documents row), then label each cluster with its top-5 terms by
    the integer-exact c-TF-IDF ratio (operators/text
    .cluster_top_terms): within-cluster frequency × n_clusters /
    cluster-document-frequency, floor-scaled to micro units — the
    published shape's log replaced by a monotone ratio so both
    engines agree bit-for-bit."""
    from synthea_etl_spark.operators.text import cluster_top_terms

    e = load(spark, sf_dir, "embeddings")
    centroids = S.ivf_train_centroids(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
        ),
        "neighbor_id",
        "cv",
        16,
        0,
    )
    assigned = e.select(
        "vec_id",
        S.make_assign_udf(centroids)(F.col("embedding")).alias("cluster"),
    )
    docs = load(spark, sf_dir, "documents").join(
        assigned.withColumnRenamed("vec_id", "doc_id"), "doc_id"
    )
    return cluster_top_terms(docs)


ORACLE_Q175 = r"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
seeds AS (
  SELECT cv AS sv,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid
  FROM c
  ORDER BY md5(CAST(vec_id AS VARCHAR))
  LIMIT 16
),
asg AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
               ORDER BY list_cosine_similarity(cv, sv) DESC, cid ASC) AS rn
    FROM c CROSS JOIN seeds
  ) WHERE rn = 1
),
d AS (
  SELECT asg.cluster, documents.text
  FROM documents JOIN asg ON documents.doc_id = asg.vec_id
),
tok AS (
  SELECT cluster, UNNEST(string_split_regex(trim(text), '\s+')) AS t
  FROM d WHERE length(trim(text)) > 0
),
tf AS (SELECT cluster, t, count(*) AS tf FROM tok GROUP BY cluster, t),
cdf AS (SELECT t, count(*) AS cdf FROM tf GROUP BY t),
nc AS (SELECT count(DISTINCT cluster) AS nc FROM tf),
scored AS (
  SELECT cluster, t, CAST(tf AS BIGINT) AS tf,
         CAST(floor(tf * nc * 1000000.0 / cdf) AS BIGINT) AS score_micro
  FROM tf JOIN cdf USING (t) CROSS JOIN nc
)
SELECT cluster, CAST(rank AS INTEGER) AS rank, t, tf, score_micro
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY cluster ORDER BY score_micro DESC, t) AS rank
  FROM scored
) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# q176 corpus overlap estimation (mergeable bottom-k sketches)
# ---------------------------------------------------------------------------


def q176_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-planning question — "how much of corpus B is already
    in corpus A?" — answered from two k-row sketches instead of a
    cross-corpus join (operators/dedup.corpus_overlap_estimate):
    corpora A (doc_id%3 != 2) and B (doc_id%3 != 0) share a third of
    the documents, and the deterministic md5 bottom-64 minwise
    estimator lands near 1/3. Both engines compute the IDENTICAL
    sketch, so the gate is hash-exact, not tolerance-based. The
    denominator is the union-sketch row count (≤ k), the standard
    small-corpus-correct form. This is the build-path twin of q178,
    which answers the same question from STORED per-slice sketches
    without touching the corpora."""
    docs = load(spark, sf_dir, "documents")
    return D.corpus_overlap_estimate(
        docs.filter(F.col("doc_id") % 3 != 2),
        docs.filter(F.col("doc_id") % 3 != 0),
        k=64,
    )


ORACLE_Q176 = """
WITH fa AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
  FROM documents WHERE doc_id % 3 <> 2
),
ska AS (SELECT h FROM fa ORDER BY h LIMIT 64),
fb AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
  FROM documents WHERE doc_id % 3 <> 0
),
skb AS (SELECT h FROM fb ORDER BY h LIMIT 64),
u AS (
  SELECT DISTINCT h FROM (
    SELECT h FROM ska UNION ALL SELECT h FROM skb
  ) ORDER BY h LIMIT 64
),
c AS (
  SELECT (SELECT count(*) FROM u) AS n_union,
         (SELECT count(*)
          FROM u JOIN ska USING (h) JOIN skb USING (h)) AS n
)
SELECT CAST(64 AS INTEGER) AS k,
       CAST(n_union AS BIGINT) AS n_union,
       CAST(n AS BIGINT) AS n_common,
       CAST(floor(n * 1000000.0 / n_union) AS BIGINT) AS jaccard_micro
FROM c
"""


# ---------------------------------------------------------------------------
# q178 corpus overlap answered from the persisted sketch store
# ---------------------------------------------------------------------------


def q178_corpus_overlap_from_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production form of q176: per-slice bottom-k sketches are
    PERSISTED at ingest time (operators/dedup.corpus_sketch_store —
    each crawl slice writes its k-row sketch once, dynamic partition
    overwrite makes replays idempotent), and the overlap question is
    answered from the STORE alone: merge each corpus's slice
    sketches (bottom-k of a k×n_slices table) and run the k-row
    estimator (corpus_overlap_from_sketches). The corpora here are
    q176's A/B split, each ingested as two slices (doc_id parity),
    so the gate certifies store-merge == direct-sketch == oracle —
    the mergeability invariant end to end through parquet. At 100 TB
    the answering path reads k×n_slices rows, never the corpus."""
    import os
    import shutil
    import tempfile

    from synthea_etl_spark.operators.store import read as read_store

    docs = load(spark, sf_dir, "documents")
    # per-run private store: two concurrent runs (bench + gate, or
    # two users) must not race on the same dynamic-overwrite
    # partitions, so the store lives in a mkdtemp dir and is removed
    # before returning (the 1-row estimator result is materialized
    # first -- it is sketch-sized by construction)
    store = tempfile.mkdtemp(prefix="sparkgraft_sketch_store_")
    corp_a = docs.filter(F.col("doc_id") % 3 != 2)
    corp_b = docs.filter(F.col("doc_id") % 3 != 0)
    # ingest-time path: each slice publishes its own k-row sketch
    for name, corp in (("a", corp_a), ("b", corp_b)):
        for parity in (0, 1):
            D.corpus_sketch_store(
                corp.filter(F.col("doc_id") % 2 == parity),
                os.path.join(store, name),
                slice_id=f"{name}{parity}",
                k=64,
            )
    # answering path: k-row reads only — no corpus access
    try:
        ska = D.merge_bottomk_sketches(
            read_store(spark, os.path.join(store, "a")), k=64
        )
        skb = D.merge_bottomk_sketches(
            read_store(spark, os.path.join(store, "b")), k=64
        )
        out = D.corpus_overlap_from_sketches(ska, skb, k=64)
        # materialize the 1-row answer so the temp store can be
        # deleted before the caller's (lazy) collect
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        shutil.rmtree(store, ignore_errors=True)


# ---------------------------------------------------------------------------
# q177 RAG chunk retrieval (chunking ∘ inverted index ∘ BM25)
# ---------------------------------------------------------------------------


def q177_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG retrieval pipeline composed end to end from gated
    parts: token-window chunking (q140's operator, window 16 /
    overlap 4), a chunk-level postings index (q167's
    inverted_index over synthetic chunk ids = doc_id*100 +
    chunk_idx), and BM25 top-5 per query (docs 6-8's texts) answered
    from the index. Composition is the point: every stage is
    individually hash-certified, and this gate certifies they
    compose without re-deriving anything — the chunker's output
    feeds the indexer unchanged."""
    from synthea_etl_spark.operators.retrieval import (
        bm25_topk_from_index,
        inverted_index,
    )
    from synthea_etl_spark.operators.text import chunk_by_tokens

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # chunk_id = doc_id * 100000 + chunk_idx is collision-free for
    # any document under 100000 chunks (~1.2M tokens at window 16 /
    # stride 12); the oracle's per-doc chunk bound (range(200)) and
    # this encoding must move together
    chunks = chunk_by_tokens(docs, window=16, overlap=4).select(
        (F.col("id") * 100000 + F.col("chunk_idx")).alias("chunk_id"),
        F.col("chunk_text"),
    )
    index = inverted_index(chunks, text_col="chunk_text", id_col="chunk_id")
    queries = docs.filter(
        (F.col("doc_id") >= 6) & (F.col("doc_id") < 9)
    ).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    hits = bm25_topk_from_index(index, queries, id_col="chunk_id", k=5)
    return hits.select(
        "query_id",
        # integer `div`, not float `/`: double arithmetic loses
        # exactness past 2^53 while the id encoding itself is exact
        F.expr("chunk_id div 100000").alias("doc_id"),
        F.expr("chunk_id % 100000").cast("int").alias("chunk_idx"),
        "score",
        "rank",
    )


def _sql_chunk_bm25_oracle() -> str:
    from synthea_etl_spark.operators.retrieval import BM25_B, BM25_K1, MICRO

    k1p1, k1 = repr(BM25_K1 + 1.0), repr(BM25_K1)
    omb, b = repr(1.0 - BM25_B), repr(BM25_B)
    return f"""
WITH t0 AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), g AS (
  SELECT doc_id, toks,
         GREATEST(1, CAST(CEIL((len(toks) - 4) / 12.0) AS BIGINT))
           AS n_chunks
  FROM t0
),
chunks AS (
  -- range(200) must dominate max(n_chunks) over the fixture corpus
  -- (docs under ~2400 tokens); the engine-side encoding
  -- doc_id * 100000 + chunk_idx is collision-free far beyond that
  SELECT doc_id * 100000 + k.range AS chunk_id,
         array_to_string(toks[k.range * 12 + 1 : k.range * 12 + 16], ' ')
           AS text
  FROM g, range(200) k WHERE k.range < n_chunks
),
toks AS (
  SELECT chunk_id, string_split_regex(trim(text), '\\s+') AS w
  FROM chunks WHERE length(trim(text)) > 0
),
tok AS (SELECT chunk_id, UNNEST(w) AS t FROM toks),
tf AS (SELECT chunk_id, t, count(*) AS tf FROM tok GROUP BY chunk_id, t),
dl AS (SELECT chunk_id, SUM(tf) AS dl FROM tf GROUP BY chunk_id),
stats AS (
  SELECT (SELECT count(*) FROM dl) AS n_docs,
         (SELECT SUM(dl) FROM dl) AS total_len
),
dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
qt AS (
  SELECT DISTINCT doc_id AS query_id, UNNEST(
    string_split_regex(trim(text), '\\s+')) AS t
  FROM documents
  WHERE doc_id >= 6 AND doc_id < 9 AND length(trim(text)) > 0
),
term_scores AS (
  SELECT qt.query_id, tf.chunk_id,
         CAST(floor(
           ((n_docs - df + 0.5) / (df + 0.5))
           * ((tf * {k1p1}) / (tf + {k1} * ({omb} + ({b} * dl)
               / (CAST(total_len AS DOUBLE) / n_docs))))
           * {MICRO} + 0.5) AS BIGINT) AS m
  FROM tf
  JOIN dl USING (chunk_id)
  JOIN dft USING (t)
  JOIN qt USING (t)
  CROSS JOIN stats
),
per_chunk AS (
  SELECT query_id, chunk_id, SUM(m) AS micro_score
  FROM term_scores GROUP BY query_id, chunk_id
)
SELECT query_id,
       CAST(chunk_id // 100000 AS BIGINT) AS doc_id,
       CAST(chunk_id % 100000 AS INTEGER) AS chunk_idx,
       CAST(micro_score AS BIGINT) / {MICRO} AS score,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY micro_score DESC, chunk_id) AS rank
  FROM per_chunk
) WHERE rank <= 5
"""


QUERIES: dict[str, QuerySpec] = {
    "q167_bm25_index_topk": QuerySpec(
        q167_bm25_index_topk,
        _sql_bm25_index_oracle(),
        "BM25 top-k answered from the persisted inverted index",
        ("llm", "retrieval"),
    ),
    "q168_phash_near_dup": QuerySpec(
        q168_phash_near_dup,
        ORACLE_Q168,
        "pHash spectral near-dup over decoded rasters (DCT fixture)",
        ("llm", "dedup", "multimodal"),
    ),
    "q169_knn_label_propagation": QuerySpec(
        q169_knn_label_propagation,
        ORACLE_Q169,
        "kNN label propagation over the seeded IVF ANN (exact twin)",
        ("llm", "similarity"),
    ),
    "q170_quality_binned_sample": QuerySpec(
        q170_quality_binned_sample,
        ORACLE_Q170,
        "quality-binned curation sampling via exact value deciles",
        ("llm", "quality"),
    ),
    "q171_random_projection": QuerySpec(
        q171_random_projection,
        ORACLE_Q171,
        "JL ±1 random projection, zero-shuffle exact decimal sums",
        ("llm", "similarity"),
    ),
    "q172_raster_exact_dedup": QuerySpec(
        q172_raster_exact_dedup,
        ORACLE_Q172,
        "container-invariant exact image dedup (PPM/BMP twins merge)",
        ("llm", "dedup", "multimodal"),
    ),
    "q173_phrase_search": QuerySpec(
        q173_phrase_search,
        ORACLE_Q173,
        "exact phrase search via positional-index alignment join",
        ("llm", "retrieval"),
    ),
    "q174_proximity_search": QuerySpec(
        q174_proximity_search,
        ORACLE_Q174,
        "proximity retrieval: all query terms within a token window",
        ("llm", "retrieval"),
    ),
    "q175_cluster_top_terms": QuerySpec(
        q175_cluster_top_terms,
        ORACLE_Q175,
        "c-TF-IDF cluster labeling over embedding clusters",
        ("llm", "text", "similarity"),
    ),
    "q176_corpus_overlap": QuerySpec(
        q176_corpus_overlap,
        ORACLE_Q176,
        "corpus-overlap Jaccard estimate from mergeable bottom-k sketches",
        ("llm", "dedup"),
    ),
    "q177_chunk_retrieval": QuerySpec(
        q177_chunk_retrieval,
        _sql_chunk_bm25_oracle(),
        "RAG chunk retrieval: chunking composed with indexed BM25",
        ("llm", "retrieval"),
    ),
    "q178_corpus_overlap_from_store": QuerySpec(
        q178_corpus_overlap_from_store,
        ORACLE_Q176,
        "corpus overlap answered from persisted per-slice sketches",
        ("llm", "dedup"),
    ),
}
