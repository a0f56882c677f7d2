"""Round-10 LLM-pipeline additions — the index-ops REMEDIATION half
and operator-bounded QA sampling (the two top round-9 VERDICT asks):

- q204: IVF index ROLLOVER — q183 detects quantizer drift; this
  query certifies the operator that acts on it. A persisted,
  batch_id-partitioned IVF index (the exact layout
  pipeline.ann_index_ingest_stream maintains) is rolled over to a
  retrained quantizer (similarity.ivf_index_rollover: retrain FROM
  THE STORE, one narrow per-row re-assign pass, write_swap
  atomic-rename publish, centroids republished beside it), and the
  post-rollover probe's rankings are hash-matched against a fresh
  build's — ``rollover(index, C') == ivf_index(corpus, C')``
  certified end to end through parquet.
- q205/q206: SAMPLED recall evals — q202/q203's exact-truth sides
  are quadratic by design; the md5-threshold ``sample_fraction``
  knob (plans/llm12.minhash_recall_eval / embedding_recall_eval)
  bounds them inside the operator. These gates certify the sampled
  path itself: the selection is deterministic, so the sampled
  report hash-matches its SQL twin (same md5 threshold on both
  engines).

Beyond-reference surface (the reference's four Glue scripts are
boto3 orchestration; Glue_Scripts/Patient_datamart.py:1-120).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import synthea_etl_spark.operators.similarity as S
from synthea_etl_spark.plans.common import QuerySpec, load
from synthea_etl_spark.plans.llm12 import (
    _sql_md5_sample,
    embedding_recall_eval,
    minhash_recall_eval,
)

# ---------------------------------------------------------------------------
# q204 IVF index rollover, certified against a fresh rebuild
# ---------------------------------------------------------------------------


def q204_ivf_rollover_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build generation 1 of a persisted IVF index (16 seeded cells,
    partitioned by batch_id exactly as the streaming ingester lays
    it out), then remediate simulated drift: roll over to a 12-cell
    quantizer RETRAINED FROM THE STORE (no corpus access — the store
    holds the vectors), republish index + centroids with the
    write_swap discipline, reload the centroids from disk, and probe
    the swapped table. The oracle is a fresh 12-cell build's
    rankings in closed-form SQL (the q160 seed-only machinery), so
    the gate certifies rollover == rebuild through every persisted
    artifact: swapped index parquet, swapped centroid parquet, and
    the probe path. Deterministic because the retrain is the md5-min
    seed rule (lloyd_iters=0) — the Lloyd-refined rollover rides the
    same code path and is covered by tests/test_llm13.py."""
    import os
    import shutil
    import tempfile

    e = load(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="sparkgraft_ivf_rollover_")
    index_path = os.path.join(root, "index")
    cent_path = os.path.join(root, "centroids")
    try:
        c1 = S.ivf_train_centroids(
            e, "vec_id", "embedding", n_centroids=16, lloyd_iters=0
        )
        (
            S.ivf_index(e, c1)
            .withColumn("batch_id", (F.col("neighbor_id") % 2).cast("int"))
            # AQE rebalance by the partition column before the
            # partitioned write (guide §6): without it every scan
            # task writes a sliver into every batch_id dir (32 tasks
            # × 2 partitions = 64 tiny files here; task-commit and
            # footer overhead dominate). REBALANCE targets the
            # advisory partition size, so it stays skew-safe at
            # scale where plain repartition("batch_id") would
            # serialize into one task per batch.
            .hint("rebalance", "batch_id")
            .write.partitionBy("batch_id")
            .parquet(index_path)
        )
        S.ivf_index_rollover(
            spark,
            index_path,
            centroids_path=cent_path,
            n_centroids=12,
            lloyd_iters=0,
        )
        # guide §2.6: the two reader-side driver-blocking steps —
        # the centroid collect job and the swapped index's file
        # listing/schema read — are independent; overlap them from a
        # 2-thread pool (job descriptions are thread-local, order of
        # completion irrelevant, certified write order above
        # untouched).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            c2_f = pool.submit(S.load_centroids, spark, cent_path)
            idx_f = pool.submit(spark.read.parquet, index_path)
            c2, idx = c2_f.result(), idx_f.result()
        out = S.knn_ann_ivf_probe(
            idx,
            c2,
            e.filter(F.col("vec_id") < 10),
            k=5,
            n_probe=4,
        )
        # materialize (<= 50 rows) so the temp store can be removed
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _q204_oracle() -> str:
    # a fresh 12-cell seed-only build: exactly ORACLE_Q160 with
    # LIMIT 16 -> LIMIT 12 (the rollover retrains from the store,
    # whose ids are the corpus ids, so the seeds coincide)
    from synthea_etl_spark.plans.llm3 import ORACLE_Q160

    out = ORACLE_Q160.replace("LIMIT 16", "LIMIT 12")
    assert out != ORACLE_Q160
    return out


# ---------------------------------------------------------------------------
# q205/q206 sampled recall evals (the operator-bounded truth side)
# ---------------------------------------------------------------------------

_RECALL_SAMPLE_FRACTION = 0.5


def q205_sampled_minhash_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q202's recall report through the sample_fraction knob: the
    md5-threshold selection keeps ~half the corpus BEFORE either the
    quadratic exact-Jaccard truth or the LSH candidate pass runs —
    the at-scale shape of the QA report, certified end to end (the
    sampled selection is deterministic, so the report itself
    hash-matches)."""
    return minhash_recall_eval(
        load(spark, sf_dir, "documents"),
        sample_fraction=_RECALL_SAMPLE_FRACTION,
    )


def q206_sampled_embedding_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q203's embedding recall report through the same
    operator-bounded sampling knob."""
    return embedding_recall_eval(
        load(spark, sf_dir, "embeddings"),
        sample_fraction=_RECALL_SAMPLE_FRACTION,
    )


def _q205_oracle() -> str:
    from synthea_etl_spark.plans.llm12 import _q202_oracle

    inner = _q202_oracle().strip()
    # inner starts with WITH ...: merge our sampled CTE into its list
    assert inner.upper().startswith("WITH ")
    cond = _sql_md5_sample("doc_id", _RECALL_SAMPLE_FRACTION)
    body = re.sub(r"\bFROM documents\b", "FROM docs_s", inner[5:])
    assert body != inner[5:]
    return (
        f"WITH docs_s AS (SELECT * FROM documents WHERE {cond}),\n{body}"
    )


def _q206_oracle() -> str:
    from synthea_etl_spark.plans.llm12 import _q203_oracle

    inner = _q203_oracle().strip()
    assert inner.upper().startswith("WITH ")
    cond = _sql_md5_sample("vec_id", _RECALL_SAMPLE_FRACTION)
    body = re.sub(r"\bFROM embeddings\b", "FROM vecs_s", inner[5:])
    assert body != inner[5:]
    return (
        f"WITH vecs_s AS (SELECT * FROM embeddings WHERE {cond}),\n{body}"
    )


QUERIES: dict[str, QuerySpec] = {
    "q204_ivf_rollover_probe": QuerySpec(
        q204_ivf_rollover_probe,
        _q204_oracle(),
        "IVF index rollover: retrain-from-store, re-assign, write_swap"
        " publish; probe hash-matches a fresh rebuild",
        ("llm", "similarity", "index-ops"),
    ),
    "q205_sampled_minhash_recall": QuerySpec(
        q205_sampled_minhash_recall,
        _q205_oracle(),
        "MinHash-LSH recall report on a deterministic md5 corpus sample",
        ("llm", "dedup"),
    ),
    "q206_sampled_embedding_recall": QuerySpec(
        q206_sampled_embedding_recall,
        _q206_oracle(),
        "embedding-LSH recall report on a deterministic md5 sample",
        ("llm", "similarity"),
    ),
}
