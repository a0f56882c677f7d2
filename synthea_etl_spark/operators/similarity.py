"""Embedding similarity search: brute-force cosine top-k (exact
baseline) and LSH-bucketed ANN (the scale path). Beyond-reference
surface; BASELINE.json north star.

Vectors are array<float> columns; all arithmetic runs JVM-side via
zip_with/aggregate in double precision (element-wise ops are
deterministic; only reductions would be order-sensitive, and
F.aggregate folds left-to-right deterministically).

Scale design:
- brute force is O(n_queries * n_corpus) — correct baseline and the
  oracle for recall tests, usable when queries are few (broadcast) or
  corpus fits a block;
- the ANN path buckets vectors by random-hyperplane sign bits
  (hyperplanes derived deterministically from md5, no RNG state to
  ship), probes each query's bucket plus multiprobe flips, then exact-
  scores only within buckets: per-bucket joins instead of a cross
  join. Recall tuned by n_planes/multiprobe; verified in tests against
  the brute-force oracle.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    sim_decimals: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is small -> broadcast; ranking uses similarity rounded to
    `sim_decimals` with an id tie-break, so the top-k cut is
    deterministic and engine-portable. Returns (query_id, neighbor_id,
    sim, rank)."""
    from pyspark.sql import Window

    # Norms are precomputed ONCE per row on each side (n + q evaluations)
    # instead of inside the pair loop (n*q evaluations of 3 array
    # aggregates each): array lambdas run interpreted, so hoisting them
    # is a ~3x cut of the dominant cost. The dot product itself keeps
    # the same sequential double summation as the SQL oracle.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
                sim_decimals,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (scale path)
# ---------------------------------------------------------------------------


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random +-1 hyperplanes from md5(plane,dim) —
    reproducible everywhere without shipping RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).digest()[0]
            row.append(1.0 if h % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit p = (vec . plane_p) >= 0. Expression
    form — kept for reference/tiny plans; make_bucket_udf is the
    production path (the n_planes*dim literal tree costs more in
    Catalyst analysis than the data does in execution)."""
    bucket = F.lit(0).cast("long")
    for p, row in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in row])
        bit = F.when(_dot(vec, arr) >= 0, F.lit(2 ** p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def make_bucket_udf(planes: list[list[float]]):
    """Arrow-batched sign-bit bucketing: one (batch x dim)@(dim x p)
    matmul per batch, bits packed in numpy. Matches _bucket_expr
    exactly (>= 0 sign convention, same bit order); the plane matrix
    ships once per executor in the closure."""
    P = np.asarray(planes, dtype="float64").T  # (dim, n_planes)
    weights = (2 ** np.arange(P.shape[1], dtype="int64"))

    @F.pandas_udf("long")
    def bucket(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype("float64")
        bits = (X @ P) >= 0
        return pd.Series(bits @ weights)

    return bucket


def knn_ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 5,
    dim: int = 64,
    multiprobe: int = 2,
    sim_decimals: int = 6,
) -> DataFrame:
    """Approximate top-k: bucket corpus by hyperplane sign bits, probe
    each query's own bucket plus all single-bit flips (multiprobe=1),
    exact-score within probed buckets only.

    At 100 TB the corpus side is bucketed once (a narrow scan +
    groupable key); each query touches 1+n_planes buckets instead of
    the whole corpus. Recall vs brute force is tested in
    tests/test_llm.py."""
    from pyspark.sql import Window

    planes = _hyperplanes(n_planes, dim)
    bucket_of = make_bucket_udf(planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("bucket", bucket_of(F.col("cv")))

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    q = q.withColumn("b0", bucket_of(F.col("qv")))
    probe_cols = [F.col("b0")]
    if multiprobe >= 1:
        probe_cols += [
            F.col("b0").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
    if multiprobe >= 2:
        probe_cols += [
            F.col("b0").bitwiseXOR(F.lit((1 << p) | (1 << r)))
            for p in range(n_planes)
            for r in range(p + 1, n_planes)
        ]
    q = q.withColumn("bucket", F.explode(F.array(*probe_cols))).select(
        "query_id", "qv", "bucket"
    )

    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                make_cosine_udf()(F.col("qv"), F.col("cv")), sim_decimals
            ).alias("sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# IVF-bucketed ANN (coarse-quantizer scale path)
# ---------------------------------------------------------------------------


def make_assign_udf(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment: one numpy matmul per
    batch ((batch x dim) @ (dim x k)) instead of k*dim interpreted
    expression ops per row. Ties resolve to the first (lowest) centroid
    index, matching array_position semantics. ~30x faster than the
    expression form at sf0.1 and the intended shape at 100 TB: the
    centroid matrix ships once per executor in the closure."""
    M = np.asarray(centroids, dtype="float64")
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy())
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(Xn @ Mn.T, axis=1).astype("int32"))

    return assign


def make_probe_udf(centroids: list[list[float]], n_probe: int):
    """Arrow-batched query-side probe: top-``n_probe`` centroid indices
    by cosine, one numpy matmul per batch. The expression alternative
    (k cosines as nested literal arrays fed through array_sort) builds
    a k*dim-literal Catalyst tree whose ANALYSIS/CODEGEN time dominates
    the whole query (~3 s at k=16, dim=64 — measured); this UDF keeps
    the plan O(1) regardless of k*dim. Sims round to 9 dp first; ties
    resolve to the lowest centroid index (stable argsort)."""
    M = np.asarray(centroids, dtype="float64")
    Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("array<int>")
    def probe(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy())
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = np.round(Xn @ Mn.T, 9)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype("int32") for row in order])

    return probe


def make_cosine_udf():
    """Arrow-batched pairwise cosine — the vectorized twin of
    ``cosine`` for UDF-heavy plans where one more small expression tree
    is cheaper to avoid. double-precision numpy dot agrees with the
    JVM left-fold to ~1e-15, far inside the 1e-6 output rounding.
    Factory (not module-level UDF): pandas_udf parses its DDL type
    eagerly and needs an active session."""

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy()).astype("float64")
        B = np.stack(b.to_numpy()).astype("float64")
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    return cos


def ivf_train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    lloyd_iters: int = 1,
) -> list[list[float]]:
    """Deterministic coarse quantizer: seed with the n_centroids corpus
    vectors of smallest md5(id) (a stable pseudo-random sample — no RNG
    state to ship), then refine with distributed Lloyd iterations
    (assign via JVM expressions, per-dimension mean via posexplode +
    groupBy). Only k*dim floats ever reach the driver; assignment and
    averaging stay distributed — at 100 TB each iteration is one narrow
    scan plus one (n_centroids*dim)-group aggregate."""
    narrow = corpus.select(id_col, vec_col)
    persisted = False
    if lloyd_iters > 0:
        from synthea_etl_spark.operators.util import rebalance_by_key

        # the Lloyd pass explodes dim values per vector; spread a
        # narrow scan before that blow-up (no-op on wide cluster scans).
        # The narrow projection is read once per iteration PLUS once
        # for seeding — persist it so the parquet scan happens exactly
        # once regardless of iteration count (the round-3 carry-over:
        # at 100 TB, iters>1 must not rescan the corpus).
        narrow = rebalance_by_key(narrow, id_col).persist()
        persisted = True
    seeds = (
        narrow.select(
            F.col(vec_col).alias("v"),
            F.md5(F.col(id_col).cast("string")).alias("r"),
        )
        .orderBy("r")
        .limit(n_centroids)
        .collect()
    )
    centroids = [[float(x) for x in r.v] for r in seeds]
    for _ in range(lloyd_iters):
        assign = make_assign_udf(centroids)
        assigned = narrow.select(
            assign(F.col(vec_col)).alias("cluster"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        means = (
            assigned.groupBy("cluster", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.m
        centroids = [
            [by_cluster[ci][p] for p in sorted(by_cluster[ci])]
            if ci in by_cluster
            else centroids[ci]  # empty cluster keeps its seed
            for ci in range(len(centroids))
        ]
    if persisted:
        narrow.unpersist()
    return centroids


def knn_ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    sim_decimals: int = 6,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: train centroids
    (see ivf_train_centroids), assign the corpus to its nearest
    centroid, probe each query's n_probe closest centroids, and
    exact-score only inside probed cells.

    Each query touches n_probe/n_centroids of the corpus instead of all
    of it; the corpus-side assignment is a narrow per-row expression
    (no shuffle) and the candidate join is an equi-join on the cluster
    id. Recall vs brute force is asserted in tests/test_llm.py."""
    from pyspark.sql import Window

    # NOTE: training/assignment re-scan the corpus; at 100 TB that's
    # the right trade (materializing a full-corpus projection costs
    # more than the narrow re-scans it saves — measured neutral even
    # locally).
    base = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )

    centroids = ivf_train_centroids(
        base, "neighbor_id", "cv", n_centroids, lloyd_iters
    )

    assign = make_assign_udf(centroids)
    c = base.withColumn("cluster", assign(F.col("cv")))

    probe = make_probe_udf(centroids, n_probe)
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("cluster", F.explode(probe(F.col("qv"))))
    )

    scored = (
        c.join(F.broadcast(q), on="cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                make_cosine_udf()(F.col("qv"), F.col("cv")), sim_decimals
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("int").alias("rank"))
    )


def ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PERSISTABLE half of IVF: (cluster, id, vector) assignments
    under a FIXED quantizer. Write this bucketed by ``cluster`` once
    per ingested corpus slice; queries then probe the stored table
    (``knn_ann_ivf_probe``) with no retrain and no corpus rescan —
    the ANN analog of q151/q158's incremental dedup indexes. A new
    batch appends ``ivf_index(batch, same_centroids)``: assignment is
    per-row under a frozen quantizer, so index(A) ∪ index(B) ==
    index(A ∪ B) exactly (tested), which is what makes the index
    incrementally maintainable. Periodic re-training (drifted
    centroids) rebuilds the table — a rollover, not a merge."""
    assign = make_assign_udf(centroids)
    return corpus.select(
        assign(F.col(vec_col)).alias("cluster"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    )


def knn_ann_ivf_probe(
    index: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """Query a persisted ``ivf_index`` table: probe each query's
    ``n_probe`` nearest cells, equi-join the index on the cell id,
    exact-score inside probed cells, window top-k. Identical results
    to ``knn_ann_ivf`` under the same centroids (tested) — but the
    corpus side is the stored index: no training scan, no assignment
    pass, and with the table bucketed by ``cluster`` the join needs
    no index-side shuffle (a query batch is broadcast anyway)."""
    from pyspark.sql import Window

    probe = make_probe_udf(centroids, n_probe)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        .withColumn("cluster", F.explode(probe(F.col("qv"))))
    )
    scored = (
        index.join(F.broadcast(q), on="cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                make_cosine_udf()(F.col("qv"), F.col("cv")), sim_decimals
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def save_centroids(
    spark, centroids: list[list[float]], path: str
) -> None:
    """Persist a quantizer next to its index (k rows of (cid,
    centroid)) with the write_swap atomic-rename discipline, so the
    (centroids, index) pair a prober needs is durable across driver
    restarts. k*dim floats — driver-sized by construction."""
    from synthea_etl_spark.operators.scd2 import write_swap

    write_swap(_centroids_df(spark, centroids), path)


def load_centroids(spark, path: str) -> list[list[float]]:
    """Inverse of save_centroids: k rows back to the driver-side
    list the assign/probe UDF factories take."""
    rows = spark.read.parquet(path).orderBy("cid").collect()
    return [[float(x) for x in r.centroid] for r in rows]


def ivf_index_rollover(
    spark,
    index_path: str,
    new_centroids: list[list[float]] | None = None,
    centroids_path: str | None = None,
    n_centroids: int = 16,
    lloyd_iters: int = 1,
    id_col: str = "neighbor_id",
    vec_col: str = "cv",
) -> list[list[float]]:
    """The REMEDIATION half of the IVF index-ops story: q183 flags
    quantizer drift (hot cells, falling coherence) and this operator
    acts on it. Reads the persisted index — the store already holds
    every vector, so no corpus access — trains (or accepts) a new
    quantizer, re-assigns every stored row in ONE narrow per-row
    pass (make_assign_udf: a matmul per Arrow batch, no shuffle),
    and republishes the table with the write_swap atomic-rename
    discipline (operators/scd2.write_swap — the same contract that
    swaps SCD2 dims). Invariant, pinned in tests/test_llm13.py:
    ``rollover(index, C') == ivf_index(original_corpus, C')``
    row-for-row, because assignment under a fixed quantizer is
    per-row — the store IS the corpus as far as re-assignment cares.

    A ``batch_id`` partition column, when present, survives the swap
    (write_swap partition_by), so a restarted
    ``pipeline.ann_index_ingest_stream`` — handed the NEW centroids —
    resumes against the swapped index: its replayed batches rewrite
    their own partitions under the new quantizer, which is exactly
    what the rollover assigned them, and fresh batches append new
    partitions. When ``centroids_path`` is given the new quantizer is
    republished there AFTER the index swap; between the two renames a
    reader holding old centroids probes valid (new-layout) cells at
    reduced recall — transient degradation, never corruption. There
    is additionally a rename-length read-FAILURE window inside each
    write_swap (round-10 ADVICE; see its docstring): a reader that
    starts between rmtree and rename sees path-not-found. Both
    windows disappear under the VERSIONED layout —
    :func:`ivf_index_rollover_versioned` publishes index + centroids
    under ONE versioned root and swaps the single ``_CURRENT``
    pointer (readers resolve via :func:`ivf_read_current`); that is
    the default rollover path for long-lived deployments, this flat
    variant remaining for stores already laid out as a bare parquet
    dir. tests/test_llm13.py proves the pointer flip leaves a
    concurrently-resolved old version fully readable, and the
    round-12 rollover drive exercises a reader probing ACROSS a
    rollover + prune with zero failures.

    Returns the new centroids (the probe side needs them)."""
    from synthea_etl_spark.operators.scd2 import write_swap
    from synthea_etl_spark.operators.store import read as read_store

    store = read_store(spark, index_path)
    if new_centroids is None:
        new_centroids = ivf_train_centroids(
            store, id_col, vec_col, n_centroids, lloyd_iters
        )
    assign = make_assign_udf(new_centroids)
    keep_cols = [c for c in store.columns if c != "cluster"]
    rolled = store.select(
        assign(F.col(vec_col)).alias("cluster"), *keep_cols
    )
    if "batch_id" in store.columns:
        # AQE rebalance by the partition column before the
        # partitioned republish (guide §6): otherwise every
        # re-assign task writes a sliver into every batch_id dir
        # (tasks × batches tiny files). REBALANCE sizes output
        # partitions adaptively, so a hot batch still splits.
        rolled = rolled.hint("rebalance", "batch_id")
    write_swap(
        rolled,
        index_path,
        partition_by=["batch_id"] if "batch_id" in store.columns else None,
    )
    if centroids_path is not None:
        save_centroids(spark, new_centroids, centroids_path)
    return new_centroids


def _centroids_df(spark, centroids: list[list[float]]) -> DataFrame:
    """k-row quantizer frame, built in ONE partition at the source
    (``parallelize(rows, 1)``) so the single-file publish needs no
    ``coalesce(1)``: coalescing the 32-slice local relation costs a
    consistent ~4 s per write on local[32] (measured r16 — the lone
    coalesced task sits in the scheduler, plain/1-slice writes take
    ~0.5 s), which was most of q204's bench wall."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "cid int, centroid array<double>",
    )


def ivf_publish_versioned(
    spark,
    index: DataFrame,
    centroids: list[list[float]],
    root: str,
) -> str:
    """Initial publish of an IVF (index, centroids) PAIR under one
    :func:`scd2.write_versioned_parts` root: data lands in
    ``root/v=<n>/{index,centroids}/`` and ONE ``_CURRENT`` pointer
    flip publishes both — no stale-centroids transient, no
    path-absence window (the two write_swap caveats the flat layout
    documents). ``batch_id`` partitioning, when present, survives so
    a restarted ingest stream writing into the CURRENT version keeps
    its per-batch partition contract. Returns the version dir."""
    from synthea_etl_spark.operators.scd2 import write_versioned_parts

    pby = (
        {"index": ["batch_id"]} if "batch_id" in index.columns else None
    )
    if pby:
        # AQE rebalance before the partitioned publish (guide §6) —
        # same file-sizing discipline as ivf_index_rollover.
        index = index.hint("rebalance", "batch_id")
    return write_versioned_parts(
        {"index": index, "centroids": _centroids_df(spark, centroids)},
        root,
        partition_by=pby,
    )


def ivf_read_current(spark, root: str) -> tuple[DataFrame, list[list[float]]]:
    """Resolve a versioned IVF root to its CURRENT (index DataFrame,
    centroids list) pair — one pointer read; the resolved version's
    files stay valid for the whole query even if a rollover publishes
    mid-read (prior versions are only removed by prune_versions after
    the read-grace)."""
    import os

    from synthea_etl_spark.operators.scd2 import read_current

    cur = read_current(root)
    rows = (
        spark.read.parquet(os.path.join(cur, "centroids"))
        .orderBy("cid")
        .collect()
    )
    return (
        spark.read.parquet(os.path.join(cur, "index")),
        [[float(x) for x in r.centroid] for r in rows],
    )


def ivf_index_rollover_versioned(
    spark,
    root: str,
    new_centroids: list[list[float]] | None = None,
    n_centroids: int = 16,
    lloyd_iters: int = 1,
    id_col: str = "neighbor_id",
    vec_col: str = "cv",
    prune_grace_s: float | None = None,
) -> list[list[float]]:
    """:func:`ivf_index_rollover` on the VERSIONED layout (round-11
    VERDICT close — the default publish path for rollovers): reads
    the current version's index, retrains (or accepts) the
    quantizer, re-assigns in one narrow pass, and publishes index +
    centroids under ONE new version with a single pointer flip.
    Readers that resolved the old version mid-probe keep a fully
    readable (index, centroids) PAIR — both halves from the same
    version, so never the flat layout's stale-centroids mix. Old
    versions are pruned here only when ``prune_grace_s`` is given
    (and only those superseded longer than the grace); otherwise a
    maintenance :func:`scd2.prune_versions` call owns GC. Same
    rollover==rebuild invariant as the flat variant (the store holds
    every vector). Returns the new centroids."""
    import os

    from synthea_etl_spark.operators.scd2 import (
        prune_versions,
        read_current,
    )

    cur = read_current(root)
    store = spark.read.parquet(os.path.join(cur, "index"))
    if new_centroids is None:
        new_centroids = ivf_train_centroids(
            store, id_col, vec_col, n_centroids, lloyd_iters
        )
    assign = make_assign_udf(new_centroids)
    keep_cols = [c for c in store.columns if c != "cluster"]
    rolled = store.select(
        assign(F.col(vec_col)).alias("cluster"), *keep_cols
    )
    ivf_publish_versioned(spark, rolled, new_centroids, root)
    if prune_grace_s is not None:
        prune_versions(root, prune_grace_s)
    return new_centroids


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    sim_decimals: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact cosine near-duplicate pairs (id_a < id_b, sim >=
    threshold) WITHOUT a cartesian node: ids hash into ``n_blocks``
    blocks, the a-side replicates each row across its B partner cells,
    and the B^2 (block_a, block_b) cells become a two-column equi-join
    key. Every unordered pair lands in exactly one cell (a's block
    picks the row, b's block picks the column; the id_a < id_b filter
    keeps one orientation), so results are identical to the all-pairs
    form for any data and threshold.

    The O(n^2) comparisons are inherent to an EXACT pair listing; what
    the blocking buys at 100 TB is that they arrive as a shuffled
    equi-join — n*B rows shuffled, work spread evenly over B^2
    reducers, AQE-splittable — instead of a single CartesianProduct.
    Pick B ~ sqrt(target parallelism). For approximate-but-linear, see
    embedding_near_dup_lsh."""
    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks)).cast(
        "int"
    )
    partner = F.explode(F.array(*[F.lit(i) for i in range(n_blocks)]))
    a = (
        df.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), blk.alias("ba")
        )
        # one copy of each a-row per partner column cell
        .withColumn("cb", partner)
    )
    b = (
        df.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), blk.alias("bb")
        )
        # one copy of each b-row per partner row cell
        .withColumn("ca", partner)
    )
    return (
        a.join(b, (F.col("ba") == F.col("ca")) & (F.col("cb") == F.col("bb")))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), sim_decimals).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    sim_decimals: int = 6,
    n_planes: int = 8,
    dim: int = 64,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate near-duplicate pairs, linear-time: bucket vectors by
    hyperplane sign bits (same bucketing as knn_ann_lsh), generate
    candidate pairs only within a bucket (plus single-bit-flip probes
    when multiprobe >= 1), then exact-cosine verify >= threshold.

    No false positives (every emitted pair is exactly verified); recall
    < 1 by design — pairs whose sign patterns differ in more than
    ``multiprobe`` bits are missed. For genuine near-dups (threshold
    ~0.9+, small angle) per-plane disagreement is rare and many planes
    with shallow probing prune hard; for looser thresholds use FEWER
    planes and deeper probing (each plane disagrees with probability
    angle/pi, so expected bit-diff grows with n_planes). This is the 100 TB path: candidate work is
    sum-over-buckets |bucket|^2, not n^2. Recall vs the exact blocked
    form is asserted in tests/test_llm.py."""
    planes = _hyperplanes(n_planes, dim)
    bucket_of = make_bucket_udf(planes)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    hashed = base.withColumn("b0", bucket_of(F.col("v")))

    probe_cols = [F.col("b0")]
    if multiprobe >= 1:
        probe_cols += [
            F.col("b0").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
    if multiprobe >= 2:
        probe_cols += [
            F.col("b0").bitwiseXOR(F.lit((1 << p) | (1 << r)))
            for p in range(n_planes)
            for r in range(p + 1, n_planes)
        ]
    a = hashed.withColumn("bucket", F.explode(F.array(*probe_cols))).select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), "bucket"
    )
    b = hashed.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("b0").alias("bucket")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair can meet in several probed buckets; keep one copy
        .dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.round(
                make_cosine_udf()(F.col("va"), F.col("vb")), sim_decimals
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def group_embedding_centroid_dims(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """The scalar half of the per-group centroid aggregate: one row
    per (group, dimension) with the EXACT decimal-sum mean — float
    addition is not associative, so at any parallelism only a decimal
    accumulation makes the mean reproducible (plans/common.dsum
    discipline, here applied inside arrays). posexplode to (group,
    dim, value), ONE aggregate with map-side partials. Returns
    (grp, pos, m, n_vecs) — all scalar columns, so the frame sorts /
    hashes cleanly in any downstream comparison harness;
    ``group_embedding_centroids`` re-assembles the arrays for
    library callers that want vector-shaped output."""
    ex = df.select(
        F.col(group_col).alias("grp"),
        F.col(vec_col).alias("_v"),
    ).select(
        "grp",
        F.posexplode("_v").alias("pos", "x"),
    )
    return ex.groupBy("grp", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(25,6)")).cast("double")
            / F.count("x").cast("double")
        ).alias("m"),
        F.count("x").cast("int").alias("n_vecs"),
    )


def group_embedding_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroid (mean vector) — the
    dataset/domain-analysis aggregate (domain centroids, drift
    monitoring, SemDeDup's cluster statistics): exact per-dimension
    means from ``group_embedding_centroid_dims``, re-assembled into
    the dim-ordered array with sort_array over (pos, mean) structs.
    Two aggregates, both with map-side partials; group count rides
    along."""
    per_dim = group_embedding_centroid_dims(df, group_col, vec_col)
    return (
        per_dim.groupBy("grp")
        .agg(
            F.max("n_vecs").alias("n_vecs"),
            F.sort_array(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("_sm"),
        )
        .select(
            "grp",
            "n_vecs",
            F.expr("transform(_sm, s -> s.m)").alias("centroid"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    threshold: float = 0.95,
    lloyd_iters: int = 1,
    sim_decimals: int = 6,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (published design:
    cluster the embedding space, then deduplicate only WITHIN each
    cluster, which bounds the quadratic pair work to
    sum-over-clusters |c|^2 instead of n^2): k-means-assign every
    vector (deterministic md5-min seeds + optional Lloyd refinement,
    ``ivf_train_centroids``), generate in-cluster pairs via an
    equi-join on the cluster id, exact-cosine verify, and keep a
    vector iff no LOWER-id in-cluster near-duplicate exists (the
    deterministic keeper rule, matching exact dedup's min-id-wins).

    Returns every input id with (cluster, keep) — callers filter
    keep for the deduplicated corpus or aggregate for drop-rate
    stats. With ``lloyd_iters=0`` the whole operator is closed-form
    (the q165 gate's exact DuckDB twin); near-dups that land in
    different clusters are missed by design — that recall/cost trade
    IS the published method.

    SIZING (100 TB): the |c|^2 bound only helps if clusters stay
    small — pick ``n_centroids`` ~ O(sqrt(n)) so the expected
    cluster is ~sqrt(n) and total pair work is ~n^1.5, never n^2
    (SCALE.md "Round-8"). Because k-means offers no HARD per-cluster
    bound (one hot cluster of a skewed corpus can still go
    quadratic), ``max_cluster_size`` adds the guard: any cluster
    larger than the cap is deterministically hash-split into
    ceil(|c|/cap) sub-buckets and pairs are generated within
    (cluster, sub-bucket) only — expected pair work per bucket is
    capped at ~cap^2, at the cost of missing near-dups whose members
    hash apart (the same recall-for-bound trade the cluster step
    itself makes, one level down). ``None`` preserves the exact
    published semantics (and the q165 gate's oracle)."""
    centroids = ivf_train_centroids(
        df.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        "neighbor_id",
        "cv",
        n_centroids,
        lloyd_iters,
    )
    assign = make_assign_udf(centroids)
    assigned = df.select(
        F.col(id_col), F.col(vec_col).alias("_v")
    ).withColumn("cluster", assign(F.col("_v")))
    if max_cluster_size is not None:
        # per-cluster sizes are n_centroids rows — broadcast; the
        # sub-bucket id is a deterministic md5 hash of the member id,
        # so re-runs and incremental batches split identically
        sizes = assigned.groupBy("cluster").agg(F.count("*").alias("_csz"))
        assigned = (
            assigned.join(F.broadcast(sizes), "cluster")
            .withColumn(
                "_nsub",
                F.ceil(F.col("_csz") / F.lit(max_cluster_size)).cast("long"),
            )
            .withColumn(
                "_sub",
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("sb"), F.col(id_col).cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                )
                .cast("long")
                % F.greatest(F.lit(1).cast("long"), F.col("_nsub")),
            )
            .drop("_csz", "_nsub")
        )
    else:
        assigned = assigned.withColumn("_sub", F.lit(0))
    a = assigned.select(
        F.col(id_col).alias("_ida"), F.col("_v").alias("_va"),
        "cluster", "_sub",
    )
    b = assigned.select(
        F.col(id_col).alias("_idb"), F.col("_v").alias("_vb"),
        "cluster", "_sub",
    )
    dropped = (
        a.join(b, ["cluster", "_sub"])
        .filter(F.col("_ida") < F.col("_idb"))
        .withColumn(
            "_sim",
            F.round(make_cosine_udf()(F.col("_va"), F.col("_vb")), sim_decimals),
        )
        .filter(F.col("_sim") >= threshold)
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )


def knn_ann_ivf_grouped(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    sim_decimals: int = 6,
) -> DataFrame:
    """``knn_ann_ivf`` with the BULK scoring path: instead of
    materializing every (query, candidate) pair as a DataFrame row
    and scoring it through a per-pair UDF — which ships
    |Q|·|cell|·n_probe vector COPIES through Arrow and dominates wall
    time as soon as the query side is large — corpus cells and their
    probing queries are COGROUPED by cluster id and each cluster is
    scored as ONE numpy matmul (Q @ C.T, the BLAS kernel real IVF
    engines run). Only the per-cluster top-k survivors leave Python
    (≤ k rows per query per probed cell), so the downstream global
    top-k window sees k·n_probe rows per query instead of the full
    candidate set. Identical results to ``knn_ann_ivf`` under the
    same centroids (per-cluster top-k of a union is the union's
    top-k; rounding matches F.round's half-away-from-zero; tested).

    100 TB shape: vectors cross the Arrow boundary ONCE per cell
    (corpus side) plus n_probe times (query side) — never per pair;
    per-task memory is one cell's matrix (the n_centroids ~ O(sqrt n)
    sizing rule bounds it); skewed cells split across tasks only by
    re-clustering (rollover), same as `ivf_index`."""
    centroids = ivf_train_centroids(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        "neighbor_id",
        "cv",
        n_centroids,
        lloyd_iters,
    )
    assign = make_assign_udf(centroids)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cluster", assign(F.col("cv")))
    return _grouped_cell_topk(
        c, centroids, queries, id_col, vec_col, k, n_probe, sim_decimals
    )


def knn_ann_ivf_grouped_probe(
    index: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """The bulk matmul scorer against a PERSISTED ``ivf_index`` table
    (cluster, neighbor_id, cv): corpus-scale query batches probe the
    stored index with per-cluster BLAS scoring — no training scan, no
    assignment pass, no per-pair Arrow traffic. Identical results to
    ``knn_ann_ivf_grouped`` under the same centroids (tested); the
    persisted-index analog of ``knn_ann_ivf_probe`` for query sides
    too big to broadcast-and-pair."""
    return _grouped_cell_topk(
        index, centroids, queries, id_col, vec_col, k, n_probe, sim_decimals
    )


def _round_half_up(sims, scale: float):
    """Round a float64 ndarray to ``log10(scale)`` decimals with
    EXACTLY Spark's F.round semantics (Round on DoubleType goes
    through BigDecimal.valueOf(d) — the shortest round-trip decimal
    repr — then setScale(n, HALF_UP)). The vectorized
    floor(|x|*scale + 0.5) emulation is bit-identical except when
    the binary-scaled value lands within a few ulps of the .5
    boundary, where the binary multiply can put it on the wrong
    side; exactly those rare elements are re-rounded through
    Python's decimal on repr(x) — the same shortest-repr HALF_UP
    pipeline the JVM runs — so the grouped path's 'identical to the
    F.round pair path' guarantee holds by arithmetic, not by
    fixture luck."""
    import numpy as np

    a = np.abs(sims)
    scaled = a * scale
    r = np.floor(scaled + 0.5)
    frac = scaled - np.floor(scaled)
    amb = np.abs(frac - 0.5) < 1e-6
    if amb.any():
        from decimal import ROUND_HALF_UP, Decimal

        decimals = int(round(np.log10(scale)))
        for t in map(tuple, np.argwhere(amb)):
            v = Decimal(repr(float(a[t]))).scaleb(decimals)
            r[t] = float(v.quantize(Decimal(1), rounding=ROUND_HALF_UP))
    return np.sign(sims) * r / scale


def _grouped_cell_topk(
    c: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    sim_decimals: int,
) -> DataFrame:
    """Shared bulk tail: cogroup (cluster, neighbor_id, cv) cells
    with their probing queries, score each cell as one matmul, emit
    per-cluster top-k, global top-k window."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    probe = make_probe_udf(centroids, n_probe)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        .withColumn("cluster", F.explode(probe(F.col("qv"))))
    )
    scale = float(10 ** sim_decimals)

    def score(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty or qdf.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "sim": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64",
                      "sim": "float64"})
        C = np.stack(cdf["cv"].to_numpy()).astype(np.float64)
        Q = np.stack(qdf["qv"].to_numpy()).astype(np.float64)
        nid = cdf["neighbor_id"].to_numpy()
        qid = qdf["query_id"].to_numpy()
        cn = np.linalg.norm(C, axis=1)
        qn = np.linalg.norm(Q, axis=1)
        out_q, out_n, out_s = [], [], []
        kk = min(k, C.shape[0])
        # Chunk the query side so the score matrix stays ~64 MB no
        # matter how many queries probe this cell: with corpus-scale
        # query sides (bitext mining, label propagation over the full
        # table) an unchunked Q @ C.T materializes |Q_cell| x |cell|
        # float64 — gigabytes per task at sf10 — and kills the
        # worker. Top-k is per-query, so blocking is semantics-free.
        block = max(1, 8_000_000 // max(1, C.shape[0]))
        for s0 in range(0, Q.shape[0], block):
            Qb = Q[s0 : s0 + block]
            sims = (Qb @ C.T) / np.outer(qn[s0 : s0 + block], cn)
            sims = _round_half_up(sims, scale)
            for i in range(sims.shape[0]):
                # zero-norm members yield NaN cosines; rank them LAST
                # (the original full-lexsort path's behavior — NaN
                # sorted after every finite sim) so they can neither
                # poison the np.partition threshold (NaN compares as
                # largest there, emptying the candidate set) nor
                # crowd finite neighbors out of the cut
                orig = sims[i]
                row = np.where(np.isnan(orig), -np.inf, orig)
                # tie-safe candidate cut: keep EVERYTHING at or above
                # the (k+1)-th largest value (+1 absorbs self), then
                # apply the exact oracle order on the candidates —
                # sim DESC, neighbor_id ASC, self excluded
                kk2 = min(kk + 1, row.size)
                if row.size > 4 * kk2:
                    thresh = np.partition(row, row.size - kk2)[
                        row.size - kk2
                    ]
                    cand = np.nonzero(row >= thresh)[0]
                else:
                    cand = np.arange(row.size)
                order = cand[np.lexsort((nid[cand], -row[cand]))]
                q_i = qid[s0 + i]
                taken = 0
                for j in order:
                    if nid[j] == q_i:
                        continue
                    out_q.append(q_i)
                    out_n.append(nid[j])
                    out_s.append(orig[j])  # emit NaN, not the sort key
                    taken += 1
                    if taken >= kk:
                        break
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
        ).astype({"query_id": "int64", "neighbor_id": "int64",
                  "sim": "float64"})

    survivors = (
        c.groupBy("cluster")
        .cogroup(q.groupBy("cluster"))
        .applyInPandas(
            lambda cdf, qdf: score(
                cdf.drop(columns=["cluster"]), qdf.drop(columns=["cluster"])
            ),
            "query_id long, neighbor_id long, sim double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def random_projection_signs(out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic ±1 projection planes (the dense-sign case of
    Achlioptas' database-friendly random projections): sign(j, d) =
    +1 iff the first hex digit of md5('rp<j>|<d>') is 0-7. md5-seeded
    like every other deterministic 'random' structure in the engine
    (LSH hyperplanes, IVF seeds), so any engine — and any SQL twin —
    reconstructs the identical matrix."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"rp{j}|{d}".encode()).hexdigest()[0] <= "7"
            else -1
            for d in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection_dims(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    in_dim: int = 64,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with ±1 planes:
    proj[j] = sum_d sign(j, d) * x_d — ZERO shuffles; returns the
    exploded scalar frame (id, pos, value). Downstream ANN (IVF/LSH)
    runs on 4x fewer dimensions at ~unchanged recall for near-dup
    thresholds, which at 100 TB is a 4x cut in every vector-shuffle
    byte count.

    Computed as ONE Arrow batch pass (r16, guide §4.2): quantize each
    element to exact DECIMAL(25,6) micro-units (int64), one int64
    matmul against the ±1 sign matrix per batch, one correctly-rounded
    division back to double. The r15 expression form (16 zip_with +
    aggregate lambda towers over 1024 literals) spent ~1.3 s PER RUN
    in Catalyst analysis alone and executed interpreted
    (CodegenFallback); a chained element_at/Add rewrite analyzed even
    slower (decimal-widening resolution on 64-deep chains, measured
    4x worse — negative result kept in OPTIMIZATION_r16.md). The
    Arrow pass is bit-identical (q171 oracle + the retained
    expression twin, tests/test_llm4.py):

    - cast(double as decimal(25,6)) is HALF_UP on the exact binary
      value; vectorized as rint(x*1e6) with an exact-Decimal fixup
      for elements within 1e-6 of a rounding halfway point (float
      scaling error can only flip the rounding inside that band;
      dyadic inputs CAN sit exactly on a halfway point, where rint's
      half-even and decimal's half-away diverge — the fixup decides
      those exactly).
    - HALF_UP is symmetric (q(-x) = -q(x)) and |x| is bounded, so the
      per-term sign flip + decimal sum equals an int64 dot product of
      quantized micro-units with the sign matrix — exact, no overflow
      (|sum| <= in_dim * |x|max * 1e6 << 2^63).
    - cast(decimal as double) is the correctly-rounded double of the
      exact sum == float64(sum_micro) / 1e6 (sum_micro < 2^53).
    - null/short/long vectors produce 16 null values, exactly like
      the old zip_with's null poisoning.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    sgn = np.asarray(
        random_projection_signs(out_dim, in_dim), dtype="int64"
    ).T  # (in_dim, out_dim)
    src = df.select(id_col, vec_col)
    out_schema = StructType(
        [
            src.schema[id_col],
            StructField("pos", IntegerType(), False),
            StructField("value", DoubleType(), True),
        ]
    )
    names = [f.name for f in out_schema.fields]

    def compute(batches):
        from decimal import ROUND_HALF_UP, Decimal

        one = Decimal(1)

        def quantize(x: np.ndarray) -> np.ndarray:
            scaled = x * 1e6
            r = np.rint(scaled)
            frac = scaled - np.floor(scaled)
            suspect = np.abs(frac - 0.5) < 1e-6
            for p in np.nonzero(suspect)[0]:
                r[p] = float(
                    Decimal(float(x[p])).scaleb(6).quantize(one, ROUND_HALF_UP)
                )
            return r.astype("int64")

        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            ids = batch.column(0)
            vecs = batch.column(1)
            offs = vecs.offsets.to_numpy()
            lens = np.diff(offs)
            flat = vecs.values
            clean = (
                vecs.null_count == 0
                and flat.null_count == 0
                and bool((lens == in_dim).all())
            )
            vals = np.empty((nrows, out_dim), dtype="float64")
            if clean:
                x = flat.to_numpy(zero_copy_only=False)[offs[0] : offs[-1]]
                vals[:] = (
                    quantize(x).reshape(nrows, in_dim) @ sgn
                ).astype("float64") / 1e6
                null_rows = np.zeros(nrows, dtype=bool)
            else:
                null_rows = np.ones(nrows, dtype=bool)
                row_valid = np.asarray(vecs.is_valid())
                for i in range(nrows):
                    if not row_valid[i] or lens[i] != in_dim:
                        continue
                    row = flat.slice(offs[i], in_dim)
                    if row.null_count:
                        continue
                    x = row.to_numpy(zero_copy_only=False)
                    vals[i] = (quantize(x) @ sgn).astype("float64") / 1e6
                    null_rows[i] = False
            out_ids = ids.take(np.repeat(np.arange(nrows), out_dim))
            pos = pa.array(np.tile(np.arange(out_dim, dtype="int32"), nrows))
            value = pa.array(
                vals.reshape(-1),
                type=pa.float64(),
                mask=np.repeat(null_rows, out_dim),
            )
            yield pa.RecordBatch.from_arrays([out_ids, pos, value], names=names)

    return src.mapInArrow(compute, out_schema)


def _random_projection_dims_expr(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    in_dim: int = 64,
) -> DataFrame:
    """The original zip_with/aggregate expression form of
    :func:`random_projection_dims` — kept as the reference twin the
    Arrow pass is property-tested against (tests/test_llm4.py); not on
    any query path."""
    signs = random_projection_signs(out_dim, in_dim)
    v = F.col(vec_col).cast("array<double>")
    projs = [
        F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(float(s)) for s in signs[j]]),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("decimal(25,6)"),
            # decimal addition widens 25,6+25,6 -> 26,6; cast back so
            # the accumulator type is stable (values are bounded by
            # dim * |x|max << 10^19, so the narrowing never truncates)
            lambda acc, y: (acc + y.cast("decimal(25,6)")).cast(
                "decimal(25,6)"
            ),
        ).cast("double")
        for j in range(out_dim)
    ]
    return df.select(
        F.col(id_col), F.posexplode(F.array(*projs)).alias("pos", "value")
    ).select(id_col, F.col("pos").cast("int").alias("pos"), "value")


def knn_label_propagation(
    labeled: DataFrame,
    unlabeled: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    lloyd_iters: int = 1,
    sim_decimals: int = 6,
) -> DataFrame:
    """kNN label propagation — the standard semi-supervised labeling
    / weak-supervision step of a data-curation pipeline (classify
    unlabeled documents by their nearest labeled neighbors in
    embedding space): IVF ANN from each unlabeled vector to its
    ``k`` nearest labeled vectors (``knn_ann_ivf`` — every 100 TB
    property of that path applies: per-cell candidate joins, never
    all-pairs), then a majority vote over the neighbors' labels with
    the deterministic tie rule (most votes, then smallest label).

    Returns (id, pred_label, votes). With ``lloyd_iters=0`` the
    whole operator is closed-form (exact DuckDB twin, q169); the
    label side joins on the neighbor id, so a big labeled corpus
    needs no broadcast. Scoring runs the BULK per-cluster matmul
    path (``knn_ann_ivf_grouped``): label propagation queries with
    the WHOLE unlabeled corpus, so the per-pair UDF path's
    pair-materialization cost — fine for small query batches — would
    dominate here (measured 82 s vs ~seconds at sf1)."""
    from pyspark.sql import Window

    knn = knn_ann_ivf_grouped(
        labeled.select(id_col, vec_col),
        unlabeled,
        id_col,
        vec_col,
        k,
        n_centroids,
        n_probe,
        lloyd_iters,
        sim_decimals,
    )
    lab = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_lab")
    )
    votes = (
        knn.join(lab, "neighbor_id")
        .groupBy("query_id", "_lab")
        .agg(F.count("*").cast("int").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("_lab")
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("query_id").alias(id_col),
            F.col("_lab").alias("pred_label"),
            "votes",
        )
    )


def lsh_bucket_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """The PERSISTABLE half of embedding near-dedup: (bucket, id,
    vector) rows under the deterministic md5-derived hyperplanes.
    Write bucketed by ``bucket`` once per ingested slice; new batches
    probe it with ``incremental_embedding_near_dups`` — no historical
    vector rescan. Bucketing is per-row under fixed planes, so
    index(A) ∪ index(B) == index(A ∪ B) exactly (same incremental
    invariant as ``ivf_index``; tested). Completes the incremental
    index triad: exact fingerprints (q151), MinHash bands (q158),
    embedding buckets (here)."""
    planes = _hyperplanes(n_planes, dim)
    bucket_of = make_bucket_udf(planes)
    return df.select(
        bucket_of(F.col(vec_col)).alias("bucket"),
        F.col(id_col).alias("hist_id"),
        F.col(vec_col).alias("hv"),
    )


def incremental_embedding_near_dups(
    batch: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    sim_decimals: int = 6,
    n_planes: int = 8,
    dim: int = 64,
    multiprobe: int = 1,
) -> DataFrame:
    """New-batch-vs-history embedding near-dups from a persisted
    ``lsh_bucket_index``: bucket the batch under the SAME planes,
    multiprobe (bit flips up to ``multiprobe``) against the stored
    buckets, exact-cosine verify >= threshold. Same
    no-false-positives / bounded-recall contract as
    ``embedding_near_dup_lsh``, but the history side is the index
    table — a daily batch broadcasts, history never shuffles or
    rescans. Returns (new_id, hist_id, sim)."""
    planes = _hyperplanes(n_planes, dim)
    bucket_of = make_bucket_udf(planes)
    hashed = batch.select(
        F.col(id_col).alias("new_id"), F.col(vec_col).alias("nv")
    ).withColumn("b0", bucket_of(F.col("nv")))
    probe_cols = [F.col("b0")]
    if multiprobe >= 1:
        probe_cols += [
            F.col("b0").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
    if multiprobe >= 2:
        probe_cols += [
            F.col("b0").bitwiseXOR(F.lit((1 << p) | (1 << r)))
            for p in range(n_planes)
            for r in range(p + 1, n_planes)
        ]
    probes = hashed.withColumn(
        "bucket", F.explode(F.array(*probe_cols))
    ).select("new_id", "nv", "bucket")
    return (
        index.join(F.broadcast(probes), "bucket")
        .dropDuplicates(["new_id", "hist_id"])
        .select(
            "new_id",
            "hist_id",
            F.round(
                make_cosine_udf()(F.col("nv"), F.col("hv")), sim_decimals
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def quantize_embeddings_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-dimension int8 quantization — the storage/ANN
    compression step of an embedding pipeline: scale_d = max|x_d| over
    the corpus, q = round(x * 127 / scale_d), so each dimension maps to
    [-127, 127] and dequantization is q * scale_d / 127.

    One posexplode + one 64-group aggregate for the scales (broadcast
    back — dim rows, never the corpus), then a per-row quantize. All
    arithmetic is exact-input double (float32 widens losslessly);
    all-zero dimensions quantize to 0. Returns exploded
    (id, pos, q, scale) rows — writers re-assemble arrays or store
    columnar as-is."""
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    scales = ex.groupBy("pos").agg(F.max(F.abs(F.col("x"))).alias("scale"))
    return (
        ex.join(F.broadcast(scales), "pos")
        .select(
            F.col(id_col),
            F.col("pos").cast("int").alias("pos"),
            F.when(F.col("scale") == 0, F.lit(0))
            .otherwise(F.round(F.col("x") * 127.0 / F.col("scale")))
            .cast("int")
            .alias("q"),
            "scale",
        )
    )
