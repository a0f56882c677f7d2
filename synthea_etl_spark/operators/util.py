"""Shared operator utilities.

``rebalance_by_key`` addresses a scan-parallelism hazard for
explode-heavy operators (MinHash shingling, SimHash token votes,
n-gram Jaccard): the CPU cost is dominated by post-explode hashing,
whose parallelism is inherited from the *scan* (file splits / row
groups), not from the data size after explode. When the input arrives
in fewer partitions than the session's shuffle parallelism (one small
file locally; a handful of giant row groups at scale), the 100-1000x
exploded work runs on a handful of cores.

The fix is a hash repartition of the COMPACT pre-explode rows by the
document key, with an explicit partition count so AQE does not coalesce
the (byte-wise tiny) shuffle back down — the point is CPU spread, not
byte balance. Because the rows are hash-distributed by the same key the
downstream ``groupBy(key)`` requires, Catalyst reuses the partitioning
and the exploded data itself never shuffles. When the scan is already
wide (the normal case on a cluster reading many files), this is a
no-op — no shuffle is added.

The spread count is the session's shuffle parallelism, which a local
session sets to 2 x its task slots (``session._session_conf``), so the
spread runs one or two tasks per core: more tasks than that buy no CPU
spread. A Python task (``mapInPandas``/``mapInArrow``) no longer costs
much by itself: under the engine's worker daemon
(``synthea_etl_spark.worker_daemon``) an empty ``mapInArrow`` task takes
about 2 ms of worker CPU on a 4-vCPU host, against about 260 ms under
the stock ``pyspark.daemon``, which re-reads ``pyspark.zip`` and the
spark-core jar at the start of every task and then walks the whole
worker heap in a ``gc.collect()`` after it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sql_ident(name: str) -> str:
    """``name`` as one backtick-quoted Spark SQL identifier, inner
    backticks doubled: dots, spaces and quotes stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a single-quoted Spark SQL string literal, ``\\`` and
    ``'`` backslash-escaped (the parser's default string escaping)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def shuffle_parallelism(df: DataFrame) -> int:
    """The session's target shuffle parallelism (fallback 200)."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200


def rebalance_by_key(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition ``df`` by ``key_col`` iff the input has fewer
    partitions than half the shuffle parallelism; otherwise pass
    through unchanged (never adds a shuffle to an already-wide scan)."""
    target = shuffle_parallelism(df)
    n_in = df.rdd.getNumPartitions()
    if n_in * 2 >= target:
        return df
    return df.repartition(target, F.col(key_col))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_expr,
    n_salt: int,
    sums: dict[str, object] | None = None,
    count_alias: str | None = None,
) -> DataFrame:
    """Skew-resistant two-phase aggregation.

    When a groupBy key is heavily skewed (a handful of keys own most
    rows), the final-aggregation task for a hot key can be 1000x its
    siblings. Salting splits each key into ``n_salt`` sub-groups for
    the first (wide) aggregation, then combines the per-salt partials
    in a second, tiny aggregation — two shuffles, both balanced, and
    results identical to the direct groupBy because SUM and COUNT
    re-aggregate exactly (callers pass decimal-cast columns for
    float-exactness, see plans/common.dsum).

    ``sums`` maps output alias -> column expression to SUM;
    ``count_alias`` adds a row count. AQE's skew-join splitting does
    not cover single-stage aggregation skew — this operator is the
    explicit fix."""
    sums = sums or {}
    salted = df.withColumn("_salt", F.pmod(salt_expr, F.lit(n_salt)))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[F.sum(c).alias(a) for a, c in sums.items()],
        F.count(F.lit(1)).alias("_cnt"),
    )
    final = [F.sum(a).alias(a) for a in sums]
    if count_alias:
        final.append(F.sum("_cnt").alias(count_alias))
    return partial.groupBy(*keys).agg(*final)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    salt_expr,
    n_salt: int,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the big/skewed side gets a salt from
    one of ITS columns (any well-distributed expression — an id hash),
    the other side is replicated n_salt times, and the join runs on
    (keys + salt). A hot key's rows now spread over n_salt reducers
    instead of one. Results are identical to the plain join; cost is
    n_salt-fold replication of the right side — use when the right
    side is too big to broadcast but n_salt copies still beat one
    straggler task. (AQE's skew-join split handles many cases at
    runtime; explicit salting is for skew you KNOW about, and for
    aggregation-after-join pipelines where AQE's split boundaries
    don't help.)"""
    l = left.withColumn("_salt", F.pmod(salt_expr, F.lit(n_salt)))
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return l.join(r, on=[*key_cols, "_salt"], how=how).drop("_salt")


def key_skew_profile(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """One-row skew diagnostic for a prospective join/agg key: key
    count, row count, max/median/p99 rows per key, and the skew factor
    (max key's share vs a perfectly uniform distribution). This is the
    measurement that justifies reaching for salted_agg/salted_join —
    at 100 TB you profile BEFORE burning a shuffle on a key that one
    tenant dominates. Cost: one count-per-key shuffle + a tiny
    aggregate; at scale, run it on a sample or reuse NDV/stats from
    the catalog."""
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").alias("max_per_key"),
        F.round(F.percentile(F.col("cnt"), F.lit(0.5)), 6).alias("p50_per_key"),
        F.round(F.percentile(F.col("cnt"), F.lit(0.99)), 6).alias("p99_per_key"),
        F.round(
            (F.max("cnt") * F.count(F.lit(1))).cast("double")
            / F.sum("cnt").cast("double"),
            6,
        ).alias("skew_factor"),
    )


def distributed_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
    exclusive: bool = False,
) -> DataFrame:
    """Global running total of ``value_col`` in ``order_col`` order,
    WITHOUT a single-partition window.

    The naive ``Window.orderBy(order_col)`` funnels every row through
    one task — the classic global-window scale trap. Here:

    1. shard by a DETERMINISTIC range expression on the numeric
       ``order_col`` (one min/max stats job — often answered straight
       from parquet footers). Not ``repartitionByRange``: its sampled
       boundaries carry per-job RNG seeds, and this operator computes
       shard totals and per-shard running sums in SEPARATE jobs that
       must agree on every row's shard;
    2. per-shard running total via a window (one hash exchange on the
       shard id);
    3. per-shard totals (one row per shard) collect to the driver,
       their exclusive prefix sums broadcast back as a tiny map lookup.

    Only num_shards values ever reach the driver, so the operator
    scales to any row count. Values must be summable longs/decimals
    (exact associative addition; doubles would make the result depend
    on shard boundaries). Uniform-width shards assume a roughly dense
    ``order_col`` (ids, offsets, epochs); for wildly skewed keys,
    derive boundaries from approx quantiles instead.

    ``exclusive=True`` yields the sum of STRICTLY-preceding rows (the
    row's own start offset — what sequence packing needs)."""
    from pyspark.sql import Window

    lo, hi = df.agg(
        F.min(order_col).cast("double"), F.max(order_col).cast("double")
    ).first()
    n_shards = shuffle_parallelism(df)
    width = max((hi - lo) / n_shards, 1e-12) if hi is not None else 1.0
    shard = F.least(
        F.lit(n_shards - 1),
        F.floor((F.col(order_col).cast("double") - F.lit(lo)) / F.lit(width)),
    ).cast("int")
    sharded = df.withColumn("_shard", shard)
    w = Window.partitionBy("_shard").orderBy(order_col)
    frame = w.rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    local = sharded.withColumn("_local", F.sum(value_col).over(frame)).withColumn(
        "_local", F.coalesce(F.col("_local"), F.lit(0))
    )
    totals = (
        sharded.groupBy("_shard")
        .agg(F.sum(value_col).alias("_tot"))
        .orderBy("_shard")
        .collect()
    )
    offsets, run = {}, 0
    for r in totals:
        offsets[r["_shard"]] = run
        run += r["_tot"] or 0
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    return (
        local.withColumn(out_col, F.col("_local") + off[F.col("_shard")])
        .drop("_shard", "_local")
    )


def bucketed_rank(
    df: DataFrame,
    part_cols: list[str],
    bucket_col: str,
    order_cols: list,
    out_col: str,
) -> DataFrame:
    """Exact per-partition ``row_number`` WITHOUT one-task-per-key
    sorts — the skew-free rank the quota/manifest family needs when
    the partition keys are few (languages, sources, shards: the
    100 TB norm is ~20 keys over billions of rows, which serializes
    a plain window into ~20 giant sort tasks).

    Contract: ``bucket_col`` is an int column MONOTONE in the
    partition's sort order (e.g. a fixed-width prefix of the md5
    order key, giving ~1024 hash-range buckets per key), and
    ``order_cols`` is the exact within-partition order. The global
    rank decomposes as (docs in lower buckets) + (rank within own
    bucket): the per-(key, bucket) histogram — |keys| x |buckets|
    rows, broadcastable by construction — cumulates to the offsets,
    and the row_number window partitions by (key, bucket), so every
    sort is ~1/1024 of a key's rows. Bit-identical to the plain
    window (pinned by the q181/q192/q199/q201 gate hashes, which
    predate this shape). Measured: q199/q201 marginals 1.58x/0.92x
    at 50M rows (bench_artifacts/q199_q201_scale_probe_r10.json)."""
    from pyspark.sql import Window

    hw = (
        Window.partitionBy(*part_cols)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = (
        df.groupBy(*part_cols, bucket_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_bc"))
        .withColumn(
            "_cbefore", F.coalesce(F.sum("_bc").over(hw), F.lit(0))
        )
        .select(*part_cols, bucket_col, "_cbefore")
    )
    w = Window.partitionBy(*part_cols, bucket_col).orderBy(*order_cols)
    return (
        df.withColumn("_brank", F.row_number().over(w))
        .join(F.broadcast(hist), [*part_cols, bucket_col])
        .withColumn(out_col, F.col("_cbefore") + F.col("_brank"))
        .drop("_brank", "_cbefore")
    )


def grouped_topk(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str = "rank",
    bucket_col: str | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact per-group top-k WITHOUT one-sort-task-per-group: the
    group-partitioned twin of the global orderBy+limit swap (q270's
    TakeOrderedAndProject lesson). A plain row_number window
    partitioned by few, huge groups (languages, sources: the 100 TB
    norm is ~20 keys over billions of rows) serializes into ~20
    giant sort tasks; `bucketed_rank` fixes FULL ranking, but for a
    top-k cut the cheaper classic applies: stage 1 takes the top-k
    within (group, hash-bucket) — every sort is ~1/n_buckets of a
    group — and stage 2 re-ranks the surviving <= n_buckets * k rows
    per group (a bounded frame regardless of data size). Exact
    because any global top-k row is necessarily within the top-k of
    its own bucket. Ties must be broken by ``order_cols`` (a total
    order), so the survivor set is deterministic and engine-portable;
    the DuckDB twin is the plain per-group row_number <= k.

    ``bucket_col`` names a column to hash for bucketing (default: the
    last order column WHEN it is a plain name — typically the
    tiebreak id, uniformly spreading rows; SortOrder expressions
    like F.asc(...) cannot be hashed, so callers ordering with those
    must pass ``bucket_col`` explicitly)."""
    from pyspark.sql import Window

    if bucket_col is None:
        if not isinstance(order_cols[-1], str):
            raise ValueError(
                "grouped_topk needs bucket_col when order_cols are "
                "SortOrder expressions (F.desc/F.asc) — pass the "
                "tiebreak column's name"
            )
        bucket_col = order_cols[-1]
    bk = F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets))
    w1 = Window.partitionBy(*part_cols, "_gtk_bk").orderBy(*order_cols)
    cand = (
        df.withColumn("_gtk_bk", bk)
        .withColumn("_gtk_r1", F.row_number().over(w1))
        .filter(F.col("_gtk_r1") <= k)
        .drop("_gtk_r1")
    )
    w2 = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        cand.drop("_gtk_bk")
        .withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
    )
