"""Deduplication operators for LLM data pipelines: exact, MinHash-LSH,
SimHash, and n-gram Jaccard (beyond-reference surface; BASELINE.json
north star).

Everything runs as built-in expressions + joins, except the MinHash
signature which is one vectorized Arrow batch pass (numpy + hashlib —
no row-at-a-time Python), and every algorithm is deterministic: hash
functions are derived from md5 (stable across engines/runs), so results
are reproducible and DuckDB-oracle-checkable.

Scale design (100 TB):
- exact dedup = hash groupBy: one shuffle on a 16-byte key, partial
  aggregation absorbs duplicates map-side.
- MinHash-LSH: per-doc signature is ONE Arrow batch pass (each doc
  lives whole in one row — no exploded-row materialization, all
  num_hashes minima per batch as numpy segment ops);
  banding turns all-pairs O(n^2) into per-bucket joins. Bucket skew
  (giant near-dup clusters) is handled by AQE skew-join splitting.
- SimHash: 64->60-bit fingerprint; candidate pairs via 4-band
  pigeonhole (exact for hamming<=3: 3 differing bits can dirty at most
  3 of 4 bands, so every qualifying pair shares a clean band) + exact
  hamming verify. Self-join happens per band bucket, never all-pairs.
- n-gram Jaccard: exact pair scoring used (a) standalone within small
  blocks, (b) as the verify stage after LSH candidate generation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from synthea_etl_spark.operators import store
from synthea_etl_spark.operators.store import watermark as compaction_watermark
from synthea_etl_spark.operators.text import fingerprint, shingles, tokens
from synthea_etl_spark.operators.util import rebalance_by_key

# Prime modulus > 2^32 for MinHash permutations; hash inputs are 32-bit
# (first 8 md5 hex chars), coefficients small -> products stay << 2^63.
MINHASH_P = 4294967311


def _hex_int(col: Column, nchars: int) -> Column:
    """First `nchars` md5 hex chars as a bigint — the engine-portable
    deterministic integer hash (DuckDB: CAST('0x'||substr(md5(x),..) AS
    BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, nchars), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group by content fingerprint: keeper = min id, n_copies = group
    size. One shuffle on the 128-bit key."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Return only keeper rows (first id per fingerprint), full width."""
    keepers = exact_dedup_stats(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def exploded_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    keep: list[str] | None = None,
) -> DataFrame:
    """(id, pos, s) word-``shingle_n``-gram rows, built CODEGEN-SIDE:
    posexplode(tokens) + window ``lead`` to stitch each token with its
    next n-1 neighbors. Identical output to exploding the
    ``text.shingles`` array, but ~2x faster end-to-end (measured sf0.1:
    0.44s vs 0.78s) because sequence/transform/slice higher-order
    lambdas run INTERPRETED in Spark while lead/concat_ws stay inside
    whole-stage codegen.

    The doc frame is hash-repartitioned by ``id_col`` BEFORE the
    explode (rebalance_by_key): the lead window's required clustering
    is then satisfied by that exchange, so what shuffles is the compact
    (id, text) rows — not the exploded token rows. (The guarantee is
    exactly as strong as the repartition: if a future caller bypasses
    rebalance_by_key, the window will shuffle the exploded rows
    instead.) That exchange doubles as the work rebalance (a narrow
    1-file scan no longer bounds parallelism) and pre-partitions every
    downstream per-doc aggregate — consumers groupBy(id) with NO
    additional shuffle. Docs with fewer than ``shingle_n`` tokens yield
    no rows (no full window exists).

    PRECONDITION: ``id_col`` must be unique — one row per document.
    With duplicate ids the lead window stitches tokens from DIFFERENT
    rows into cross-row shingles, and pos repeats make the order
    nondeterministic. All shingle-based operators (minhash, jaccard,
    winnowing, contamination) inherit this requirement; callers with
    multi-row docs must pre-aggregate to one text per id."""
    from pyspark.sql import Window

    keep = keep or []
    tok = rebalance_by_key(df, id_col).select(
        id_col, *keep, F.posexplode(tokens(text_col)).alias("pos", "_w")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("_w", j).over(w) for j in range(1, shingle_n)]
    # concat_ws skips nulls, so a tail row with a missing lead would
    # silently emit a short shingle — the _last filter drops those.
    last = leads[-1] if leads else F.col("_w")
    return (
        tok.select(
            id_col,
            *keep,
            "pos",
            F.concat_ws(" ", F.col("_w"), *leads).alias("s"),
            last.alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )


def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: sig_i = min over shingles of
    (a_i*h + b_i) mod p, h = 32-bit md5 prefix of the shingle.

    Computed in ONE Arrow pass (mapInArrow): every document lives whole
    in one row, so the signature is a per-row function — no shingle
    explode, no window sort over the exploded tokens, no 32-min hash
    aggregate. Per batch, shingle md5 prefixes go into one int64 buffer
    and the num_hashes affine permutations + per-doc minima run as
    numpy vector ops (segment minima via minimum.reduceat). The r15
    sf1 stage profile put ~124 s of q209's 352 s executor time in the
    old explode→md5→conv→32-way-partial-min stages; this pass removes
    the exploded-row materialization and the per-shingle conv/hexstring
    work while keeping the hash family bit-identical (verified against
    the expression form in tests/test_minhash_equiv.py, and against the
    DuckDB oracle by every rider query).

    Bit-equality notes (the oracle mirrors the md5 family, so every
    step replicates the old expression semantics exactly):
    - tokens(): Spark trim strips SPACES only -> bytes.strip(b" ");
      F.split(_, r"\\s+") is Java regex (ASCII \\s, limit -1 keeps
      leading/trailing empties) -> re.split(b"[ \\t\\n\\x0b\\f\\r]+").
      Splitting UTF-8 bytes is safe: multi-byte code points never
      contain ASCII bytes.
    - shingle = concat_ws(" ", w_j..w_{j+n-1}) -> b" ".join (no NULL
      tokens exist post-split, so concat_ws's null-skip is moot).
    - h = conv(substring(md5(s),1,8),16,10) -> first 4 digest bytes
      big-endian; sig arithmetic stays in int64 (h < 2^32, a_i <= 63,
      so a_i*h + b_i < 2^38 — no overflow, matches Spark's LongType).
    - docs with < shingle_n tokens (or empty/null text) yield no row,
      exactly like the old groupBy over their zero exploded rows.

    The input is rebalanced by id first (same exchange the old explode
    path paid), so a narrow 1-file scan does not bound parallelism and
    downstream per-doc consumers see the same partitioning as before.
    Only (id, text) cross the Python boundary (guide §4.1)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField

    src = rebalance_by_key(df.select(id_col, text_col), id_col)
    out_schema = StructType(
        [src.schema[id_col]]
        + [StructField(f"sig_{i}", LongType(), True) for i in range(num_hashes)]
    )
    sig_names = [f.name for f in out_schema.fields]
    n = shingle_n
    coef_a = [2 * i + 1 for i in range(num_hashes)]
    coef_b = [(1000000007 * (i + 1)) % MINHASH_P for i in range(num_hashes)]

    def compute(batches):
        import re
        from hashlib import md5

        ws = re.compile(rb"[ \t\n\x0b\f\r]+")
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1)
            hs: list[int] = []
            offs = [0]
            keep: list[int] = []
            for i in range(batch.num_rows):
                t = texts[i].as_py()
                if t is None:
                    continue
                bt = t.encode("utf-8").strip(b" ")
                if not bt:
                    continue
                toks = ws.split(bt)
                m = len(toks) - n + 1
                if m <= 0:
                    continue
                hs.extend(
                    int.from_bytes(
                        md5(b" ".join(toks[j : j + n])).digest()[:4], "big"
                    )
                    for j in range(m)
                )
                keep.append(i)
                offs.append(len(hs))
            if not keep:
                continue
            h = np.asarray(hs, dtype="int64")
            starts = np.asarray(offs[:-1], dtype="int64")
            cols = [ids.take(keep)] + [
                pa.array(
                    np.minimum.reduceat((h * a + b) % MINHASH_P, starts),
                    type=pa.int64(),
                )
                for a, b in zip(coef_a, coef_b)
            ]
            yield pa.RecordBatch.from_arrays(cols, names=sig_names)

    return src.mapInArrow(compute, out_schema)


def _minhash_signature_expr(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """The original pure-expression MinHash pipeline (shingle explode +
    md5/conv + one groupBy of num_hashes minima). Kept as the reference
    implementation the Arrow path is property-tested against
    (tests/test_minhash_equiv.py); not on any query path."""
    sh = exploded_shingles(
        df.select(id_col, text_col), text_col, id_col, shingle_n
    ).withColumn("h", _hex_int(F.col("s"), 8))
    aggs = [
        F.min((F.lit(2 * i + 1) * F.col("h") + F.lit((1000000007 * (i + 1)) % MINHASH_P)) % MINHASH_P).alias(
            f"sig_{i}"
        )
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def banded_signatures(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """MinHash signature frame -> its banded LSH form: one row per
    (id, band, bh) where bh = md5 of the band's rows_per_band
    signature slots. This IS the persistable near-dedup index: write
    it bucketed by (band, bh) once per ingested corpus slice and every
    future batch probes it with an equi-join on those keys — no
    historical text rescan, no signature recompute (the incremental
    analog q151 provides for exact dedup). Pure unpivot: no shuffle
    of its own."""
    r = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * r + j}") for j in range(r)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bh"),
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, "b.band", "b.bh")


def incremental_lsh_candidates(
    new_bands: DataFrame,
    history_bands: DataFrame,
    id_col: str,
) -> DataFrame:
    """New-batch-vs-history near-dup candidates from banded MinHash
    signatures: equi-join on (band, bh), distinct (new_id, hist_id)
    pairs. Feed ``banded_signatures`` of the incoming batch as
    ``new_bands`` and the PERSISTED index table as ``history_bands``.

    Scale shape: the only data touched on the history side is the
    (id, band, bh) index — at 100 TB that is bands × n_docs rows of
    ~50 bytes, orders of magnitude smaller than the corpus, and when
    the index table is bucketed by (band, bh) the sort-merge join
    needs no history-side shuffle at all (a typical daily batch is
    broadcast-joined outright). An empty batch is a no-op by
    construction (inner join against zero rows)."""
    a = new_bands.alias("a")
    b = history_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(
            F.col(f"a.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("hist_id"),
        )
        .dropDuplicates()
    )


def lsh_candidates(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Band the signature (bands x rows_per_band), bucket within
    (band_idx, band_hash): returns candidate pairs (id_a < id_b).

    Buckets form by a single groupBy on (band, band_hash) and pairs
    expand IN-BUCKET via posexplode + slice — never a self-join. The
    self-join form plans the whole upstream signature pipeline (scan →
    shingle window → minhash aggregate) TWICE, because the broadcast
    build side wraps the subtree and defeats ReusedExchange; the
    groupBy form computes signatures once and shuffles only the tiny
    (doc, band, hash) unpivot. Same quadratic pair output per bucket
    as the join — that blowup is inherent to LSH candidates — but a
    degenerate mega-bucket (e.g. all-identical boilerplate docs) now
    also materializes a per-bucket id array; if the corpus can
    produce one, cap it upstream by salting the boilerplate signature
    or pre-deduping exact duplicates first (q30)."""
    return lsh_candidates_from_bands(
        banded_signatures(sig, id_col, num_hashes, bands), id_col
    )


def lsh_candidates_from_bands(banded: DataFrame, id_col: str) -> DataFrame:
    """Candidate pairs from an already-banded signature frame — the
    entry point for PERSISTED band indexes (q158's table), where the
    banding happened at ingest time and pairing must not recompute
    signatures. Same in-bucket posexplode+slice expansion as
    ``lsh_candidates`` (which delegates here)."""
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = buckets.select(
        F.posexplode("ids").alias("i", "x"), F.col("ids")
    ).select(
        "x",
        F.explode(
            F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))
        ).alias("y"),
    )
    return pairs.select(
        F.least("x", "y").alias("id_a"), F.greatest("x", "y").alias("id_b")
    ).dropDuplicates()


def dup_span_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_n: int = 8,
) -> DataFrame:
    """(id, s, e) maximal duplicated-span frame — the shared core of
    ``duplicated_spans`` (analysis rollup) and
    ``remove_duplicated_spans`` (the actual cut). Contract: every
    TOKEN in [s, e) is covered by at least one corpus-duplicated
    ``window_n``-gram window, spans cannot extend, and duplicated
    windows within ``window_n`` positions of each other merge (so a
    merged span may contain interior windows that are NOT themselves
    duplicated — the guarantee is token coverage, not per-window
    duplication). See ``duplicated_spans`` for the plan shape."""
    from pyspark.sql import Window

    docs = df.select(id_col, text_col)
    win = exploded_shingles(docs, text_col, id_col, window_n).select(
        id_col, "pos", _hex_int(F.col("s"), 15).alias("h")
    )
    # r15 optimization (guide §1.2, §2.4): the duplicate-window set
    # was a groupBy(h) whose result equi-joined back to `win` — two
    # h-keyed exchanges AND a second run of the windowed explode
    # (the join's left side re-planned the whole scan+md5 subtree).
    # A count-over-hash window marks the same rows in ONE pass: the
    # equi-join co-located rows by h exactly as this window does, so
    # the skew exposure is unchanged, one explode and one exchange
    # are gone, and the mark set is identical by definition
    # (count(*) over h > 1  ⟺  h appears in the c>1 group).
    w_h = Window.partitionBy("h")
    marks = (
        win.withColumn("_c", F.count(F.lit(1)).over(w_h))
        .filter(F.col("_c") > 1)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = marks.withColumn(
        "new_island",
        F.when(
            F.col("pos") - F.lag("pos").over(w) > window_n, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return flagged.groupBy(id_col, "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(window_n)).alias("e"),
    ).drop("island")


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_n: int = 8,
) -> DataFrame:
    """Apply the cut ``duplicated_spans`` only reports: drop every
    token inside a duplicated span and re-join the survivors. This
    removes ALL occurrences of duplicated passages (including the
    'first' one) — a deliberate, documented divergence from the
    keep-one-copy variant, because keep-one needs a global occurrence
    ordering (an extra corpus-wide sort per window) that buys nothing
    for boilerplate/license text, the dominant real-world case.

    Plan: the span frame aggregates per doc into an array (rides the
    island window's partitioning), broadcast-free left join back to
    the docs, and the cut itself is a single JVM higher-order
    ``filter`` over the token array with a positional exists() test
    against the (few) spans — no Python, no extra shuffle."""
    spans = (
        dup_span_frame(df, text_col, id_col, window_n)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct(F.col("s"), F.col("e"))).alias("_spans")
        )
    )
    toks = tokens(F.col(text_col))
    joined = df.join(spans, id_col, "left")
    # filter's index lambda is 0-based, matching the span positions
    kept = F.expr(
        "CASE WHEN _spans IS NULL THEN tks ELSE "
        "filter(tks, (tk, i) -> NOT "
        "exists(_spans, sp -> i >= sp.s AND i < sp.e)) END"
    )
    out = (
        joined.withColumn("tks", toks)
        .withColumn("kept", kept)
        .select(
            F.col(id_col),
            F.size("tks").alias("n_tokens"),
            F.size("kept").alias("kept_tokens"),
            F.array_join("kept", " ").alias("clean_text"),
        )
    )
    return out


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_n: int = 8,
) -> DataFrame:
    """Substring-level exact dedup analysis (the published
    duplicated-passage removal design): find every maximal token span
    covered by corpus-duplicated ``window_n``-gram windows —
    boilerplate footers, licenses, templated text that doc-level
    dedup never catches. (Coverage contract: see ``dup_span_frame``;
    nearby duplicated windows merge across gaps up to ``window_n``.)

    Plan: (1) one windowed explode to (id, pos, window) rows
    (exploded_shingles — codegen lead-chain, pre-partitioned by id),
    (2) the corpus-wide duplicate-window set via ONE groupBy on the
    60-bit md5 slice of the window (hashing first cuts the shuffle
    to 8-byte keys; a 60-bit collision would need ~2^30 distinct
    windows per BUCKET to matter, and the differential oracle hashes
    identically), (3) mark duplicated positions with an equi-join on
    the hash, (4) merge overlapping/adjacent marks into maximal
    spans with the classic gaps-and-islands window (positions within
    ``window_n`` of the previous mark extend the span), (5) per-doc
    rollup joined back to every doc (docs with no duplicated span
    report zeros). Three shuffles total — window-hash aggregate,
    mark join, island re-partition — each on compact keyed rows,
    never the raw text."""
    spans = dup_span_frame(df, text_col, id_col, window_n)
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
    )
    from synthea_etl_spark.operators.text import token_count

    base = df.select(
        F.col(id_col), token_count(text_col).alias("n_tokens")
    ).filter(F.col("n_tokens") >= window_n)
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0).cast("long")).alias(
                "dup_tokens"
            ),
            (
                F.coalesce("dup_tokens", F.lit(0).cast("long"))
                / F.col("n_tokens").cast("double")
            ).alias("dup_frac"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing (MOSS) fingerprints: hash every word n-gram, slide a
    window of ``window`` consecutive hashes, keep each window's min,
    return distinct (id, fp) rows. Any shared run of
    ``window + shingle_n - 1`` tokens between two documents shares a
    fingerprint; ~2/window of hashes are kept.

    Expressed as exploded tokens + scalar md5 + windowed min rather
    than array-lambda expressions on purpose: higher-order-function
    lambdas (transform/aggregate) run INTERPRETED in Spark, while the
    exploded form keeps the md5/conv hot loop inside whole-stage
    codegen — ~10x faster at identical results (measured sf0.1:
    10s -> ~1s). One shuffle total: exploded_shingles hash-partitions
    by id, and both the min window (partitionBy id) and the final
    distinct (id, fp — a superset of the partitioning key) reuse that
    exchange."""
    from pyspark.sql import Window

    sh = exploded_shingles(
        df.select(id_col, text_col), text_col, id_col, shingle_n
    ).withColumnRenamed("pos", "i").withColumn("h", _hex_int(F.col("s"), 8))
    w_min = Window.partitionBy(id_col).orderBy("i").rowsBetween(0, window - 1)
    w_all = Window.partitionBy(id_col)
    return (
        sh.select(
            F.col(id_col),
            F.col("i"),
            F.min("h").over(w_min).alias("fp"),
            F.count(F.lit(1)).over(w_all).alias("m"),
        )
        .filter(F.col("i") <= F.col("m") - window)  # full windows only
        .select(id_col, "fp")
        .distinct()
    )


def bottomk_sketch(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Bottom-k minwise sketch per document: the k smallest DISTINCT
    32-bit shingle hashes, emitted one row per sketch slot
    (id, slot, h) — the compact document signature used for set
    similarity / containment estimation (|sketch_a ∩ sketch_b| / k
    estimates Jaccard).

    Unlike MinHash's k permutations over one hash, bottom-k needs the
    distinct-ness of hashes (the k smallest of a multiset could repeat),
    so the per-doc distinct happens inside the aggregate via
    collect_set — still a single explode + single groupBy on the
    exploded_shingles partitioning. Sketch size is bounded (k
    longs/doc) regardless of document length."""
    sh = exploded_shingles(
        df.select(id_col, text_col), text_col, id_col, shingle_n
    ).withColumn("h", _hex_int(F.col("s"), 8))
    sk = sh.groupBy(id_col).agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("sketch")
    )
    return sk.select(
        F.col(id_col),
        F.posexplode(F.col("sketch")).alias("slot", "h"),
    ).withColumn("slot", F.col("slot").cast("int"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pair scoring / LSH verify stage)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    allow_unblocked: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs within a blocking
    column (LSH buckets or a domain key). At scale the block is what
    bounds the shingle self-join; unblocked all-pairs is only for
    oracle-scale data and must be requested explicitly with
    ``allow_unblocked=True`` — a silent unblocked default is a
    cartesian-shaped scale bug waiting to happen.

    Jaccard = |A∩B| / (|A|+|B|-|A∩B|), computed via shingle explode +
    equi-join on shingle (never a cross join): intersection counts come
    from the join, set sizes from a per-doc aggregate."""
    if block_col is None and not allow_unblocked:
        raise ValueError(
            "jaccard_pairs without block_col self-joins every shared shingle "
            "corpus-wide; pass block_col (LSH bucket / domain key) or opt in "
            "with allow_unblocked=True for oracle-scale data"
        )
    keep = [block_col] if block_col else []
    sh = exploded_shingles(
        df.select(id_col, *keep, text_col), text_col, id_col, shingle_n, keep=keep
    ).drop("pos").dropDuplicates([id_col, "s"])
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    join_cond = [F.col("x.s") == F.col("y.s")]
    if block_col:
        join_cond.append(F.col(f"x.{block_col}") == F.col(f"y.{block_col}"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), join_cond)
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .groupBy(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: per corpus document, how many of
    its DISTINCT word n-grams also appear anywhere in the benchmark
    set (the eval-leakage screen every training pipeline needs).

    The benchmark's distinct shingles are the small side — broadcast
    into the corpus shingle stream, so the corpus side never shuffles
    for the probe; per-doc overlap counts then reuse the
    exploded_shingles partitioning. Returns (id, n_shingles,
    n_overlap, overlap_ratio) for every corpus doc with >=
    ``shingle_n`` tokens."""
    c_sh = exploded_shingles(
        corpus.select(id_col, text_col), text_col, id_col, shingle_n
    ).drop("pos").dropDuplicates([id_col, "s"])
    b_sh = (
        exploded_shingles(
            benchmark.select(id_col, text_col), text_col, id_col, shingle_n
        )
        .select("s")
        .distinct()
    )
    per_doc = c_sh.join(
        F.broadcast(b_sh.withColumn("_hit", F.lit(1))), "s", "left"
    ).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_overlap"),
    )
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_overlap",
        (
            F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double")
        ).alias("overlap_ratio"),
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 15,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: every node gets
    ``cluster_id`` = the minimum id reachable through the pair graph —
    the canonical 'keep one representative per duplicate cluster' step
    after LSH/SimHash candidate generation.

    Iterative min-label propagation WITH pointer jumping: each round
    (1) relaxes across edges (per-node min of neighbor labels) and
    (2) jumps pointers (label := min(label, label(label))), so label
    depth HALVES per round and convergence is O(log diameter) rounds
    — max_iters=15 covers diameter ~2^15, any real graph. Plain
    relax-only propagation covers only diameter <= max_iters and hit
    exactly that wall in round 13: the organic-sf10 per-host banner
    components have >15-hop paths, the loop exited at the cap
    unconverged, and q255's in-result cross-split verification
    caught the mislabeled tail (1 leaked pair) — the jump step fixed
    it (regression: tests/test_llm29.py chain test). Each round is
    ONE edge join + one partial-agg groupBy (self-loop edges fold the
    own-label minimum into the neighbor aggregate) plus the pointer-
    jump self-join; convergence is checked each round by an exact
    decimal label sum, which is monotone non-increasing under
    min-propagation and strictly decreases iff any label changed.
    ``localCheckpoint`` truncates the growing lineage so round N
    doesn't replay rounds 1..N-1.

    Defense-in-depth (the round-13 lesson, made structural): if the
    loop exits at ``max_iters`` with changes still pending, RAISE
    instead of returning silently-partial labels — every downstream
    consumer (dedup reps, split assignment, cluster stats) treats
    cluster_id as ground truth, and a partial labeling is exactly the
    class of bug only an end-to-end verification column catches.
    Unreachable below diameter 2^max_iters; reaching it means the
    graph or the operator is broken, and loud beats plausible."""
    edges = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # edges join into EVERY round: cut the incoming lineage here so
    # an expensive pair source (minhash banding, band-index probes)
    # is materialized once, not re-evaluated per iteration — the
    # q269 lesson (780 s -> the pair plan replayed each round; the
    # cut is one small materialization for already-cheap callers)
    ).localCheckpoint()
    # Self-loop edges fold the "min of self and neighbors" relax into
    # ONE join + ONE aggregate per round (r15 optimization): without
    # them the relax needs a second left join back to the label frame
    # just to include each node's own label. |V| extra edge rows buy
    # one less node-keyed join per iteration, and the initial label
    # frame (id -> id) is exactly the self-loop slice — no separate
    # distinct/checkpoint for it. Derived from the already-
    # checkpointed edges, so the pair source is still evaluated once.
    edges_sl = edges.unionByName(
        edges.select("src", F.col("src").alias("dst")).distinct()
    ).localCheckpoint()
    labels = edges_sl.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("id"), F.col("src").alias("cluster_id")
    )
    # Labels only ever DECREASE under min-propagation, so "some label
    # changed" ⟺ "sum of labels decreased": an exact decimal sum is
    # the convergence probe (no _changed column, no old-label
    # plumbing), and running it as the action that materializes the
    # LAZY localCheckpoint makes each round exactly ONE job — the
    # probe scan doubles as the checkpoint write. decimal(38,0) is
    # exact far past any realistic sum of 64-bit ids. prev_sum=None
    # skips a separate initial-sum job: round 1 of a non-empty graph
    # always changes some label, and the empty/degenerate graph just
    # pays one extra cheap round.
    _lsum = F.sum(F.col("cluster_id").cast("decimal(38,0)"))
    prev_sum = None
    for _ in range(max_iters):
        relaxed = (
            edges_sl.join(labels, edges_sl.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .withColumnRenamed("src", "id")
            # lazy checkpoint: the pointer jump below consumes
            # `relaxed` on BOTH join sides, and Catalyst plans the
            # two as separate subtrees whose exchanges hash on
            # DIFFERENT keys (cluster_id vs id), so ReusedExchange
            # cannot dedup them — measured plan: 2x the edge join +
            # aggregate per round. Backing `relaxed` by one
            # checkpointed RDD makes both sides read the same
            # blocks; still ONE job per round (the probe action
            # materializes updated -> relaxed as its parent).
            .localCheckpoint(eager=False)
        )
        # pointer jump: label := min(label, label(label)) — halves
        # label-chain depth, making convergence O(log diameter)
        ptr = relaxed.select(
            F.col("id").alias("_pid"), F.col("cluster_id").alias("_plab")
        )
        updated = (
            relaxed.join(ptr, relaxed.cluster_id == ptr._pid, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("_plab", F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = updated.agg(_lsum).first()[0]
        labels = updated
        # cur_sum is None ⟺ zero nodes (SUM over empty): converged
        # trivially — the empty label frame is the correct answer.
        if cur_sum is None or cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"pointer-jumping rounds (graph diameter > 2^{max_iters}"
            f" or labels oscillating) — refusing to return a partial "
            f"labeling; raise max_iters only after verifying the "
            f"input pair graph"
        )
    return labels


def incremental_components(
    assignments: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 15,
) -> DataFrame:
    """Maintain a persisted near-dup CLUSTER table incrementally —
    the missing maintenance half of the q71/q180 cluster family (the
    band index q158 maintains candidate GENERATION; this maintains
    the component labels). ``assignments`` is the stored (id,
    cluster_id) table of everything already clustered; ``new_pairs``
    are the new batch's candidate pairs (batch-batch from its own
    signatures plus batch-history from the persisted band index —
    the q158 probe). History components enter the label propagation
    STAR-COMPRESSED, as (id, cluster_id) edges: cluster_id is the
    component's min member id, so min-label CC over (star edges ∪
    new pairs) equals CC over the full original pair graph exactly
    (tests/test_llm14.py; the q209 gate hash-matches the full
    recursive-CTE rebuild). Convergence now depends on the NEW
    batch's chain depth, not historical component diameter, and the
    history TEXT is never rescanned — the assignment table is the
    index."""
    star = assignments.select(
        F.col("id").cast("long").alias(id_a),
        F.col("cluster_id").cast("long").alias(id_b),
    )
    return connected_components(
        star.unionByName(new_pairs.select(id_a, id_b)),
        id_a,
        id_b,
        max_iters,
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars -> stays positive in a signed 64


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash per doc: per-token 60-bit hash, each bit votes
    +1/-1 (with multiplicity), fingerprint bit = sign of the vote sum.

    One explode + one groupBy with 60 sum-aggregates computed together,
    then bit reassembly — two narrow passes, one shuffle (rebalanced by
    id first when the scan is narrow, see util.rebalance_by_key)."""
    tok = rebalance_by_key(df.select(id_col, text_col), id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("t")
    ).withColumn("h", _hex_int(F.col("t"), 15))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") >= 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """All pairs with hamming distance <= max_hamming, via 4-band
    pigeonhole + exact verify. With <=3 differing bits at least one of
    the 4 15-bit bands is identical, so band-bucket joins find EVERY
    qualifying pair (exact, not approximate) while only comparing
    within buckets."""
    return hamming_near_pairs(
        sim, id_col, "simhash", SIMHASH_BITS, max_hamming, nbands=4
    )


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int,
    max_hamming: int,
    nbands: int | None = None,
) -> DataFrame:
    """Generic banded hamming-distance pair search over ANY integer
    fingerprint column (SimHash, perceptual dHash, ...): split the
    ``bits``-bit fingerprint into ``nbands`` contiguous bands
    (default max_hamming + 1 — the pigeonhole minimum: k differing
    bits can dirty at most k bands, so every qualifying pair shares a
    clean band), bucket-join on (band, band value), then verify with
    exact bit_count(xor). Exact result, per-bucket join cost."""
    if nbands is None:
        nbands = max_hamming + 1
    if nbands <= max_hamming:
        raise ValueError("need nbands > max_hamming for exactness")
    if bits % nbands:
        raise ValueError(f"{bits}-bit fingerprint not divisible into {nbands} bands")
    width = bits // nbands
    mask = (1 << width) - 1
    fp = F.col(fp_col)
    bands = df.select(
        F.col(id_col),
        fp.alias("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(fp, b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("x"),
    ).select(id_col, "simhash", "x.band", "x.bh")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def corpus_bottomk_sketch(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 64,
) -> DataFrame:
    """Corpus-level bottom-k minwise sketch: the ``k`` smallest
    DISTINCT document fingerprints (15-hex md5 slice — exactly
    representable in int64 on any engine). A k-row summary of an
    arbitrarily large corpus, MERGEABLE by construction: the union's
    sketch is the bottom-k of the unioned sketches (tested), so
    sketches of crawl slices combine without touching the slices
    again. Plan: distinct on the fingerprint, then
    TakeOrderedAndProject — no global sort materializes."""
    h = (
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10)
        .cast("long")
        .alias("h")
    )
    return docs.select(h).distinct().orderBy("h").limit(k)


def merge_bottomk_sketches(sketches: DataFrame, k: int = 64) -> DataFrame:
    """Merge any union of bottom-k sketch rows (column ``h``) back
    into ONE bottom-k sketch: distinct → TakeOrderedAndProject. By
    the mergeability invariant (tested), this equals the sketch of
    the unioned corpora — so per-slice sketches stored at ingest
    time answer corpus-level questions without rescanning a byte of
    corpus."""
    return sketches.select("h").distinct().orderBy("h").limit(k)


def corpus_sketch_store(
    docs: DataFrame,
    store_path: str,
    slice_id: str,
    text_col: str = "text",
    k: int = 64,
) -> None:
    """Persist one ingested slice's k-row bottom-k sketch under
    ``store_path`` as partition ``slice_id`` (``store.publish``; any
    slice id — this store is never compacted). The store is
    append-only and mergeable: ``merge_bottomk_sketches`` over any
    subset of partitions IS the sketch of those slices' union, so
    overlap questions between arbitrary slice sets cost a k-row
    merge, never a corpus scan. At 100 TB the store is
    k × n_slices rows — a planning table, not data."""
    store.publish(
        corpus_bottomk_sketch(docs, text_col, k), store_path, store.SLICES, slice_id
    )


def corpus_overlap_from_sketches(
    ska: DataFrame,
    skb: DataFrame,
    k: int = 64,
) -> DataFrame:
    """The minwise overlap estimate computed from two ALREADY-BUILT
    bottom-k sketches (column ``h``) — the merge-only form that makes
    stored per-slice sketches (``corpus_sketch_store``) answer the
    planning question in k-row arithmetic: est = |bottom-k(A ∪ B) ∩
    sketch(A) ∩ sketch(B)| / |bottom-k(A ∪ B)|. The denominator is
    the ACTUAL union-sketch row count (≤ k), not the literal k, so
    corpora with fewer than k distinct fingerprints estimate
    correctly (two identical 10-doc corpora report 1.0, not 10/k).
    Returns one row (k, n_union, n_common, jaccard_micro)."""
    u = merge_bottomk_sketches(ska.unionByName(skb), k)
    marked = u.join(
        ska.select("h").distinct().withColumn("_a", F.lit(1)), "h", "left"
    ).join(
        skb.select("h").distinct().withColumn("_b", F.lit(1)), "h", "left"
    )
    in_both = (
        F.col("_a").isNotNull() & F.col("_b").isNotNull()
    ).cast("long")
    n_common = F.sum(in_both)
    n_union = F.count("*")
    return marked.agg(
        F.lit(k).cast("int").alias("k"),
        n_union.cast("long").alias("n_union"),
        n_common.cast("long").alias("n_common"),
        F.floor(n_common * F.lit(1_000_000.0) / n_union)
        .cast("long")
        .alias("jaccard_micro"),
    )


def corpus_overlap_estimate(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    k: int = 64,
) -> DataFrame:
    """Estimate the document-level Jaccard overlap of two corpora
    from their bottom-k sketches — the planning question every
    dedup/mixture decision starts with ("how much of crawl B is
    already in A?") answered WITHOUT an exact cross-corpus join:
    est = |bottom-k(A ∪ B) ∩ sketch(A) ∩ sketch(B)| /
    |bottom-k(A ∪ B)|, the classic minwise estimator with the
    standard small-corpus denominator (the union-sketch row count,
    ≤ k). Deterministic (md5 fingerprints, no RNG), so two engines
    compute the IDENTICAL sketch and estimate. Returns one row
    (k, n_union, n_common, jaccard_micro). This build-path form
    scans both corpora; production keeps per-slice sketches in a
    ``corpus_sketch_store`` and calls
    ``corpus_overlap_from_sketches`` on the stored k-row tables."""
    # localCheckpoint (r15, guide §1.2): the estimator consumes each
    # sketch twice (union bottom-k + intersection probe), so without
    # a barrier each corpus was scanned twice. The sketches are k
    # rows by construction — materialize once. The store path
    # (corpus_overlap_from_sketches on read-back slices) reads k-row
    # parquet and needs no barrier.
    return corpus_overlap_from_sketches(
        corpus_bottomk_sketch(a, text_col, k).localCheckpoint(),
        corpus_bottomk_sketch(b, text_col, k).localCheckpoint(),
        k,
    )


# ---------------------------------------------------------------------------
# Line-frequency store (streaming boilerplate maintenance, round 11)
# ---------------------------------------------------------------------------


def line_frequency_slice(
    docs: DataFrame,
    line_window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One slice's per-line-fingerprint distinct-document counts —
    the mergeable unit of the boilerplate store (q212's corpus
    frequency, decomposed per ingest batch): (fp, n_docs). Because
    landing is append-only (a document arrives in exactly one
    slice), summing n_docs across slices IS the corpus-wide
    distinct-document count per line, so the boilerplate verdict
    (sum >= min_docs) never rescans text."""
    from synthea_etl_spark.operators.text import chunk_by_tokens

    lines = chunk_by_tokens(
        docs.select(F.col(id_col).alias("doc_id"), text_col),
        text_col=text_col,
        id_col="doc_id",
        window=line_window,
        overlap=0,
    ).select(F.md5("chunk_text").alias("fp"), "id")
    return (
        lines.distinct()
        .groupBy("fp")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def line_frequency_store(
    docs: DataFrame,
    store_path: str,
    slice_id: str,
    line_window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Publish one slice's line-frequency counts under ``store_path``
    (SLICES layout; publish and ``batch<k>`` contract in
    operators/store.py)."""
    publish_counting_slice(
        line_frequency_slice(docs, line_window, text_col, id_col),
        store_path,
        slice_id,
    )


def boilerplate_from_store(spark, store_path: str, min_docs: int = 2) -> DataFrame:
    """Corpus-wide boilerplate line fingerprints from the
    accumulated store: sum the per-slice distinct-doc counts per fp
    and keep fps at or above the threshold. Store-sized arithmetic —
    the corpus text is never reread; cleaning any document set is
    then ONE anti-join on the line fingerprint (the q212 verdict
    join with the store standing in for the inline frequency
    aggregate). Reads only the live partitions (store.live), so a
    crash in any compaction window never double counts."""
    return (
        agg_store_totals(spark, store_path, ["fp"], {"n_docs": "sum"})
        .filter(F.col("n_docs") >= min_docs)
        .select("fp", "n_docs")
    )


def compact_line_frequency_store(
    spark, store_path: str, upto_batch: int, gc_grace_s: float = 0.0
) -> None:
    """Fold every ``slice_id=batch<k>`` partition with k <=
    ``upto_batch`` (plus the current compacted partition) into ONE
    re-aggregated ``compacted<upto_batch>`` partition — the
    read-amplification fix for long-running ingest streams (a year
    of 5-minute batches is ~100k slice partitions; the counts are
    additive, so compaction is one fp-keyed aggregate over the
    folded slices). Crash-safe fold order and GC grace: see
    operators/store.py. The ingest stream skips publishing batches
    at or below the watermark, so replay of a folded batch is a
    no-op. (Thin wrapper over compact_counting_slices.)"""
    compact_counting_slices(
        spark, store_path, upto_batch, ["fp"], "n_docs",
        gc_grace_s=gc_grace_s,
    )


def compact_batch_partitions(
    spark,
    store_path: str,
    upto_batch: int,
    partition_col: str = "batch_id",
    gc_grace_s: float = 0.0,
) -> None:
    """Compaction for the ROWS-layout stores (the near-dedup corpus +
    band index, the postings and ANN index stores): fold every batch
    partition in (watermark, ``upto_batch``] plus the current
    compacted partition into ONE partition at ``-(upto_batch + 2)``
    — rows pass through unchanged (these stores are row-sets, not
    aggregates; the additive variant is compact_counting_slices).
    Crash-safe order, versioning and the concurrent-reader grace
    ``gc_grace_s``: see operators/store.py (``store.fold``). The
    ingest stream skips batches at or below the watermark."""
    layout = store.Layout(partition_col, numeric=True)
    store.fold(
        spark, store_path, layout, upto_batch, lambda df: df, gc_grace_s,
        collect=lambda p, g: gc_batch_partitions(p, partition_col, g),
    )


def gc_batch_partitions(
    store_path: str, partition_col: str = "batch_id", grace_s: float = 0.0
) -> list[str]:
    """GC superseded dirs of a compacted ROWS-layout store: folded
    batch partitions (0 <= k <= watermark) and non-current compacted
    partitions. Per-dir read-grace contract: see ``store.gc``.
    Returns the deleted paths."""
    return store.gc(store_path, store.Layout(partition_col, numeric=True), grace_s)


def _slice_agg_exprs(aggs: dict[str, str]) -> list:
    """(col -> fn) spec for mergeable per-slice statistics: 'sum' for
    additive counts, 'min'/'max' for order statistics — exactly the
    functions whose per-slice partials re-merge to the corpus value,
    which is what makes slice stores answer batch queries
    bit-for-bit."""
    out = []
    for col, fn in aggs.items():
        if fn == "sum":
            out.append(F.sum(col).cast("long").alias(col))
        elif fn == "min":
            out.append(F.min(col).cast("long").alias(col))
        elif fn == "max":
            out.append(F.max(col).cast("long").alias(col))
        else:
            raise ValueError(f"unmergeable slice aggregate: {col}={fn!r}")
    return out


def compact_agg_slices(
    spark,
    store_path: str,
    upto_batch: int,
    key_cols: list[str],
    aggs: dict[str, str],
    gc_grace_s: float = 0.0,
) -> None:
    """The slice compactor for MIXED mergeable aggregates (``aggs``
    maps column -> 'sum' | 'min' | 'max'): fold ``batch<k>`` slices
    in (watermark, upto] plus the current ``compacted<wm>``
    partition into a re-aggregated ``compacted<upto>`` partition.
    Crash-safe order and ``gc_grace_s``: see ``store.fold``; the
    deferred dirs go to the next compaction or an explicit
    :func:`gc_counting_slices` call.

    All-'sum' stores drop keys whose every aggregate nets to zero: a
    pure-ingest counting store never produces one (counts are >= 1
    per appearance), and after a :func:`deletion_slice` folds in, a
    zero row is exactly "this key no longer exists", which must
    compact away so the purged store is bit-identical to one rebuilt
    from the surviving documents."""

    def merge(folded: DataFrame) -> DataFrame:
        merged = folded.groupBy(*key_cols).agg(*_slice_agg_exprs(aggs))
        if set(aggs.values()) == {"sum"}:
            alive = None
            for c in aggs:
                cond = F.col(c) != 0
                alive = cond if alive is None else (alive | cond)
            merged = merged.filter(alive)
        return merged

    store.fold(
        spark, store_path, store.SLICES, upto_batch, merge, gc_grace_s,
        collect=gc_counting_slices,
    )


def compact_counting_slices(
    spark,
    store_path: str,
    upto_batch: int,
    key_cols: list[str],
    count_col: str,
    gc_grace_s: float = 0.0,
) -> None:
    """The line-frequency compactor generalized to ANY additive
    (keys -> count) slice store (line fingerprints, token
    distributions, ...) — thin wrapper over :func:`compact_agg_slices`
    with a single SUM aggregate."""
    compact_agg_slices(
        spark,
        store_path,
        upto_batch,
        key_cols,
        {count_col: "sum"},
        gc_grace_s=gc_grace_s,
    )


def gc_counting_slices(store_path: str, grace_s: float = 0.0) -> list[str]:
    """GC superseded dirs of a compacted SLICES-layout store: folded
    ``batch<k>`` slices (k <= watermark) and non-current
    ``compacted<j>`` partitions. Per-dir read-grace contract: see
    ``store.gc``. Returns the deleted paths."""
    return store.gc(store_path, store.SLICES, grace_s)


def _check_purge_slot(store_path: str, layout: store.Layout, upto_batch: int) -> None:
    """A purge CONSUMES batch slot ``upto_batch``: it must lie above
    the watermark (so the new generation never overwrites the one it
    reads) and above every live batch — a batch above it would
    survive the purge with the erased rows visible while the purge
    reports success (driver-side listdir, no data read)."""
    wm = compaction_watermark(store_path)
    top = max(wm, store.max_live(store_path, layout))
    if upto_batch <= top:
        raise ValueError(
            f"a purge needs upto_batch strictly above every ingested "
            f"batch and the watermark (got upto_batch={upto_batch}, "
            f"watermark={wm}, highest live batch or watermark={top})"
        )


def purge_batch_store(
    spark,
    store_path: str,
    upto_batch: int,
    ids,
    id_col: str,
    partition_col: str = "batch_id",
    gc_grace_s: float = 0.0,
) -> None:
    """Right-to-erasure for the row-set stores (near-dedup corpus +
    band index, postings, ANN index): a FILTERING compaction — fold
    the prior compacted partition plus every batch in (watermark,
    ``upto_batch``] exactly like :func:`compact_batch_partitions`,
    minus every row whose ``id_col`` is in ``ids`` (a DataFrame with
    that one column, or an iterable of values; deletion sets are
    small next to the store, so the anti-join broadcasts them).

    Crash contract is the fold's own (operators/store.py): a reader
    never sees half a purge (pre-flip it reads the old generation
    WITH the rows; post-flip, the new one without). The purge
    CONSUMES one batch slot: ``upto_batch`` must be a fresh id above
    the watermark and every ingested batch (ValueError otherwise).
    Batches that land ABOVE ``upto_batch`` afterwards are untouched
    by this purge.

    Right-to-erasure at 100 TB is a compaction, not a rewrite-the-
    world: only the folded generation is rewritten, the watermark
    flip is one rename, and the ingest stream needs no pause."""
    if not isinstance(ids, DataFrame):
        # take the key type from the store's schema — a string-keyed
        # store (e.g. fingerprint) must not be cast-matched as long.
        # Only a store written before schema records pays a footer
        # read for it.
        store_schema = (
            store.recorded_schema(store_path)
            or store.read(spark, store_path).schema
        )
        id_field = StructType([store_schema[id_col]])
        ids = spark.createDataFrame([(v,) for v in ids], id_field)
    ids = ids.select(id_col).distinct()
    layout = store.Layout(partition_col, numeric=True)
    _check_purge_slot(store_path, layout, upto_batch)
    store.fold(
        spark, store_path, layout, upto_batch,
        lambda df: df.join(F.broadcast(ids), id_col, "left_anti"),
        gc_grace_s,
        collect=lambda p, g: gc_batch_partitions(p, partition_col, g),
    )


def deletion_slice(slice_df: DataFrame, count_cols: list[str]) -> DataFrame:
    """Negate the additive columns of a batch slice: publishing the
    result as a normal ``batch<k>`` slice SUBTRACTS the batch's
    contribution from an additive store — deletions ride the exact
    ingest/compaction/GC machinery the store already has, no special
    reader. Feed it the SAME slice the docs would produce on ingest
    (e.g. ``token_stats_slice(deleted_docs)``): sums cancel exactly,
    and the next :func:`compact_agg_slices` drops the netted-to-zero
    keys, leaving the store bit-identical to one rebuilt from the
    surviving documents (pinned in tests/test_purge.py). Only valid
    for all-'sum' stores — min/max slices don't subtract; those
    stores purge via their row-grain companion + repair compaction
    (:func:`purge_prompt_key_cluster` / :func:`purge_agg_store`) or
    :func:`purge_batch_store` on a row-grain form."""
    out = slice_df
    for c in count_cols:
        out = out.withColumn(c, (-F.col(c)).cast("long"))
    return out


def agg_store_totals(
    spark, store_path: str, key_cols: list[str], aggs: dict[str, str]
) -> DataFrame:
    """Watermark-aware totals over a mergeable-aggregate slice store
    (``aggs`` maps column -> 'sum' | 'min' | 'max', matching
    :func:`compact_agg_slices`): merge per key over the live
    partitions (``store.live``) — crash leftovers (folded batch
    dirs, orphan compacted partitions) stay invisible."""
    live = store.live(spark, store_path, store.SLICES)
    return live.groupBy(*key_cols).agg(*_slice_agg_exprs(aggs))


def counting_store_totals(
    spark, store_path: str, key_cols: list[str], count_col: str
) -> DataFrame:
    """Watermark-aware totals over an additive counting slice store —
    :func:`agg_store_totals` with a single SUM. Keys whose counts net
    to ZERO are filtered out: impossible in a pure-ingest store
    (counts are >= 1 per appearance), and after a
    :func:`deletion_slice` publishes this makes the erasure correct
    IMMEDIATELY — a key fully cancelled by a pending deletion slice
    reads as absent (not present-with-zero, which would perturb
    smoothed statistics like the q222 KL) even before the compaction
    that physically drops it."""
    return agg_store_totals(
        spark, store_path, key_cols, {count_col: "sum"}
    ).filter(F.col(count_col) != 0)


# --- token-distribution store (the q222 drift monitor made --------
# --- operational: per-batch counts, drift answered from the store -


def token_stats_slice(
    docs: DataFrame,
    ref_pred: Column | None = None,
    text_col: str = "text",
) -> DataFrame:
    """One batch's additive token-count rows for the drift store:
    (source, t, c) for every real source plus ``__ref__`` rows for
    the documents matching ``ref_pred`` (the trusted-slice
    predicate, default doc_id %% 10 < 3 — the q220/q222
    convention). Summing across slices reproduces the corpus
    counts because landing is append-only."""
    if ref_pred is None:
        ref_pred = (F.col("doc_id") % 10) < 3
    tok = docs.filter(F.length(F.trim(text_col)) > 0).select(
        "source", ref_pred.alias("_is_ref"), F.explode(tokens(text_col)).alias("t")
    )
    per_source = tok.groupBy("source", "t").agg(
        F.count("*").cast("long").alias("c")
    )
    ref = (
        tok.filter(F.col("_is_ref"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
        .select(F.lit("__ref__").alias("source"), "t", "c")
    )
    return per_source.unionByName(ref)


def token_stats_store(
    docs: DataFrame,
    store_path: str,
    slice_id: str,
    ref_pred: Column | None = None,
    text_col: str = "text",
) -> None:
    """Publish one batch's token-count slice (SLICES layout, see
    operators/store.py; compact with
    compact_counting_slices(keys=['source','t'], count='c'))."""
    publish_counting_slice(
        token_stats_slice(docs, ref_pred, text_col), store_path, slice_id
    )


def drift_from_token_store(
    spark, store_path: str, threshold_micro: int = 15_000
) -> DataFrame:
    """The q222 drift report answered FROM THE STORE — store-sized
    arithmetic, the corpus text is never reread: per-source
    add-one-smoothed KL vs the ``__ref__`` distribution, exact
    int64 terms quantized once per (source, token) row. Returns the
    q222 schema (source, n_tokens, kl_micro, drifted).

    The (t)-keyed ref join carries NO broadcast hint (round-11
    VERDICT close): a word-level vocabulary broadcasts fine under
    AQE's threshold, but a 100 TB multilingual corpus's token
    vocabulary can exceed executor heap, and a forced hint removes
    Spark's fallback to a shuffle join — let AQE decide from the
    measured size. The per-source totals (``ns``, tens of rows) and
    1-row scalar frames keep their hints."""
    MICRO = 1_000_000
    totals = counting_store_totals(spark, store_path, ["source", "t"], "c")
    st = totals.filter(F.col("source") != "__ref__").withColumnRenamed(
        "c", "c_st"
    )
    rt = (
        totals.filter(F.col("source") == "__ref__")
        .select("t", F.col("c").alias("c_rt"))
    )
    ns = st.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    vstats = (
        st.select("t")
        .distinct()
        .agg(F.count("*").cast("long").alias("v"))
        .crossJoin(
            F.broadcast(rt.agg(F.sum("c_rt").cast("long").alias("n_ref")))
        )
    )
    terms = (
        st.join(F.broadcast(ns), "source")
        .join(rt, "t", "left")
        .crossJoin(F.broadcast(vstats))
        .select(
            "source",
            "n_s",
            "c_st",
            F.floor(
                F.round(
                    F.log(
                        (
                            F.col("c_st").cast("double")
                            * (F.col("n_ref") + F.col("v")).cast("double")
                        )
                        / (
                            F.col("n_s").cast("double")
                            * (F.coalesce(F.col("c_rt"), F.lit(0)) + 1).cast(
                                "double"
                            )
                        )
                    ),
                    6,
                )
                * MICRO
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    out = terms.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.expr("sum(c_st * lr_micro) div max(n_s)").alias("kl_micro"),
    )
    return out.select(
        "source",
        "n_tokens",
        "kl_micro",
        (F.col("kl_micro") >= threshold_micro).alias("drifted"),
    )


# --- prompt-key cluster store (the q233 SFT dedup made -------------
# --- operational: per-batch (pkey, n, min_doc) partials; cluster ---
# --- membership answered from the store without rereading text ----


# THE prompt-key length — the store family's contract constant.
# Every producer (batch q233/q240, the ingest stream, the drive
# tool) derives from this one name (round-13 review: the stream
# defaulting to an independent literal 8 meant a q233-side change
# would silently desync the stream-maintained store from the gated
# query).
PROMPT_KEY_TOKENS = 8


def prompt_key_slice(
    docs: DataFrame,
    prompt_tokens: int = PROMPT_KEY_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One batch's mergeable prompt-cluster partials: (pkey, n,
    min_doc) where pkey = md5 of the first ``prompt_tokens``
    whitespace tokens (the q233 prompt key, bit-identical). SUM(n)
    and MIN(min_doc) re-merge across slices to the corpus cluster
    size and representative because both are mergeable partials —
    the property compact_agg_slices and agg_store_totals rely on.
    Empty-prompt (zero-token) docs are excluded, matching q233."""
    prompt = F.concat_ws(" ", F.slice(tokens(text_col), 1, prompt_tokens))
    return (
        docs.filter(F.size(tokens(text_col)) > 0)
        .select(F.md5(prompt).alias("pkey"), F.col(id_col))
        .groupBy("pkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min(id_col).cast("long").alias("min_doc"),
        )
    )


PROMPT_KEY_AGGS = {"n": "sum", "min_doc": "min"}


def prompt_key_store(
    docs: DataFrame,
    store_path: str,
    slice_id: str,
    prompt_tokens: int = PROMPT_KEY_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Publish one batch's prompt-cluster slice (SLICES layout, see
    operators/store.py; compact with compact_agg_slices(keys=['pkey'],
    aggs=PROMPT_KEY_AGGS))."""
    publish_counting_slice(
        prompt_key_slice(docs, prompt_tokens, text_col, id_col),
        store_path,
        slice_id,
    )


def prompt_clusters_from_store(spark, store_path: str) -> DataFrame:
    """Cluster-level view of the prompt-key store, watermark-aware:
    (pkey, cluster_n, rep_doc_id) = (SUM n, MIN min_doc) over the
    current compacted partition + live slices — store-sized
    arithmetic; the corpus text was read once, at ingest."""
    return agg_store_totals(
        spark, store_path, ["pkey"], PROMPT_KEY_AGGS
    ).select(
        "pkey",
        F.col("n").alias("cluster_n"),
        F.col("min_doc").alias("rep_doc_id"),
    )


# --- erasure for the mixed-agg store family ------------------------
# A min/max aggregate doesn't subtract (deletion_slice covers only
# all-'sum' stores), so an aggregated (pkey, n, min_doc) store cannot
# honor a right-to-erasure request from its own partials: erasing the
# doc that IS a cluster's min_doc needs the next-smallest SURVIVOR,
# which only doc-grain data knows. The design: a row-grain COMPANION
# store of (pkey, doc_id) pairs — the erasable source of truth, a
# purge_batch_store target — plus a repair compaction on the agg
# store that re-derives ONLY the affected keys from the purged
# companion. Erasure cost at 100 TB: one filtering compaction of the
# companion + one agg-store compaction (both store-sized, no corpus
# rescan), and the agg answering path (q240) is untouched.


def prompt_key_pairs_slice(
    docs: DataFrame,
    prompt_tokens: int = PROMPT_KEY_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Row-grain (pkey, doc_id) membership for one batch — the
    erasure companion of :func:`prompt_key_slice` (same key
    derivation bit-for-bit, same empty-prompt exclusion)."""
    prompt = F.concat_ws(" ", F.slice(tokens(text_col), 1, prompt_tokens))
    return docs.filter(F.size(tokens(text_col)) > 0).select(
        F.md5(prompt).alias("pkey"),
        F.col(id_col).cast("long").alias("doc_id"),
    )


def prompt_key_pairs_store(
    docs: DataFrame,
    store_path: str,
    batch_id: int,
    prompt_tokens: int = PROMPT_KEY_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Publish one batch's (pkey, doc_id) companion partition in the
    ROWS layout (operators/store.py), so
    :func:`compact_batch_partitions` folds it and
    :func:`purge_batch_store` erases from it."""
    if batch_id < 0:
        raise ValueError(f"batch_id must be >= 0 (got {batch_id})")
    store.publish(
        prompt_key_pairs_slice(docs, prompt_tokens, text_col, id_col),
        store_path,
        store.ROWS,
        batch_id,
    )


def purge_agg_store(
    spark,
    store_path: str,
    upto_batch: int,
    key_cols: list[str],
    aggs: dict[str, str],
    drop_keys: DataFrame,
    repair_df: DataFrame | None = None,
    gc_grace_s: float = 0.0,
) -> None:
    """Repair compaction for a mixed-aggregate slice store: fold the
    current compacted partition + every batch slice in (watermark,
    ``upto_batch``] to totals, DROP every row whose key is in
    ``drop_keys``, union ``repair_df`` (the recomputed totals for
    affected keys that still have surviving members — key_cols +
    agg cols, no slice_id), and publish as ``compacted<upto_batch>``
    under the store's crash-safe fold (operators/store.py; a reader
    never sees half a purge).

    ``upto_batch`` must be a fresh slot above the watermark AND above
    every live batch slice — a slice above it would re-add the erased
    contribution after the repair (ValueError otherwise)."""
    _check_purge_slot(store_path, store.SLICES, upto_batch)

    def repair(folded: DataFrame) -> DataFrame:
        merged = (
            folded.groupBy(*key_cols)
            .agg(*_slice_agg_exprs(aggs))
            .join(
                F.broadcast(drop_keys.select(*key_cols).distinct()),
                key_cols,
                "left_anti",
            )
        )
        if repair_df is not None:
            merged = merged.unionByName(
                repair_df.select(*key_cols, *aggs.keys())
            )
        return merged

    store.fold(
        spark, store_path, store.SLICES, upto_batch, repair, gc_grace_s,
        collect=gc_counting_slices,
    )


# --- length-quantile histogram store (10th stream-maintained -------
# --- family): mergeable log-binned histograms -> approximate --------
# --- quantiles with a PROVEN relative error bound -------------------
#
# Quantile monitoring at 100 TB can't sort, and generic sketches
# (t-digest, KLL) have merge orders that break bit-reproducibility.
# A LOG-BINNED histogram is the deterministic mergeable alternative:
# bin ids are pure integer arithmetic (msb + 3 sub-bits, ~12.5%
# geometric bin width), per-bin counts are ADDITIVE — the store rides
# compact_counting_slices / counting_store_totals / deletion_slice
# unchanged (erasure is free: all-'sum'), and any quantile is a
# store-sized cumulative walk whose answer is the bin's exact lower
# bound — error provably < one bin width, identically on any engine.

_LOG_BIN_SQL = (
    "CASE WHEN {v} < 8 THEN {v} ELSE (length(bin({v})) - 1) * 8"
    " + (shiftright({v}, cast(length(bin({v})) - 1 - 3 as int)) & 7) END"
)

# bin id -> exact lower bound (the quantile estimate): ids < 8 are
# the value itself; id = msb*8 + sub covers [(8+sub) << (msb-3), ...)
_LOG_BIN_LB_SQL = (
    "CASE WHEN {b} < 8 THEN {b}"
    " ELSE shiftleft(8 + ({b} % 8), cast({b} div 8 - 3 as int)) END"
)


def log_bin(col_name: str) -> Column:
    """Deterministic log-scale bin id for a positive integer column
    (by NAME — the expression is SQL-templated): values < 8 bin
    exactly to themselves; otherwise msb*8 + top-3-sub-bits
    (geometric bins, width factor 2^(1/8) ~ 12.5%). Pure integer
    codegen — identical in Spark and ANSI SQL."""
    return F.expr(_LOG_BIN_SQL.format(v=col_name)).cast("long")


def length_hist_slice(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One batch's additive (source, b, c) histogram rows of doc
    token counts — the quantile store's mergeable partial. Empty
    docs are excluded (token count 0 carries no length signal)."""
    n = F.size(tokens(text_col)).cast("long")
    return (
        docs.filter(F.length(F.trim(text_col)) > 0)
        .select("source", n.alias("_n"))
        .filter(F.col("_n") > 0)
        .select("source", log_bin("_n").alias("b"))
        .groupBy("source", "b")
        .agg(F.count("*").cast("long").alias("c"))
    )


def length_hist_store(
    docs: DataFrame, store_path: str, slice_id: str, text_col: str = "text"
) -> None:
    """Publish one batch's histogram slice (SLICES layout, see
    operators/store.py; compact with
    compact_counting_slices(keys=['source','b'], count='c');
    erasure: deletion_slice(length_hist_slice(deleted), ['c']) —
    all-additive, so the negative-slice path applies verbatim)."""
    publish_counting_slice(length_hist_slice(docs, text_col), store_path, slice_id)


def quantiles_from_hist_store(
    spark, store_path: str, q_permilles: list[int]
) -> DataFrame:
    """Approximate per-source quantiles answered FROM THE STORE —
    store-sized arithmetic, the corpus is never rescanned: for each
    q (permille), the exact lower bound of the bin containing the
    ceil(q/1000 * n)-th smallest value. Guarantee: the true value v
    satisfies approx <= v < approx * 2^(1/8) + 1 (one bin width) —
    the bound a monitoring dashboard thresholds against. Returns
    (source, q_permille, n_docs, approx)."""
    from pyspark.sql import Window

    totals = counting_store_totals(spark, store_path, ["source", "b"], "c")
    w = Window.partitionBy("source").orderBy("b")
    cum = totals.select(
        "source",
        "b",
        F.sum("c").over(w).cast("long").alias("_cum"),
        F.sum("c").over(Window.partitionBy("source")).cast("long").alias(
            "n_docs"
        ),
    )
    qf = F.explode(
        F.array(*[F.lit(int(q)) for q in q_permilles])
    ).alias("q_permille")
    hit = (
        cum.select("source", "b", "_cum", "n_docs", qf)
        .filter(
            F.col("_cum")
            >= F.expr("(q_permille * n_docs + 999) div 1000")
        )
        .groupBy("source", "q_permille")
        .agg(
            F.min("n_docs").cast("long").alias("n_docs"),
            F.min("b").alias("_b"),
        )
    )
    return hit.select(
        "source",
        "q_permille",
        "n_docs",
        F.expr(_LOG_BIN_LB_SQL.format(b="_b")).cast("long").alias("approx"),
    )


# --- counting-Bloom membership store (11th stream-maintained -------
# --- family): sparse additive buckets -> exact-erasable ------------
# --- set-membership probes with zero false negatives ---------------
#
# A membership precheck at 100 TB ("have we ever ingested this
# fingerprint?") must not rescan the corpus and must survive
# right-to-erasure. A classic bitmap Bloom filter can't erase; a
# COUNTING Bloom can: each fingerprint increments K hashed buckets,
# so per-bucket counts are ADDITIVE and the store rides the counting-
# slice machinery unchanged (compact_counting_slices /
# counting_store_totals / deletion_slice — erasure is the verbatim
# negative-slice path, and the purged store is bit-identical to one
# rebuilt from survivors). Storage is SPARSE (only touched buckets
# hold rows, <= K per ingested fingerprint), the modulus M is a fixed
# constant so slices from any batch merge exactly, and a probe is a
# K-row bucket lookup per fingerprint: present iff ALL K buckets are
# live. No false negatives by construction (every ingested
# fingerprint's K buckets are all incremented); false positives are
# collision-bounded by the (n*K/M) load factor — q278 measures the
# realized FPR against exact membership and verifies FN == 0 as an
# in-result column (the q255 discipline).

BLOOM_M = 4_194_304  # 2^22 buckets: ~0.5 load at 500k docs x K=4
BLOOM_K = 4


def doc_fingerprint(text_col: str = "text") -> Column:
    """Engine-portable content fingerprint: md5 of the trimmed text
    (the exact-dedup key of q30, reused so the Bloom store answers
    the same question the exact path does)."""
    return F.md5(F.trim(F.col(text_col)))


def bloom_buckets(
    fp: Column, k: int = BLOOM_K, m: int = BLOOM_M
) -> Column:
    """The K hashed bucket ids of a fingerprint, as an array column:
    bucket_i = int(md5(fp || ':i')[0:8], 16) % m — the same
    conv-substring-md5 idiom every gated hash in this repo uses, so
    the DuckDB twin is exact."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(fp, F.lit(f":{i}"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % m
            )
            for i in range(k)
        ]
    )


def bloom_slice_from_fps(
    fps: DataFrame, fp_col: str = "fp"
) -> DataFrame:
    """:func:`bloom_slice` on a frame that already carries the
    fingerprints — the shape for callers that reuse one fingerprint
    pass across several slices/panels (q278 persists it once instead
    of rescanning the corpus per slice)."""
    return (
        fps.select(F.explode(bloom_buckets(F.col(fp_col))).alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("c"))
    )


def bloom_slice(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One batch's additive (b, c) bucket-count rows: K buckets per
    non-empty document fingerprint. Feed the same slice of the
    ERASED docs through :func:`deletion_slice` to subtract them."""
    return bloom_slice_from_fps(
        docs.filter(F.length(F.trim(text_col)) > 0).select(
            doc_fingerprint(text_col).alias("_fp")
        ),
        "_fp",
    )


def publish_counting_slice(
    slice_df: DataFrame, store_path: str, slice_id: str
) -> None:
    """Publish any mergeable (keys, aggregates) slice as batch
    partition ``slice_id`` (must be ``batch<k>``) of a SLICES-layout
    store (operators/store.py) — the shared writer behind every
    slice family's ``*_store`` (and usable for negative deletion
    slices)."""
    store.check_batch_slice(slice_id)
    store.publish(slice_df, store_path, store.SLICES, slice_id)


def bloom_store(
    docs: DataFrame, store_path: str, slice_id: str, text_col: str = "text"
) -> None:
    """Publish one batch's Bloom bucket slice (SLICES layout, see
    operators/store.py; compact with compact_counting_slices(keys=['b'], count='c');
    erasure: deletion_slice(bloom_slice(deleted), ['c']))."""
    publish_counting_slice(bloom_slice(docs, text_col), store_path, slice_id)


def bloom_probe_from_store(
    spark, store_path: str, probes: DataFrame, fp_col: str = "fp"
) -> DataFrame:
    """Set-membership verdicts FROM THE STORE — no corpus access:
    each probe fingerprint expands to its K buckets, INNER-joins the
    watermark-filtered totals (zero-net buckets read as absent, so a
    pending deletion slice is honored IMMEDIATELY), and is present
    iff all K bucket rows found a live match. The probe side is
    query-sized by construction and broadcast for the inner join (an
    outer join could not build the probe side: Spark only builds the
    preserved-row side's OPPOSITE, which here is the store); probes
    whose buckets all miss simply drop out of the inner join and are
    recovered by a tiny left join against the distinct probe list.
    The store side never shuffles. Returns (fp, present)."""
    totals = counting_store_totals(spark, store_path, ["b"], "c")
    fps = probes.select(F.col(fp_col).alias("fp")).distinct()
    pb = fps.select(
        "fp", F.explode(bloom_buckets(F.col("fp"))).alias("b")
    )
    live = (
        totals.join(F.broadcast(pb), "b")
        .groupBy("fp")
        .agg(F.count("*").cast("int").alias("_n_live"))
    )
    return fps.join(live, "fp", "left").select(
        "fp",
        (F.coalesce(F.col("_n_live"), F.lit(0)) == BLOOM_K).alias(
            "present"
        ),
    )


def purge_prompt_key_cluster(
    spark,
    agg_store_path: str,
    pairs_store_path: str,
    ids,
    upto_batch: int,
    gc_grace_s: float = 0.0,
) -> None:
    """Right-to-erasure for the prompt-key cluster family (agg store
    + row-grain companion), covering the case deletion_slice can't:
    erasing a doc that IS its cluster's min_doc representative.

    Steps, each individually crash-safe. The affected-key set is
    STAGED DURABLY before any store mutates, because a crash between
    the companion purge's watermark flip and the agg-store repair
    would otherwise be unrecoverable: a retry (which must use a
    fresh batch slot — same-slot retries raise on the consumed slot
    by contract) recomputes ``affected`` from the ALREADY-PURGED
    companion, finds nothing, and the agg store silently keeps rows
    whose min_doc is an erased doc. With staging, any retry with a
    fresh slot folds every staged set the agg watermark has not yet
    passed back into ``affected`` and completes the repair:
    0. recover: staged sets under ``<agg>/_purge_staging/upto=<k>``
       with k > the agg watermark are incomplete prior purges —
       union their pkeys into this run's affected set (staged dirs
       with k <= the watermark are complete; delete them);
    1. affected := distinct pkeys of the erased docs, read from the
       live companion (store-sized semi-join, no corpus scan),
       union the recovered sets;
    2. STAGE affected to ``_purge_staging/upto=<upto_batch>``
       (underscore-prefixed: invisible to parquet readers and to
       the slice GC);
    3. purge the companion (:func:`purge_batch_store` filtering
       compaction) — row-grain truth now excludes the docs;
    4. re-derive (n, min_doc) for ONLY the affected pkeys from the
       purged companion; clusters with no survivor vanish;
    5. repair-compact the agg store (:func:`purge_agg_store`): drop
       affected keys, union the recomputed rows — the watermark
       flip marks every staged set <= upto_batch complete;
    6. delete completed staging dirs (crash here just defers the
       delete to the next invocation's step 0).
    Re-repairing an already-repaired pkey is idempotent (the repair
    recomputes from row-grain survivors), so recovery supersets are
    safe.

    Post-condition (pinned in tests/test_purge.py and
    ``python tools/stream_drive.py purge``): the agg store answers
    bit-identically to one rebuilt from only the surviving
    documents."""
    import os
    import shutil

    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame([(int(v),) for v in ids], "doc_id long")
    ids = ids.select("doc_id").distinct()
    staging_root = os.path.join(agg_store_path, "_purge_staging")
    agg_wm = compaction_watermark(agg_store_path)
    recovered: list[DataFrame] = []
    if os.path.isdir(staging_root):
        for d in sorted(os.listdir(staging_root)):
            if not d.startswith("upto="):
                continue
            k = d.split("upto=", 1)[1]
            if not k.isdigit():
                continue
            p = os.path.join(staging_root, d)
            if int(k) <= agg_wm:
                shutil.rmtree(p, ignore_errors=True)
            else:
                recovered.append(spark.read.parquet(p).select("pkey"))
    pairs_live = store.live(spark, pairs_store_path, store.ROWS)
    affected = pairs_live.join(
        F.broadcast(ids), "doc_id", "left_semi"
    ).select("pkey")
    for r in recovered:
        affected = affected.unionByName(r)
    affected = affected.distinct()
    # stage durably BEFORE any store mutates (write-then-read also
    # pins the set, replacing the localCheckpoint this code used
    # before staging existed)
    staging_dir = os.path.join(staging_root, f"upto={upto_batch}")
    affected.write.mode("overwrite").parquet(staging_dir)
    affected = spark.read.parquet(staging_dir)
    purge_batch_store(
        spark, pairs_store_path, upto_batch, ids, "doc_id",
        gc_grace_s=gc_grace_s,
    )
    survivors = store.live(spark, pairs_store_path, store.ROWS)
    repair = (
        survivors.join(F.broadcast(affected), "pkey", "left_semi")
        .groupBy("pkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("doc_id").cast("long").alias("min_doc"),
        )
    )
    purge_agg_store(
        spark,
        agg_store_path,
        upto_batch,
        ["pkey"],
        PROMPT_KEY_AGGS,
        drop_keys=affected,
        repair_df=repair,
        gc_grace_s=gc_grace_s,
    )
    # the agg watermark now covers every staged set <= upto_batch;
    # delete them (a crash before this delete just defers it to the
    # next invocation's recovery scan)
    if os.path.isdir(staging_root):
        for d in os.listdir(staging_root):
            if d.startswith("upto="):
                k = d.split("upto=", 1)[1]
                if k.isdigit() and int(k) <= upto_batch:
                    shutil.rmtree(
                        os.path.join(staging_root, d), ignore_errors=True
                    )


# --- Count-Min / candidate "frequency sandwich" store (12th -------
# --- stream-maintained family): term-frequency answers with -------
# --- PROVEN two-sided bounds from store-sized state ---------------

# Gate-scale geometry. The test corpus's vocabulary is a fixed 31
# words, so W=16 FORCES collisions (≈2 terms/cell/row) and the upper
# bound is demonstrably non-trivial (est > exact for colliding
# terms); K=32 makes the strict batch-local candidate threshold
# c·K > N catch a real candidate set. At 100 TB both are sizing
# parameters: W ~ 2^22 cells/row keeps the whole sketch D·W rows
# (a few MB — executor-broadcastable) while collisions stay ~N/W,
# and K is the heavy-hitter sensitivity N/K. The store size NEVER
# grows with the corpus — that is the point.
CMS_D = 4
CMS_W = 16
HH_K = 32


def cms_bucket(t: Column, d: int, w: int = CMS_W) -> Column:
    """Row-``d`` bucket of term ``t``: int(md5(t || ':cms<d>')[0:8],
    16) % w — the conv-substring-md5 idiom every gated hash in this
    repo uses, so the DuckDB twin is exact."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(t, F.lit(f":cms{d}"))), 1, 8),
            16,
            10,
        ).cast("long")
        % w
    )


def batch_term_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One batch's exact (t, c) whitespace-term counts — the shared
    pre-aggregation both sandwich slices derive from (aggregate the
    batch ONCE, then emit D sketch rows per distinct term, not per
    token occurrence)."""
    return (
        docs.filter(F.length(F.trim(text_col)) > 0)
        .select(F.explode(tokens(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
    )


def cms_slice_from_counts(
    term_counts: DataFrame, d: int = CMS_D, w: int = CMS_W
) -> DataFrame:
    """One batch's additive Count-Min slice: (d, b, c) cell rows,
    c = sum of the batch counts of every term hashing to cell (d,b).
    Merging slices = summing cells (CMS is a linear sketch), so the
    counting-store machinery (compaction, watermark, negative
    deletion slices) applies unchanged; a deletion slice built from
    the SAME erased docs subtracts their contribution exactly and
    the invariant est >= true survives erasure."""
    parts = [
        term_counts.select(
            F.lit(i).alias("d"), cms_bucket(F.col("t"), i, w).alias("b"), "c"
        )
        for i in range(d)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy("d", "b").agg(F.sum("c").cast("long").alias("c"))


def cms_store(
    docs: DataFrame, store_path: str, slice_id: str, text_col: str = "text"
) -> None:
    """Publish one batch's Count-Min slice (SLICES layout, see
    operators/store.py; compact with
    compact_counting_slices(keys=['d','b'], count='c'); erase with
    deletion_slice(cms_slice_from_counts(batch_term_counts(erased)),
    ['c']))."""
    publish_counting_slice(
        cms_slice_from_counts(batch_term_counts(docs, text_col)),
        store_path,
        slice_id,
    )


def hh_candidate_slice(
    term_counts: DataFrame, k: int = HH_K
) -> DataFrame:
    """One batch's GUARANTEED heavy-hitter candidates: terms with
    batch count c·k > N_batch (strict). At most k-1 terms can clear
    the strict threshold (they would otherwise sum past N_batch), so
    the slice is k-bounded regardless of vocabulary size; and any
    term with GLOBAL count·k > N appears in at least one batch's
    slice (if c_b·k <= N_b in every batch, summing gives c·k <= N).
    The stored counts are the term's batch counts, so the store's
    per-term SUM is a PROVEN LOWER bound of the true global count
    (it misses exactly the batches where the term ran below
    threshold)."""
    n = term_counts.agg(F.sum("c").cast("long").alias("_n"))
    return (
        term_counts.crossJoin(F.broadcast(n))
        .filter(F.col("c") * k > F.col("_n"))
        .select("t", "c")
    )


def hh_candidate_store(
    docs: DataFrame,
    store_path: str,
    slice_id: str,
    k: int = HH_K,
    text_col: str = "text",
) -> None:
    """Publish one batch's candidate slice (same contract as
    cms_store; erasure = deletion_slice of the erased docs' FULL
    batch_term_counts — over-subtracting a term's candidate credit
    only LOOSENS the lower bound, and the reader clamps at zero)."""
    publish_counting_slice(
        hh_candidate_slice(batch_term_counts(docs, text_col), k),
        store_path,
        slice_id,
    )


def cms_estimate_from_store(
    spark,
    store_path: str,
    probes: DataFrame,
    term_col: str = "t",
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Per-term Count-Min estimates FROM THE STORE — no corpus
    access: each probe term expands to its D cells, left-joins the
    watermark-filtered totals, and est = min over rows of the cell
    value, with a missing or zero-netted cell reading as 0 (so a
    term fully erased by a pending deletion slice reads 0
    IMMEDIATELY). est >= true always (cells only ever add counts of
    terms genuinely present). Returns (t, est).

    NO broadcast hint on either side (the q269 lesson): the probe
    set is query-sized for point lookups but VOCABULARY-sized when a
    gate audits every term, and a forced probe-side broadcast would
    be the exact OOM hazard the round-14 verdict flagged. The totals
    side is bounded at D*W rows by construction, so AQE broadcasts
    it whenever it fits and the probe side never shuffles; a store
    that was never published reads as all-zero estimates."""
    import os

    ts = probes.select(F.col(term_col).alias("t")).distinct()
    if not os.path.isdir(store_path):
        return ts.select("t", F.lit(0).cast("long").alias("est"))
    totals = counting_store_totals(spark, store_path, ["d", "b"], "c")
    pb = ts.select(
        "t",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        cms_bucket(F.col("t"), i, w).alias("b"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("_db"),
    ).select("t", F.col("_db.d").alias("d"), F.col("_db.b").alias("b"))
    return (
        pb.join(totals, ["d", "b"], "left")
        .groupBy("t")
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("est")
        )
    )


def hh_lower_from_store(spark, store_path: str) -> DataFrame:
    """Per-term PROVEN lower bounds from the candidate store: the
    watermark-filtered per-term sum, clamped to positive rows (an
    erasure deletion slice subtracts the erased docs' FULL counts,
    which can exceed the term's candidate credit — the net then
    undershoots, which is still a valid lower bound, and
    non-positive nets simply drop out). Returns (t, lower). A store
    whose slices were all empty (a near-uniform corpus can admit zero
    candidates per batch) or that was never published reads as
    empty."""
    import os

    if not os.path.isdir(store_path):
        return spark.createDataFrame([], "t string, lower long")
    return (
        counting_store_totals(spark, store_path, ["t"], "c")
        .filter(F.col("c") > 0)
        .select("t", F.col("c").alias("lower"))
    )


def cms_total_tokens(spark, store_path: str, d_row: int = 0) -> DataFrame:
    """Exact surviving token count N from the sketch itself: every
    CMS row partitions the token mass, so one row's cell sum IS N
    (erasure deletion slices subtract from every row equally).
    Returns a 1-row (n_tokens) frame — store-sized arithmetic, no
    corpus access."""
    return (
        counting_store_totals(spark, store_path, ["d", "b"], "c")
        .filter(F.col("d") == d_row)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_tokens"))
    )
