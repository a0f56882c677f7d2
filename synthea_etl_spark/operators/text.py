"""Text-analysis operators for LLM data pipelines (beyond-reference
surface; BASELINE.json north star).

All hot-path logic is built-in JVM expressions (split/regexp_count/
md5/transform) — no Python UDFs — so whole-stage codegen applies and
the operators scale linearly with input at 100 TB: every function here
is a narrow (shuffle-free) per-row transform.

Design choices:
- tokens = \\s+ split of trimmed text (language-agnostic, cheap);
- language-ID = stopword-hit scoring per language with a fixed
  priority-order argmax (deterministic, SQL-expressible — a real
  deployment would swap in a fastText-style model via pandas_udf, but
  the plumbing and the fallback heuristic are this);
- fingerprint = md5 over lowercased whitespace-collapsed text (the
  canonical exact-dedup key);
- shingles = word n-grams (the MinHash/Jaccard input).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text; empty text -> empty array."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-approximating token count: word-piece-ish segments =
    runs of letters, digits, or single punctuation (the common
    'count tokens without a tokenizer' heuristic)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0))


def chunk_by_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
    overlap: int = 4,
) -> DataFrame:
    """Token-window document chunking with overlap — the standard
    RAG/pretraining chunker: chunk k covers tokens [k*stride,
    k*stride + window) with stride = window - overlap, and the chunk
    count is max(1, ceil((n_tokens - overlap) / stride)) so every
    chunk past the first contributes at least one NEW token (no
    chunk is a suffix of its predecessor).

    100 TB design: every stage is a built-in JVM expression —
    split -> sequence -> explode -> slice/array_join — inside one
    whole-stage-codegen span, no UDF, no shuffle (the explode is a
    narrow 1-to-~n/stride row expansion); chunking 100 TB of text is
    embarrassingly parallel and this plan keeps it that way."""
    if overlap >= window:
        raise ValueError("overlap must be smaller than window")
    stride = window - overlap
    toks = tokens(F.col(text_col))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(float(stride))),
    ).cast("int")
    start = F.col("chunk_idx") * stride + 1  # slice() is 1-based
    piece = F.slice(F.col("_toks"), start, window)
    return (
        df.select(
            F.col(id_col).alias("id"),
            toks.alias("_toks"),
            n_chunks.alias("n_chunks"),
        )
        .select(
            "id",
            "n_chunks",
            "_toks",
            F.explode(
                F.sequence(F.lit(0), F.col("n_chunks") - 1)
            ).alias("chunk_idx"),
        )
        .select(
            "id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "n_chunks",
            F.size(piece).cast("int").alias("chunk_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


def html_to_text(col: Column | str) -> Column:
    """Boilerplate-stripping HTML -> text extraction (the standard
    first step on crawled corpora): drop <script>/<style> elements
    WITH their contents, drop comments, strip remaining tags, decode
    the common character entities, collapse whitespace. Entirely
    JVM-side regexp/replace expressions — one codegen span, no UDF —
    and every pattern is RE2-compatible so the DuckDB oracle can run
    the identical chain (q145's differential is therefore two
    independent regex engines agreeing on the same spec).

    Deliberately heuristic, like every at-scale extractor: it does
    not parse HTML (no browser DOM at 100 TB), it normalizes it."""
    c = F.col(col) if isinstance(col, str) else col
    # (?is): case-insensitive + DOTALL so elements span lines
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    # &amp; must decode LAST: decoding it first would turn escaped
    # entities like '&amp;lt;' into '&lt;' and then a second pass into
    # '<', double-decoding text the HTML encodes as a literal '&lt;'
    for ent, ch in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is")


def quality_features(col: Column | str) -> dict[str, Column]:
    """Length/stopword/uniqueness features used for corpus filtering.

    Returns named Columns; callers select the ones they need (keeps
    the scan narrow)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks)
    stop_pat = r"\b(" + "|".join(STOPWORDS_EN) + r")\b"
    n_stop = F.regexp_count(F.lower(c), F.lit(stop_pat))
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    nn = F.when(n_tok > 0, n_tok).otherwise(F.lit(1)).cast("double")
    return {
        "n_chars": F.length(c).cast("long"),
        "n_tokens": n_tok.cast("long"),
        # codegen single-pass summed token length (r15, guide §4.1 —
        # proven equivalent to the interpreted aggregate-of-lengths
        # lambda in tests/test_text_expr_equiv.py)
        "avg_token_len": (nonws_char_count(c).cast("double") / nn),
        "stopword_ratio": n_stop.cast("double") / nn,
        "punct_ratio": n_punct.cast("double")
        / F.greatest(F.length(c), F.lit(1)).cast("double"),
        "uniq_token_ratio": F.size(F.array_distinct(toks)).cast("double") / nn,
    }


# ---------------------------------------------------------------------------
# Language ID (n-gram/stopword heuristic)
# ---------------------------------------------------------------------------

LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "les", "des", "est", "une"),
    "de": ("der", "die", "und", "das", "ist"),
}
LANG_PRIORITY = ("en", "es", "fr", "de")  # deterministic tie-break order


def lang_scores(col: Column | str) -> dict[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    lo = F.lower(c)
    return {
        lang: F.regexp_count(lo, F.lit(r"\b(" + "|".join(words) + r")\b"))
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_guess(col: Column | str) -> Column:
    """Argmax language by stopword hits; 'und' (undetermined) when no
    stopword matches at all. First-match-in-priority-order resolves
    ties deterministically."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Fingerprinting & shingles
# ---------------------------------------------------------------------------


def fingerprint(col: Column | str) -> Column:
    """Canonical exact-dup key: md5 of lowercased, whitespace-collapsed,
    trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; fewer than n tokens ->
    empty array. Built with sequence+transform+slice (JVM-side)."""
    toks = tokens(col)
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), k - n + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(k >= n, grams).otherwise(F.array().cast("array<string>"))


PII_PATTERNS: dict[str, str] = {
    # RE2-compatible (no lookaround) so oracles can reproduce them
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts (JVM regexp_count)."""
    c = F.col(col) if isinstance(col, str) else col
    return {k: F.regexp_count(c, F.lit(p)) for k, p in PII_PATTERNS.items()}


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with a <KIND> tag — the scrubbing pass
    a training-data pipeline runs before tokenization. Order matters:
    SSN before phone (a 3-2-4 SSN would otherwise half-match the
    3-3-4 phone pattern only by luck of engine alternation; explicit
    ordering keeps engines in lockstep)."""
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for kind in ("email", "ssn", "phone"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def make_sentence_udtf():
    """Python UDTF (Spark 4): one text row -> N (sent_idx, sentence)
    rows — the table-function surface (SURVEY §2.8 lists none in the
    reference; this is the engine's). Splitting consumes the
    ``[.!?]+\\s+`` separator so the result is reproducible in RE2-based
    engines too (no lookbehind). Register with
    ``spark.udtf.register("split_sentences", make_sentence_udtf())``
    and use via LATERAL."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            for i, s in enumerate(re.split(r"[.!?]+\s+", text.strip())):
                if s:
                    yield (i, s)

    return SplitSentences


# ---------------------------------------------------------------------------
# Value-decile quality binning + curation sampling
# ---------------------------------------------------------------------------


def value_decile_bins(
    df: DataFrame, score_col: str, bins: int = 10
) -> DataFrame:
    """Attach an exact value-decile bin to every row WITHOUT a global
    sort: bin(score) = floor(bins * |{rows with strictly smaller
    score}| / N), so every row with the same score lands in the same
    bin (value-based deciles — ties never straddle a boundary, and
    bins are uneven exactly when the distribution is).

    Scale design (100 TB): the naive ntile/percent_rank window pulls
    every row through ONE task. Here the only windowed frame is the
    (score, count) AGGREGATE — its size is the score column's
    cardinality (an integer heuristic score has thousands of
    distinct values, not billions), so the single-partition window
    over it is a rounding error and the bin map broadcasts back to
    the full frame. Two narrow shuffles total: the score groupBy and
    nothing else (the join is broadcast).

    NULL scores are kept, not dropped: the bin-map join is
    null-safe, and NULL forms its own score group that Spark's
    null-first ascending window order places before every real
    value, so NULL-score rows land deterministically in the lowest
    bin (callers wanting a different placement should coalesce the
    score first, as quality_decile_sample does)."""
    from pyspark.sql import Window

    sc = df.groupBy(score_col).agg(F.count("*").alias("_cnt"))
    w = (
        Window.orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bin_map = (
        sc.withColumn("_cum", F.coalesce(F.sum("_cnt").over(w), F.lit(0)))
        .withColumn("_n", F.sum("_cnt").over(wall))
        .select(
            score_col,
            F.floor(F.lit(bins) * F.col("_cum") / F.col("_n"))
            .cast("int")
            .alias("decile"),
        )
    )
    # eqNullSafe: a NULL score matches the bin map's NULL group row
    # instead of silently dropping the input row under inner-join
    # NULL semantics
    bm = bin_map.withColumnRenamed(score_col, "_bm_score")
    return (
        df.join(
            F.broadcast(bm),
            F.col(score_col).eqNullSafe(F.col("_bm_score")),
        )
        .drop("_bm_score")
    )


def quality_decile_sample(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bins: int = 10,
) -> DataFrame:
    """Quality-binned curation sampling — the DataComp/DCLM-style
    curation step (score every document with a cheap heuristic, bin
    by score decile, keep a decile-proportional sample so the
    curated mix tilts toward high-quality strata without discarding
    the tail entirely): integer score = n_tokens + distinct tokens −
    punctuation marks (all codegen regex/array expressions, no UDF),
    exact value-decile bins via ``value_decile_bins``, then a
    deterministic md5 keep rule — decile d keeps d/bins of its docs,
    so re-runs and engines agree doc by doc. Returns
    (doc_id, score, decile, keep)."""
    t = tokens(text_col)
    score = (
        F.size(t)
        + F.size(F.array_distinct(t))
        - F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    ).cast("long")
    # null text scores 0 (same as empty) — a NULL score would land in
    # an engine-dependent position under window ordering
    scored = docs.select(
        F.col(id_col), F.coalesce(score, F.lit(0).cast("long")).alias("score")
    )
    binned = value_decile_bins(scored, "score", bins)
    keep_hash = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qs"), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % bins
    )
    return binned.select(
        id_col, "score", "decile", (keep_hash < F.col("decile")).alias("keep")
    )


def cluster_top_terms(
    docs: DataFrame,
    cluster_col: str = "cluster",
    text_col: str = "text",
    k: int = 5,
    micro: int = 1_000_000,
) -> DataFrame:
    """Cluster labeling — the c-TF-IDF shape (score terms by
    within-cluster frequency discounted by how many clusters use
    them, then take each cluster's top-k as its label): score =
    floor(tf_ct * n_clusters * micro / cluster_df_t), ALL-INTEGER
    (ratio form instead of the published log — a monotone transform
    for fixed tf, and cross-engine exact where log is not), ranked
    (score desc, term asc) per cluster.

    Plan: one explode + one (cluster, term) aggregate riding it, one
    tiny term-key aggregate for cluster-df, a 1-row n_clusters frame
    broadcast (the q162-style stats crossJoin), and a per-cluster
    top-k window whose input is the (cluster, term) AGGREGATE —
    vocabulary-sized, never corpus-sized."""
    from pyspark.sql import Window

    tok = docs.select(
        F.col(cluster_col).alias("cluster"),
        F.explode(tokens(text_col)).alias("t"),
    )
    tf_ct = tok.groupBy("cluster", "t").agg(
        F.count("*").cast("long").alias("tf")
    )
    cdf = tf_ct.groupBy("t").agg(
        F.count("*").cast("long").alias("_cdf")
    )
    n_clusters = tf_ct.select(
        F.count_distinct("cluster").cast("long").alias("_nc")
    )
    scored = (
        tf_ct.join(cdf, "t")
        .crossJoin(F.broadcast(n_clusters))
        .select(
            "cluster",
            "t",
            "tf",
            F.floor(
                F.col("tf") * F.col("_nc") * F.lit(micro) / F.col("_cdf")
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("score_micro"), F.asc("t")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "cluster", F.col("rank").cast("int").alias("rank"),
            "t", "tf", "score_micro",
        )
    )


# ---------------------------------------------------------------------------
# Gopher repetition coverages (map-only Arrow pass)
# ---------------------------------------------------------------------------


def gopher_repetition_covs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc character-coverage numerators for the Gopher
    repetition rules (Rae et al. 2021 table A1), for docs with at
    least 5 whitespace tokens: max count*len over distinct word
    2-grams (cov2) and 3-grams (cov3), and the summed count*len of
    DUPLICATED 5-grams (cov5; 0 when none repeat). All exact int64.

    100 TB design: the signals are strictly per-document, so the
    right shape is per-row — one Arrow batch in, one dict-counting
    pass per doc (O(tokens) per doc), four int64 columns out. The
    first implementation exploded all three gram streams through
    (doc_id, gram) shuffles — 3x the corpus tokens through the wire
    for a computation that needs no cross-doc state; this rewrite
    removes those corpus-sized exchanges (the only exchange left is
    the standard rebalance_by_key spread of the narrow (id, text)
    scan — the decode-path pattern that keeps tiny local scans from
    serializing the Arrow stage; at cluster scale file splits
    already provide the parallelism). Tokenization matches
    ``tokens()`` (split trimmed text on ASCII whitespace runs)."""
    import re

    ws = re.compile(r"\s+", re.ASCII)

    def compute(batches):
        import pandas as pd

        for pdf in batches:
            ids, chars, c2, c3, c5 = [], [], [], [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                t = (txt or "").strip()
                toks = ws.split(t) if t else []
                if len(toks) < 5:
                    continue
                counts2: dict[str, int] = {}
                counts3: dict[str, int] = {}
                counts5: dict[str, int] = {}
                for j in range(len(toks) - 1):
                    g = toks[j] + " " + toks[j + 1]
                    counts2[g] = counts2.get(g, 0) + 1
                for j in range(len(toks) - 2):
                    g = " ".join(toks[j : j + 3])
                    counts3[g] = counts3.get(g, 0) + 1
                for j in range(len(toks) - 4):
                    g = " ".join(toks[j : j + 5])
                    counts5[g] = counts5.get(g, 0) + 1
                ids.append(int(i))
                chars.append(len(t))
                c2.append(max(c * len(g) for g, c in counts2.items()))
                c3.append(max(c * len(g) for g, c in counts3.items()))
                c5.append(
                    sum(c * len(g) for g, c in counts5.items() if c > 1)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "chars": pd.Series(chars, dtype="int64"),
                    "cov2": pd.Series(c2, dtype="int64"),
                    "cov3": pd.Series(c3, dtype="int64"),
                    "cov5": pd.Series(c5, dtype="int64"),
                }
            )

    from synthea_etl_spark.operators.util import rebalance_by_key

    narrow = rebalance_by_key(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col)), "doc_id"
    )
    return narrow.mapInPandas(
        compute,
        schema="doc_id long, chars long, cov2 long, cov3 long, cov5 long",
    )


def nonws_char_count(col: Column | str) -> Column:
    """Sum of whitespace-token lengths as ONE codegen regexp pass:
    the tokens are the non-\\s runs of the trimmed text, so their
    total length is the trimmed text minus its \\s characters.
    Exactly ``aggregate(tokens(c), 0, acc + length(t))`` — proven
    equivalent in tests/test_text_expr_equiv.py — without the
    interpreted higher-order lambda (HOFs are CodegenFallback in
    Spark; r15 optimization, guide §4.1)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(F.trim(c), r"\s+", "")).cast("long")


def alpha_token_count(col: Column | str) -> Column:
    """Count of whitespace tokens containing an ASCII lowercase
    letter, as ONE codegen regexp pass. With a sentinel space
    prepended, each token with a letter yields exactly one
    non-overlapping match of ``\\s\\S*[a-z]`` (the match consumes the
    separator plus the token prefix through its last letter; the
    token's remaining chars cannot start a match without a new
    separator). Equivalent to
    ``size(filter(tokens(c), t -> t rlike '[a-z]'))`` —
    tests/test_text_expr_equiv.py."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(
        F.concat(F.lit(" "), F.trim(c)), F.lit(r"\s\S*[a-z]")
    ).cast("long")


def stopword_token_count(col: Column | str) -> Column:
    """Count of whitespace tokens that ARE one of STOPWORDS_EN
    (exact, case-sensitive token equality — not the \\b substring
    rule of quality_features), as ONE codegen regexp pass: with
    sentinel spaces on both ends a token equals a stopword iff
    ``\\s(alt)(?=\\s)`` matches at its separator (the lookahead
    leaves the trailing separator for the next token's match, so
    adjacent stopwords all count). Equivalent to
    ``size(filter(tokens(c), t -> array_contains(stops, t)))`` —
    tests/test_text_expr_equiv.py."""
    c = F.col(col) if isinstance(col, str) else col
    alt = "|".join(STOPWORDS_EN)
    return F.regexp_count(
        F.concat(F.lit(" "), F.trim(c), F.lit(" ")),
        F.lit(rf"\s({alt})(?=\s)"),
    ).cast("long")


def gopher_quality_ok(col: Column | str) -> Column:
    """Composite boolean for the non-repetition Gopher document
    bounds (Rae et al. 2021 table A1) — the q188 rule set as one
    reusable zero-shuffle expression: word count in [50, 100000],
    mean word length in [3, 10], >= 80% of words containing an
    alphabetic character, >= 2 stop-word hits. Exact integer
    micro-unit arithmetic, identical to the q188 gate columns.

    r15 optimization (guide §4.1): the per-token sums previously ran
    as interpreted higher-order array lambdas (``F.aggregate`` / two
    ``F.filter`` — CodegenFallback, evaluated per element); they are
    now single-pass codegen regexp counts, proven equivalent row for
    row (tests/test_text_expr_equiv.py; measured ~20% off the
    whole-scan wall at sf0.1, more on long documents)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    # same token count as tokens(): split of the trimmed text, with
    # the empty-text -> 0 special case tokens() encodes
    n = (
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("long")
    )
    nn = F.greatest(n, F.lit(1).cast("long"))
    sum_len = nonws_char_count(c)
    n_alpha = alpha_token_count(c)
    n_stop = stopword_token_count(c)
    # product comparisons == q188's micro-div bounds on the region
    # where the word-count bound holds (exact integers, no division)
    return (
        (n >= 50)
        & (n <= 100_000)
        & (sum_len >= 3 * nn)
        & (sum_len <= 10 * nn)
        & (n_alpha * 5 >= nn * 4)
        & (n_stop >= 2)
    )
