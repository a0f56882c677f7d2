"""Round-15 LLM-pipeline queries, batch 3: evaluation statistics the
curation loop runs over its own signals — ROC-AUC calibration of a
cheap filter signal, Bradley-Terry strength fitting over pairwise
preference outcomes, vocabulary/Zipf-head audits, inter-rater
agreement (Cohen's kappa), and the frequency-sandwich store gate
(q288/q289: Count-Min upper + candidate lower bounds, the 12th
stream-maintained family).

All metrics are exact integer (micro fixed-point) arithmetic so the
verdict columns — not just the inputs — hash-match the DuckDB twin.

Reference scope: beyond-reference extension surface; methods public
(ROC/AUC via the Mann-Whitney rank statistic; Bradley-Terry 1952
with the Hunter 2004 MM update; Good-Turing 1953 unseen-mass and
Simpson concentration; Cohen 1960 kappa; Count-Min per Cormode &
Muthukrishnan 2005; the candidate threshold argument is the classic
frequent-items batch bound, Misra-Gries 1982 form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from synthea_etl_spark.plans.common import QuerySpec, load
from synthea_etl_spark.plans.llm23 import MICRO

# Shared doc-grain signal frame (the q275 conventions: md5 quality
# margin, the 7-term stopword list) -- SQL twin in _PER_DOC_SQL.
_STOP_SQL = "('the', 'a', 'of', 'and', 'to', 'in', 'is')"

# per-token quality weight, the q275 oracle idiom: w(t) in [-1000, 1000]
_W_SQL = (
    "(CAST(concat('0x', substr(md5('w' || CAST("
    "CAST(concat('0x', substr(md5('q' || t), 1, 8)) AS BIGINT) % 4096"
    " AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000"
)

_PER_DOC_SQL = f"""
  SELECT lang, doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM({_W_SQL}) AS BIGINT) AS raw_margin,
         CAST(SUM(CASE WHEN t IN {_STOP_SQL} THEN 1 ELSE 0 END)
           AS BIGINT) AS n_stop
  FROM (
    SELECT lang, doc_id,
           UNNEST(string_split_regex(trim(text), '\\s+')) AS t
    FROM documents WHERE length(trim(text)) > 0
  ) GROUP BY lang, doc_id
"""


def _per_doc_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, doc_id, n_tokens, raw_margin, n_stop) in ONE exploded
    pass — the q275 discipline: every query in this module derives
    its doc-grain signals from this single corpus scan shape."""
    import synthea_etl_spark.operators.text as T
    from synthea_etl_spark.operators.retrieval import _bucket, _weight

    d = load(spark, sf_dir, "documents")
    tok = d.filter(F.length(F.trim("text")) > 0).select(
        "lang", "doc_id", F.explode(T.tokens("text")).alias("t")
    )
    return (
        tok.select(
            "lang",
            "doc_id",
            _weight(_bucket(F.col("t"))).alias("w"),
            F.col("t").isin(*T.STOPWORDS_EN).cast("long").alias("s"),
        )
        .groupBy("lang", "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w").cast("long").alias("raw_margin"),
            F.sum("s").cast("long").alias("n_stop"),
        )
    )


# ---------------------------------------------------------------------------
# q284 binned ROC-AUC of the cheap signal
# ---------------------------------------------------------------------------

def q284_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC calibration of the CHEAP curation signal (stopword
    decile) against the quality-model label (raw_margin > 0), per
    language — the q275 calibration curve collapsed to the one
    number a filter-tuning loop thresholds on, plus the KS statistic
    (max TPR-FPR gap over the decile thresholds).

    AUC is the Mann-Whitney rank statistic computed on the BINNED
    score: per (lang, decile) positive/negative counts, then
    auc = sum_b p_b * (cum_n_below + n_b/2) / (P*N) with exact
    half-credit for in-bin ties — integer micro arithmetic
    throughout, so the result hashes.

    100 TB shape: one exploded token pass -> doc-grain aggregate ->
    (lang, decile) aggregate (the only corpus-sized shuffles); the
    rank prefix-sums run on the <= 10-rows-per-language decile frame
    — NO corpus-sized window, no global sort (the q270 lesson). The
    decile binning is the scale device that replaces per-document
    global ranking; the oracle applies the identical binning."""
    per_doc = _per_doc_signals(spark, sf_dir)
    binned = (
        per_doc.select(
            "lang",
            F.least(F.expr("n_stop * 10 div n_tokens"), F.lit(9))
            .cast("int")
            .alias("bin"),
            (F.col("raw_margin") > 0).cast("long").alias("pos"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.sum("pos").cast("long").alias("p_b"),
            F.sum(1 - F.col("pos")).cast("long").alias("n_b"),
        )
    )
    w = Window.partitionBy("lang").orderBy("bin")
    wl = Window.partitionBy("lang")
    ranked = binned.select(
        "lang",
        "bin",
        "p_b",
        "n_b",
        (F.sum("n_b").over(w) - F.col("n_b")).alias("cum_n_below"),
        F.sum("p_b").over(w).alias("cum_p"),
        F.sum("n_b").over(w).alias("cum_n"),
        F.sum("p_b").over(wl).alias("tot_p"),
        F.sum("n_b").over(wl).alias("tot_n"),
    )
    return ranked.groupBy("lang").agg(
        F.max("tot_p").cast("long").alias("n_pos"),
        F.max("tot_n").cast("long").alias("n_neg"),
        F.expr(
            f"sum(p_b * (2 * cum_n_below + n_b)) * {MICRO}"
            " div greatest(1, 2 * max(tot_p) * max(tot_n))"
        ).cast("long").alias("auc_micro"),
        F.expr(
            f"max(abs(cum_p * {MICRO} div greatest(1, tot_p)"
            f" - cum_n * {MICRO} div greatest(1, tot_n)))"
        ).cast("long").alias("ks_micro"),
    )


ORACLE_Q284 = f"""
WITH per_doc AS ({_PER_DOC_SQL}),
binned AS (
  SELECT lang,
         CAST(LEAST(n_stop * 10 // n_tokens, 9) AS INTEGER) AS bin,
         CAST(SUM(CASE WHEN raw_margin > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS p_b,
         CAST(SUM(CASE WHEN raw_margin > 0 THEN 0 ELSE 1 END) AS BIGINT)
           AS n_b
  FROM per_doc GROUP BY lang, bin
),
ranked AS (
  SELECT lang, bin, p_b, n_b,
         SUM(n_b) OVER (PARTITION BY lang ORDER BY bin) - n_b
           AS cum_n_below,
         SUM(p_b) OVER (PARTITION BY lang ORDER BY bin) AS cum_p,
         SUM(n_b) OVER (PARTITION BY lang ORDER BY bin) AS cum_n,
         SUM(p_b) OVER (PARTITION BY lang) AS tot_p,
         SUM(n_b) OVER (PARTITION BY lang) AS tot_n
  FROM binned
)
SELECT lang,
       CAST(MAX(tot_p) AS BIGINT) AS n_pos,
       CAST(MAX(tot_n) AS BIGINT) AS n_neg,
       CAST(SUM(p_b * (2 * cum_n_below + n_b)) * {MICRO}
            // GREATEST(1, 2 * MAX(tot_p) * MAX(tot_n)) AS BIGINT)
         AS auc_micro,
       CAST(MAX(ABS(cum_p * {MICRO} // GREATEST(1, tot_p)
                    - cum_n * {MICRO} // GREATEST(1, tot_n))) AS BIGINT)
         AS ks_micro
FROM ranked GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q285 Bradley-Terry policy strengths from pairwise outcomes
# ---------------------------------------------------------------------------

_BT_POLICIES = 4
_BT_ITERS = 2


def _bt_policy(doc_id) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("pol"), F.col(doc_id).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _BT_POLICIES
    )


def q285_bt_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength fit over pairwise preference outcomes
    — the model an RLHF evaluation harness runs over its A/B match
    log to turn win counts into policy ratings (Bradley & Terry
    1952; MM update per Hunter 2004). Matches are the adjacent-doc
    pairs (doc_id, doc_id+1) whose md5-assigned policies differ;
    the higher quality-model margin wins (tie -> lower policy id).

    Two MM iterations from the uniform start, in exact micro-integer
    arithmetic: s_i' = W_i * M^2 div sum_j [n_ij * M^2 div
    (s_i + s_j)] — both engines run the identical integer ops, so
    the strengths (not just the win matrix) hash. The final
    strengths are normalized to sum ~= _BT_POLICIES * M.

    100 TB shape: the corpus collapses to a policies^2 win matrix in
    one self-join + one aggregate; the MM iterations run on that
    tiny matrix (policy count is harness-bounded, here 4), never on
    the corpus. Long arithmetic holds to ~1e6 matches per pair cell
    (W*M^2 < 2^63); past that, pre-scale the matrix by total games
    — a store-sized rescale, noted not implemented."""
    # localCheckpoint before the self-join (r15 optimization, guide
    # §1.2/§5): a self-join's two sides are DUPLICATED subtrees in
    # the physical plan, so the exploded scoring pass ran twice; the
    # checkpoint materializes the narrow (doc_id, raw_margin) frame
    # once and both join sides read it.
    per_doc = (
        _per_doc_signals(spark, sf_dir)
        .select("doc_id", "raw_margin")
        .localCheckpoint()
    )
    a = per_doc.alias("a")
    b = per_doc.alias("b")
    matches = (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .select(
            _bt_policy("a.doc_id").alias("p1"),
            _bt_policy("b.doc_id").alias("p2"),
            (
                (F.col("a.raw_margin") > F.col("b.raw_margin"))
            ).alias("first_wins"),
            (F.col("a.raw_margin") == F.col("b.raw_margin")).alias("tie"),
        )
        .filter(F.col("p1") != F.col("p2"))
        .select(
            F.least("p1", "p2").alias("pa"),
            F.greatest("p1", "p2").alias("pb"),
            F.when(
                F.col("tie"), F.lit(1)  # tie -> lower policy id wins
            )
            .when(
                (F.col("p1") < F.col("p2")) & F.col("first_wins"), F.lit(1)
            )
            .when(
                (F.col("p1") > F.col("p2")) & ~F.col("first_wins"), F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("wa"),
        )
    )
    matrix = matches.groupBy("pa", "pb").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("wa").cast("long").alias("wa"),
    )
    # symmetric directed view (i, j, n_ij, w_i): 2 rows per pair
    sym = matrix.select(
        F.col("pa").alias("i"), F.col("pb").alias("j"), "n",
        F.col("wa").alias("w"),
    ).unionByName(
        matrix.select(
            F.col("pb").alias("i"), F.col("pa").alias("j"), "n",
            (F.col("n") - F.col("wa")).alias("w"),
        )
    ).localCheckpoint()
    wins = sym.groupBy("i").agg(
        F.sum("n").cast("long").alias("games"),
        F.sum("w").cast("long").alias("wins"),
    )
    s = wins.select("i", F.lit(MICRO).cast("long").alias("s"))
    for _ in range(_BT_ITERS):
        den = (
            sym.join(s.withColumnRenamed("s", "s_i"), "i")
            .join(
                s.select(F.col("i").alias("j"), F.col("s").alias("s_j")),
                "j",
            )
            .groupBy("i")
            .agg(
                F.expr(
                    f"sum(n * cast({MICRO} as bigint) * {MICRO}"
                    " div (s_i + s_j))"
                ).cast("long").alias("den")
            )
        )
        s = (
            wins.join(den, "i")
            .select(
                "i",
                F.expr(
                    f"wins * cast({MICRO} as bigint) * {MICRO}"
                    " div greatest(1, den)"
                ).cast("long").alias("s"),
            )
        )
    tot = s.agg(F.sum("s").cast("long").alias("tot"))
    out = (
        wins.join(s, "i")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("i").cast("int").alias("policy"),
            "games",
            "wins",
            F.expr(
                f"s * cast({_BT_POLICIES} as bigint) * {MICRO}"
                " div greatest(1, tot)"
            ).cast("long").alias("strength_micro"),
        )
    )
    w = Window.orderBy(F.desc("strength_micro"), F.asc("policy"))
    return out.select(
        "*", F.row_number().over(w).cast("int").alias("rank")
    )


def _oracle_q285() -> str:
    pol = (
        "CAST(concat('0x', substr(md5('pol' || CAST({d} AS VARCHAR)),"
        " 1, 8)) AS BIGINT) % " + str(_BT_POLICIES)
    )
    it = f"""
  SELECT i, CAST(w.wins * CAST({MICRO} AS BIGINT) * {MICRO}
         // GREATEST(1, d.den) AS BIGINT) AS s
  FROM wins w JOIN (
    SELECT sym.i,
           CAST(SUM(sym.n * CAST({MICRO} AS BIGINT) * {MICRO}
                // (si.s + sj.s)) AS BIGINT) AS den
    FROM sym
    JOIN {{prev}} si ON si.i = sym.i
    JOIN {{prev}} sj ON sj.i = sym.j
    GROUP BY sym.i
  ) d USING (i)
"""
    return f"""
WITH per_doc AS ({_PER_DOC_SQL}),
m0 AS (
  SELECT {pol.format(d='a.doc_id')} AS p1,
         {pol.format(d='b.doc_id')} AS p2,
         a.raw_margin > b.raw_margin AS first_wins,
         a.raw_margin = b.raw_margin AS tie
  FROM per_doc a JOIN per_doc b ON a.doc_id + 1 = b.doc_id
),
matches AS (
  SELECT LEAST(p1, p2) AS pa, GREATEST(p1, p2) AS pb,
         CAST(CASE WHEN tie THEN 1
                   WHEN p1 < p2 AND first_wins THEN 1
                   WHEN p1 > p2 AND NOT first_wins THEN 1
                   ELSE 0 END AS BIGINT) AS wa
  FROM m0 WHERE p1 <> p2
),
matrix AS (
  SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(wa) AS BIGINT) AS wa
  FROM matches GROUP BY pa, pb
),
sym AS (
  SELECT pa AS i, pb AS j, n, wa AS w FROM matrix
  UNION ALL
  SELECT pb AS i, pa AS j, n, n - wa AS w FROM matrix
),
wins AS (
  SELECT i, CAST(SUM(n) AS BIGINT) AS games,
         CAST(SUM(w) AS BIGINT) AS wins
  FROM sym GROUP BY i
),
s0 AS (SELECT i, CAST({MICRO} AS BIGINT) AS s FROM wins),
s1 AS ({it.format(prev='s0')}),
s2 AS ({it.format(prev='s1')}),
tot AS (SELECT CAST(SUM(s) AS BIGINT) AS tot FROM s2)
SELECT CAST(w.i AS INTEGER) AS policy, w.games, w.wins,
       CAST(s.s * CAST({_BT_POLICIES} AS BIGINT) * {MICRO}
            // GREATEST(1, tot.tot) AS BIGINT) AS strength_micro,
       CAST(ROW_NUMBER() OVER (
         ORDER BY s.s * CAST({_BT_POLICIES} AS BIGINT) * {MICRO}
                  // GREATEST(1, tot.tot) DESC, w.i ASC
       ) AS INTEGER) AS rank
FROM wins w JOIN s2 s USING (i) CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# q286 vocabulary / Zipf-head audit
# ---------------------------------------------------------------------------

def q286_vocab_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary audit: token mass N, vocabulary V,
    hapax/dis-legomena counts, Good-Turing unseen-probability mass
    (n1/N — the held-out mass a smoothing scheme must reserve),
    Simpson concentration (repeat-draw collision probability,
    sum c(c-1)/N(N-1)), and the head term with its mass fraction —
    the one-page distribution card a tokenizer/mixture decision
    reads per language.

    100 TB shape: one exploded pass -> (lang, t) exact counts (the
    only corpus-sized shuffle), then a vocabulary-sized aggregate
    per language; the head term is recovered by an aggregate max +
    a semi-join on (lang, top_c) — NO vocabulary-sized window (the
    q270 lesson: a per-lang row_number over the vocab is a one-task
    sort per language). Long arithmetic in the Simpson numerator
    holds while sum c^2 * 1e6 < 2^63 — beyond ~3e12 tokens per
    language, move the numerator to DECIMAL(38,0) (store-sized
    change, noted not implemented)."""
    import synthea_etl_spark.operators.text as T

    d = load(spark, sf_dir, "documents")
    # r15 (guide §1.2): tc feeds stats AND the head-term semi-join,
    # stats feeds tops AND the final join — without barriers the
    # corpus explode ran 3x. tc is the vocab-sized dim frame (Heaps'
    # law), stats lang-sized.
    tc = (
        d.filter(F.length(F.trim("text")) > 0)
        .select("lang", F.explode(T.tokens("text")).alias("t"))
        .groupBy("lang", "t")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint()
    )
    stats = tc.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("hapax"),
        F.sum((F.col("c") == 2).cast("long")).cast("long").alias("dis"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("_coll"),
        F.max("c").cast("long").alias("_top_c"),
    ).localCheckpoint()
    tops = stats.select(F.col("lang").alias("_l"), "_top_c")
    top = (
        tc.join(
            F.broadcast(tops),
            (tc["lang"] == F.col("_l")) & (tc["c"] == F.col("_top_c")),
        )
        .groupBy("lang")
        .agg(F.min("t").alias("top_term"))
    )
    return (
        stats.join(top, "lang")
        .select(
            "lang",
            "n_tokens",
            "vocab",
            "hapax",
            "dis",
            F.expr(f"hapax * cast({MICRO} as bigint) div n_tokens")
            .cast("long").alias("gt_unseen_micro"),
            F.expr(
                f"_coll * cast({MICRO} as bigint)"
                " div greatest(1, n_tokens * (n_tokens - 1))"
            ).cast("long").alias("simpson_micro"),
            "top_term",
            F.expr(f"_top_c * cast({MICRO} as bigint) div n_tokens")
            .cast("long").alias("top_mass_micro"),
        )
    )


ORACLE_Q286 = f"""
WITH tc AS (
  SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT lang, UNNEST(string_split_regex(trim(text), '\\s+')) AS t
    FROM documents WHERE length(trim(text)) > 0
  ) GROUP BY lang, t
),
stats AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
         CAST(SUM(c * (c - 1)) AS BIGINT) AS coll,
         CAST(MAX(c) AS BIGINT) AS top_c
  FROM tc GROUP BY lang
),
top AS (
  SELECT tc.lang, MIN(tc.t) AS top_term
  FROM tc JOIN stats s ON tc.lang = s.lang AND tc.c = s.top_c
  GROUP BY tc.lang
)
SELECT s.lang, s.n_tokens, s.vocab, s.hapax, s.dis,
       CAST(s.hapax * CAST({MICRO} AS BIGINT) // s.n_tokens AS BIGINT)
         AS gt_unseen_micro,
       CAST(s.coll * CAST({MICRO} AS BIGINT)
            // GREATEST(1, s.n_tokens * (s.n_tokens - 1)) AS BIGINT)
         AS simpson_micro,
       t.top_term,
       CAST(s.top_c * CAST({MICRO} AS BIGINT) // s.n_tokens AS BIGINT)
         AS top_mass_micro
FROM stats s JOIN top t USING (lang)
"""


# ---------------------------------------------------------------------------
# q287 inter-rater agreement (Cohen's kappa)
# ---------------------------------------------------------------------------

def q287_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic keep/drop raters over
    the corpus, per language — the agreement audit a curation
    pipeline runs before trusting a cheap rule as a stand-in for the
    expensive one (Cohen 1960). Rater A is the cheap rule (stopword
    mass <= 60% and >= 5 tokens); rater B is the quality-model rule
    (raw_margin > 0). Reports the confusion counts, observed and
    chance agreement, and kappa — all micro-integer, with the
    negative-kappa branch sign-split so both engines truncate
    identically (div semantics differ below zero; each branch's
    operands are non-negative).

    100 TB shape: one exploded pass -> doc-grain signals -> one
    (lang) aggregate; everything after the confusion counts is
    per-language scalar arithmetic."""
    per_doc = _per_doc_signals(spark, sf_dir)
    conf = (
        per_doc.select(
            "lang",
            (
                (F.col("n_stop") * 1000 <= F.col("n_tokens") * 600)
                & (F.col("n_tokens") >= 5)
            ).cast("long").alias("a"),
            (F.col("raw_margin") > 0).cast("long").alias("b"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("t"),
            F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
            F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
            F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
            F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long")
            .alias("n00"),
        )
    )
    return conf.select(
        "lang",
        F.col("t").alias("n_docs"),
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(f"(n11 + n00) * cast({MICRO} as bigint) div t")
        .cast("long").alias("po_micro"),
        F.expr(
            f"((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
            f" * cast({MICRO} as bigint) div (t * t)"
        ).cast("long").alias("pe_micro"),
    ).select(
        "*",
        F.expr(
            f"CASE WHEN po_micro >= pe_micro THEN"
            f" (po_micro - pe_micro) * cast({MICRO} as bigint)"
            f" div greatest(1, {MICRO} - pe_micro)"
            f" ELSE -((pe_micro - po_micro) * cast({MICRO} as bigint)"
            f" div greatest(1, {MICRO} - pe_micro)) END"
        ).cast("long").alias("kappa_micro"),
    ).select(
        "*",
        (F.col("kappa_micro") >= 400_000).alias("moderate_agreement"),
    )


ORACLE_Q287 = f"""
WITH per_doc AS ({_PER_DOC_SQL}),
conf AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM (
    SELECT lang,
           CASE WHEN n_stop * 1000 <= n_tokens * 600
                 AND n_tokens >= 5 THEN 1 ELSE 0 END AS a,
           CASE WHEN raw_margin > 0 THEN 1 ELSE 0 END AS b
    FROM per_doc
  ) GROUP BY lang
),
agg AS (
  SELECT lang, t AS n_docs, n11, n10, n01, n00,
         CAST((n11 + n00) * CAST({MICRO} AS BIGINT) // t AS BIGINT)
           AS po_micro,
         CAST(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
              * CAST({MICRO} AS BIGINT) // (t * t) AS BIGINT)
           AS pe_micro
  FROM conf
)
SELECT *,
       CAST(CASE WHEN po_micro >= pe_micro THEN
              (po_micro - pe_micro) * CAST({MICRO} AS BIGINT)
                // GREATEST(1, {MICRO} - pe_micro)
            ELSE -((pe_micro - po_micro) * CAST({MICRO} AS BIGINT)
                // GREATEST(1, {MICRO} - pe_micro)) END AS BIGINT)
         AS kappa_micro,
       CASE WHEN CASE WHEN po_micro >= pe_micro THEN
              (po_micro - pe_micro) * CAST({MICRO} AS BIGINT)
                // GREATEST(1, {MICRO} - pe_micro)
            ELSE -((pe_micro - po_micro) * CAST({MICRO} AS BIGINT)
                // GREATEST(1, {MICRO} - pe_micro)) END >= 400000
            THEN TRUE ELSE FALSE END AS moderate_agreement
FROM agg
"""


# ---------------------------------------------------------------------------
# q288/q289 frequency-sandwich store (12th stream family)
# ---------------------------------------------------------------------------

_Q288_SYNTH = 5


def _sandwich_stores(spark: SparkSession, sf_dir: str):
    """Shared gate-scale store build: ONE corpus token pass ->
    per-(batch, term) exact counts (localCheckpointed — five
    downstream consumers), then both sandwich stores on a 2-batch
    axis (doc parity) with a mid-stream CMS compaction (the
    lifecycle the gate certifies). Returns (tcb, cms_dir, cand_dir);
    caller rmtrees the dirs."""
    import tempfile

    import synthea_etl_spark.operators.text as T
    from synthea_etl_spark.operators.dedup import (
        cms_slice_from_counts,
        compact_counting_slices,
        hh_candidate_slice,
        publish_counting_slice,
    )

    d = load(spark, sf_dir, "documents")
    tcb = (
        d.filter(F.length(F.trim("text")) > 0)
        .select(
            (F.col("doc_id") % 2).alias("bt"),
            F.explode(T.tokens("text")).alias("t"),
        )
        .groupBy("bt", "t")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint()
    )
    cms_dir = tempfile.mkdtemp(prefix="q288_cms_")
    cand_dir = tempfile.mkdtemp(prefix="q288_cand_")
    for b in (0, 1):
        bc = tcb.filter(F.col("bt") == b).select("t", "c")
        publish_counting_slice(
            cms_slice_from_counts(bc), cms_dir, f"batch{b}"
        )
        publish_counting_slice(hh_candidate_slice(bc), cand_dir, f"batch{b}")
        if b == 0:
            compact_counting_slices(spark, cms_dir, 0, ["d", "b"], "c")
    return tcb, cms_dir, cand_dir


def q288_cms_frequency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gate query for the frequency-sandwich pair (the 12th stream-
    maintained family): a Count-Min sketch store (PROVEN upper
    bounds: est >= true, cells only ever sum genuine counts) and a
    batch-threshold candidate store (PROVEN lower bounds: per-term
    sums of above-threshold batch counts). Build both on a 2-batch
    axis with a mid-stream CMS compaction, probe the full corpus
    vocabulary plus a synthetic absent panel, and report per probe
    class the bound-violation counts (PROVEN ZERO in-result, the
    q255/q278 discipline), the aggregate sandwich width, and the
    sketch's own token-mass accounting (one CMS row's cell sum IS
    the exact corpus token count).

    100 TB shape: the production paths are store-sized — estimates
    are D broadcast cell lookups per probe term against a D*W-row
    store that never grows with the corpus, candidates are k-bounded
    per batch; ingest is one term-count aggregate per batch riding
    the certified counting-store machinery (compaction + negative-
    slice erasure). The exact side here is the gate-scale truth the
    stores exist to avoid recomputing. W=16 at gate scale forces
    real collisions so the upper bound is certified non-trivially
    (est > exact for colliding terms, yet never below)."""
    import shutil

    from synthea_etl_spark.operators.dedup import (
        cms_estimate_from_store,
        cms_total_tokens,
        hh_lower_from_store,
    )

    tcb, cms_dir, cand_dir = _sandwich_stores(spark, sf_dir)
    try:
        tc = tcb.groupBy("t").agg(F.sum("c").cast("long").alias("c"))
        probes = (
            tc.select("t")
            .withColumn("probe_class", F.lit("corpus"))
            .unionByName(
                spark.range(_Q288_SYNTH).select(
                    F.concat(F.lit("absent:"), F.col("id").cast("string"))
                    .alias("t"),
                    F.lit("synthetic").alias("probe_class"),
                )
            )
        )
        est = cms_estimate_from_store(spark, cms_dir, probes)
        lower = hh_lower_from_store(spark, cand_dir)
        n_store = cms_total_tokens(spark, cms_dir)
        joined = (
            probes.join(est, "t")
            .join(lower, "t", "left")
            .join(tc.withColumnRenamed("c", "exact"), "t", "left")
            .select(
                "probe_class",
                "t",
                "est",
                F.coalesce("lower", F.lit(0)).cast("long").alias("lower"),
                F.coalesce("exact", F.lit(0)).cast("long").alias("exact"),
            )
        )
        out = (
            joined.groupBy("probe_class")
            .agg(
                F.count("*").cast("long").alias("n_terms"),
                F.sum((F.col("lower") > 0).cast("long")).cast("long")
                .alias("n_candidates"),
                F.sum("exact").cast("long").alias("sum_exact"),
                F.sum("est").cast("long").alias("sum_est"),
                F.sum("lower").cast("long").alias("sum_lower"),
                F.max(F.col("est") - F.col("exact")).cast("long")
                .alias("max_overcount"),
                F.sum((F.col("est") < F.col("exact")).cast("long"))
                .cast("long").alias("n_upper_viol"),
                F.sum((F.col("lower") > F.col("exact")).cast("long"))
                .cast("long").alias("n_lower_viol"),
            )
            .crossJoin(F.broadcast(n_store))
            .crossJoin(
                F.broadcast(
                    tc.agg(F.sum("c").cast("long").alias("_n_corpus"))
                )
            )
            .select(
                "probe_class",
                "n_terms",
                "n_candidates",
                "sum_exact",
                "sum_est",
                "sum_lower",
                "max_overcount",
                "n_upper_viol",
                "n_lower_viol",
                ((F.col("n_upper_viol") == 0) & (F.col("n_lower_viol") == 0))
                .alias("bounds_ok"),
                (F.col("n_tokens") == F.col("_n_corpus"))
                .alias("store_mass_exact"),
            )
        )
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        shutil.rmtree(cms_dir, ignore_errors=True)
        shutil.rmtree(cand_dir, ignore_errors=True)


def _cms_sql_cte() -> str:
    """Shared oracle CTEs replicating both stores' totals: per-batch
    term counts, the candidate lower sums, the CMS cells, and the
    corpus term truth."""
    from synthea_etl_spark.operators.dedup import CMS_D, CMS_W, HH_K

    idx = ", ".join(str(i) for i in range(CMS_D))
    return f"""
tokb AS (
  SELECT doc_id % 2 AS bt,
         UNNEST(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
),
tcb AS (
  SELECT bt, t, CAST(COUNT(*) AS BIGINT) AS c FROM tokb GROUP BY bt, t
),
nb AS (SELECT bt, CAST(SUM(c) AS BIGINT) AS n FROM tcb GROUP BY bt),
cand AS (
  SELECT t, CAST(SUM(c) AS BIGINT) AS lower
  FROM tcb JOIN nb USING (bt) WHERE c * {HH_K} > n GROUP BY t
),
tc AS (SELECT t, CAST(SUM(c) AS BIGINT) AS c FROM tcb GROUP BY t),
cells AS (
  SELECT i AS d,
         CAST(concat('0x', substr(md5(t || ':cms' || CAST(i AS VARCHAR)),
                                  1, 8)) AS BIGINT) % {CMS_W} AS b,
         CAST(SUM(c) AS BIGINT) AS c
  FROM tc CROSS JOIN (SELECT UNNEST([{idx}]) AS i) u
  GROUP BY d, b
)"""


def _cms_est_sql(probe_cte: str) -> str:
    """Oracle estimate CTE: min over rows of the probe term's cell,
    a missing cell reading 0 (the store-absent semantics)."""
    from synthea_etl_spark.operators.dedup import CMS_D, CMS_W

    idx = ", ".join(str(i) for i in range(CMS_D))
    return f"""
pb AS (
  SELECT p.t, i AS d,
         CAST(concat('0x', substr(md5(p.t || ':cms' || CAST(i AS VARCHAR)),
                                  1, 8)) AS BIGINT) % {CMS_W} AS b
  FROM {probe_cte} p CROSS JOIN (SELECT UNNEST([{idx}]) AS i) u
),
est AS (
  SELECT pb.t, CAST(MIN(COALESCE(cells.c, 0)) AS BIGINT) AS est
  FROM pb LEFT JOIN cells ON pb.d = cells.d AND pb.b = cells.b
  GROUP BY pb.t
)"""


def _oracle_q288() -> str:
    return f"""
WITH {_cms_sql_cte()},
probes AS (
  SELECT t, 'corpus' AS probe_class FROM tc
  UNION ALL
  SELECT 'absent:' || CAST(r AS VARCHAR) AS t, 'synthetic' AS probe_class
  FROM range({_Q288_SYNTH}) x(r)
),
{_cms_est_sql('probes')},
joined AS (
  SELECT p.probe_class, p.t, e.est,
         COALESCE(cd.lower, 0) AS lower, COALESCE(tc.c, 0) AS exact
  FROM probes p
  JOIN est e USING (t)
  LEFT JOIN cand cd USING (t)
  LEFT JOIN tc USING (t)
),
scalars AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM cells WHERE d = 0)
           AS n_tokens,
         (SELECT CAST(SUM(c) AS BIGINT) FROM tc) AS n_corpus
)
SELECT probe_class,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(CASE WHEN lower > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_candidates,
       CAST(SUM(exact) AS BIGINT) AS sum_exact,
       CAST(SUM(est) AS BIGINT) AS sum_est,
       CAST(SUM(lower) AS BIGINT) AS sum_lower,
       CAST(MAX(est - exact) AS BIGINT) AS max_overcount,
       CAST(SUM(CASE WHEN est < exact THEN 1 ELSE 0 END) AS BIGINT)
         AS n_upper_viol,
       CAST(SUM(CASE WHEN lower > exact THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lower_viol,
       SUM(CASE WHEN est < exact THEN 1 ELSE 0 END) = 0
         AND SUM(CASE WHEN lower > exact THEN 1 ELSE 0 END) = 0
         AS bounds_ok,
       MAX(s.n_tokens) = MAX(s.n_corpus) AS store_mass_exact
FROM joined CROSS JOIN scalars s
GROUP BY probe_class
"""


def q289_heavy_hitter_bounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The sandwich's operational answer: the heavy-hitter report a
    100 TB pipeline serves FROM THE STORES — candidate terms with
    their proven lower (candidate sums) and upper (Count-Min)
    bounds, classified against the frequency threshold N/k with N
    read off the sketch itself: 'heavy' is PROVEN by lower*k > N,
    'light' is PROVEN by est*k <= N, 'uncertain' is the honest
    remainder. Completeness is structural: every term with true
    count*k > N is in the candidate store (the batch-threshold
    union argument in hh_candidate_slice) — verified in-result as
    ``all_heavy_covered`` along with per-term ``class_proven``
    against the gate-scale exact counts.

    100 TB shape: the report is candidate-sized (k-bounded per
    batch) x D cell lookups — no corpus access on the serving path;
    the exact join exists only at gate scale to certify the proofs
    (q278 class)."""
    import shutil

    from synthea_etl_spark.operators.dedup import (
        HH_K,
        cms_estimate_from_store,
        cms_total_tokens,
        hh_lower_from_store,
    )

    tcb, cms_dir, cand_dir = _sandwich_stores(spark, sf_dir)
    try:
        tc = tcb.groupBy("t").agg(F.sum("c").cast("long").alias("exact"))
        lower = hh_lower_from_store(spark, cand_dir)
        est = cms_estimate_from_store(spark, cms_dir, lower)
        n_store = cms_total_tokens(spark, cms_dir)
        # completeness: exact-heavy terms missing from the candidate
        # store (PROVEN empty; the 1-row count becomes a column)
        heavy_exact = (
            tc.crossJoin(F.broadcast(n_store))
            .filter(F.col("exact") * HH_K > F.col("n_tokens"))
            .select("t")
        )
        missed = heavy_exact.join(lower, "t", "left_anti").agg(
            F.count("*").cast("long").alias("_n_missed")
        )
        out = (
            lower.join(est, "t")
            .join(tc, "t", "left")
            .crossJoin(F.broadcast(n_store))
            .crossJoin(F.broadcast(missed))
            .select(
                "t",
                "lower",
                "est",
                F.coalesce("exact", F.lit(0)).cast("long").alias("exact"),
                "n_tokens",
                F.when(
                    F.col("lower") * HH_K > F.col("n_tokens"), "heavy"
                )
                .when(F.col("est") * HH_K <= F.col("n_tokens"), "light")
                .otherwise("uncertain")
                .alias("class"),
                (F.col("_n_missed") == 0).alias("all_heavy_covered"),
            )
            .select(
                "*",
                F.when(
                    F.col("class") == "heavy",
                    F.col("exact") * HH_K > F.col("n_tokens"),
                )
                .when(
                    F.col("class") == "light",
                    F.col("exact") * HH_K <= F.col("n_tokens"),
                )
                .otherwise(F.lit(True))
                .alias("class_proven"),
            )
        )
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        shutil.rmtree(cms_dir, ignore_errors=True)
        shutil.rmtree(cand_dir, ignore_errors=True)


def _oracle_q289() -> str:
    from synthea_etl_spark.operators.dedup import HH_K

    return f"""
WITH {_cms_sql_cte()},
{_cms_est_sql('cand')},
scalars AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM cells WHERE d = 0)
           AS n_tokens
),
missed AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_missed
  FROM tc CROSS JOIN scalars s
  WHERE tc.c * {HH_K} > s.n_tokens
    AND tc.t NOT IN (SELECT t FROM cand)
),
rep AS (
  SELECT cd.t, cd.lower, e.est, COALESCE(tc.c, 0) AS exact,
         s.n_tokens,
         CASE WHEN cd.lower * {HH_K} > s.n_tokens THEN 'heavy'
              WHEN e.est * {HH_K} <= s.n_tokens THEN 'light'
              ELSE 'uncertain' END AS class,
         m.n_missed = 0 AS all_heavy_covered
  FROM cand cd
  JOIN est e USING (t)
  LEFT JOIN tc USING (t)
  CROSS JOIN scalars s CROSS JOIN missed m
)
SELECT *,
       CASE WHEN class = 'heavy' THEN exact * {HH_K} > n_tokens
            WHEN class = 'light' THEN exact * {HH_K} <= n_tokens
            ELSE TRUE END AS class_proven
FROM rep
"""


# ---------------------------------------------------------------------------
# q290 expected calibration error of the quality signal
# ---------------------------------------------------------------------------

def q290_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the quality signal treated as a
    PROBABILITY: the odd-position token half of each document
    predicts the even half (a deterministic held-out split — no
    randomness, both engines agree), the normalized odd-half margin
    is squashed to a confidence p in [0, 1], and the report is the
    standard reliability decomposition per language: expected
    calibration error (confidence-vs-accuracy gap weighted by bin
    mass, Naeini et al. 2015 binned form), max calibration error,
    and the Brier score — all exact micro integers.

    100 TB shape: one posexploded pass -> doc-grain aggregate ->
    (lang, decile-bin) aggregate -> language rollup; no windows, no
    corpus-sized exchange beyond the two aggregates. Brier's
    squared-error sum holds in int64 to ~9e18 micro^2-doc units
    (~9e6 docs per language at worst-case gap); past that the
    accumulator moves to DECIMAL(38,0) (noted, not implemented)."""
    import synthea_etl_spark.operators.text as T
    from synthea_etl_spark.operators.retrieval import _bucket, _weight

    d = load(spark, sf_dir, "documents")
    tok = d.filter(F.length(F.trim("text")) > 0).select(
        "lang",
        "doc_id",
        F.posexplode(T.tokens("text")).alias("pos", "t"),
    )
    per_doc = (
        tok.select(
            "lang",
            "doc_id",
            (F.col("pos") % 2).alias("half"),
            _weight(_bucket(F.col("t"))).alias("w"),
        )
        .groupBy("lang", "doc_id")
        .agg(
            F.sum(F.when(F.col("half") == 1, F.col("w")).otherwise(0))
            .cast("long").alias("m_odd"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("long").alias("n_odd"),
            F.sum(F.when(F.col("half") == 0, F.col("w")).otherwise(0))
            .cast("long").alias("m_even"),
        )
        .filter(F.col("n_odd") > 0)
        .select(
            "lang",
            # p = (margin/1000token + 1)/2 in micro; numerator is
            # offset non-negative so both engines truncate alike
            F.expr(
                f"(m_odd + 1000 * n_odd) * cast({MICRO} as bigint)"
                " div (2000 * n_odd)"
            ).cast("long").alias("p"),
            (F.col("m_even") > 0).cast("long").alias("y"),
        )
    )
    binned = (
        per_doc.select(
            "lang",
            F.least(F.expr(f"p * 10 div {MICRO}"), F.lit(9))
            .cast("int").alias("bin"),
            "p",
            "y",
        )
        .groupBy("lang", "bin")
        .agg(
            F.count("*").cast("long").alias("n_b"),
            F.sum("p").cast("long").alias("sum_p"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum(
                (F.col("p") - F.col("y") * MICRO)
                * (F.col("p") - F.col("y") * MICRO)
            ).cast("long").alias("sum_sq"),
        )
        .select(
            "lang",
            "n_b",
            "sum_sq",
            F.expr(
                "abs(sum_p div n_b - n_pos * cast(1000000 as bigint)"
                " div n_b)"
            ).cast("long").alias("gap"),
        )
    )
    return binned.groupBy("lang").agg(
        F.sum("n_b").cast("long").alias("n_docs"),
        F.expr("sum(n_b * gap) div sum(n_b)").cast("long")
        .alias("ece_micro"),
        F.max("gap").cast("long").alias("max_gap_micro"),
        F.expr(f"sum(sum_sq) div (sum(n_b) * cast({MICRO} as bigint))")
        .cast("long").alias("brier_micro"),
    )


ORACLE_Q290 = f"""
WITH tok AS (
  SELECT lang, doc_id,
         generate_subscripts(w, 1) - 1 AS pos, UNNEST(w) AS t
  FROM (
    SELECT lang, doc_id, string_split_regex(trim(text), '\\s+') AS w
    FROM documents WHERE length(trim(text)) > 0
  )
),
per_doc0 AS (
  SELECT lang, doc_id,
         CAST(SUM(CASE WHEN pos % 2 = 1 THEN {_W_SQL} ELSE 0 END)
           AS BIGINT) AS m_odd,
         CAST(SUM(CASE WHEN pos % 2 = 1 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_odd,
         CAST(SUM(CASE WHEN pos % 2 = 0 THEN {_W_SQL} ELSE 0 END)
           AS BIGINT) AS m_even
  FROM tok GROUP BY lang, doc_id
),
per_doc AS (
  SELECT lang,
         CAST((m_odd + 1000 * n_odd) * CAST({MICRO} AS BIGINT)
              // (2000 * n_odd) AS BIGINT) AS p,
         CASE WHEN m_even > 0 THEN 1 ELSE 0 END AS y
  FROM per_doc0 WHERE n_odd > 0
),
binned AS (
  SELECT lang, n_b, sum_sq,
         CAST(ABS(sum_p // n_b
                  - n_pos * CAST({MICRO} AS BIGINT) // n_b) AS BIGINT)
           AS gap
  FROM (
    SELECT lang, CAST(LEAST(p * 10 // {MICRO}, 9) AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(p) AS BIGINT) AS sum_p,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM((p - y * {MICRO}) * (p - y * {MICRO})) AS BIGINT)
             AS sum_sq
    FROM per_doc GROUP BY lang, bin
  )
)
SELECT lang, CAST(SUM(n_b) AS BIGINT) AS n_docs,
       CAST(SUM(n_b * gap) // SUM(n_b) AS BIGINT) AS ece_micro,
       CAST(MAX(gap) AS BIGINT) AS max_gap_micro,
       CAST(SUM(sum_sq) // (SUM(n_b) * CAST({MICRO} AS BIGINT))
         AS BIGINT) AS brier_micro
FROM binned GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q291 asymmetric containment direction audit
# ---------------------------------------------------------------------------

_Q291_STRIDE = 13
_Q291_PREFIX_STRIDE = 7

def q291_containment_direction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ASYMMETRIC near-dup audit: Jaccard (q36) misses inclusion —
    a short doc quoted inside a long one scores low symmetric
    similarity while containment |Sa∩Sb|/|Sa| ~ 1. This query
    measures 3-gram shingle containment in BOTH directions over two
    pair panels and reports per panel the direction histogram at the
    0.5 threshold plus exact mean containments, all micro integers:

    - ``prefix`` — every stride-7th document (>= 6 tokens) paired
      against its own first-half token prefix. The prefix's shingle
      set is a SUBSET of the full set by construction, so
      containment(prefix in full) = 1 exactly; the in-result
      ``all_a_subsets`` column PROVES the intersection machinery
      (i == |Sa| on every pair — the q255/q278 discipline).
    - ``background`` — a strided sample (doc_id % 13 == 0 paired
      with doc_id + 1): the unrelated-pair control.

    100 TB shape: pair panels are candidate-generated AND strided
    (a sampled audit, the q249 sample-fraction discipline — the
    strides are declared constants, no silent truncation; production
    near-dup pairs ride the LSH band candidates, NEVER all-pairs),
    and the shingle sets are built ONLY for panel documents — the
    semi-join runs before the shingle explode, so the expensive
    construction scales with the panel, not the corpus."""
    import synthea_etl_spark.operators.text as T
    from synthea_etl_spark.operators.util import rebalance_by_key

    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    # narrow-scan rebalance (the SCALE.md round-13 lesson: the sf1
    # replica is one file -> 2 input partitions, and every shingle
    # stage below would run on 2 of 32 cores) + EAGER checkpoints
    # (the q278 lesson: toks feeds the prefix derivation and both
    # panels, sh_full has FIVE consumers)
    toks_all = rebalance_by_key(
        d.select("doc_id", T.tokens("text").alias("w")), "doc_id"
    ).filter(F.size("w") >= 3)
    ids_all = toks_all.select("doc_id")
    panel_ids = (
        ids_all.filter(F.col("doc_id") % _Q291_PREFIX_STRIDE == 0)
        .unionByName(ids_all.filter(F.col("doc_id") % _Q291_STRIDE == 0))
        .unionByName(
            ids_all.filter((F.col("doc_id") - 1) % _Q291_STRIDE == 0)
        )
        .distinct()
    )
    toks = toks_all.join(panel_ids, "doc_id", "left_semi").localCheckpoint()
    sh_full = toks.select(
        "doc_id",
        F.explode(F.array_distinct(_shingles_of(F.col("w")))).alias("s"),
    ).localCheckpoint()
    # first-half prefix pseudo-doc (>= 6 tokens -> >= 1 shingle)
    sh_pref = (
        toks.filter(
            (F.size("w") >= 6)
            & (F.col("doc_id") % _Q291_PREFIX_STRIDE == 0)
        )
        .select(
            "doc_id",
            F.slice(
                F.col("w"), 1, ((F.size("w") + 1) / 2).cast("int")
            ).alias("wp"),
        )
        .select(
            "doc_id",
            F.explode(F.array_distinct(_shingles_of(F.col("wp"))))
            .alias("s"),
        )
    )
    sz_full = sh_full.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("sz")
    )
    sz_pref = sh_pref.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("sz")
    )

    # prefix panel: a = prefix, b = full, keyed by doc_id
    inter_pref = (
        sh_pref.join(sh_full, ["doc_id", "s"])
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("i"))
    )
    pref = (
        sz_pref.withColumnRenamed("sz", "sz_a")
        .join(sz_full.withColumnRenamed("sz", "sz_b"), "doc_id")
        .join(inter_pref, "doc_id", "left")
        .select(
            F.lit("prefix").alias("panel"),
            F.coalesce("i", F.lit(0)).alias("i"),
            "sz_a",
            "sz_b",
        )
    )
    # background panel: strided adjacent pairs over full docs
    ids = toks.select("doc_id")
    adj = (
        ids.filter(F.col("doc_id") % _Q291_STRIDE == 0)
        .select(F.col("doc_id").alias("a"))
        .join(
            ids.select((F.col("doc_id") - 1).alias("a")), "a", "left_semi"
        )
        .select("a", (F.col("a") + 1).alias("b"))
    )
    inter_adj = (
        adj.join(sh_full.select(F.col("doc_id").alias("a"), "s"), "a")
        .join(sh_full.select(F.col("doc_id").alias("b"), "s"), ["b", "s"])
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("i"))
    )
    bg = (
        adj.join(inter_adj, ["a", "b"], "left")
        .join(
            sz_full.select(F.col("doc_id").alias("a"),
                           F.col("sz").alias("sz_a")), "a"
        )
        .join(
            sz_full.select(F.col("doc_id").alias("b"),
                           F.col("sz").alias("sz_b")), "b"
        )
        .select(
            F.lit("background").alias("panel"),
            F.coalesce("i", F.lit(0)).alias("i"),
            "sz_a",
            "sz_b",
        )
    )
    half = MICRO // 2
    scored = pref.unionByName(bg).select(
        "panel",
        (F.col("i") == F.col("sz_a")).cast("long").alias("subset"),
        F.expr(f"i * cast({MICRO} as bigint) div sz_a")
        .cast("long").alias("ca"),
        F.expr(f"i * cast({MICRO} as bigint) div sz_b")
        .cast("long").alias("cb"),
    )
    return scored.groupBy("panel").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("sum(ca) div count(*)").cast("long")
        .alias("mean_cont_a_micro"),
        F.expr("sum(cb) div count(*)").cast("long")
        .alias("mean_cont_b_micro"),
        F.sum(((F.col("ca") >= half) & (F.col("cb") < half)).cast("long"))
        .cast("long").alias("n_a_in_b"),
        F.sum(((F.col("cb") >= half) & (F.col("ca") < half)).cast("long"))
        .cast("long").alias("n_b_in_a"),
        F.sum(((F.col("ca") >= half) & (F.col("cb") >= half)).cast("long"))
        .cast("long").alias("n_symmetric"),
        F.sum(((F.col("ca") < half) & (F.col("cb") < half)).cast("long"))
        .cast("long").alias("n_unrelated"),
        (F.sum("subset") == F.count("*")).alias("all_a_subsets"),
    )


def _shingles_of(w):
    """3-gram shingles of a token-array column (the operators.text
    idiom, lifted to arrays so the prefix pseudo-doc reuses it)."""
    k = F.size(w)
    grams = F.transform(
        F.sequence(F.lit(1), k - 2),
        lambda i: F.concat_ws(" ", F.slice(w, i, 3)),
    )
    return F.when(k >= 3, grams).otherwise(
        F.array().cast("array<string>")
    )


def _oracle_q291() -> str:
    half = MICRO // 2
    return f"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
),
toks_all AS (SELECT doc_id, w FROM d WHERE len(w) >= 3),
toks AS (
  SELECT * FROM toks_all
  WHERE doc_id % {_Q291_PREFIX_STRIDE} = 0 OR doc_id % {_Q291_STRIDE} = 0 OR (doc_id - 1) % {_Q291_STRIDE} = 0
),
sh_full AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w)-2)) AS i) u
),
pref AS (
  SELECT doc_id, w[1:(len(w)+1)//2] AS wp FROM toks
  WHERE len(w) >= 6 AND doc_id % {_Q291_PREFIX_STRIDE} = 0
),
sh_pref AS (
  SELECT DISTINCT doc_id, wp[i] || ' ' || wp[i+1] || ' ' || wp[i+2] AS s
  FROM pref, LATERAL (SELECT UNNEST(generate_series(1, len(wp)-2)) AS i) u
  WHERE len(wp) >= 3
),
sz_full AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh_full GROUP BY doc_id
),
sz_pref AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh_pref GROUP BY doc_id
),
inter_pref AS (
  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS i
  FROM sh_pref p JOIN sh_full f ON f.doc_id = p.doc_id AND f.s = p.s
  GROUP BY p.doc_id
),
prefp AS (
  SELECT 'prefix' AS panel, COALESCE(i.i, 0) AS i,
         a.sz AS sz_a, b.sz AS sz_b
  FROM sz_pref a
  JOIN sz_full b USING (doc_id)
  LEFT JOIN inter_pref i USING (doc_id)
),
adj AS (
  SELECT x.doc_id AS a, x.doc_id + 1 AS b
  FROM toks_all x JOIN toks_all y ON y.doc_id = x.doc_id + 1
  WHERE x.doc_id % {_Q291_STRIDE} = 0
),
inter_adj AS (
  SELECT p.a, p.b, CAST(COUNT(*) AS BIGINT) AS i
  FROM adj p
  JOIN sh_full sa ON sa.doc_id = p.a
  JOIN sh_full sb ON sb.doc_id = p.b AND sb.s = sa.s
  GROUP BY p.a, p.b
),
bg AS (
  SELECT 'background' AS panel, COALESCE(i.i, 0) AS i,
         za.sz AS sz_a, zb.sz AS sz_b
  FROM adj p
  LEFT JOIN inter_adj i ON i.a = p.a AND i.b = p.b
  JOIN sz_full za ON za.doc_id = p.a
  JOIN sz_full zb ON zb.doc_id = p.b
),
scored AS (
  SELECT panel,
         CASE WHEN i = sz_a THEN 1 ELSE 0 END AS subset,
         CAST(i * CAST({MICRO} AS BIGINT) // sz_a AS BIGINT) AS ca,
         CAST(i * CAST({MICRO} AS BIGINT) // sz_b AS BIGINT) AS cb
  FROM (SELECT * FROM prefp UNION ALL SELECT * FROM bg)
)
SELECT panel, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(ca) // COUNT(*) AS BIGINT) AS mean_cont_a_micro,
       CAST(SUM(cb) // COUNT(*) AS BIGINT) AS mean_cont_b_micro,
       CAST(SUM(CASE WHEN ca >= {half} AND cb < {half} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_a_in_b,
       CAST(SUM(CASE WHEN cb >= {half} AND ca < {half} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_b_in_a,
       CAST(SUM(CASE WHEN ca >= {half} AND cb >= {half} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_symmetric,
       CAST(SUM(CASE WHEN ca < {half} AND cb < {half} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_unrelated,
       SUM(subset) = COUNT(*) AS all_a_subsets
FROM scored GROUP BY panel
"""


# ---------------------------------------------------------------------------
# q292 CMS epoch-drift PROVEN lower bound
# ---------------------------------------------------------------------------

def q292_cms_drift_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift alarm from two Count-Min generations,
    store-sized: for epochs A/B (doc parity), each sketch row's
    cell-difference mass sum_b |cellA - cellB| is a PROVEN LOWER
    bound of the true L1 term-frequency shift (triangle inequality:
    cells are sums of per-term differences), so max over the D rows
    is a certified "shift is at least X" alarm that never reads the
    corpus — the sandwich family's drift monitor (q224/q267 class,
    now with a proof instead of a point estimate). The gate verifies
    bound <= exact L1 in-result and reports the slack.

    100 TB shape: the serving path touches 2·D·W store rows total;
    the exact side is the gate-scale truth twin. Epoch slices are
    the store's own batch slices — no re-ingest, the monitor reads
    what the stream already maintains."""
    import shutil
    import tempfile

    import synthea_etl_spark.operators.text as T
    from synthea_etl_spark.operators.dedup import (
        CMS_D,
        cms_slice_from_counts,
        publish_counting_slice,
    )
    from synthea_etl_spark.operators.store import read as read_store

    d = load(spark, sf_dir, "documents")
    tcb = (
        d.filter(F.length(F.trim("text")) > 0)
        .select(
            (F.col("doc_id") % 2).alias("bt"),
            F.explode(T.tokens("text")).alias("t"),
        )
        .groupBy("bt", "t")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint()
    )
    store = tempfile.mkdtemp(prefix="q292_cms_")
    try:
        for b in (0, 1):
            publish_counting_slice(
                cms_slice_from_counts(
                    tcb.filter(F.col("bt") == b).select("t", "c")
                ),
                store,
                f"batch{b}",
            )
        cells = (
            read_store(spark, store)
            .select(
                "d",
                "b",
                F.when(F.col("slice_id") == "batch0", F.col("c"))
                .otherwise(0).alias("ca"),
                F.when(F.col("slice_id") == "batch1", F.col("c"))
                .otherwise(0).alias("cb"),
            )
            .groupBy("d", "b")
            .agg(
                F.sum("ca").cast("long").alias("ca"),
                F.sum("cb").cast("long").alias("cb"),
            )
        )
        per_row = cells.groupBy("d").agg(
            F.sum(F.abs(F.col("ca") - F.col("cb"))).cast("long")
            .alias("l1_row"),
            F.sum("ca").cast("long").alias("n_a"),
            F.sum("cb").cast("long").alias("n_b"),
        )
        exact = (
            tcb.groupBy("t")
            .agg(
                F.sum(F.when(F.col("bt") == 0, F.col("c")).otherwise(0))
                .alias("ca"),
                F.sum(F.when(F.col("bt") == 1, F.col("c")).otherwise(0))
                .alias("cb"),
            )
            .agg(
                F.sum(F.abs(F.col("ca") - F.col("cb"))).cast("long")
                .alias("exact_l1")
            )
        )
        out = (
            per_row.groupBy()
            .agg(
                F.max("n_a").cast("long").alias("n_a"),
                F.max("n_b").cast("long").alias("n_b"),
                F.max("l1_row").cast("long").alias("l1_lower"),
                F.min("l1_row").cast("long").alias("l1_row_min"),
                F.count("*").cast("int").alias("n_rows"),
            )
            .crossJoin(F.broadcast(exact))
            .select(
                "n_a",
                "n_b",
                "n_rows",
                "l1_row_min",
                "l1_lower",
                "exact_l1",
                (F.col("l1_lower") <= F.col("exact_l1")).alias("bound_ok"),
                F.expr("l1_lower * 1000 div greatest(1, n_a + n_b)")
                .cast("long").alias("shift_permille_lower"),
                F.expr(
                    "(exact_l1 - l1_lower) * 1000"
                    " div greatest(1, exact_l1)"
                ).cast("long").alias("slack_permille"),
            )
        )
        assert CMS_D >= 1
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        shutil.rmtree(store, ignore_errors=True)


def _oracle_q292() -> str:
    from synthea_etl_spark.operators.dedup import CMS_D, CMS_W

    idx = ", ".join(str(i) for i in range(CMS_D))
    return f"""
WITH tokb AS (
  SELECT doc_id % 2 AS bt,
         UNNEST(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents WHERE length(trim(text)) > 0
),
tcb AS (
  SELECT bt, t, CAST(COUNT(*) AS BIGINT) AS c FROM tokb GROUP BY bt, t
),
cells AS (
  SELECT i AS d,
         CAST(concat('0x', substr(md5(t || ':cms' || CAST(i AS VARCHAR)),
                                  1, 8)) AS BIGINT) % {CMS_W} AS b,
         CAST(SUM(CASE WHEN bt = 0 THEN c ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN bt = 1 THEN c ELSE 0 END) AS BIGINT) AS cb
  FROM tcb CROSS JOIN (SELECT UNNEST([{idx}]) AS i) u
  GROUP BY d, b
),
per_row AS (
  SELECT d, CAST(SUM(ABS(ca - cb)) AS BIGINT) AS l1_row,
         CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM cells GROUP BY d
),
exact AS (
  SELECT CAST(SUM(ABS(ca - cb)) AS BIGINT) AS exact_l1
  FROM (
    SELECT t,
           SUM(CASE WHEN bt = 0 THEN c ELSE 0 END) AS ca,
           SUM(CASE WHEN bt = 1 THEN c ELSE 0 END) AS cb
    FROM tcb GROUP BY t
  )
)
SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
       CAST(MAX(n_b) AS BIGINT) AS n_b,
       CAST(COUNT(*) AS INTEGER) AS n_rows,
       CAST(MIN(l1_row) AS BIGINT) AS l1_row_min,
       CAST(MAX(l1_row) AS BIGINT) AS l1_lower,
       CAST(MAX(e.exact_l1) AS BIGINT) AS exact_l1,
       MAX(l1_row) <= MAX(e.exact_l1) AS bound_ok,
       CAST(MAX(l1_row) * 1000
            // GREATEST(1, MAX(n_a) + MAX(n_b)) AS BIGINT)
         AS shift_permille_lower,
       CAST((MAX(e.exact_l1) - MAX(l1_row)) * 1000
            // GREATEST(1, MAX(e.exact_l1)) AS BIGINT)
         AS slack_permille
FROM per_row CROSS JOIN exact e
"""


# ---------------------------------------------------------------------------
# q293 CUSUM change-point monitor over event rates
# ---------------------------------------------------------------------------

_Q293_SLACK_PERMILLE = 100   # k = mean * 1.1 (10% allowance)
_Q293_H_MEAN_HOURS = 5       # alarm at 5 mean-hours of excess


def q293_rate_cusum_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-sided CUSUM change-point monitor over hourly event rates,
    per event type (Page 1954) — the drift alarm an ingest pipeline
    runs on its own telemetry. The recursive S_t = max(0, S_{t-1} +
    x_t - k) is computed WITHOUT a recursive loop via the prefix-sum
    identity S_t = P_t - min_{i<=t} P_i (P = running sum of x - k),
    so both engines evaluate it as two window functions over the
    hour spine; gap hours count as zero via an explicit generated
    spine (a missing hour IS a rate observation). Integer micro
    arithmetic; alarms at S_t > 5 mean-hours.

    100 TB shape: the corpus collapses to a (type, hour) aggregate
    (one shuffle); the spine, prefix sums, and running minima run on
    the hours-per-type frame (720 rows/type here) — bounded by the
    monitoring window, never by event volume."""
    from synthea_etl_spark.plans.common import load_events

    ev = load_events(spark, sf_dir)
    hours = ev.select(
        "event_type",
        (F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
    )
    # r15 optimization (guide §1.2): counts/bounds/grid consumers
    # re-planned the events scan SIX times (counts feeds spine and
    # grid, grid feeds means and scored, bounds had its own pass).
    # One checkpointed (type, hour) frame — bounded by the
    # monitoring window, never by event volume — feeds everything;
    # bounds derives from it exactly (min/max over the grouped hour
    # set IS min/max over the raw rows).
    counts = (
        hours.groupBy("event_type", "h")
        .agg(F.count("*").cast("long").alias("x"))
        .localCheckpoint()
    )
    bounds = counts.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = (
        counts.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    grid = spine.join(counts, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("x", F.lit(0)).cast("long").alias("x"),
    )
    means = grid.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.expr(f"sum(x) * cast({MICRO} as bigint) div count(*)")
        .cast("long").alias("mean_micro"),
    )
    k_expr = (
        F.col("mean_micro")
        + F.expr(
            f"mean_micro * {_Q293_SLACK_PERMILLE} div 1000"
        )
    ).alias("k_micro")
    w = Window.partitionBy("event_type").orderBy("h")
    scored = (
        grid.join(F.broadcast(means.select("event_type", k_expr,
                                           "mean_micro", "n_hours")),
                  "event_type")
        .select(
            "event_type",
            "h",
            "mean_micro",
            "n_hours",
            (F.col("x") * MICRO - F.col("k_micro")).alias("dx"),
        )
        .select(
            "*",
            F.sum("dx").over(w).alias("p"),
        )
        .select(
            "*",
            (F.col("p") - F.least(F.min("p").over(w), F.lit(0)))
            .alias("s"),
        )
    )
    h_thresh = F.col("mean_micro") * _Q293_H_MEAN_HOURS
    return scored.groupBy("event_type").agg(
        F.max("n_hours").cast("long").alias("n_hours"),
        F.max("mean_micro").cast("long").alias("mean_rate_micro"),
        F.max("s").cast("long").alias("max_excursion_micro"),
        F.sum((F.col("s") > h_thresh).cast("long")).cast("long")
        .alias("n_alarm_hours"),
        F.coalesce(
            F.min(F.when(F.col("s") > h_thresh, F.col("h"))),
            F.lit(-1),
        ).cast("long").alias("first_alarm_hour"),
        F.max((F.col("s") > h_thresh).cast("long") == 1).alias("drifted"),
    )


ORACLE_Q293 = f"""
WITH hours AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS h
  FROM events
),
counts AS (
  SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS x
  FROM hours GROUP BY event_type, h
),
bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hours),
spine AS (
  SELECT et.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM counts) et
  CROSS JOIN bounds
  CROSS JOIN LATERAL (
    SELECT UNNEST(generate_series(h0, h1)) AS h
  ) g
),
grid AS (
  SELECT s.event_type, s.h, COALESCE(c.x, 0) AS x
  FROM spine s LEFT JOIN counts c USING (event_type, h)
),
means AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(x) * CAST({MICRO} AS BIGINT) // COUNT(*) AS BIGINT)
           AS mean_micro
  FROM grid GROUP BY event_type
),
scored AS (
  SELECT g.event_type, g.h, m.mean_micro, m.n_hours,
         SUM(g.x * {MICRO} - (m.mean_micro
             + m.mean_micro * {_Q293_SLACK_PERMILLE} // 1000))
           OVER (PARTITION BY g.event_type ORDER BY g.h) AS p
  FROM grid g JOIN means m USING (event_type)
),
cusum AS (
  SELECT *,
         p - LEAST(MIN(p) OVER (PARTITION BY event_type ORDER BY h), 0)
           AS s
  FROM scored
)
SELECT event_type,
       CAST(MAX(n_hours) AS BIGINT) AS n_hours,
       CAST(MAX(mean_micro) AS BIGINT) AS mean_rate_micro,
       CAST(MAX(s) AS BIGINT) AS max_excursion_micro,
       CAST(SUM(CASE WHEN s > mean_micro * {_Q293_H_MEAN_HOURS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_hours,
       CAST(COALESCE(MIN(CASE WHEN s > mean_micro * {_Q293_H_MEAN_HOURS}
                              THEN h END), -1) AS BIGINT)
         AS first_alarm_hour,
       MAX(CASE WHEN s > mean_micro * {_Q293_H_MEAN_HOURS}
                THEN 1 ELSE 0 END) = 1 AS drifted
FROM cusum GROUP BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "q284_quality_auc": QuerySpec(
        q284_quality_auc,
        ORACLE_Q284,
        "per-language binned ROC-AUC + KS of the stopword signal vs"
        " the quality-model label, exact micro rank statistic",
        ("llm", "quality", "governance"),
    ),
    "q285_bt_strength": QuerySpec(
        q285_bt_strength,
        _oracle_q285(),
        "Bradley-Terry MM strengths over pairwise preference"
        " outcomes, exact integer two-step fit",
        ("llm", "posttrain", "governance"),
    ),
    "q286_vocab_zipf_audit": QuerySpec(
        q286_vocab_zipf_audit,
        ORACLE_Q286,
        "per-language vocabulary card: Good-Turing unseen mass,"
        " Simpson concentration, head-term mass",
        ("llm", "tokenizer", "quality"),
    ),
    "q287_rater_agreement": QuerySpec(
        q287_rater_agreement,
        ORACLE_Q287,
        "Cohen's kappa between the cheap rule and the quality-model"
        " rule, per language, sign-exact micro arithmetic",
        ("llm", "quality", "governance"),
    ),
    "q288_cms_frequency_audit": QuerySpec(
        q288_cms_frequency_audit,
        _oracle_q288(),
        "frequency-sandwich store gate: Count-Min upper + candidate"
        " lower bounds proven violation-free in-result",
        ("llm", "tokenizer", "streaming"),
    ),
    "q289_heavy_hitter_bounds": QuerySpec(
        q289_heavy_hitter_bounds,
        _oracle_q289(),
        "store-served heavy-hitter report with proven sandwich"
        " bounds and completeness certificate",
        ("llm", "tokenizer", "streaming"),
    ),
    "q290_ece_calibration": QuerySpec(
        q290_ece_calibration,
        ORACLE_Q290,
        "reliability decomposition of the quality signal: ECE, max"
        " gap, Brier — held-out half predicts the other",
        ("llm", "quality", "governance"),
    ),
    "q291_containment_direction": QuerySpec(
        q291_containment_direction,
        _oracle_q291(),
        "asymmetric shingle-containment direction audit over dup-"
        "cluster and background pair panels",
        ("llm", "dedup", "quality"),
    ),
    "q292_cms_drift_bound": QuerySpec(
        q292_cms_drift_bound,
        _oracle_q292(),
        "proven L1 term-shift lower bound from two Count-Min"
        " generations, slack verified vs exact",
        ("llm", "tokenizer", "streaming"),
    ),
    "q293_rate_cusum_monitor": QuerySpec(
        q293_rate_cusum_monitor,
        ORACLE_Q293,
        "CUSUM change-point monitor over hourly event rates via the"
        " prefix-sum running-min identity",
        ("streaming", "governance"),
    ),
}
