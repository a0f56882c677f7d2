"""Round-9 operator family, part 5: DSIR importance weighting, the
dup-cluster histogram, and the per-source dataset card. Also pins
the map-only rewrite of the Gopher repetition covs (shared by
q184/q192) against a pure-Python recount."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


# ---------------------------------------------------------------------------
# q194 DSIR importance
# ---------------------------------------------------------------------------


def test_dsir_target_tokens_score_higher(spark, tmp_path):
    """Docs made of target-only (English-slice) vocabulary must
    outscore docs made of out-of-target vocabulary."""
    from synthea_etl_spark.plans.llm9 import q194_dsir_importance

    rows = []
    # target slice: 5 en docs over vocabulary {alpha..echo}
    en_vocab = "alpha bravo charlie delta echo"
    for i in range(5):
        rows.append((i, en_vocab + f" alpha bravo", "en", "s"))
    # source-only slice: 5 fr docs over a disjoint vocabulary
    fr_vocab = "zulu yankee xray whiskey victor"
    for i in range(5, 10):
        rows.append((i, fr_vocab + " zulu yankee", "fr", "s"))
    _docs(spark, rows).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r.logratio_micro_mean
        for r in q194_dsir_importance(spark, str(tmp_path)).collect()
    }
    en_scores = [out[i] for i in range(5)]
    fr_scores = [out[i] for i in range(5, 10)]
    assert min(en_scores) > max(fr_scores)
    # out-of-target docs carry only smoothed target mass -> negative
    assert max(fr_scores) < 0


def test_dsir_matches_numpy_quantization(spark, tmp_path):
    """The per-vocab-entry quantization makes per-doc means exactly
    recomputable: integer mean of the token-level table."""
    import math

    from synthea_etl_spark.plans.llm9 import q194_dsir_importance

    rows = [
        (0, "aa bb aa", "en", "s"),
        (1, "bb cc", "fr", "s"),
        (2, "aa cc cc", "en", "s"),
    ]
    _docs(spark, rows).write.parquet(str(tmp_path / "documents.parquet"))
    toks = {0: ["aa", "bb", "aa"], 1: ["bb", "cc"], 2: ["aa", "cc", "cc"]}
    c_src = {"aa": 3, "bb": 2, "cc": 3}
    c_tgt = {"aa": 3, "bb": 1, "cc": 2}  # en docs: 0 and 2
    n_src, v_src = 8, 3
    n_tgt = 6
    lr = {
        t: int(
            math.floor(
                round(
                    -math.log(c_src[t] / n_src)
                    + math.log((c_tgt.get(t, 0) + 1) / (n_tgt + v_src)),
                    6,
                )
                * 1_000_000
                + 0.5
            )
        )
        for t in c_src
    }
    expected = {
        d: sum(lr[t] for t in ts) // len(ts) for d, ts in toks.items()
    }
    out = {
        r.doc_id: r.logratio_micro_mean
        for r in q194_dsir_importance(spark, str(tmp_path)).collect()
    }
    assert out == expected


# ---------------------------------------------------------------------------
# q195 dup-cluster histogram
# ---------------------------------------------------------------------------


def test_dup_cluster_histogram_fixture(spark, tmp_path):
    """Three identical docs + two identical docs + singletons: the
    histogram reports one size-3 and one size-2 cluster, and the
    reclaimable tokens are (size-1) * doc tokens."""
    from synthea_etl_spark.plans.llm9 import q195_dup_cluster_histogram

    ta = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 toks
    tb = "india juliet kilo lima mike november oscar papa"    # 8 toks
    rows = [
        (0, ta, "en", "s"), (1, ta, "en", "s"), (2, ta, "en", "s"),
        (10, tb, "en", "s"), (11, tb, "en", "s"),
        (20, "unique one two three four five six seven", "en", "s"),
    ]
    _docs(spark, rows).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.size: r.asDict()
        for r in q195_dup_cluster_histogram(spark, str(tmp_path)).collect()
    }
    assert set(out) == {2, 3}
    assert out[3]["n_clusters"] == 1
    assert out[3]["n_docs"] == 3
    assert out[3]["tokens_removable"] == 2 * 8
    assert out[2]["n_clusters"] == 1
    assert out[2]["tokens_removable"] == 8


def test_dup_cluster_histogram_accounting(spark):
    """Corpus-level invariant at sf0.001: the histogram's doc count
    equals the number of clustered docs, and every cluster has
    size >= 2."""
    import synthea_etl_spark.operators.dedup as D
    from synthea_etl_spark.plans.llm import q33_minhash_lsh_candidates
    from synthea_etl_spark.plans.llm9 import q195_dup_cluster_histogram

    sf = "/root/testdata/sf0.001"
    hist = q195_dup_cluster_histogram(spark, sf).collect()
    comp = D.connected_components(
        q33_minhash_lsh_candidates(spark, sf)
    )
    n_clustered = comp.count()
    assert all(r.size >= 2 for r in hist)
    assert sum(r.n_docs for r in hist) == n_clustered


# ---------------------------------------------------------------------------
# q196 dataset card
# ---------------------------------------------------------------------------


def test_dataset_card_rates(spark, tmp_path):
    from synthea_etl_spark.plans.llm9 import q196_dataset_card

    good = "the a of and to in is " + " ".join(
        f"www{j:03d}" for j in range(50)  # 6-char words keep mean wlen >= 3
    )
    rows = [
        # srcA: 2 docs, one corpus-wide dup pair with srcB
        (0, good, "en", "srcA"),
        (1, "short doc", "en", "srcA"),         # fails quality
        (2, good, "fr", "srcB"),                # dup of doc 0
        (3, good + " tail00", "de", "srcB"),    # unique, passes
    ]
    _docs(spark, rows).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.source: r.asDict()
        for r in q196_dataset_card(spark, str(tmp_path)).collect()
    }
    a, b = out["srcA"], out["srcB"]
    assert a["n_docs"] == 2 and b["n_docs"] == 2
    assert a["n_langs"] == 1 and b["n_langs"] == 2
    assert a["dup_rate_micro"] == 500_000  # doc 0 dups with doc 2
    assert b["dup_rate_micro"] == 500_000
    assert a["quality_fail_micro"] == 500_000  # the short doc
    assert b["quality_fail_micro"] == 0
    assert a["n_tokens"] == 57 + 2
    assert b["n_tokens"] == 57 + 58


# ---------------------------------------------------------------------------
# gopher_repetition_covs (shared by q184/q192) vs a Python recount
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("shuffle_partitions", [1, 3, 8, 32])
def test_repetition_covs_match_brute_force(spark, shuffle_partitions):
    """The covs do not depend on the shuffle parallelism, which sets the
    rebalance spread in front of the map-only pass."""
    from synthea_etl_spark.operators.text import gopher_repetition_covs
    from synthea_etl_spark.plans.common import load

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents").select("doc_id", "text")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        out = {
            r.doc_id: (r.chars, r.cov2, r.cov3, r.cov5)
            for r in gopher_repetition_covs(docs).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = docs.collect()
    import re

    checked = 0
    for r in rows[:50]:
        t = (r.text or "").strip()
        toks = re.split(r"\s+", t, flags=re.ASCII) if t else []
        if len(toks) < 5:
            assert r.doc_id not in out
            continue

        def covs(n):
            c = {}
            for j in range(len(toks) - n + 1):
                g = " ".join(toks[j : j + n])
                c[g] = c.get(g, 0) + 1
            return c

        c2, c3, c5 = covs(2), covs(3), covs(5)
        exp = (
            len(t),
            max(c * len(g) for g, c in c2.items()),
            max(c * len(g) for g, c in c3.items()),
            sum(c * len(g) for g, c in c5.items() if c > 1),
        )
        assert out[r.doc_id] == exp
        checked += 1
    assert checked >= 40


# ---------------------------------------------------------------------------
# curation_ingest_stream (streaming funnel maintenance)
# ---------------------------------------------------------------------------


def test_curation_ingest_stream_end_to_end(spark, tmp_path):
    """Streaming curation: batches land as JSON; each micro-batch is
    deduped against the ACCUMULATED admitted table, quality- and
    repetition-filtered, and publishes per-doc verdicts + admitted
    docs partitioned by batch_id. The accumulated verdicts must
    match the batch funnel's dedup/quality/repetition stages on the
    union corpus, and republishing a batch partition is a no-op."""
    import json as _json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from synthea_etl_spark.pipeline import curation_ingest_stream

    def good(i):
        return "the a of and to in is " + " ".join(
            f"gw{i:02d}x{j:02d}" for j in range(50)
        )

    spam = ("the spammy " * 30).strip() + " of and to in is extra filler"

    landing = tmp_path / "landing"
    admitted = tmp_path / "admitted"
    verdicts = tmp_path / "verdicts"
    ckpt = tmp_path / "ckpt"
    landing.mkdir()
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("text", StringType()),
        ]
    )

    def land(name, rows):
        (landing / name).write_text(
            "\n".join(
                _json.dumps({"doc_id": i, "lang": g, "text": t})
                for i, g, t in rows
            )
        )

    def run():
        curation_ingest_stream(
            spark,
            str(landing),
            str(admitted),
            str(verdicts),
            str(ckpt),
            schema,
        ).awaitTermination(120)

    land(
        "b0.json",
        [
            (0, "en", good(0)),
            (1, "en", good(1)),
            (2, "en", "too short"),
            (3, "en", spam),
            (4, "en", good(0)),  # intra-batch dup of doc 0
        ],
    )
    run()
    land(
        "b1.json",
        [
            (10, "fr", good(0)),  # dup vs HISTORY (doc 0 admitted in b0)
            (11, "fr", good(2)),
            (12, "fr", "too short"),  # dup of the REJECTED doc 2: the
            # probe keys on ALL prior fingerprints, not just admitted
        ],
    )
    run()

    v = {
        r.doc_id: r.stage
        for r in spark.read.parquet(str(verdicts)).collect()
    }
    assert v == {
        0: "admitted",
        1: "admitted",
        2: "quality",
        3: "repetition",
        4: "exact_dup",
        10: "exact_dup",
        11: "admitted",
        12: "exact_dup",
    }
    adm = spark.read.parquet(str(admitted))
    assert sorted(r.doc_id for r in adm.collect()) == [0, 1, 11]
    assert {r.batch_id for r in adm.collect()} == {0, 1}

    # replay simulation: republishing batch 1's partitions is a no-op
    for path in (admitted, verdicts):
        b1 = spark.createDataFrame(
            spark.read.parquet(str(path)).filter("batch_id = 1").collect()
        )
        (
            b1.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(str(path))
        )
    assert {
        r.doc_id: r.stage
        for r in spark.read.parquet(str(verdicts)).collect()
    } == v
    assert sorted(
        r.doc_id for r in spark.read.parquet(str(admitted)).collect()
    ) == [0, 1, 11]


def test_gopher_quality_ok_matches_q188(spark):
    """The reusable boolean must equal q188's keep flag row-for-row
    on the real fixture corpus."""
    from synthea_etl_spark.operators.text import gopher_quality_ok
    from synthea_etl_spark.plans.common import load
    from synthea_etl_spark.plans.llm7 import q188_gopher_quality_rules

    sf = "/root/testdata/sf0.001"
    keep = {
        r.doc_id: r.keep
        for r in q188_gopher_quality_rules(spark, sf).collect()
    }
    ok = {
        r.doc_id: r.ok
        for r in load(spark, sf, "documents")
        .select("doc_id", gopher_quality_ok("text").alias("ok"))
        .collect()
    }
    assert keep == ok
