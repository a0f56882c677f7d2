"""Round-9 operator family, part 6: Bloom dedup probe, tokenizer
fertility, and the training-order manifest."""

from __future__ import annotations

import hashlib
import re


def _norm_fp(text):
    return hashlib.md5(
        re.sub(r"\s+", " ", text.strip().lower()).encode()
    ).hexdigest()


def test_bloom_probe_no_false_negatives_and_exact(spark):
    """Bloom's contract: every true duplicate is flagged (no false
    negatives); and the whole filter — words, positions, verdicts —
    matches a pure-Python recomputation bit for bit."""
    from synthea_etl_spark.plans.common import load
    from synthea_etl_spark.plans.llm10 import (
        _BLOOM_K,
        _BLOOM_M,
        q197_bloom_dedup_probe,
    )

    sf = "/root/testdata/sf0.001"
    out = {
        r.doc_id: (r.maybe_dup, r.is_true_dup)
        for r in q197_bloom_dedup_probe(spark, sf).collect()
    }
    docs = load(spark, sf, "documents").select("doc_id", "text").collect()
    hist_fps = {
        _norm_fp(r.text) for r in docs if r.doc_id % 10 != 0
    }
    bits = set()
    for fp in hist_fps:
        for i in range(_BLOOM_K):
            h = hashlib.md5((f"b{i}" + fp).encode()).hexdigest()[:15]
            bits.add(int(h, 16) % _BLOOM_M)
    expected = {}
    for r in docs:
        if r.doc_id % 10 != 0:
            continue
        fp = _norm_fp(r.text)
        maybe = all(
            int(
                hashlib.md5((f"b{i}" + fp).encode()).hexdigest()[:15], 16
            )
            % _BLOOM_M
            in bits
            for i in range(_BLOOM_K)
        )
        expected[r.doc_id] = (maybe, fp in hist_fps)
    assert out == expected
    for maybe, true in out.values():
        if true:
            assert maybe  # no false negatives, ever


def test_bloom_probe_reports_fp_separately(spark, tmp_path):
    """A crafted batch doc that is NOT a duplicate still probes the
    filter; the output schema separates the filter verdict from the
    truth so FP rate is measurable from the frame."""
    from synthea_etl_spark.plans.llm10 import q197_bloom_dedup_probe

    rows = [
        (i, f"history doc number {i} with words", "en", "s")
        for i in range(1, 30)
    ] + [
        (10, "history doc number 3 with words", "en", "s"),  # true dup
        (20, "completely fresh text never seen", "en", "s"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    # doc_ids 10 and 20 each carry two batch rows (one from the range,
    # one planted), so verdicts are kept per doc_id as a list
    out: dict[int, list[tuple[bool, bool]]] = {}
    for r in q197_bloom_dedup_probe(spark, str(tmp_path)).collect():
        out.setdefault(r.doc_id, []).append((r.maybe_dup, r.is_true_dup))
    # the planted copy of doc 3 is the only true dup among doc 10's rows
    assert len(out[10]) == 2
    assert (True, True) in out[10]
    assert [t for _, t in out[10]].count(True) == 1
    # neither doc 20 row is a true dup, whatever the filter says
    assert len(out[20]) == 2
    assert all(t is False for _, t in out[20])


def test_fertility_consistent_with_q149(spark):
    """q198's per-language sums must equal grouping q149's per-doc
    frame by language."""
    from synthea_etl_spark.plans.common import load
    from synthea_etl_spark.plans.llm import q149_bpe_tokenize
    from synthea_etl_spark.plans.llm10 import q198_token_fertility

    sf = "/root/testdata/sf0.001"
    fert = {
        r.lang: r.asDict() for r in q198_token_fertility(spark, sf).collect()
    }
    lang = {
        r.doc_id: r.lang
        for r in load(spark, sf, "documents").select("doc_id", "lang").collect()
    }
    sums = {}
    for r in q149_bpe_tokenize(spark, sf).collect():
        d = sums.setdefault(lang[r.id], [0, 0, 0])
        d[0] += 1
        d[1] += r.n_words
        d[2] += r.bpe_tokens
    assert set(fert) == set(sums)
    for lg, (nd, nw, nb) in sums.items():
        assert fert[lg]["n_docs"] == nd
        assert fert[lg]["n_words"] == nw
        assert fert[lg]["n_bpe_tokens"] == nb
        assert fert[lg]["fertility_micro"] == nb * 1_000_000 // nw
        # BPE splits words into >= 1 pieces: fertility >= 1.0
        assert fert[lg]["fertility_micro"] >= 1_000_000


def test_train_order_manifest_deterministic(spark):
    from synthea_etl_spark.plans.llm10 import (
        _Q199_SHARDS,
        q199_train_order_manifest,
    )

    sf = "/root/testdata/sf0.001"
    out = q199_train_order_manifest(spark, sf).collect()
    by_shard = {}
    for r in out:
        h = hashlib.md5(f"sh{r.doc_id}".encode()).hexdigest()[:8]
        assert r.shard == int(h, 16) % _Q199_SHARDS
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.pos)
        assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
        keys = [
            hashlib.md5(f"pos{r.doc_id}".encode()).hexdigest()
            for r in rows
        ]
        assert keys == sorted(keys)
    # a different parallelism yields the identical manifest
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = sorted(
            (r.doc_id, r.shard, r.pos)
            for r in q199_train_order_manifest(spark, sf).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert again == sorted((r.doc_id, r.shard, r.pos) for r in out)
