"""LLM-ops tests beyond the oracle gate: ANN recall vs the exact
brute-force baseline, LSH candidate quality vs true Jaccard, and the
multimodal decode plumbing (batch shape, stub behavior)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from synthea_etl_spark.operators import dedup as D
from synthea_etl_spark.operators import multimodal as M
from synthea_etl_spark.operators import similarity as S
from tests.conftest import SF_DIR, SF_SMALL


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_ann_recall_vs_bruteforce(spark, embeddings):
    """LSH-bucketed ANN with multiprobe must recover a solid fraction
    of the true top-5 (random hyperplanes on 64-dim data; >=40% recall
    at 8 planes is the expected regime, and a regression guard)."""
    queries = embeddings.filter(F.col("vec_id") < 20)
    exact = S.knn_bruteforce(embeddings, queries, k=5)
    approx = S.knn_ann_lsh(embeddings, queries, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"ANN recall too low: {recall:.2f}"


def test_ann_sims_are_exact_for_found_pairs(spark, embeddings):
    """ANN must never report a wrong similarity — only possibly miss
    pairs. Intersect with brute force and compare sims."""
    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id): r.sim
        for r in S.knn_bruteforce(embeddings, queries, k=5).collect()
    }
    for r in S.knn_ann_lsh(embeddings, queries, k=5).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.sim) < 1e-9


def test_near_dup_blocked_equals_all_pairs(spark, embeddings):
    """The blocked pair join must produce EXACTLY the all-pairs result
    (every unordered pair lands in exactly one (block_a, block_b) cell)
    — and plan an equi-join, not a CartesianProduct."""
    sub = embeddings.filter(F.col("vec_id") < 120)
    blocked = S.embedding_near_dup_pairs(sub, threshold=0.3, n_blocks=4)
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {(r.id_a, r.id_b, r.sim) for r in blocked.collect()}
    # reference: brute-force pairs via the old cross-join shape
    a = sub.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = sub.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    ref = {
        (r.id_a, r.id_b, r.sim)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(S.cosine(F.col("va"), F.col("vb")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= 0.3)
        .collect()
    }
    assert got == ref and len(got) > 0


def test_near_dup_lsh_recall_and_no_false_positives(spark, embeddings):
    """LSH near-dup: every emitted pair must be exactly verified (no
    false positives, sims identical to the exact form) and recall vs
    the exact blocked listing must clear a regression floor."""
    sub = embeddings.filter(F.col("vec_id") < 300)
    exact = {
        (r.id_a, r.id_b): r.sim
        for r in S.embedding_near_dup_pairs(sub, threshold=0.35).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.sim
        for r in S.embedding_near_dup_lsh(
            sub, threshold=0.35, n_planes=6, multiprobe=2
        ).collect()
    }
    for k, sim in approx.items():
        assert k in exact, f"false positive pair {k}"
        assert abs(exact[k] - sim) < 1e-9
    recall = len(approx) / max(len(exact), 1)
    assert recall >= 0.3, f"near-dup LSH recall too low: {recall:.2f}"


def test_jaccard_pairs_requires_block(spark, documents):
    """Unblocked jaccard_pairs must be an explicit opt-in."""
    with pytest.raises(ValueError, match="block_col"):
        D.jaccard_pairs(documents, "text", "doc_id", 3, 0.3)


def test_ivf_recall_vs_bruteforce(spark, embeddings):
    """IVF (16 cells, probe 4) must recover a solid fraction of the
    true top-5. Probing a quarter of the cells on clustered 64-dim
    data lands well above 50%; the bound is a regression guard."""
    queries = embeddings.filter(F.col("vec_id") < 20)
    exact = S.knn_bruteforce(embeddings, queries, k=5)
    approx = S.knn_ann_ivf(embeddings, queries, k=5, n_centroids=16, n_probe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_ivf_sims_are_exact_for_found_pairs(spark, embeddings):
    """IVF may miss neighbors but must never mis-score one."""
    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id): r.sim
        for r in S.knn_bruteforce(embeddings, queries, k=5).collect()
    }
    for r in S.knn_ann_ivf(embeddings, queries, k=5).collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.sim) < 1e-9


def test_bottomk_sketch_estimates_jaccard(spark):
    """Identical docs share the whole sketch; disjoint docs share no
    slots; the sketch has at most k slots per doc."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sk = D.bottomk_sketch(df, "text", "doc_id", k=4).collect()
    by_doc = {}
    for r in sk:
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    assert all(len(v) <= 4 for v in by_doc.values())
    assert by_doc[1] == by_doc[2]
    assert not (by_doc[1] & by_doc[3])


def test_minhash_lsh_finds_true_near_dups(spark):
    """Planted near-duplicates (one token changed in 100) must surface
    as LSH candidates; unrelated docs must not pair up."""
    base = " ".join(f"tok{i}" for i in range(100))
    near = base.replace("tok50", "tokX")
    other = " ".join(f"zzz{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    sig = D.minhash_signature(df, "text", "doc_id")
    cand = {(r.id_a, r.id_b) for r in D.lsh_candidates(sig, "doc_id").collect()}
    assert (1, 2) in cand
    assert (1, 3) not in cand and (2, 3) not in cand


def test_simhash_hamming_small_for_near_dups(spark):
    base = " ".join(f"tok{i}" for i in range(100))
    near = base.replace("tok50", "tokX")
    other = " ".join(f"zzz{i}" for i in range(100))
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], ["doc_id", "text"])
    fp = {r.doc_id: r.simhash for r in D.simhash(df, "text", "doc_id").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fp[1], fp[2]) < 10
    assert ham(fp[1], fp[3]) > 15


def test_connected_components_chain_star_isolated(spark):
    """Min-label propagation must label a 4-chain, a star, and an
    isolated pair each with their component minimum — chains exercise
    multi-round convergence."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
         (10, 11), (10, 12), (10, 13),  # star centered at 10
         (20, 21)],                   # isolated pair
        "id_a long, id_b long",
    )
    got = {r.id: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"],
    )
    kept = {r.doc_id for r in D.exact_dedup(df, "text", "doc_id").collect()}
    assert kept == {1, 3}  # 2 is a case/whitespace dup of 1


def test_multimodal_decode_stub_schema_and_values(spark, documents):
    payloads = M.attach_payload(documents.limit(50), "text", "doc_id")
    feats = M.decode_features(payloads)
    assert feats.columns == ["id", "n_bytes", "mean_byte", "head_hex", "content_type"]
    rows = feats.collect()
    assert len(rows) == 50
    joined = {r.doc_id: r.text for r in documents.limit(50).collect()}
    for r in rows[:5]:
        raw = joined[r.id].encode()
        assert r.n_bytes == len(raw)
        assert r.head_hex == raw[:8].hex()
        assert abs(r.mean_byte - sum(raw) / len(raw)) < 1e-9


def test_doc_payloads_one_arrow_stage_per_document(spark):
    """plans.common.doc_payloads: one (id, payload == fn(id)) row per
    document, built by one MapInPandas with no Exchange other than the
    one rebalance_by_key may add over the doc_id scan."""
    from synthea_etl_spark.operators.util import rebalance_by_key
    from synthea_etl_spark.plans.common import doc_payloads, load

    def fn(doc_id):
        return doc_id.to_bytes(8, "big") * (doc_id % 3)

    def final_plan(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("== Initial Plan ==")[0]

    out = doc_payloads(spark, SF_SMALL, fn)
    assert out.dtypes == [("id", "bigint"), ("payload", "binary")]
    rows = out.collect()
    docs = load(spark, SF_SMALL, "documents").select("doc_id")
    assert sorted(r.id for r in rows) == sorted(r.doc_id for r in docs.collect())
    assert all(bytes(r.payload) == fn(r.id) for r in rows)

    plan = final_plan(out)
    rebalanced = rebalance_by_key(docs, "doc_id")
    rebalanced.collect()
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange") == final_plan(rebalanced).count("Exchange") <= 1
    assert plan.count("Exchange") == plan.count("Exchange hashpartitioning(doc_id")


def test_payload_rows_null_empty_and_many_in_one_arrow_stage(spark):
    """multimodal.payload_rows: ``None`` gives one null row that keeps
    its id, ``[]`` gives no rows, n tuples give n rows; a 60-bit long
    and null int/double columns round-trip exactly; the stage is one
    MapInPandas with no Exchange."""
    big = (1 << 60) - 3  # a dhash/phash-width fingerprint

    def rows(b):
        k = b[0]
        if k == 0:
            return None
        return [
            (i, big - i, None if i % 2 else i / 4, b[1:].decode())
            for i in range(k - 1)
        ]

    df = spark.createDataFrame(
        [(10, b"\x00"), (11, b"\x01"), (12, b"\x04abc"), (13, b"\x02")],
        "id long, payload binary",
    )
    out = M.payload_rows(
        df, "id long, idx int, key long, frac double, tag string", rows
    )
    assert out.dtypes == [
        ("id", "bigint"), ("idx", "int"), ("key", "bigint"),
        ("frac", "double"), ("tag", "string"),
    ]
    got = sorted(tuple(r) for r in out.collect() if r.idx is not None)
    assert got == [
        (12, 0, big, 0.0, "abc"),
        (12, 1, big - 1, None, "abc"),
        (12, 2, big - 2, 0.5, "abc"),
        (13, 0, big, 0.0, ""),
    ]
    nulls = [tuple(r) for r in out.collect() if r.idx is None]
    assert nulls == [(10, None, None, None, None)]  # id 11: no row
    assert M.payload_rows(df.where("id = 11"), "id long, n int", rows).count() == 0

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def _real_png(width: int, height: int) -> bytes:
    """A complete, spec-valid PNG built with stdlib only: signature,
    IHDR (8-bit grayscale), IDAT of zlib-compressed zero scanlines,
    IEND — all chunks CRC'd. Any real decoder accepts this file."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x00" * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _real_jpeg(width: int, height: int) -> bytes:
    """JPEG header stream: SOI, APP0/JFIF, DQT, SOF0, EOI — the
    dimension parser must walk variable-length segments to find SOF0."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(64)
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"


def test_parse_image_dims_real_containers():
    """Pure-function checks over real container layouts (no Spark)."""
    assert M.parse_image_dims(_real_png(320, 200)) == ("png", 320, 200)
    assert M.parse_image_dims(_real_jpeg(641, 479)) == ("jpeg", 641, 479)
    gif = b"GIF89a" + (123).to_bytes(2, "little") + (45).to_bytes(2, "little") + b"\xf7\x00\x00\x3b"
    assert M.parse_image_dims(gif) == ("gif", 123, 45)
    import struct

    bmp = b"BM" + bytes(16) + struct.pack("<ii", 77, -88) + bytes(14)
    assert M.parse_image_dims(bmp) == ("bmp", 77, 88)  # top-down height
    assert M.parse_image_dims(b"not an image at all") == (None, None, None)
    assert M.parse_image_dims(b"") == (None, None, None)
    # truncated PNG (signature only) and JPEG with no SOF
    assert M.parse_image_dims(b"\x89PNG\r\n\x1a\n") == (None, None, None)
    assert M.parse_image_dims(b"\xff\xd8\xff\xd9") == ("jpeg", None, None)


def test_image_metadata_distributed_over_real_files(spark, tmp_path):
    """binaryFile source -> image_metadata: real PNG/JPEG files on
    disk come back with their true dimensions; a non-image file comes
    back null-dimensioned, all in one distributed pass."""
    (tmp_path / "a.png").write_bytes(_real_png(64, 32))
    (tmp_path / "b.jpg").write_bytes(_real_jpeg(100, 50))
    (tmp_path / "c.txt").write_bytes(b"plain text payload")
    raw = spark.read.format("binaryFile").load(str(tmp_path))
    shaped = raw.select(
        F.xxhash64("path").alias("id"),
        F.col("content").alias("payload"),
        F.element_at(F.split("path", "/"), -1).alias("name"),
    )
    metas = M.image_metadata(shaped.select("id", "payload"))
    named = {
        r.name: m
        for r in shaped.collect()
        for m in metas.collect()
        if m.id == r.id
    }
    assert (named["a.png"].format, named["a.png"].width, named["a.png"].height) == ("png", 64, 32)
    assert (named["b.jpg"].format, named["b.jpg"].width, named["b.jpg"].height) == ("jpeg", 100, 50)
    assert named["c.txt"].format is None and named["c.txt"].width is None
    assert named["a.png"].n_bytes == len(_real_png(64, 32))


def test_multimodal_binary_file_source(spark, tmp_path):
    """The real media ingestion path: spark.read.format('binaryFile')
    over raw files -> the engine's multimodal shape (id, payload,
    meta) -> Arrow feature extraction. Confirms the source contract
    (path, length, content) feeds attach-less payload plumbing."""
    media = tmp_path / "media"
    media.mkdir()
    payloads = {f"f{i}.bin": bytes([i] * (16 + i)) for i in range(4)}
    for name, b in payloads.items():
        (media / name).write_bytes(b)

    raw = spark.read.format("binaryFile").load(str(media))
    shaped = raw.select(
        F.regexp_extract(F.col("path"), r"f(\d+)\.bin$", 1).cast("long").alias("id"),
        F.col("content").alias("payload"),
        F.struct(
            F.col("length").cast("long").alias("n_bytes"),
            F.lit("application/octet-stream").alias("content_type"),
        ).alias("meta"),
    )
    feats = {r.id: r for r in M.decode_features(shaped).collect()}
    assert set(feats) == {0, 1, 2, 3}
    for i in range(4):
        b = payloads[f"f{i}.bin"]
        assert feats[i].n_bytes == len(b)
        assert feats[i].head_hex == b[:8].hex()
        assert abs(feats[i].mean_byte - (sum(b) / len(b))) < 1e-9


def test_chunk_by_tokens_windows_and_overlap(spark):
    """Chunker contract: stride = window - overlap; every chunk past
    the first starts overlap tokens before the previous chunk's end;
    short docs yield exactly one chunk; no chunk is a pure suffix of
    its predecessor (the count formula stops in time)."""
    from synthea_etl_spark.operators.text import chunk_by_tokens

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # n == window
            (2, " ".join(f"w{i}" for i in range(11))),  # one extra token
            (3, " ".join(f"w{i}" for i in range(25))),  # several chunks
            (4, "only three tokens"),
            (5, ""),  # degenerate: single empty chunk
        ],
        "doc_id long, text string",
    )
    out = chunk_by_tokens(docs, window=10, overlap=3)
    rows = {(r.id, r.chunk_idx): r for r in out.collect()}
    by_doc = {}
    for (did, _k), r in rows.items():
        by_doc.setdefault(did, []).append(r)

    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk_tokens == 10
    # 11 tokens: ceil((11-3)/7) = 2 chunks; second covers tokens 7..10
    assert len(by_doc[2]) == 2
    assert rows[(2, 1)].chunk_text.split() == [f"w{i}" for i in range(7, 11)]
    # 25 tokens: ceil(22/7) = 4 chunks; overlap region repeats
    assert len(by_doc[3]) == 4
    c0, c1 = rows[(3, 0)].chunk_text.split(), rows[(3, 1)].chunk_text.split()
    assert c0[-3:] == c1[:3]  # 3-token overlap
    assert rows[(3, 3)].chunk_tokens == 25 - 3 * 7
    assert len(by_doc[4]) == 1 and by_doc[4][0].chunk_tokens == 3
    assert len(by_doc[5]) == 1 and by_doc[5][0].chunk_tokens == 0
    # every row agrees on n_chunks with the actual row count
    for did, rs in by_doc.items():
        assert {r.n_chunks for r in rs} == {len(rs)}


def test_html_to_text_extraction(spark):
    """html_to_text: script/style bodies dropped, comments dropped,
    tags stripped, entities decoded AFTER tag removal (so &lt;b&gt;
    yields literal <b> rather than a strippable tag), whitespace
    collapsed."""
    from synthea_etl_spark.operators.text import html_to_text

    cases = [
        (
            "<html><SCRIPT src='x'>alert('evil')</SCRIPT>"
            "<style>p{}</style><body><h1>Hi</h1> <p>a  b</p></body>",
            "Hi a b",
        ),
        ("<!-- secret -->visible<!-- more\nlines -->", "visible"),
        ("&lt;b&gt;not a tag&lt;/b&gt; &amp; &quot;q&#39;s&quot;",
         "<b>not a tag</b> & \"q's\""),
        # escaped entity: '&amp;lt;' encodes the LITERAL '&lt;' — a
        # chain that decodes &amp; first would double-decode it to '<'
        ("&amp;lt;stay&amp;gt; &amp;amp;", "&lt;stay&gt; &amp;"),
        ("plain text untouched", "plain text untouched"),
        ("<div\nclass='x'>multi\nline</div>", "multi line"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _e) in enumerate(cases)], "id long, html string"
    )
    got = {
        r.id: r.out
        for r in df.select(
            "id", html_to_text("html").alias("out")
        ).collect()
    }
    for i, (_h, expect) in enumerate(cases):
        assert got[i] == expect, (i, got[i], expect)


def test_dataset_fingerprint_is_partitioning_invariant(spark):
    """The q150 property itself: re-partitioning and re-ordering the
    input must not change the per-source content fingerprint, and
    changing ONE row must."""
    from pyspark.sql import functions as F

    from synthea_etl_spark.plans.llm import q150_dataset_fingerprint

    sf = "/root/testdata/sf0.001"
    base = {
        r.source: r.content_fingerprint
        for r in q150_dataset_fingerprint(spark, sf).collect()
    }

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    row_hash = F.conv(
        F.substring(F.md5(F.concat_ws("|", "doc_id", "text")), 1, 15), 16, 10
    ).cast("long")

    def fp(df):
        return {
            r.source: r.f
            for r in df.select("source", row_hash.alias("h"))
            .groupBy("source")
            .agg(F.expr("bit_xor(h)").alias("f"))
            .collect()
        }

    shuffled = fp(docs.repartition(17, "text").sortWithinPartitions("text"))
    assert shuffled == base
    mutated = fp(
        docs.withColumn(
            "text",
            F.when(F.col("doc_id") == 0, F.lit("tampered")).otherwise(
                F.col("text")
            ),
        )
    )
    assert mutated != base


def test_dataset_mixture_weights_and_determinism(spark):
    """q155's contract: whole epochs replicate exactly floor(w) times,
    the fractional epoch is a deterministic hash subsample whose
    realized rate over many docs approaches frac(w), and reruns are
    bit-identical."""
    from synthea_etl_spark.plans.llm import q155_dataset_mixture

    sf = "/root/testdata/sf0.01"
    a = q155_dataset_mixture(spark, sf)
    rows = a.collect()
    again = {tuple(r) for r in q155_dataset_mixture(spark, sf).collect()}
    assert {tuple(r) for r in rows} == again  # deterministic rerun

    from collections import defaultdict

    per_source = defaultdict(list)
    for r in rows:
        per_source[r.source].append(r)
    for source, rs in per_source.items():
        k = int(source[3:]) % 4
        w = 0.5 + k * 0.75
        whole = int(w)
        docs = defaultdict(int)
        for r in rs:
            docs[r.id] += 1
        # every included doc has floor(w) or floor(w)+1 copies
        assert set(docs.values()) <= {max(whole, 1), whole + 1}
        # realized fractional rate within a loose band of frac(w)
        n_docs_total = 25  # 500 docs / 20 sources at sf0.01
        extra = sum(1 for v in docs.values() if v == whole + 1)
        if whole == 0:
            extra = len(docs)  # only the fractional draw includes them
        frac = w - whole
        assert abs(extra / n_docs_total - frac) < 0.35


def test_q146_preagg_runs_without_extra_shuffle(spark):
    """q146's per-(doc_id, bigram) collapse must ride the existing
    doc_id partitioning: the only ENSURE_REQUIREMENTS exchange in the
    plan is the corpus bigram-count shuffle of per-partition partials
    — no exchange keyed on (doc_id, bigram), and the final per-doc
    aggregate needs none either."""
    import re

    from synthea_etl_spark.plans.llm import q146_bigram_familiarity

    plan = (
        q146_bigram_familiarity(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not re.search(r"hashpartitioning\(doc_id#\d+L, bigram", plan)
    assert plan.count("ENSURE_REQUIREMENTS") == 1
    # the probe side of the broadcast join is the COLLAPSED frame: its
    # per-pair count feeds the final sums
    assert re.search(r"BroadcastHashJoin \[bigram", plan)
