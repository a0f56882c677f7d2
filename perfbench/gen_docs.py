"""Seeded document inputs for ``llm_curation`` and ``store_ingest``.

The generator follows the process measured on the sf0.1 TESTDATA
``documents`` table (5000 documents):

- a document is 10-99 tokens (uniform), each drawn uniformly from a
  30-word vocabulary; mean 54 tokens, 297 characters;
- 5% of documents are near-duplicates: a copy of another document with
  the token ``dup`` appended; a few exact duplicates arise from that;
- ``lang`` is ``en`` for 40% of documents and ``de``/``es``/``fr``/``zh``
  for 15% each; ``source`` is ``src<doc_id mod 20>``.

``write_documents`` writes the table with the TESTDATA column names and
types, so the plans read it unchanged. ``write_batches`` splits a
document set into JSON-lines micro-batches with seeded cross-batch
exact copies. The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
NEAR_DUP_FRACTION = 0.05
N_SOURCES = 20

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def documents(seed: int, n: int) -> list[dict]:
    """``n`` documents with ids ``0..n-1``."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(VOCAB[t] for t in rng.integers(0, len(VOCAB), k)) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_FRACTION):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return [
        {
            "doc_id": i,
            "text": t,
            "lang": LANGS[langs[i]],
            "source": f"src{i % N_SOURCES}",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]


def write_documents(out_dir: str, seed: int, n_docs: int) -> dict:
    """Write ``documents.parquet``; return its row and byte counts."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pylist(documents(seed, n_docs), schema=DOC_SCHEMA), path)
    return {"rows": n_docs, "bytes": os.path.getsize(path)}


def write_batches(
    out_dir: str, seed: int, n_batches: int, batch_docs: int, dup_fraction: float = 0.05
) -> list[dict]:
    """Split a seeded document set into ``<out>/batch<k>/part.json``
    micro-batches; every batch after the first also carries
    ``dup_fraction`` exact copies (under new ids) of earlier batches'
    documents. Returns per-batch rows, bytes and the ids of the copies."""
    rng = np.random.default_rng(seed + 2)
    fresh = documents(seed + 3, n_batches * batch_docs)
    landed: list[dict] = []
    out = []
    next_id = len(fresh)
    for b in range(n_batches):
        batch = fresh[b * batch_docs : (b + 1) * batch_docs]
        copies = []
        if landed:
            for _ in range(int(batch_docs * dup_fraction)):
                src = landed[int(rng.integers(0, len(landed)))]
                copies.append(dict(src, doc_id=next_id))
                next_id += 1
        rows = batch + copies
        landed.extend(batch)
        bdir = os.path.join(out_dir, f"batch{b}")
        os.makedirs(bdir, exist_ok=True)
        text = "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows)
        with open(os.path.join(bdir, "part.json"), "w") as fh:
            fh.write(text)
        out.append(
            {
                "dir": bdir,
                "rows": len(rows),
                "bytes": len(text.encode()),
                "copy_ids": [r["doc_id"] for r in copies],
            }
        )
    return out
