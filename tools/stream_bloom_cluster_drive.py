"""Drive the counting-Bloom membership store (11th stream family)
end to end under ``local-cluster``: stream-ingest the corpus in
batches on real executor processes, COMPACT mid-stream, keep
ingesting, and assert:

1. probe parity — ``bloom_probe_from_store`` over the accumulated
   store equals the probes over a one-shot store of the whole corpus
   (merge-exactness across slices AND the compaction boundary);
2. zero false negatives — every corpus fingerprint probes PRESENT;
3. erasure — publish ``deletion_slice(bloom_slice(erased))``, assert
   the store answers bit-identically to one rebuilt from only the
   survivors (totals AND probes), both immediately on slice publish
   and after the compaction that physically drops zero-net buckets;
4. replay safety across compaction — re-publishing a folded batch is
   a no-op (watermark) and a live batch idempotent (dynamic
   overwrite);
5. the store stays SPARSE — rows <= K x ingested fingerprints,
   never modulus-shaped.

Usage: python tools/stream_bloom_cluster_drive.py \
           [--master local-cluster[2,4,4096]] [--out <json>]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

from synthea_etl_spark.operators.dedup import (  # noqa: E402
    BLOOM_K,
    bloom_probe_from_store,
    bloom_slice,
    bloom_store,
    compact_counting_slices,
    compaction_watermark,
    counting_store_totals,
    deletion_slice,
    doc_fingerprint,
    publish_counting_slice,
)
from synthea_etl_spark.pipeline import bloom_ingest_stream  # noqa: E402
from synthea_etl_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default="local-cluster[2,4,4096]")
    ap.add_argument(
        "--out", default="bench_artifacts/stream_bloom_cluster_drive.json"
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = get_session(
        "stream-bloom-drive",
        master=args.master,
        shuffle_partitions=8,
        extra_conf={"spark.executorEnv.PYTHONPATH": REPO},
    )
    spark.range(0, 100, 1, 4).selectExpr("sum(id)").collect()
    n_exec = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1

    work = tempfile.mkdtemp(prefix="stream_bloom_drive_")
    landing = os.path.join(work, "landing")
    store = os.path.join(work, "store")
    oneshot = os.path.join(work, "oneshot")
    rebuilt = os.path.join(work, "rebuilt")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(landing)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )

    docs_df = spark.read.parquet(
        os.path.join(args.sf_dir, "documents.parquet")
    ).select("doc_id", "source", "text")
    docs = docs_df.orderBy("doc_id").collect()
    quarter = (len(docs) + 3) // 4
    batches = [docs[i : i + quarter] for i in range(0, len(docs), quarter)]

    def land_and_run(bi, rows):
        with open(os.path.join(landing, f"b{bi}.json"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {"doc_id": r.doc_id, "source": r.source, "text": r.text}
                    )
                    + "\n"
                )
        bloom_ingest_stream(
            spark, landing, store, ckpt, schema
        ).awaitTermination(300)

    land_and_run(0, batches[0])
    land_and_run(1, batches[1])
    compact_counting_slices(spark, store, 1, ["b"], "c")
    for bi in range(2, len(batches)):
        land_and_run(bi, batches[bi])

    corpus_fps = (
        docs_df.filter(F.length(F.trim("text")) > 0)
        .select(doc_fingerprint().alias("fp"))
        .distinct()
    )
    synth = spark.range(300).select(
        F.md5(F.concat(F.lit("absent:"), F.col("id").cast("string"))).alias(
            "fp"
        )
    )
    probes = corpus_fps.unionByName(synth)

    def verdicts(path):
        return {
            r.fp: r.present
            for r in bloom_probe_from_store(spark, path, probes).collect()
        }

    got = verdicts(store)
    bloom_store(docs_df, oneshot, "batch1")
    want = verdicts(oneshot)
    merge_match = got == want
    member_fps = {r.fp for r in corpus_fps.collect()}
    fn_zero = all(got[fp] for fp in member_fps)

    # erasure: negative slice for ~1/11 of the corpus, high slot
    erase = docs_df.filter(F.col("doc_id") % 11 == 3)
    survivors = docs_df.join(
        erase.select("doc_id"), "doc_id", "left_anti"
    )
    publish_counting_slice(
        deletion_slice(bloom_slice(erase), ["c"]), store, "batch9"
    )
    bloom_store(survivors, rebuilt, "batch1")

    def totals(path):
        return {
            (r.b, r.c)
            for r in counting_store_totals(spark, path, ["b"], "c").collect()
        }

    erase_immediate = totals(store) == totals(rebuilt) and verdicts(
        store
    ) == verdicts(rebuilt)
    compact_counting_slices(spark, store, 9, ["b"], "c")
    erase_post_compact = totals(store) == totals(rebuilt) and verdicts(
        store
    ) == verdicts(rebuilt)

    # replay a FOLDED batch is a no-op (watermark-filtered readers
    # ignore slices <= watermark even if re-published)
    b0 = spark.createDataFrame(
        [(r.doc_id, r.source, r.text) for r in batches[0]],
        "doc_id long, source string, text string",
    )
    bloom_store(b0, store, slice_id="batch0")
    replay_match = totals(store) == totals(rebuilt)

    # LIVE rows (watermark-filtered totals): raw file rows also count
    # dead generations (the replayed batch0 slice is invisible to
    # readers but sits on disk until GC)
    store_rows = counting_store_totals(spark, store, ["b"], "c").count()
    n_fps_survivors = survivors.filter(
        F.length(F.trim("text")) > 0
    ).select(doc_fingerprint().alias("fp")).count()
    sparse_ok = store_rows <= BLOOM_K * n_fps_survivors + 10

    report = {
        "master": args.master,
        "n_executors": n_exec,
        "n_batches": len(batches),
        "n_docs": len(docs),
        "compacted_upto": compaction_watermark(store),
        "store_rows": store_rows,
        "k_times_survivor_fps": BLOOM_K * n_fps_survivors,
        "probes_match_oneshot": merge_match,
        "zero_false_negatives": fn_zero,
        "erasure_immediate_match": erase_immediate,
        "erasure_post_compaction_match": erase_post_compact,
        "replay_after_compaction_is_noop": replay_match,
        "store_stays_sparse": sparse_ok,
    }
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    if not (
        merge_match
        and fn_zero
        and erase_immediate
        and erase_post_compact
        and replay_match
        and sparse_ok
    ):
        raise SystemExit("bloom stream drive diverged")


if __name__ == "__main__":
    main()
