"""Drive right-to-erasure end to end under ``local-cluster``: real
executor processes, the two purge mechanisms, parity against stores
rebuilt from only the surviving documents.

1. Counting store (token-stats): stream-ingest the corpus in four
   batches with a MID-STREAM compaction, publish a negative
   deletion slice for an erasure set, and assert the q222 drift
   report matches the rebuilt-from-survivors store BOTH immediately
   on publish (zero-net keys read as absent) and again after the
   compaction that physically drops them.
2. Row store (banded-MinHash index): ingest band rows in batches,
   purge the same erasure set through the filtering compaction
   (fresh batch slot, versioned generation, watermark flip), and
   assert the surviving row set equals the rebuilt index — then
   verify a replayed purge retry raises on the consumed slot.
3. MIXED-AGG store (prompt-key clusters, the round-13 gap): ingest
   the agg store + its row-grain erasure companion via the stream,
   erase a set guaranteed to include cluster REPRESENTATIVES
   (min_doc members — the case a negative slice cannot express),
   run the repair compaction (purge_prompt_key_cluster), and assert
   the cluster view matches a store rebuilt from only the
   survivors; then verify the consumed-slot replay raises.
4. LENGTH-HIST store (the 10th family): stream-ingest the log-bin
   histograms with a mid-stream compaction, erase via the all-sum
   negative deletion slice, and assert the store's quantiles match
   a rebuild-from-survivors immediately AND post-compaction, with
   the PROVEN one-bin bound re-verified against exact order
   statistics of the surviving corpus.

Usage: python tools/purge_lifecycle_drive.py \
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
    banded_signatures,
    batch_watermark_filter,
    compact_counting_slices,
    compaction_watermark,
    deletion_slice,
    drift_from_token_store,
    length_hist_slice,
    length_hist_store,
    minhash_signature,
    prompt_clusters_from_store,
    prompt_key_store,
    publish_counting_slice,
    purge_batch_store,
    purge_prompt_key_cluster,
    quantiles_from_hist_store,
    token_stats_slice,
    token_stats_store,
)
from synthea_etl_spark.pipeline import (  # noqa: E402
    length_hist_ingest_stream,
    prompt_key_ingest_stream,
    token_stats_ingest_stream,
)
from synthea_etl_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default="local-cluster[2,4,4096]")
    ap.add_argument(
        "--out", default="bench_artifacts/purge_lifecycle_drive.json"
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = get_session(
        "purge-lifecycle-drive",
        master=args.master,
        shuffle_partitions=8,
        extra_conf={"spark.executorEnv.PYTHONPATH": REPO},
    )
    spark.range(0, 100, 1, 4).selectExpr("sum(id)").collect()
    n_exec = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1

    work = tempfile.mkdtemp(prefix="purge_drive_")
    landing = os.path.join(work, "landing")
    store = os.path.join(work, "tok_store")
    rebuilt = os.path.join(work, "tok_rebuilt")
    bands = os.path.join(work, "band_store")
    bands_rebuilt = os.path.join(work, "band_rebuilt")
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
    # the erasure set: ~1/11 of the corpus, scattered across sources
    erase = docs_df.filter(F.col("doc_id") % 11 == 3).localCheckpoint()
    survivors = docs_df.join(
        erase.select("doc_id"), "doc_id", "left_anti"
    ).localCheckpoint()
    n_erased = erase.count()

    docs = docs_df.orderBy("doc_id").collect()
    quarter = (len(docs) + 3) // 4
    batches = [docs[i : i + quarter] for i in range(0, len(docs), quarter)]

    def land_and_run(bi, rows):
        with open(os.path.join(landing, f"b{bi}.json"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {
                            "doc_id": r.doc_id,
                            "source": r.source,
                            "text": r.text,
                        }
                    )
                    + "\n"
                )
        token_stats_ingest_stream(
            spark, landing, store, ckpt, schema
        ).awaitTermination(300)

    land_and_run(0, batches[0])
    land_and_run(1, batches[1])
    compact_counting_slices(spark, store, 1, ["source", "t"], "c")
    for bi in range(2, len(batches)):
        land_and_run(bi, batches[bi])

    # --- counting-store erasure: negative slice, high slot ---------
    publish_counting_slice(
        deletion_slice(token_stats_slice(erase), ["c"]), store, "batch9"
    )
    token_stats_store(survivors, rebuilt, "batch1")

    def drift(path):
        return {tuple(r) for r in drift_from_token_store(spark, path).collect()}

    want = drift(rebuilt)
    immediate_match = drift(store) == want
    compact_counting_slices(spark, store, 9, ["source", "t"], "c")
    post_compact_match = drift(store) == want
    store_rows = spark.read.parquet(store).count()
    rebuilt_rows = spark.read.parquet(rebuilt).count()

    # --- row-store erasure: filtering compaction --------------------
    def band_rows(df):
        sig = minhash_signature(df, "text", "doc_id")
        return banded_signatures(sig, "doc_id")

    half = len(docs) // 2
    for bid, rows in [(1, docs[:half]), (2, docs[half:])]:
        bdf = spark.createDataFrame(
            [(r.doc_id, r.source, r.text) for r in rows],
            "doc_id long, source string, text string",
        )
        (
            band_rows(bdf)
            .withColumn("batch_id", F.lit(bid))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(bands)
        )
    purge_batch_store(spark, bands, 3, erase.select("doc_id"), "doc_id")
    (
        band_rows(survivors)
        .withColumn("batch_id", F.lit(1))
        .write.mode("append")
        .partitionBy("batch_id")
        .parquet(bands_rebuilt)
    )
    got_bands = {
        (r.doc_id, r.band, r.bh)
        for r in batch_watermark_filter(
            spark.read.parquet(bands), bands
        ).collect()
    }
    want_bands = {
        (r.doc_id, r.band, r.bh)
        for r in spark.read.parquet(bands_rebuilt)
        .select("doc_id", "band", "bh")
        .collect()
    }
    band_match = got_bands == want_bands
    slot_guard = False
    try:
        purge_batch_store(spark, bands, 3, [0], "doc_id")
    except ValueError:
        slot_guard = True

    # --- mixed-agg store erasure: repair compaction ------------------
    pk_agg = os.path.join(work, "pk_agg")
    pk_pairs = os.path.join(work, "pk_pairs")
    pk_rebuilt = os.path.join(work, "pk_rebuilt")
    pk_landing = os.path.join(work, "pk_landing")
    pk_ckpt = os.path.join(work, "pk_ckpt")
    os.makedirs(pk_landing)

    def pk_land_and_run(bi, rows):
        with open(os.path.join(pk_landing, f"b{bi}.json"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {
                            "doc_id": r.doc_id,
                            "source": r.source,
                            "text": r.text,
                        }
                    )
                    + "\n"
                )
        prompt_key_ingest_stream(
            spark, pk_landing, pk_agg, pk_ckpt, schema,
            pairs_store_dir=pk_pairs,
        ).awaitTermination(300)

    pk_land_and_run(0, batches[0])
    pk_land_and_run(1, batches[1])
    for bi in range(2, len(batches)):
        pk_land_and_run(bi, batches[bi])

    # erasure set: the REPRESENTATIVES (min_doc) of the 20 largest
    # clusters — exactly the rows a negative slice cannot erase —
    # plus a deterministic scatter of non-representatives
    pre = prompt_clusters_from_store(spark, pk_agg)
    rep_ids = [
        r.rep_doc_id
        for r in pre.orderBy(F.desc("cluster_n"), "pkey").limit(20).collect()
    ]
    scatter = [r.doc_id for r in docs if r.doc_id % 29 == 7][:20]
    pk_erase = sorted(set(rep_ids) | set(scatter))
    purge_prompt_key_cluster(
        spark, pk_agg, pk_pairs, pk_erase,
        len(batches),  # fresh slot above every ingested batch id
    )
    pk_survivors = docs_df.filter(~F.col("doc_id").isin(pk_erase))
    prompt_key_store(pk_survivors, pk_rebuilt, "batch1")
    got_pk = {
        tuple(r) for r in prompt_clusters_from_store(spark, pk_agg).collect()
    }
    want_pk = {
        tuple(r)
        for r in prompt_clusters_from_store(spark, pk_rebuilt).collect()
    }
    pk_match = got_pk == want_pk
    pk_slot_guard = False
    try:
        purge_prompt_key_cluster(
            spark, pk_agg, pk_pairs, [1], len(batches)
        )
    except ValueError:
        pk_slot_guard = True

    # --- length-hist store erasure (10th family): negative slice ----
    # all-'sum' additive bins, so right-to-erasure is the verbatim
    # deletion_slice path; the drive pins that the purged store's
    # quantiles equal a rebuild-from-survivors BOTH immediately on
    # slice publish and after the compaction that physically drops
    # the zero-net bins — and that the PROVEN one-bin bound
    # (approx <= exact <= approx + approx div 8) holds against exact
    # order statistics of the surviving corpus.
    lh_store = os.path.join(work, "lh_store")
    lh_rebuilt = os.path.join(work, "lh_rebuilt")
    lh_landing = os.path.join(work, "lh_landing")
    lh_ckpt = os.path.join(work, "lh_ckpt")
    os.makedirs(lh_landing)

    def lh_land_and_run(bi, rows):
        with open(os.path.join(lh_landing, f"b{bi}.json"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {
                            "doc_id": r.doc_id,
                            "source": r.source,
                            "text": r.text,
                        }
                    )
                    + "\n"
                )
        length_hist_ingest_stream(
            spark, lh_landing, lh_store, lh_ckpt, schema
        ).awaitTermination(300)

    lh_land_and_run(0, batches[0])
    lh_land_and_run(1, batches[1])
    compact_counting_slices(spark, lh_store, 1, ["source", "b"], "c")
    for bi in range(2, len(batches)):
        lh_land_and_run(bi, batches[bi])
    publish_counting_slice(
        deletion_slice(length_hist_slice(erase), ["c"]), lh_store, "batch9"
    )
    length_hist_store(survivors, lh_rebuilt, "batch1")

    _QP = [100, 250, 500, 750, 900, 990]

    def lh_quants(path):
        return {
            tuple(r)
            for r in quantiles_from_hist_store(spark, path, _QP).collect()
        }

    lh_want = lh_quants(lh_rebuilt)
    lh_immediate_match = lh_quants(lh_store) == lh_want
    compact_counting_slices(spark, lh_store, 9, ["source", "b"], "c")
    lh_post_compact_match = lh_quants(lh_store) == lh_want
    lh_store_rows = spark.read.parquet(lh_store).count()
    lh_rebuilt_rows = spark.read.parquet(lh_rebuilt).count()
    # one-bin bound vs exact order statistics of the SURVIVORS
    import synthea_etl_spark.operators.text as _T

    surv_n = sorted(
        (r.source, r.n)
        for r in survivors.filter(F.length(F.trim("text")) > 0)
        .select(
            "source", _T.token_count("text").cast("long").alias("n")
        )
        .filter(F.col("n") > 0)
        .collect()
    )
    by_src: dict[str, list[int]] = {}
    for s, n in surv_n:
        by_src.setdefault(s, []).append(n)
    for s in by_src:
        by_src[s].sort()
    lh_bound_ok = True
    for row in quantiles_from_hist_store(spark, lh_store, _QP).collect():
        ns = by_src[row.source]
        k = (row.q_permille * row.n_docs + 999) // 1000
        exact = ns[k - 1]
        if not (row.approx <= exact <= row.approx + row.approx // 8):
            lh_bound_ok = False


    # --- frequency-sandwich pair erasure (12th family) --------------
    # CMS cells are linear sums -> verbatim deletion_slice path with
    # bit-exact rebuild parity; the candidate store's deletion slice
    # over-subtracts by design (full erased counts vs thresholded
    # credit), so its post-erasure contract is the PROVEN lower
    # bound vs the surviving exact counts, not slice parity.
    from synthea_etl_spark.operators.dedup import (
        batch_term_counts,
        cms_estimate_from_store,
        cms_slice_from_counts,
        cms_store,
        counting_store_totals,
        hh_candidate_store,
        hh_lower_from_store,
    )

    cms_dir = os.path.join(work, "cms_store")
    cms_rebuilt = os.path.join(work, "cms_rebuilt")
    cand_dir = os.path.join(work, "cand_store")
    for bi, rows in enumerate(batches):
        bdf = spark.createDataFrame(
            [(r.doc_id, r.source, r.text) for r in rows], schema
        )
        cms_store(bdf, cms_dir, f"batch{bi}")
        hh_candidate_store(bdf, cand_dir, f"batch{bi}")
    ec = batch_term_counts(erase)
    publish_counting_slice(
        deletion_slice(cms_slice_from_counts(ec), ["c"]), cms_dir, "batch9"
    )
    publish_counting_slice(deletion_slice(ec, ["c"]), cand_dir, "batch9")
    cms_store(survivors, cms_rebuilt, "batch0")

    def _cms_cells(path):
        return {
            (r.d, r.b): r.c
            for r in counting_store_totals(
                spark, path, ["d", "b"], "c"
            ).collect()
        }

    cms_immediate_match = _cms_cells(cms_dir) == _cms_cells(cms_rebuilt)
    compact_counting_slices(spark, cms_dir, 9, ["d", "b"], "c")
    compact_counting_slices(spark, cand_dir, 9, ["t"], "c")
    cms_post_compact_match = _cms_cells(cms_dir) == _cms_cells(cms_rebuilt)
    _exact_surv = {
        r.t: r.c for r in batch_term_counts(survivors).collect()
    }
    cand_lower_ok = all(
        r.lower <= _exact_surv.get(r.t, 0)
        for r in hh_lower_from_store(spark, cand_dir).collect()
    )
    # estimates off the purged sketch still upper-bound the
    # surviving truth for every surviving term
    _est_surv = {
        r.t: r.est
        for r in cms_estimate_from_store(
            spark,
            cms_dir,
            spark.createDataFrame(
                [(t,) for t in _exact_surv], "t string"
            ),
        ).collect()
    }
    cms_upper_ok = all(
        _est_surv[t] >= c for t, c in _exact_surv.items()
    )

    report = {
        "master": args.master,
        "n_executors": n_exec,
        "n_docs": len(docs),
        "n_erased": n_erased,
        "tok_store": {
            "immediate_drift_match_on_slice_publish": immediate_match,
            "post_compaction_drift_match": post_compact_match,
            "store_rows": store_rows,
            "rebuilt_rows": rebuilt_rows,
            "compacted_upto": compaction_watermark(store),
        },
        "band_store": {
            "purged_rows_match_rebuild": band_match,
            "rows": len(got_bands),
            "consumed_slot_guard_raises": slot_guard,
            "watermark": compaction_watermark(bands),
        },
        "prompt_key_store": {
            "n_erased": len(pk_erase),
            "n_representatives_erased": len(set(rep_ids)),
            "repaired_clusters_match_rebuild": pk_match,
            "clusters": len(got_pk),
            "consumed_slot_guard_raises": pk_slot_guard,
            "agg_watermark": compaction_watermark(pk_agg),
            "pairs_watermark": compaction_watermark(pk_pairs),
        },
        "length_hist_store": {
            "immediate_quantile_match_on_slice_publish": lh_immediate_match,
            "post_compaction_quantile_match": lh_post_compact_match,
            "one_bin_bound_holds_vs_exact": lh_bound_ok,
            "store_rows": lh_store_rows,
            "rebuilt_rows": lh_rebuilt_rows,
            "compacted_upto": compaction_watermark(lh_store),
        },
        "cms_sandwich_store": {
            "cms_immediate_match_on_slice_publish": cms_immediate_match,
            "cms_post_compaction_match": cms_post_compact_match,
            "cand_lower_bound_holds_post_erasure": cand_lower_ok,
            "cms_upper_bound_holds_post_erasure": cms_upper_ok,
            "cms_watermark": compaction_watermark(cms_dir),
            "cand_watermark": compaction_watermark(cand_dir),
        },
    }
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    ok = (
        immediate_match
        and post_compact_match
        and band_match
        and slot_guard
        and store_rows == rebuilt_rows
        and pk_match
        and pk_slot_guard
        and lh_immediate_match
        and lh_post_compact_match
        and lh_bound_ok
        and lh_store_rows == lh_rebuilt_rows
        and cms_immediate_match
        and cms_post_compact_match
        and cand_lower_ok
        and cms_upper_ok
    )
    if not ok:
        raise SystemExit("purge lifecycle drive diverged")


if __name__ == "__main__":
    main()
