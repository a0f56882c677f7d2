"""Drive the stream-maintained stores end to end under ``local-cluster``.

Each family lands the sf0.01 corpus as JSON batches in ``doc_id``
order, runs its ``*_ingest_stream`` after each batch on real executor
processes, and checks the accumulated store against a batch rebuild or
against the batch query the store replaces. The pytests cover local
mode; this drive crosses real executor process boundaries.

Each family writes its report to ``<out-dir>/<artifact>.json`` (the
artifact names are listed in ``FAMILIES``) and compares it with the
committed ``bench_artifacts/<artifact>.json``. The run exits non-zero,
naming the keys, if any boolean anywhere in a report is false (every
boolean a report carries is a check) or if any value differs from the
committed artifact. ``master`` and ``n_executors`` are compared only
when the run uses the artifact's master.

Usage: python tools/stream_drive.py [FAMILY ...] \
           [--master local-cluster[2,4,4096]] [--sf-dir DIR] [--out-dir DIR]

No FAMILY means all of them. All selected families share one session.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACTS = os.path.join(REPO, "bench_artifacts")
sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import synthea_etl_spark.operators.similarity as S  # noqa: E402
import synthea_etl_spark.operators.store as stores  # noqa: E402
import synthea_etl_spark.operators.text as T  # noqa: E402
from synthea_etl_spark.operators.dedup import (  # noqa: E402
    BLOOM_K,
    CMS_D,
    CMS_W,
    HH_K,
    PROMPT_KEY_AGGS,
    banded_signatures,
    batch_term_counts,
    bloom_probe_from_store,
    bloom_slice,
    bloom_store,
    boilerplate_from_store,
    cms_estimate_from_store,
    cms_slice_from_counts,
    cms_store,
    compact_agg_slices,
    compact_batch_partitions,
    compact_counting_slices,
    compact_line_frequency_store,
    compaction_watermark,
    counting_store_totals,
    deletion_slice,
    doc_fingerprint,
    drift_from_token_store,
    hh_candidate_store,
    hh_lower_from_store,
    length_hist_slice,
    length_hist_store,
    line_frequency_slice,
    line_frequency_store,
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
from synthea_etl_spark.operators.retrieval import (  # noqa: E402
    bm25_topk_from_index,
    inverted_index,
)
from synthea_etl_spark.pipeline import (  # noqa: E402
    ann_index_ingest_stream,
    bloom_ingest_stream,
    boilerplate_ingest_stream,
    cms_sandwich_ingest_stream,
    curation_ingest_stream,
    length_hist_ingest_stream,
    near_dedup_ingest_stream,
    postings_from_store,
    prompt_key_ingest_stream,
    retrieval_index_ingest_stream,
    token_stats_ingest_stream,
)
from synthea_etl_spark.plans.llm8 import (  # noqa: E402
    _Q192_QUOTA,
    q192_curation_funnel,
)
from synthea_etl_spark.plans.llm16 import (  # noqa: E402
    _MIN_DOCS,
    _lines,
    q212_boilerplate_line_removal,
)
from synthea_etl_spark.plans.llm18 import (  # noqa: E402
    _DRIFT_THRESHOLD_MICRO,
    q222_token_drift_monitor,
)
from synthea_etl_spark.plans.llm22 import (  # noqa: E402
    _PROMPT_TOKENS,
    q233_prompt_dedup,
)
from synthea_etl_spark.session import get_session  # noqa: E402

# one bound for every stream: the slowest, near-dedup, needs 600 s
TIMEOUT_S = 600

_TYPES = {
    "doc_id": LongType(),
    "vec_id": LongType(),
    "source": StringType(),
    "lang": StringType(),
    "text": StringType(),
    "embedding": ArrayType(DoubleType()),
}


def schema_of(rows) -> StructType:
    """The landing schema of collected corpus rows."""
    return StructType([StructField(c, _TYPES[c]) for c in rows[0].__fields__])


def differing_keys(report: dict, want: dict, prefix: str = "") -> list[str]:
    """Dotted keys, at any depth, whose value differs between
    ``report`` and ``want``; a key present on one side only differs."""
    bad, missing = [], object()
    for k in dict.fromkeys([*report, *want]):
        got, exp = report.get(k, missing), want.get(k, missing)
        if isinstance(got, dict) and isinstance(exp, dict):
            bad += differing_keys(got, exp, f"{prefix}{k}.")
        elif got != exp:
            bad.append(f"{prefix}{k}")
    return bad


def split(rows, n: int) -> list:
    """``rows`` cut into ``n`` consecutive batches (the last may be
    short)."""
    size = (len(rows) + n - 1) // n
    return [rows[i : i + size] for i in range(0, len(rows), size)]


def false_checks(report: dict, prefix: str = "") -> list[str]:
    """Dotted keys of every boolean in ``report``, at any depth, that
    is false. Other values are data, not checks."""
    bad = []
    for k, v in report.items():
        if isinstance(v, dict):
            bad += false_checks(v, f"{prefix}{k}.")
        elif v is False:
            bad.append(f"{prefix}{k}")
    return bad


class Drive:
    """What every family shares: the session, the corpus, one work dir
    and the land-a-batch-then-stream loop. ``name`` arguments pick a
    subdirectory of the work dir, so families and twins never meet."""

    def __init__(self, spark, sf_dir: str, work: str):
        self.spark, self.sf_dir, self.work = spark, sf_dir, work

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def table(self, name: str = "documents"):
        return self.spark.read.parquet(
            os.path.join(self.sf_dir, f"{name}.parquet")
        )

    def docs(self, *cols: str) -> list:
        return self.table().select(*cols).orderBy("doc_id").collect()

    def frame(self, rows):
        return self.spark.createDataFrame(rows, schema_of(rows))

    def run(self, name: str, ingest, schema, *sinks, **kw) -> None:
        """Run ``ingest`` once over everything landed under ``name``.
        Raises if the stream has not finished within TIMEOUT_S: the
        checks after it would read a partial store."""
        q = ingest(
            self.spark,
            self.path(name, "landing"),
            *sinks,
            self.path(name, "ckpt"),
            schema,
            **kw,
        )
        if not q.awaitTermination(TIMEOUT_S):
            q.stop()
            raise RuntimeError(
                f"{name}: stream still running after {TIMEOUT_S} s"
            )

    def stream(self, name: str, ingest, batches, *sinks, mid=None, **kw):
        """Land ``batches[i]`` as ``b{i}.json`` and stream it, one batch
        at a time. ``mid()`` runs after batch 1: the mid-stream
        compaction, which the later batches must ingest across."""
        landing = self.path(name, "landing")
        os.makedirs(landing, exist_ok=True)
        schema = schema_of(batches[0])
        for i, rows in enumerate(batches):
            with open(os.path.join(landing, f"b{i}.json"), "w") as fh:
                fh.writelines(json.dumps(r.asDict()) + "\n" for r in rows)
            self.run(name, ingest, schema, *sinks, **kw)
            if i == 1 and mid is not None:
                mid()

    def replay(self, publish, store: str, batches, which=(0, -1)) -> None:
        """Re-publish batches after the stream: the folded ``batch0``
        must be a no-op (the watermark hides it) and the live last
        batch idempotent (dynamic overwrite)."""
        for i in which:
            i %= len(batches)
            publish(self.frame(batches[i]), store, slice_id=f"batch{i}")


def erasure(docs_df):
    """The erasure set — ~1/11 of the corpus, scattered across
    sources — and its survivors."""
    erase = docs_df.filter(F.col("doc_id") % 11 == 3)
    return erase, docs_df.join(erase.select("doc_id"), "doc_id", "left_anti")


def one_bin_bound(quantiles, docs_df) -> bool:
    """The proven one-bin bound of a length histogram: every (source,
    q) quantile row has approx <= exact <= approx + approx div 8,
    against the exact order statistic of ``docs_df``'s token counts."""
    by_src: dict[str, list[int]] = {}
    for r in (
        docs_df.filter(F.length(F.trim("text")) > 0)
        .select("source", T.token_count("text").cast("long").alias("n"))
        .filter(F.col("n") > 0)
        .collect()
    ):
        by_src.setdefault(r.source, []).append(r.n)
    for ns in by_src.values():
        ns.sort()
    return all(
        r.approx
        <= by_src[r.source][(r.q_permille * r.n_docs + 999) // 1000 - 1]
        <= r.approx + r.approx // 8
        for r in quantiles
    )


# ---------------------------------------------------------------------------
# counting and aggregate stores
# ---------------------------------------------------------------------------


def token_stats(d: Drive) -> dict:
    """Token-distribution store: stream the corpus in four batches,
    COMPACT mid-stream, keep ingesting, and check:

    1. drift parity — ``drift_from_token_store`` over the accumulated
       store equals the all-batch q222 report row for row;
    2. replay safety across compaction — re-publishing a folded batch
       is a no-op (watermark) and a live batch idempotent (dynamic
       overwrite);
    3. the store stays store-sized — row count is (sources x vocab)-ish,
       never corpus-shaped."""
    spark = d.spark
    store = d.path("token_stats", "store")
    docs = d.docs("doc_id", "source", "text")
    batches = split(docs, 4)
    d.stream(
        "token_stats",
        token_stats_ingest_stream,
        batches,
        store,
        mid=lambda: compact_counting_slices(
            spark, store, 1, ["source", "t"], "c"
        ),
    )

    def report(df):
        return {
            (r.source, r.n_tokens, r.kl_micro, r.drifted)
            for r in df.collect()
        }

    def from_store():
        return report(
            drift_from_token_store(spark, store, _DRIFT_THRESHOLD_MICRO)
        )

    want = report(q222_token_drift_monitor(spark, d.sf_dir))
    drift_match = from_store() == want
    d.replay(token_stats_store, store, batches)
    return {
        "n_batches": len(batches),
        "n_docs": len(docs),
        "compacted_upto": compaction_watermark(store),
        "store_rows": spark.read.parquet(store).count(),
        "drift_matches_batch_q222": drift_match,
        "replay_after_compaction_is_noop": from_store() == want,
    }


def boilerplate(d: Drive) -> dict:
    """Boilerplate line-frequency store: stream the corpus in four
    batches, COMPACT mid-stream, keep ingesting, and check:

    1. store-frequency parity — sum-over-slices (compacted + live
       batches) equals the one-shot corpus line frequency;
    2. verdict parity — cleaning every document against
       ``boilerplate_from_store`` reproduces q212's inline
       (n_removed, tokens_removed) per doc exactly;
    3. replay safety across compaction — re-publishing a folded batch
       after compaction is a no-op (watermark), and re-publishing a
       live batch is idempotent (dynamic overwrite).

    The mid-stream compaction is the point: a year of 5-minute ingest
    batches is ~100k slice partitions, and this proves the fold is
    transparent to both the readers and the resumed stream."""
    spark = d.spark
    store = d.path("boilerplate", "store")
    docs = d.docs("doc_id", "text")
    batches = split(docs, 4)
    d.stream(
        "boilerplate",
        boilerplate_ingest_stream,
        batches,
        store,
        mid=lambda: compact_line_frequency_store(spark, store, upto_batch=1),
    )

    def store_freq():
        return {
            (r.fp, r.n_docs)
            for r in boilerplate_from_store(spark, store, min_docs=1).collect()
        }

    batch_freq = {
        (r.fp, r.n_docs)
        for r in line_frequency_slice(d.frame(docs)).collect()
    }
    freq_match = store_freq() == batch_freq
    d.replay(line_frequency_store, store, batches)
    replay_match = store_freq() == batch_freq

    # verdict parity: store-driven cleaning == q212's inline verdict
    boiler = boilerplate_from_store(spark, store, min_docs=_MIN_DOCS)
    marked = _lines(spark, d.sf_dir).join(
        boiler.select("fp"), "fp", "left_semi"
    )
    store_removed = {
        (r.doc_id, r.n_removed, r.tokens_removed)
        for r in marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_removed"),
            F.sum("line_tokens").cast("long").alias("tokens_removed"),
        )
        .collect()
    }
    inline = {
        (r.doc_id, r.n_removed, r.tokens_removed)
        for r in q212_boilerplate_line_removal(spark, d.sf_dir)
        .filter(F.col("n_removed") > 0)
        .collect()
    }
    return {
        "n_batches": len(batches),
        "n_docs": len(docs),
        "compacted_upto": compaction_watermark(store),
        "freq_matches_batch": freq_match,
        "replay_after_compaction_is_noop": replay_match,
        "store_verdicts_match_inline_q212": store_removed == inline,
    }


def length_hist(d: Drive) -> dict:
    """Length-quantile histogram store (10th stream family): stream the
    corpus in four batches, COMPACT mid-stream, keep ingesting, and
    check:

    1. quantile parity — ``quantiles_from_hist_store`` over the
       accumulated store equals the quantiles computed from a one-shot
       histogram of the whole corpus (merge-exactness across slices AND
       the compaction boundary);
    2. the one-bin error bound holds per (source, q) against the exact
       order statistic;
    3. replay safety across compaction — re-publishing a folded batch is
       a no-op (watermark) and a live batch idempotent (dynamic
       overwrite);
    4. the store stays store-sized — (sources x ~bins), never
       corpus-shaped."""
    spark = d.spark
    store = d.path("length_hist", "store")
    oneshot = d.path("length_hist", "oneshot")
    docs_df = d.table().select("doc_id", "source", "text")
    docs = docs_df.orderBy("doc_id").collect()
    batches = split(docs, 4)
    d.stream(
        "length_hist",
        length_hist_ingest_stream,
        batches,
        store,
        mid=lambda: compact_counting_slices(
            spark, store, 1, ["source", "b"], "c"
        ),
    )

    def quants(path):
        return quantiles_from_hist_store(
            spark, path, [500, 900, 990]
        ).collect()

    got = quants(store)
    length_hist_store(docs_df, oneshot, "batch1")
    want = set(quants(oneshot))
    merge_match = set(got) == want
    d.replay(length_hist_store, store, batches)
    return {
        "n_batches": len(batches),
        "n_docs": len(docs),
        "compacted_upto": compaction_watermark(store),
        "store_rows": spark.read.parquet(store).count(),
        "quantiles_match_oneshot": merge_match,
        "one_bin_bound_holds": one_bin_bound(got, docs_df),
        "replay_after_compaction_is_noop": set(quants(store)) == want,
    }


def prompt_dedup(d: Drive) -> dict:
    """Prompt-key cluster store: stream the corpus in four batches,
    COMPACT mid-stream, keep ingesting, and check:

    1. dedup parity — the per-doc frame reassembled from
       ``prompt_clusters_from_store`` equals the all-batch q233 report
       row for row (mergeable SUM/MIN partials re-merge across the
       compaction boundary);
    2. replay safety across compaction — re-publishing a folded batch
       is invisible to the watermark-filtered reader and a live batch
       idempotent (dynamic overwrite);
    3. the store stays store-sized — row count is distinct-prompt-ish,
       never corpus-shaped."""
    spark = d.spark
    store = d.path("prompt_dedup", "store")
    docs = d.docs("doc_id", "text")
    batches = split(docs, 4)
    d.stream(
        "prompt_dedup",
        prompt_key_ingest_stream,
        batches,
        store,
        mid=lambda: compact_agg_slices(
            spark, store, 1, ["pkey"], PROMPT_KEY_AGGS
        ),
    )
    keyed = (
        d.table()
        .filter(T.token_count("text") > 0)
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice(T.tokens("text"), 1, _PROMPT_TOKENS))
            ).alias("pkey"),
        )
    )

    def from_store():
        joined = keyed.join(prompt_clusters_from_store(spark, store), "pkey")
        return {
            (r.doc_id, r.pkey, r.cluster_n, r.doc_id == r.rep_doc_id,
             r.rep_doc_id)
            for r in joined.collect()
        }

    want = {tuple(r) for r in q233_prompt_dedup(spark, d.sf_dir).collect()}
    dedup_match = from_store() == want
    d.replay(prompt_key_store, store, batches)
    return {
        "n_batches": len(batches),
        "n_docs": len(docs),
        "compacted_upto": compaction_watermark(store),
        "store_rows": spark.read.parquet(store).count(),
        "dedup_matches_batch_q233": dedup_match,
        "replay_after_compaction_is_noop": from_store() == want,
    }


def bloom(d: Drive) -> dict:
    """Counting-Bloom membership store (11th stream family): stream the
    corpus in four batches, COMPACT mid-stream, keep ingesting, and
    check:

    1. probe parity — ``bloom_probe_from_store`` over the accumulated
       store equals the probes over a one-shot store of the whole corpus
       (merge-exactness across slices AND the compaction boundary);
    2. zero false negatives — every corpus fingerprint probes PRESENT;
    3. erasure — publish ``deletion_slice(bloom_slice(erased))``, assert
       the store answers bit-identically to one rebuilt from only the
       survivors (totals AND probes), both immediately on slice publish
       and after the compaction that physically drops zero-net buckets;
    4. replay safety across compaction — re-publishing a folded batch is
       a no-op (watermark);
    5. the store stays SPARSE — rows <= K x ingested fingerprints,
       never modulus-shaped."""
    spark = d.spark
    store = d.path("bloom", "store")
    oneshot = d.path("bloom", "oneshot")
    rebuilt = d.path("bloom", "rebuilt")
    docs_df = d.table().select("doc_id", "source", "text")
    docs = docs_df.orderBy("doc_id").collect()
    batches = split(docs, 4)
    d.stream(
        "bloom",
        bloom_ingest_stream,
        batches,
        store,
        mid=lambda: compact_counting_slices(spark, store, 1, ["b"], "c"),
    )

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

    def totals(path):
        return {
            (r.b, r.c)
            for r in counting_store_totals(spark, path, ["b"], "c").collect()
        }

    def same(a, b):
        return totals(a) == totals(b) and verdicts(a) == verdicts(b)

    got = verdicts(store)
    bloom_store(docs_df, oneshot, "batch1")
    merge_match = got == verdicts(oneshot)
    fn_zero = all(got[r.fp] for r in corpus_fps.collect())

    # erasure: negative slice for ~1/11 of the corpus, high slot
    erase, survivors = erasure(docs_df)
    publish_counting_slice(
        deletion_slice(bloom_slice(erase), ["c"]), store, "batch9"
    )
    bloom_store(survivors, rebuilt, "batch1")
    erase_immediate = same(store, rebuilt)
    compact_counting_slices(spark, store, 9, ["b"], "c")
    erase_post_compact = same(store, rebuilt)

    # replay a FOLDED batch is a no-op (watermark-filtered readers
    # ignore slices <= watermark even if re-published)
    d.replay(bloom_store, store, batches, which=(0,))
    replay_match = totals(store) == totals(rebuilt)

    # LIVE rows (watermark-filtered totals): raw file rows also count
    # dead generations (the replayed batch0 slice is invisible to
    # readers but sits on disk until GC)
    store_rows = counting_store_totals(spark, store, ["b"], "c").count()
    n_fps_survivors = (
        survivors.filter(F.length(F.trim("text")) > 0)
        .select(doc_fingerprint().alias("fp"))
        .count()
    )
    return {
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
        "store_stays_sparse": store_rows <= BLOOM_K * n_fps_survivors + 10,
    }


def cms(d: Drive) -> dict:
    """Frequency-sandwich pair (12th stream family: Count-Min upper
    store + candidate lower store) via ``cms_sandwich_ingest_stream``:
    stream the corpus in four batches, COMPACT the CMS store
    mid-stream, keep ingesting, and check:

    1. merge parity — streamed+compacted CMS cells equal a ONE-SHOT
       store of the whole corpus (linear sketch), and the candidate
       totals equal a manual rebuild with the SAME batch axis
       (candidate slices are batch-relative by design);
    2. sandwich bounds — est >= exact for every corpus term, lower <=
       exact for every candidate, against exact corpus counts;
    3. erasure — publish both deletion slices for an erased doc set:
       the CMS answers bit-identically to a rebuild from survivors
       (immediately AND post-compaction) and candidate nets stay a
       valid lower bound of the true surviving counts;
    4. replay safety — re-publishing a folded batch is a no-op;
    5. bounded state — live CMS rows <= D*W regardless of corpus size,
       live candidate rows <= k per live slice."""
    spark = d.spark
    cms_dir = d.path("cms", "cms")
    cand = d.path("cms", "cand")
    docs_df = d.table().select("doc_id", "source", "text")
    docs = docs_df.orderBy("doc_id").collect()
    batches = split(docs, 4)
    d.stream(
        "cms",
        cms_sandwich_ingest_stream,
        batches,
        cms_dir,
        cand,
        mid=lambda: compact_counting_slices(
            spark, cms_dir, 1, ["d", "b"], "c"
        ),
    )

    def cms_cells(path):
        return {
            (r.d, r.b): r.c
            for r in counting_store_totals(
                spark, path, ["d", "b"], "c"
            ).collect()
        }

    def cand_net(path):
        return {
            r.t: r.c
            for r in counting_store_totals(spark, path, ["t"], "c").collect()
        }

    # 1. merge parity
    oneshot = d.path("cms", "oneshot")
    cms_store(docs_df, oneshot, "batch0")
    cms_match = cms_cells(cms_dir) == cms_cells(oneshot)
    cand_manual = d.path("cms", "manual_cand")
    for bi, rows in enumerate(batches):
        hh_candidate_store(d.frame(rows), cand_manual, f"batch{bi}")
    cand_match = cand_net(cand) == cand_net(cand_manual)

    # 2. sandwich bounds vs exact corpus counts
    exact = {r.t: r.c for r in batch_term_counts(docs_df).collect()}
    est = {
        r.t: r.est
        for r in cms_estimate_from_store(
            spark,
            cms_dir,
            spark.createDataFrame([(t,) for t in exact], "t string"),
        ).collect()
    }
    lower = {r.t: r.lower for r in hh_lower_from_store(spark, cand).collect()}
    n = sum(exact.values())

    # 3. erasure (docs %11==3), both stores, vs survivors rebuild
    erase, survivors = erasure(docs_df)
    ec = batch_term_counts(erase)
    publish_counting_slice(
        deletion_slice(cms_slice_from_counts(ec), ["c"]), cms_dir, "batch9"
    )
    publish_counting_slice(deletion_slice(ec, ["c"]), cand, "batch9")
    cms_rebuilt = d.path("cms", "rebuilt_cms")
    cms_store(survivors, cms_rebuilt, "batch0")
    erase_immediate = cms_cells(cms_dir) == cms_cells(cms_rebuilt)
    compact_counting_slices(spark, cms_dir, 9, ["d", "b"], "c")
    compact_counting_slices(spark, cand, 9, ["t"], "c")
    erase_post_compact = cms_cells(cms_dir) == cms_cells(cms_rebuilt)
    # post-erasure candidate nets stay a VALID LOWER BOUND of the
    # true surviving counts (a survivor-rebuilt store's credits are
    # a *different* valid lower bound — batch thresholds are
    # relative, so the two are incomparable; the contract is the
    # bound, not slice-for-slice parity)
    exact_surv = {r.t: r.c for r in batch_term_counts(survivors).collect()}
    cand_erase_ok = all(
        c <= exact_surv.get(t, 0) for t, c in cand_net(cand).items() if c > 0
    )

    # 4. replay a FOLDED batch is a no-op
    d.replay(cms_store, cms_dir, batches, which=(0,))
    d.replay(hh_candidate_store, cand, batches, which=(0,))
    replay_match = cms_cells(cms_dir) == cms_cells(cms_rebuilt)

    # 5. bounded state
    cms_rows = counting_store_totals(spark, cms_dir, ["d", "b"], "c").count()
    cand_rows = counting_store_totals(spark, cand, ["t"], "c").count()
    return {
        "n_batches": len(batches),
        "n_docs": len(docs),
        "compacted_upto": compaction_watermark(cms_dir),
        "cms_rows": cms_rows,
        "cand_rows": cand_rows,
        "cms_matches_oneshot": cms_match,
        "cand_matches_same_axis_rebuild": cand_match,
        "upper_bound_holds": all(est[t] >= c for t, c in exact.items()),
        "lower_bound_holds": all(exact[t] >= lo for t, lo in lower.items()),
        "heavy_candidates_complete": all(
            t in lower for t, c in exact.items() if c * HH_K > n
        ),
        "erasure_immediate_match": erase_immediate,
        "erasure_post_compaction_match": erase_post_compact,
        "cand_erasure_valid_lower_bound": cand_erase_ok,
        "replay_after_compaction_is_noop": replay_match,
        "state_bounded": cms_rows <= CMS_D * CMS_W
        and cand_rows <= HH_K * (len(batches) + 2),
    }


# ---------------------------------------------------------------------------
# row stores
# ---------------------------------------------------------------------------


def near_dedup(d: Drive) -> dict:
    """Near-dedup ingest stream with a MID-STREAM COMPACTION of both
    stores (corpus + band index): compaction must be invisible to dedup
    semantics, so a TWIN pipeline ingesting the identical batches
    WITHOUT compaction must end with exactly the same surviving
    documents and the same band-index content.

    This is the subtle family for compaction: the stream's history
    probe reads ``batch_id < current`` and the compacted partition must
    keep riding that filter (it lands at the versioned negative id)
    while folded batch dirs — including crash leftovers — stay
    invisible. The sf0.01 corpus carries planted duplicates."""
    spark = d.spark
    docs = d.docs("doc_id", "text")
    batches = split(docs, 4)

    def pipeline(name, compact):
        corpus, index = d.path(name, "corpus"), d.path(name, "index")

        def mid():
            # the mid-stream fold of batches 0..1 in BOTH stores
            compact_batch_partitions(spark, corpus, 1)
            compact_batch_partitions(spark, index, 1)

        d.stream(
            name,
            near_dedup_ingest_stream,
            batches,
            corpus,
            index,
            mid=mid if compact else None,
        )
        return corpus, index

    def live(path, *cols):
        return sorted(
            tuple(r)
            for r in stores.live(spark, path, stores.ROWS)
            .select(*cols)
            .collect()
        )

    corpus_c, index_c = pipeline("near_dedup_compacted", True)
    corpus_p, index_p = pipeline("near_dedup_plain", False)
    ids_c, ids_p = live(corpus_c, "doc_id"), live(corpus_p, "doc_id")
    return {
        "n_batches": len(batches),
        "n_docs": len(docs),
        "compacted_upto": compaction_watermark(corpus_c),
        "n_survivors_compacted": len(ids_c),
        "n_survivors_plain": len(ids_p),
        "survivors_match": ids_c == ids_p,
        "index_rows_match": live(index_c, "doc_id", "band", "bh")
        == live(index_p, "doc_id", "band", "bh"),
    }


def postings(d: Drive) -> dict:
    """BM25 postings ingest stream with a MID-STREAM COMPACTION, which
    must be invisible to retrieval: a TWIN pipeline ingesting the
    identical batches WITHOUT compaction must produce the same postings
    rows and the same BM25 top-k rankings through the watermark-filtered
    reader (``postings_from_store``), and a full checkpoint-wipe replay
    over the compacted store must not double any row (the stream-side
    watermark skip).

    NOTE the wipe leg's scope: it re-delivers exactly the
    already-ingested file set, proving folded content is not
    double-published; it is NOT a general checkpoint-loss recovery
    claim — if NEW files had landed before the wiped restart they could
    be renumbered under the watermark and dropped (the checkpoint-loss
    contract in pipeline.retrieval_index_ingest_stream's docstring)."""
    spark = d.spark
    docs = d.docs("doc_id", "text")
    batches = split(docs, 4)
    queries = spark.createDataFrame(
        [(i, docs[i * 37 % len(docs)].text) for i in range(8)],
        "query_id long, query_text string",
    ).localCheckpoint()
    index_c = d.path("postings_compacted", "index")
    index_p = d.path("postings_plain", "index")

    def ranking(index):
        return sorted(
            (r.query_id, r.rank, r.doc_id)
            for r in bm25_topk_from_index(
                postings_from_store(spark, index), queries, k=5
            ).collect()
        )

    def rows_of(index):
        return sorted(
            (r.t, r.doc_id, r.tf)
            for r in postings_from_store(spark, index).collect()
        )

    mid_ranks = []

    def mid():
        mid_ranks.append(ranking(index_c))
        compact_batch_partitions(spark, index_c, 1)
        mid_ranks.append(ranking(index_c))

    d.stream(
        "postings_compacted",
        retrieval_index_ingest_stream,
        batches,
        index_c,
        mid=mid,
    )
    d.stream("postings_plain", retrieval_index_ingest_stream, batches, index_p)
    rows_c = rows_of(index_c)
    rows_match = rows_c == rows_of(index_p)
    rank_match = ranking(index_c) == ranking(index_p)

    # checkpoint-wipe replay: every batch replays against the
    # compacted store; folded ones must hit the watermark skip
    shutil.rmtree(d.path("postings_compacted", "ckpt"))
    d.run(
        "postings_compacted",
        retrieval_index_ingest_stream,
        schema_of(docs),
        index_c,
    )
    return {
        "n_batches": len(batches),
        "n_docs": len(docs),
        "compacted_upto": compaction_watermark(index_c),
        "n_postings_rows": len(rows_c),
        "postings_rows_match": rows_match,
        "mid_compaction_ranking_unchanged": mid_ranks[0] == mid_ranks[1],
        "final_rankings_match": rank_match,
        "replay_after_ckpt_wipe_is_noop": rows_of(index_c) == rows_c,
    }


def index(d: Drive) -> dict:
    """Streaming BM25-postings maintenance: the foreachBatch
    tokenization publishes across process boundaries; the accumulated
    index must equal a batch rebuild and answer queries identically
    (the q167 path against streamed state). Three landing batches of
    100 docs each."""
    spark = d.spark
    index_dir = d.path("index", "index")
    docs = d.docs("doc_id", "text")[:300]
    batches = split(docs, 3)
    d.stream("index", retrieval_index_ingest_stream, batches, index_dir)

    streamed = spark.read.parquet(index_dir).drop("batch_id")
    full = d.frame(docs)
    rebuilt = inverted_index(full)
    s_rows = sorted((r.t, r.doc_id, r.tf) for r in streamed.collect())
    r_rows = sorted((r.t, r.doc_id, r.tf) for r in rebuilt.collect())
    queries = full.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )

    def rank(df):
        return sorted(
            tuple(r) for r in bm25_topk_from_index(df, queries, k=5).collect()
        )

    return {
        "n_batches": len(batches),
        "postings_rows": len(s_rows),
        "postings_match": s_rows == r_rows,
        "ranking_match": rank(streamed) == rank(rebuilt),
    }


def ann(d: Drive) -> dict:
    """Streaming IVF ANN-index maintenance: the foreachBatch
    frozen-quantizer assignment publishes across process boundaries;
    the accumulated index must equal a batch ``ivf_index`` rebuild and
    answer probes identically (the grouped BLAS scorer against streamed
    state). The vector-side twin of ``index``."""
    spark = d.spark
    index_dir = d.path("ann", "index")
    vecs = (
        d.table("embeddings")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .orderBy("vec_id")
        .limit(480)
        .collect()
    )
    # frozen quantizer: deterministic seed centroids (first 8 vectors)
    centroids = [list(r.embedding) for r in vecs[:8]]
    batches = split(vecs, 3)
    d.stream(
        "ann", ann_index_ingest_stream, batches, index_dir, centroids=centroids
    )

    streamed = spark.read.parquet(index_dir)
    full = d.frame(vecs)
    rebuilt = S.ivf_index(full, centroids)
    key = lambda r: (r.cluster, r.neighbor_id, tuple(r.cv))  # noqa: E731
    streamed_rows = streamed.drop("batch_id")
    s_rows = sorted(map(key, streamed_rows.collect()))
    r_rows = sorted(map(key, rebuilt.collect()))
    queries = full.filter(F.col("vec_id") < 10)

    def rank(index):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id, r.sim)
            for r in S.knn_ann_ivf_grouped_probe(
                index, centroids, queries, k=5, n_probe=3
            ).collect()
        )

    return {
        "n_batches": len(batches),
        "index_rows": len(s_rows),
        "index_match": s_rows == r_rows,
        "probe_ranking_match": rank(streamed_rows) == rank(rebuilt),
        "committed_batch_ids": sorted(
            r.batch_id
            for r in streamed.select("batch_id").distinct().collect()
        ),
    }


# ---------------------------------------------------------------------------
# the curation funnel
# ---------------------------------------------------------------------------


@functools.cache
def _curated(d: Drive):
    """Stream the corpus through ``curation_ingest_stream`` in three
    batches, once per drive: curation and quota both read the
    accumulated verdicts and admitted tables.

    Batches land in doc_id order, so first-landed == the min-id dup
    winner: dedup winners may differ legitimately when a duplicate
    lands in an EARLIER batch than the batch funnel's min-doc_id
    winner, and the ordering makes the comparison exact."""
    batches = split(d.docs("doc_id", "lang", "text"), 3)
    admitted = d.path("curation", "admitted")
    verdicts = d.path("curation", "verdicts")
    d.stream("curation", curation_ingest_stream, batches, admitted, verdicts)
    return batches, admitted, verdicts


def curation(d: Drive) -> dict:
    """The streaming curation funnel — the foreachBatch dedup/quality/
    repetition stages, including the Arrow dict-counting cov pass
    crossing process boundaries — must accumulate per-doc verdicts
    equal to the batch q192 funnel's first three stages on the union
    corpus.

    The comparison excludes the quota stage by construction: the stream
    deliberately does not quota (corpus-wide state breaks replay
    idempotence — see pipeline.curation_ingest_stream), so batch-side
    'quota' and 'admitted' both count as stream-'admitted'."""
    spark = d.spark
    batches, admitted, verdicts = _curated(d)
    streamed = {
        r.doc_id: r.stage for r in spark.read.parquet(verdicts).collect()
    }
    batch_stage = {
        r.doc_id: ("admitted" if r.stage == "quota" else r.stage)
        for r in q192_curation_funnel(spark, d.sf_dir).collect()
    }
    mismatches = {
        i: (streamed.get(i), batch_stage.get(i))
        for i in set(streamed) | set(batch_stage)
        if streamed.get(i) != batch_stage.get(i)
    }
    return {
        "n_batches": len(batches),
        "n_docs": sum(map(len, batches)),
        "verdicts_match_batch_funnel": not mismatches,
        "n_mismatches": len(mismatches),
        "sample_mismatches": dict(list(mismatches.items())[:5]),
        "n_admitted": spark.read.parquet(admitted).count(),
        "stage_histogram": {
            s: sum(1 for v in streamed.values() if v == s)
            for s in sorted(set(streamed.values()))
        },
    }


def quota_plan(admitted, quota: int):
    """The batch planning pass over the stream's accumulated admitted
    table: q192's quota stage verbatim — per-language rank by
    (md5(doc_id), doc_id), keep rank <= quota. Reads funnel
    survivors only (the admitted table), never the corpus."""
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        admitted.select("doc_id", "lang")
        .withColumn("_qrn", F.row_number().over(w))
        .filter(F.col("_qrn") <= quota)
        .select("doc_id", "lang")
    )


def quota(d: Drive) -> dict:
    """The FULL curation pipeline — streaming funnel + batch quota —
    must equal the all-batch composition.

    The per-language quota is deliberately a batch PLANNING-TIME pass
    (corpus-wide admission counts break stream replay idempotence — see
    pipeline.curation_ingest_stream). This runs the production shape
    end to end as ONE pipeline:

    1. funnel-stream: ``curation_ingest_stream`` accumulates the
       per-doc verdicts table and the admitted table;
    2. quota-batch: the q192 quota stage (per-language rank by
       md5(doc_id), cap _Q192_QUOTA) runs over the ACCUMULATED admitted
       table — reading only funnel survivors, never the corpus;
    3. admitted manifest: the post-quota keep set.

    The manifest must equal q192's 'admitted' set exactly, and the
    stream-admitted-but-quota-cut remainder must equal q192's 'quota'
    set — i.e. composing the stream with the planning pass is the batch
    funnel, doc for doc."""
    spark = d.spark
    batches, admitted, _ = _curated(d)
    stream_admitted = spark.read.parquet(admitted)
    manifest = {
        r.doc_id for r in quota_plan(stream_admitted, _Q192_QUOTA).collect()
    }
    stream_admitted_ids = {
        r.doc_id for r in stream_admitted.select("doc_id").collect()
    }
    quota_cut = stream_admitted_ids - manifest

    # all-batch reference: q192 on the union corpus
    batch_stage = {
        r.doc_id: r.stage
        for r in q192_curation_funnel(spark, d.sf_dir).collect()
    }
    batch_admitted = {i for i, s in batch_stage.items() if s == "admitted"}
    batch_quota = {i for i, s in batch_stage.items() if s == "quota"}
    return {
        "n_batches": len(batches),
        "n_docs": sum(map(len, batches)),
        "quota_per_lang": _Q192_QUOTA,
        "n_stream_admitted": len(stream_admitted_ids),
        "n_manifest": len(manifest),
        "n_quota_cut": len(quota_cut),
        "manifest_matches_batch_admitted": manifest == batch_admitted,
        "quota_cut_matches_batch_quota": quota_cut == batch_quota,
        "sample_manifest_diff": sorted(manifest ^ batch_admitted)[:5],
        "sample_quota_diff": sorted(quota_cut ^ batch_quota)[:5],
    }


# ---------------------------------------------------------------------------
# right-to-erasure across the purge mechanisms
# ---------------------------------------------------------------------------


def purge(d: Drive) -> dict:
    """Right-to-erasure end to end: the purge mechanisms, each checked
    against a store rebuilt from only the surviving documents.

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
    3. MIXED-AGG store (prompt-key clusters): ingest the agg store +
       its row-grain erasure companion via the stream, erase a set
       guaranteed to include cluster REPRESENTATIVES (min_doc members —
       the case a negative slice cannot express), run the repair
       compaction (purge_prompt_key_cluster), and assert the cluster
       view matches a store rebuilt from only the survivors; then
       verify the consumed-slot replay raises.
    4. LENGTH-HIST store (the 10th family): stream-ingest the log-bin
       histograms with a mid-stream compaction, erase via the all-sum
       negative deletion slice, and assert the store's quantiles match
       a rebuild-from-survivors immediately AND post-compaction, with
       the PROVEN one-bin bound re-verified against exact order
       statistics of the surviving corpus.
    5. Frequency-sandwich pair (the 12th family): erase from both the
       CMS and the candidate store by deletion slices."""
    spark = d.spark
    docs_df = d.table().select("doc_id", "source", "text")
    erase, survivors = (f.localCheckpoint() for f in erasure(docs_df))
    docs = docs_df.orderBy("doc_id").collect()
    batches = split(docs, 4)

    # --- counting-store erasure: negative slice, high slot ---------
    store = d.path("purge_tok", "store")
    rebuilt = d.path("purge_tok", "rebuilt")
    d.stream(
        "purge_tok",
        token_stats_ingest_stream,
        batches,
        store,
        mid=lambda: compact_counting_slices(
            spark, store, 1, ["source", "t"], "c"
        ),
    )
    publish_counting_slice(
        deletion_slice(token_stats_slice(erase), ["c"]), store, "batch9"
    )
    token_stats_store(survivors, rebuilt, "batch1")

    def drift(path):
        return {
            tuple(r) for r in drift_from_token_store(spark, path).collect()
        }

    want = drift(rebuilt)
    immediate_match = drift(store) == want
    compact_counting_slices(spark, store, 9, ["source", "t"], "c")
    post_compact_match = drift(store) == want
    store_rows = spark.read.parquet(store).count()
    rebuilt_rows = spark.read.parquet(rebuilt).count()

    # --- row-store erasure: filtering compaction --------------------
    bands = d.path("purge_band", "store")
    bands_rebuilt = d.path("purge_band", "rebuilt")

    def write_bands(df, bid, path):
        sig = minhash_signature(df, "text", "doc_id")
        (
            banded_signatures(sig, "doc_id")
            .withColumn("batch_id", F.lit(bid))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(path)
        )

    half = len(docs) // 2
    write_bands(d.frame(docs[:half]), 1, bands)
    write_bands(d.frame(docs[half:]), 2, bands)
    purge_batch_store(spark, bands, 3, erase.select("doc_id"), "doc_id")
    write_bands(survivors, 1, bands_rebuilt)
    got_bands = {
        (r.doc_id, r.band, r.bh)
        for r in stores.live(spark, bands, stores.ROWS).collect()
    }
    want_bands = {
        (r.doc_id, r.band, r.bh)
        for r in spark.read.parquet(bands_rebuilt)
        .select("doc_id", "band", "bh")
        .collect()
    }
    slot_guard = False
    try:
        purge_batch_store(spark, bands, 3, [0], "doc_id")
    except ValueError:
        slot_guard = True

    # --- mixed-agg store erasure: repair compaction ------------------
    pk_agg = d.path("purge_pk", "agg")
    pk_pairs = d.path("purge_pk", "pairs")
    pk_rebuilt = d.path("purge_pk", "rebuilt")
    d.stream(
        "purge_pk",
        prompt_key_ingest_stream,
        batches,
        pk_agg,
        pairs_store_dir=pk_pairs,
    )
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
    prompt_key_store(
        docs_df.filter(~F.col("doc_id").isin(pk_erase)), pk_rebuilt, "batch1"
    )
    got_pk = {
        tuple(r) for r in prompt_clusters_from_store(spark, pk_agg).collect()
    }
    want_pk = {
        tuple(r)
        for r in prompt_clusters_from_store(spark, pk_rebuilt).collect()
    }
    pk_slot_guard = False
    try:
        purge_prompt_key_cluster(spark, pk_agg, pk_pairs, [1], len(batches))
    except ValueError:
        pk_slot_guard = True

    # --- length-hist store erasure (10th family): negative slice ----
    # all-'sum' additive bins, so right-to-erasure is the verbatim
    # deletion_slice path; the purged store's quantiles must equal a
    # rebuild-from-survivors BOTH immediately on slice publish and
    # after the compaction that physically drops the zero-net bins —
    # and the PROVEN one-bin bound must hold against exact order
    # statistics of the surviving corpus.
    lh_store = d.path("purge_lh", "store")
    lh_rebuilt = d.path("purge_lh", "rebuilt")
    d.stream(
        "purge_lh",
        length_hist_ingest_stream,
        batches,
        lh_store,
        mid=lambda: compact_counting_slices(
            spark, lh_store, 1, ["source", "b"], "c"
        ),
    )
    publish_counting_slice(
        deletion_slice(length_hist_slice(erase), ["c"]), lh_store, "batch9"
    )
    length_hist_store(survivors, lh_rebuilt, "batch1")

    def lh_quants(path):
        return quantiles_from_hist_store(
            spark, path, [100, 250, 500, 750, 900, 990]
        ).collect()

    lh_want = set(lh_quants(lh_rebuilt))
    lh_immediate_match = set(lh_quants(lh_store)) == lh_want
    compact_counting_slices(spark, lh_store, 9, ["source", "b"], "c")
    lh_post = lh_quants(lh_store)
    lh_store_rows = spark.read.parquet(lh_store).count()
    lh_rebuilt_rows = spark.read.parquet(lh_rebuilt).count()

    # --- frequency-sandwich pair erasure (12th family) --------------
    # CMS cells are linear sums -> verbatim deletion_slice path with
    # bit-exact rebuild parity; the candidate store's deletion slice
    # over-subtracts by design (full erased counts vs thresholded
    # credit), so its post-erasure contract is the PROVEN lower
    # bound vs the surviving exact counts, not slice parity.
    cms_dir = d.path("purge_cms", "cms")
    cms_rebuilt = d.path("purge_cms", "rebuilt")
    cand_dir = d.path("purge_cms", "cand")
    for bi, rows in enumerate(batches):
        bdf = d.frame(rows)
        cms_store(bdf, cms_dir, f"batch{bi}")
        hh_candidate_store(bdf, cand_dir, f"batch{bi}")
    ec = batch_term_counts(erase)
    publish_counting_slice(
        deletion_slice(cms_slice_from_counts(ec), ["c"]), cms_dir, "batch9"
    )
    publish_counting_slice(deletion_slice(ec, ["c"]), cand_dir, "batch9")
    cms_store(survivors, cms_rebuilt, "batch0")

    def cms_cells(path):
        return {
            (r.d, r.b): r.c
            for r in counting_store_totals(
                spark, path, ["d", "b"], "c"
            ).collect()
        }

    cms_immediate_match = cms_cells(cms_dir) == cms_cells(cms_rebuilt)
    compact_counting_slices(spark, cms_dir, 9, ["d", "b"], "c")
    compact_counting_slices(spark, cand_dir, 9, ["t"], "c")
    cms_post_compact_match = cms_cells(cms_dir) == cms_cells(cms_rebuilt)
    exact_surv = {r.t: r.c for r in batch_term_counts(survivors).collect()}
    # estimates off the purged sketch still upper-bound the
    # surviving truth for every surviving term
    est_surv = {
        r.t: r.est
        for r in cms_estimate_from_store(
            spark,
            cms_dir,
            spark.createDataFrame([(t,) for t in exact_surv], "t string"),
        ).collect()
    }

    return {
        "n_docs": len(docs),
        "n_erased": erase.count(),
        "tok_store": {
            "immediate_drift_match_on_slice_publish": immediate_match,
            "post_compaction_drift_match": post_compact_match,
            "store_rows": store_rows,
            "rebuilt_rows": rebuilt_rows,
            "rows_match_rebuild": store_rows == rebuilt_rows,
            "compacted_upto": compaction_watermark(store),
        },
        "band_store": {
            "purged_rows_match_rebuild": got_bands == want_bands,
            "rows": len(got_bands),
            "consumed_slot_guard_raises": slot_guard,
            "watermark": compaction_watermark(bands),
        },
        "prompt_key_store": {
            "n_erased": len(pk_erase),
            "n_representatives_erased": len(set(rep_ids)),
            "repaired_clusters_match_rebuild": got_pk == want_pk,
            "clusters": len(got_pk),
            "consumed_slot_guard_raises": pk_slot_guard,
            "agg_watermark": compaction_watermark(pk_agg),
            "pairs_watermark": compaction_watermark(pk_pairs),
        },
        "length_hist_store": {
            "immediate_quantile_match_on_slice_publish": lh_immediate_match,
            "post_compaction_quantile_match": set(lh_post) == lh_want,
            "one_bin_bound_holds_vs_exact": one_bin_bound(lh_post, survivors),
            "store_rows": lh_store_rows,
            "rebuilt_rows": lh_rebuilt_rows,
            "rows_match_rebuild": lh_store_rows == lh_rebuilt_rows,
            "compacted_upto": compaction_watermark(lh_store),
        },
        "cms_sandwich_store": {
            "cms_immediate_match_on_slice_publish": cms_immediate_match,
            "cms_post_compaction_match": cms_post_compact_match,
            "cand_lower_bound_holds_post_erasure": all(
                r.lower <= exact_surv.get(r.t, 0)
                for r in hh_lower_from_store(spark, cand_dir).collect()
            ),
            "cms_upper_bound_holds_post_erasure": all(
                est_surv[t] >= c for t, c in exact_surv.items()
            ),
            "cms_watermark": compaction_watermark(cms_dir),
            "cand_watermark": compaction_watermark(cand_dir),
        },
    }


# family -> (artifact name under --out-dir, family function)
FAMILIES = {
    "token_stats": ("stream_token_stats_cluster_drive", token_stats),
    "boilerplate": ("stream_boilerplate_cluster_drive", boilerplate),
    "length_hist": ("stream_length_hist_cluster_drive", length_hist),
    "prompt_dedup": ("stream_prompt_dedup_cluster_drive", prompt_dedup),
    "bloom": ("stream_bloom_cluster_drive", bloom),
    "cms": ("stream_cms_cluster_drive", cms),
    "near_dedup": ("stream_near_dedup_compaction_drive", near_dedup),
    "postings": ("stream_postings_compaction_drive", postings),
    "index": ("stream_index_cluster_drive", index),
    "ann": ("stream_ann_cluster_drive", ann),
    "curation": ("stream_curation_cluster_drive", curation),
    "quota": ("stream_quota_cluster_drive", quota),
    "purge": ("purge_lifecycle_drive", purge),
}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument(
        "families",
        nargs="*",
        metavar="FAMILY",
        help=f"any of: {' '.join(FAMILIES)} (default: all)",
    )
    ap.add_argument("--master", default="local-cluster[2,4,4096]")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out-dir", default="bench_artifacts")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.families) - set(FAMILIES))
    if unknown:
        ap.error(f"unknown families: {' '.join(unknown)}")

    spark = get_session(
        "stream-drive",
        master=args.master,
        shuffle_partitions=8,
        extra_conf={"spark.executorEnv.PYTHONPATH": REPO},
    )
    failed = []
    try:
        spark.range(0, 100, 1, 4).selectExpr("sum(id)").collect()
        n_exec = (
            spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
        )
        os.makedirs(args.out_dir, exist_ok=True)
        with tempfile.TemporaryDirectory(prefix="stream_drive_") as work:
            d = Drive(spark, args.sf_dir, work)
            for fam in dict.fromkeys(args.families or FAMILIES):
                artifact, family = FAMILIES[fam]
                with open(os.path.join(ARTIFACTS, f"{artifact}.json")) as f:
                    want = json.load(f)
                t0 = time.perf_counter()
                report = {
                    "master": args.master,
                    "n_executors": n_exec,
                    **family(d),
                }
                out = os.path.join(args.out_dir, f"{artifact}.json")
                with open(out, "w") as f:
                    json.dump(report, f, indent=1)
                print(json.dumps(report))
                wall = time.perf_counter() - t0
                print(f"{fam}: {wall:.0f} s", file=sys.stderr)
                skip = () if want["master"] == args.master else (
                    "master", "n_executors",
                )
                bad = false_checks(report) + [
                    k for k in differing_keys(report, want) if k not in skip
                ]
                failed += [f"{artifact}: {k}" for k in dict.fromkeys(bad)]
    finally:
        spark.stop()
    if failed:
        raise SystemExit(
            "false or differing from bench_artifacts: " + ", ".join(failed)
        )


if __name__ == "__main__":
    main()
