"""The benchmark's workloads. Each one generates its inputs and expected
results from the seed (``prepare``), runs closed-loop ops (``run_op``),
checks every output, and reports its layer numbers (``layer``).

Op 0 is the warm-up op: the same work as every timed op, run before the
timed section and counted in the set-up time, so that the timed ops do
not measure first-use class loading, JIT and code generation. Every op
of a workload is the same kind of work, so runs that complete a
different number of ops stay comparable.
"""

from __future__ import annotations

import contextlib
import csv
import os
import re
import time

from perfbench import gen_docs, gen_synthea
from perfbench.tracing import _tree_bytes


class OpFailed(Exception):
    pass


class Workload:
    name = ""
    max_ops = 8  # warm-up op included; bounds the generated inputs
    has_stores = False

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.layer: dict[str, float] = {}

    def span(self, layer: str, name: str, store_path: str | None = None):
        if self.tracer is None or not self.tracer.installed:
            return contextlib.nullcontext()
        return self.tracer.span(layer, name, store_path)

    def add(self, key: str, value: float) -> None:
        if self.tracer is not None and self.tracer.installed:
            self.layer[key] = self.layer.get(key, 0.0) + value

    # hooks
    def prepare(self) -> None: ...
    def install_trace(self) -> None: ...
    def run_op(self, i: int) -> tuple[int, int]:
        """Run op ``i``; return (input rows, input bytes)."""
        raise NotImplementedError

    def check_op(self, i: int) -> None:
        """Raise OpFailed if op ``i``'s output is wrong (untimed)."""

    def final_check(self, n_ops: int) -> list[int]:
        """Indices of ops whose outputs fail a whole-run check."""
        return []

    def stored(self) -> tuple[int, int]:
        """(live output bytes, input bytes they were made from)."""
        return 0, 0

    def store_files(self) -> int:
        return 0


# ------------------------------------------------------------ mart_etl


def _read_dirty_csv(path: str) -> tuple[list[str], list[list[str | None]]]:
    """The reference's repair semantics in plain Python: csv.reader with
    skipinitialspace, rows padded/truncated to the header, names
    normalized, unnamed columns dropped, strings trimmed, '' -> NULL."""
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh, skipinitialspace=True))
    header = [re.sub(r"\W+", "_", h.strip().lower()).strip("_") for h in rows[0]]
    keep = [i for i, h in enumerate(header) if h]
    out = []
    for r in rows[1:]:
        if not any(v.strip() for v in r):
            continue
        r = (r + [""] * len(header))[: len(header)]
        out.append([(r[i].strip() or None) for i in keep])
    return [header[i] for i in keep], out


FACT_SQL = """
WITH p AS (
  SELECT id, address, city, state, TRY_CAST(zip AS INTEGER) AS zip FROM patients
), enc AS (
  SELECT patient, COUNT(*) AS n FROM (SELECT DISTINCT * FROM encounters) GROUP BY patient
), cond AS (
  SELECT patient, COUNT(*) AS n FROM (SELECT DISTINCT * FROM conditions) GROUP BY patient
), pt AS (
  SELECT patient, payer, ROW_NUMBER() OVER (
    PARTITION BY patient ORDER BY start_date DESC, payer ASC) AS rn
  FROM payer_transitions
)
SELECT p.id AS patient_id,
  CASE WHEN p.zip IS NULL THEN NULL ELSE sha256(concat_ws('|', p.address,
    p.city, p.state, CAST(p.zip AS VARCHAR), '{load_ts}')) END AS location_sk,
  COALESCE(enc.n, 0) AS total_encounters,
  COALESCE(cond.n, 0) AS total_conditions,
  pt.payer AS payer_id
FROM p
LEFT JOIN enc ON enc.patient = p.id
LEFT JOIN cond ON cond.patient = p.id
LEFT JOIN pt ON pt.patient = p.id AND pt.rn = 1
"""
FACT_COLS = ["patient_id", "location_sk", "total_encounters", "total_conditions", "payer_id"]


class MartEtl(Workload):
    """One Synthea load date through ``pipeline.run_batch_pipeline``:
    CSV repair, registry clean, partitioned staging, SCD2 dims and the
    patient fact written with the temp-swap writer.

    Every op is the initial load of the first generated date into its
    own staging and mart directories. It stages the four tables of the
    patient fact (``TABLES``) of the 18 landed, so the mart gets the
    fact and the two dims built from ``patients``; each more table adds
    about 2.5 s of staging to an op on a 4-vCPU VM. A second
    load over an existing mart is not used: on this engine it fails
    with FAILED_READ_FILE on ``dim_location`` (``write_swap`` deletes
    the old dim while the fact still reads it lazily)."""

    name = "mart_etl"
    TABLES = ("patients", "encounters", "conditions", "payer_transitions")

    def prepare(self) -> None:
        import duckdb

        from tools.selfcheck import table_hash

        self.landing = os.path.join(self.work, "landing")
        self.plan = gen_synthea.write_landing(self.landing, self.seed, 1)
        self.date = self.plan["dates"][0]
        self.input_rows = sum(self.plan["rows"][self.date][t] for t in self.TABLES)
        self.input_bytes = sum(self.plan["bytes"][self.date][t] for t in self.TABLES)
        con = duckdb.connect()
        for table in self.TABLES:
            names, data = _read_dirty_csv(
                os.path.join(self.landing, self.date, table, f"{table}.csv")
            )
            con.execute(f"CREATE TABLE {table} ({', '.join(f'{n} VARCHAR' for n in names)})")
            con.executemany(f"INSERT INTO {table} VALUES ({', '.join('?' * len(names))})", data)
        want = con.execute(FACT_SQL.format(load_ts=f"{self.date} 00:00:00")).fetchall()
        con.close()
        self.expected_fact = table_hash(FACT_COLS, want)

    def _out(self, i: int) -> str:
        return os.path.join(self.work, "out", f"op{i}")

    def install_trace(self) -> None:
        from synthea_etl_spark import pipeline

        t = self.tracer
        t.wrap(pipeline, "run_batch_pipeline", "pipeline")
        t.wrap(pipeline, "stage_table", "pipeline")
        t.wrap(pipeline, "repair_csv", "sources")
        t.wrap(pipeline, "build_patient_mart", "marts")
        t.wrap(pipeline, "write_swap", "scd2")

    def run_op(self, i: int) -> tuple[int, int]:
        from synthea_etl_spark import pipeline
        from synthea_etl_spark.sources.schema_registry import bundled_registry_dir

        out = self.last_out = self._out(i)
        os.makedirs(os.path.join(out, "mart"))
        self.result = pipeline.run_batch_pipeline(
            self.spark,
            self.landing,
            bundled_registry_dir(),
            os.path.join(out, "staging"),
            os.path.join(out, "mart"),
            self.date,
            list(self.TABLES),
        )
        if self.tracer is not None and self.tracer.installed:
            self.add("mart.bytes_written", sum(_tree_bytes(out).values()))
        return self.input_rows, self.input_bytes

    def check_op(self, i: int) -> None:
        from pyspark.sql import functions as F

        from tools.selfcheck import table_hash

        dims = [d for d in self.result if d.startswith("dim_")]
        if sorted(dims) != ["dim_location", "dim_patient"]:
            raise OpFailed(f"unexpected mart dims {sorted(dims)}")
        for dim in dims:
            want_active, want_expired = self.plan["expected_dims"][self.date][dim]
            got = self.result[dim].agg(
                F.sum(F.col("is_active").cast("int")).alias("a"),
                F.sum((~F.col("is_active")).cast("int")).alias("e"),
            ).collect()[0]
            if (got["a"], got["e"]) != (want_active, want_expired):
                raise OpFailed(f"{dim}: {(got['a'], got['e'])} != {(want_active, want_expired)}")
            self.add("scd2.rows_inserted", got["a"] + got["e"])
        got = [tuple(r) for r in self.result["fact_patient"].select(*FACT_COLS).collect()]
        if table_hash(FACT_COLS, got) != self.expected_fact:
            raise OpFailed("fact_patient differs from the DuckDB recompute")

    def stored(self) -> tuple[int, int]:
        """The last op's staging and mart, against one date's input."""
        return sum(_tree_bytes(self.last_out).values()), self.input_bytes


# ----------------------------------------------------- curation_ingest

STREAMS = ("token_stats", "bloom", "cms_sandwich")

# Exact dedup (plans + Catalyst, JVM only) and the Gopher repetition
# filter (one mapInArrow pass in the Python workers).
QUERIES = ("q30_doc_exact_dedup", "q184_gopher_repetition_filter")


def _scan_ratio(plan: str) -> float | None:
    """Base-table scan nodes in an executed plan / distinct tables read."""
    paths = re.findall(r"Location: \w+(?:\([^)]*\))?\[([^\]]+)\]", plan)
    if not paths:
        return None
    return len(paths) / len(set(paths))


class CurationIngest(Workload):
    """The LLM-data path, one op per landed micro-batch:

    1. a 500-document JSON batch is drained (``availableNow``) through
       the three counting-store ingest streams (token stats, Bloom,
       Count-Min sandwich);
    2. every store is compacted and garbage-collected, and the store
       readers run, inline;
    3. two curation queries (``QUERIES``) run on the seeded 500-document
       corpus: ``QuerySpec.fn`` builds the frame and ``collect`` runs it.

    Store readers are checked against a batch recompute over the union
    of the landed batches at the end of the run; query results against
    their DuckDB oracles after every op.

    ``near_dedup_ingest_stream`` (the rows store) is not run: on a
    4-vCPU VM it alone took 14-26 s per batch, longer than the rest of
    the op, which the benchmark's run budget does not allow."""

    name = "curation_ingest"
    has_stores = True
    batch_docs = 500
    corpus_docs = 500
    landed_bytes = 0

    def prepare(self) -> None:
        import duckdb
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from synthea_etl_spark.plans import all_queries
        from tools.selfcheck import table_hash

        self.staged = os.path.join(self.work, "batches")
        self.landing = os.path.join(self.work, "landing")
        self.stores = os.path.join(self.work, "stores")
        self.ckpt = os.path.join(self.work, "checkpoints")
        for d in (self.landing, self.stores, self.ckpt):
            os.makedirs(d, exist_ok=True)
        self.batches = gen_docs.write_batches(self.staged, self.seed, self.max_ops, self.batch_docs)
        self.store = {k: os.path.join(self.stores, k) for k in ("tok", "bloom", "cms", "cand")}
        self.schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("lang", StringType()),
                StructField("n_chars", LongType()),
                StructField("source", StringType()),
                StructField("text", StringType()),
            ]
        )
        self.data = os.path.join(self.work, "data")
        self.corpus = gen_docs.write_documents(self.data, self.seed + 1, self.corpus_docs)
        registry = all_queries()
        self.specs = {q: registry[q] for q in QUERIES}
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{self.data}/documents.parquet'")
        self.expected = {}
        for q, spec in self.specs.items():
            rel = con.sql(spec.oracle)
            self.expected[q] = table_hash(rel.columns, rel.fetchall())
        con.close()

    def install_trace(self) -> None:
        from synthea_etl_spark.operators import dedup

        t = self.tracer
        for f in ("token_stats_store", "bloom_store", "publish_counting_slice"):
            t.wrap(dedup, f, "store.publish")
        t.wrap(dedup, "compact_counting_slices", "store.compact", store_arg=1)
        t.wrap(dedup, "gc_counting_slices", "store.gc", store_arg=0)
        for f in (
            "counting_store_totals",
            "bloom_probe_from_store",
            "cms_estimate_from_store",
            "hh_lower_from_store",
        ):
            t.wrap(dedup, f, "store.read")

    def _start(self, stream: str):
        from synthea_etl_spark import pipeline

        s, land, ck, sch = self.store, self.landing, self.ckpt, self.schema
        spark = self.spark
        if stream == "token_stats":
            return pipeline.token_stats_ingest_stream(spark, land, s["tok"], f"{ck}/tok", sch)
        if stream == "bloom":
            return pipeline.bloom_ingest_stream(spark, land, s["bloom"], f"{ck}/bloom", sch)
        return pipeline.cms_sandwich_ingest_stream(
            spark, land, s["cms"], s["cand"], f"{ck}/cms", sch
        )

    def run_op(self, i: int) -> tuple[int, int]:
        b = self.batches[i]
        batch_dir = os.path.join(self.landing, f"batch{i}")
        os.replace(b["dir"], batch_dir)
        self.landed_bytes += b["bytes"]
        for stream in STREAMS:
            with self.span("stream", stream, self.stores):
                q = self._start(stream)
                q.awaitTermination()
            if q.exception() is not None:
                raise OpFailed(f"{stream}: {q.exception()}")
            for p in q.recentProgress if self.tracer is not None else ():
                dur = p.durationMs or {}
                self.add("stream.trigger_ms", dur.get("triggerExecution", 0))
                self.add("stream.add_batch_ms", dur.get("addBatch", 0))
                self.add("stream.planning_ms", dur.get("queryPlanning", 0))
                self.add("stream.commit_ms", dur.get("walCommit", 0) + dur.get("commitOffsets", 0))
                self.add("stream.batches", 1)
                self.add("stream.input_rows", p.numInputRows)
        self._lifecycle(i, batch_dir)
        self.rows = {}
        for q in QUERIES:
            self._query(q)
        return (
            b["rows"] + len(QUERIES) * self.corpus_docs,
            b["bytes"] + len(QUERIES) * self.corpus["bytes"],
        )

    def _lifecycle(self, upto: int, batch_dir: str) -> None:
        from pyspark.sql import functions as F

        from synthea_etl_spark.operators import dedup

        s, spark = self.store, self.spark
        with self.span("store.compact", "lifecycle", self.stores):
            dedup.compact_counting_slices(spark, s["tok"], upto, ["source", "t"], "c")
            dedup.compact_counting_slices(spark, s["bloom"], upto, ["b"], "c")
            dedup.compact_counting_slices(spark, s["cms"], upto, ["d", "b"], "c")
            dedup.compact_counting_slices(spark, s["cand"], upto, ["t"], "c")
        with self.span("store.gc", "lifecycle", self.stores):
            for k in ("tok", "bloom", "cms", "cand"):
                dedup.gc_counting_slices(s[k])
        t0 = time.perf_counter()
        with self.span("store.read", "readers"):
            batch = spark.read.schema(self.schema).json(batch_dir)
            probes = batch.select(dedup.doc_fingerprint("text").alias("fp")).limit(50)
            terms = spark.createDataFrame([(t,) for t in gen_docs.VOCAB], "t string")
            dedup.counting_store_totals(spark, s["tok"], ["source", "t"], "c").count()
            dedup.bloom_probe_from_store(spark, s["bloom"], probes).collect()
            dedup.cms_estimate_from_store(spark, s["cms"], terms).collect()
            dedup.hh_lower_from_store(spark, s["cand"]).filter(F.col("lower") > 0).count()
        self.add("store.read_wall_s", time.perf_counter() - t0)

    def _query(self, q: str) -> None:
        t0 = time.perf_counter()
        with self.span("plans", "build"):
            df = self.specs[q].fn(self.spark, self.data)
        t1 = time.perf_counter()
        with self.span("plans", "action"):
            self.rows[q] = (df.columns, [tuple(r) for r in df.collect()])
        t2 = time.perf_counter()
        if self.tracer is not None and self.tracer.installed:
            self.add("plans.build_s", t1 - t0)
            self.add("plans.action_s", t2 - t1)
            qe = df._jdf.queryExecution()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                self.add("plans.catalyst_s", it.next()._2().durationMs() / 1000.0)
            ratio = _scan_ratio(qe.executedPlan().toString())
            if ratio is not None:
                self.add("plans.scan_ratio_sum", ratio)
                self.add("plans.scan_ratio_n", 1)

    def check_op(self, i: int) -> None:
        from tools.selfcheck import table_hash

        for q, (cols, rows) in self.rows.items():
            if table_hash(cols, rows) != self.expected[q]:
                raise OpFailed(f"{q}: result hash differs from its DuckDB oracle")

    def final_check(self, n_ops: int) -> list[int]:
        """Each store reader against a batch recompute over the union of
        the landed batches; a mismatch fails every op (the stores are
        cumulative)."""
        from pyspark.sql import functions as F

        from synthea_etl_spark.operators import dedup
        from tools.selfcheck import table_hash

        spark, s = self.spark, self.store
        union = spark.read.schema(self.schema).option("recursiveFileLookup", True).json(
            self.landing
        )

        def same(a, b) -> bool:
            return table_hash(a.columns, [tuple(r) for r in a.collect()]) == table_hash(
                b.columns, [tuple(r) for r in b.select(*a.columns).collect()]
            )

        def summed(df, keys):
            return df.groupBy(*keys).agg(F.sum("c").cast("long").alias("c")).filter(
                F.col("c") != 0
            )

        tc = dedup.batch_term_counts(union)
        self.checks = {
            "token_stats": same(
                dedup.counting_store_totals(spark, s["tok"], ["source", "t"], "c"),
                summed(dedup.token_stats_slice(union), ["source", "t"]),
            ),
            "bloom": same(
                dedup.counting_store_totals(spark, s["bloom"], ["b"], "c"),
                summed(dedup.bloom_slice(union), ["b"]),
            ),
            "cms": same(
                dedup.counting_store_totals(spark, s["cms"], ["d", "b"], "c"),
                summed(dedup.cms_slice_from_counts(tc), ["d", "b"]),
            ),
            "cms_candidates": dedup.hh_lower_from_store(spark, s["cand"])
            .join(tc, "t", "left")
            .filter(F.coalesce(F.col("c"), F.lit(0)) < F.col("lower"))
            .count()
            == 0,
        }
        return [] if all(self.checks.values()) else list(range(n_ops))

    def stored(self) -> tuple[int, int]:
        """The stores, against every batch landed into them."""
        return sum(_tree_bytes(self.stores).values()), self.landed_bytes

    def store_files(self) -> int:
        return sum(1 for p in _tree_bytes(self.stores) if p.endswith(".parquet"))


WORKLOADS = {w.name: w for w in (MartEtl, CurationIngest)}
