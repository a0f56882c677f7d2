"""Benchmark entry point: runs one workload in this process and prints one
JSON result line last on stdout.

    python3 perfbench/run.py --workload mart_etl --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds nothing; every input is
generated from ``--seed`` under ``.perfbench_work/`` (removed on exit)
and results are kept under ``.perfbench_out/``. The session runs on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use).

A run is: set-up (session, seeded inputs and expected results, one
warm-up op, the job-floor canary), then the timed section: ops one at a
time until ``--seconds`` have passed. End-to-end metrics are CPU seconds
of the benchmark's process tree (this process, the JVM and the Python
workers): ``setup_s`` from process start to the end of set-up, and
``op_cpu_s`` the median over the timed ops. Op walls are per-layer
metrics.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also enables
the Spark event log and, after the (untraced) timed section, installs
the span wrappers, runs as many ops again traced, removes the wrappers
and runs as many once more. It prints the
per-layer metrics of the traced ops; ``trace.overhead_frac`` compares
their mean latency with that of untraced ops run before and after them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from types import SimpleNamespace

CLK_TCK = os.sysconf("SC_CLK_TCK")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_start_epoch() -> float:
    with open("/proc/self/stat") as fh:
        st = fh.read()
    start_ticks = int(st[st.rfind(")") + 2 :].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + start_ticks / CLK_TCK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty list."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def host_record(spark, args, canary) -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "ram_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "canary_best_s": canary["best_sec"],
        "canary_median_s": canary["median_sec"],
    }


class Ops:
    """Latencies, CPU times, windows, failures and inputs of a run of ops."""

    def __init__(self):
        self.lat: list[float] = []
        self.cpu: list[float] = []
        self.windows: list[tuple[float, float]] = []
        self.failed: set[int] = set()
        self.errors: list[str] = []
        self.rows = self.bytes = 0


def run_ops(wl, first: int, seconds: float, limit: int, count: int | None = None) -> Ops:
    """Run ops ``first, first + 1, ...`` one at a time: exactly ``count``
    of them, else until ``seconds`` have passed or op ``limit`` would be
    next. An op that raises or fails its (untimed) check counts as
    failed."""
    from perfbench.tracing import tree_cpu_s

    ops = Ops()
    t_start = time.time()
    i = first
    while True:
        c = tree_cpu_s(os.getpid())
        a = time.time()
        try:
            r, b = wl.run_op(i)
            ops.rows += r
            ops.bytes += b
            ok = True
        except Exception as e:
            ops.errors.append(f"op {i}: {type(e).__name__}: {str(e)[:300]}")
            ops.failed.add(i)
            ok = False
        z = time.time()
        ops.lat.append(z - a)
        ops.cpu.append(tree_cpu_s(os.getpid()) - c)
        ops.windows.append((a, z))
        if ok:
            try:
                wl.check_op(i)
            except Exception as e:
                ops.errors.append(f"op {i} check: {type(e).__name__}: {str(e)[:300]}")
                ops.failed.add(i)
        i += 1
        if count is not None:
            if i - first >= count:
                return ops
        elif time.time() - t_start >= seconds or i >= limit:
            return ops


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until it and the Python workers
    it started have exited."""
    from perfbench.tracing import descendants

    gateway = spark.sparkContext._gateway
    workers = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p) for p in workers):
        time.sleep(0.1)


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie waiting to be reaped has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            st = fh.read()
    except OSError:
        return False
    return st[st.rfind(")") + 2] != "Z"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "synthea_etl_spark", "__init__.py")):
        print(f"error: no synthea_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    # run as a script, sys.path[0] is this directory; import from the root
    if os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
        sys.path[0] = ROOT
    else:
        sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    try:
        return run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str) -> int:
    from perfbench import tracing as trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    import synthea_etl_spark.pipeline  # noqa: F401
    from synthea_etl_spark.plans import all_queries
    from synthea_etl_spark.session import get_session

    all_queries()
    t_proc0 = process_start_epoch()
    t_import = time.time()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's scratch files, perf data included, in the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
        f"-Dderby.system.home={work}/tmp -XX:-UsePerfData",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(trace.eventlog_conf(log_dir))
        # plan strings cut scan locations at 100 characters by default,
        # and plans.scan_ratio reads them
        conf["spark.sql.maxMetadataStringLength"] = "4096"
    spark = get_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    phases = {"import": t_import - t_proc0, "session": time.time() - t_import}
    try:
        r = measure(args, spark, WORKLOADS[args.workload], work, phases)
    finally:
        stop_session(spark)  # also flushes the event log
    metrics = end_to_end_metrics(r.setup_cpu, r.timed)
    if args.trace:
        metrics = layer_metrics(r, trace.read_eventlog(log_dir), phases)
    result = {
        "correct": not r.failed,
        "attempted": r.n_ops,
        "failed": len(r.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    r.host.update(phases_s=phases, input_rows=r.timed.rows, input_bytes=r.timed.bytes,
                  ops=r.n_ops, op_latencies_s=r.timed.lat, op_cpu_s=r.timed.cpu,
                  errors=r.errors)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(dict(result, host=r.host), fh, indent=1)
    for e in r.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print("host: " + json.dumps(r.host, sort_keys=True))
    print(json.dumps(result))
    return 0


def measure(args, spark, workload, work: str, phases: dict) -> SimpleNamespace:
    """Set-up, timed section and (with ``--trace 1``) traced section of
    one run, then every output check. Fills ``phases`` with wall times."""
    import bench
    from perfbench import tracing as trace

    r = SimpleNamespace(tracer=trace.Tracer(spark) if args.trace else None)
    wl = r.wl = workload(spark, work, args.seed, r.tracer)
    t0 = time.time()
    wl.prepare()
    t1 = time.time()
    warm = run_ops(wl, 0, 0, 1, count=1)
    t2 = time.time()
    r.canary = bench.measure_canary(spark, runs=3)
    t3 = time.time()
    r.setup_cpu = trace.tree_cpu_s(os.getpid())
    phases.update(inputs=t1 - t0, warmup=t2 - t1, canary=t3 - t2)

    # a traced run then runs as many ops traced and again untraced: ops
    # still get faster as the JIT warms, so the untraced reference is
    # the ops before and after the traced ones
    limit = 1 + (wl.max_ops - 1) // 3 if args.trace else wl.max_ops
    ticks0 = cpu_ticks()
    r.timed = run_ops(wl, 1, args.seconds, limit)
    ticks1 = cpu_ticks()
    t4 = time.time()
    runs = [warm, r.timed]
    r.n_ops = 1 + len(r.timed.lat)
    if r.tracer is not None:
        wl.install_trace()
        r.tracer.installed = True
        r.sampler = trace.ProcSampler(spark.sparkContext._gateway.proc.pid).start()
        k = len(r.timed.lat)
        r.traced = run_ops(wl, r.n_ops, 0, 0, count=k)
        r.py_cpu = r.sampler.stop()
        r.tracer.uninstall()
        r.after = run_ops(wl, r.n_ops + k, 0, 0, count=k)
        runs += [r.traced, r.after]
        r.n_ops += 2 * k
    t5 = time.time()
    r.failed = set().union(*(o.failed for o in runs))
    r.errors = [e for o in runs for e in o.errors]
    try:
        r.failed.update(wl.final_check(r.n_ops))
    except Exception as e:
        r.errors.append(f"final check: {type(e).__name__}: {str(e)[:300]}")
        r.failed.update(range(r.n_ops))
    r.stored, r.stored_input = wl.stored()
    r.host = host_record(spark, args, r.canary)
    # CPU time the hypervisor gave to other guests during the timed
    # section: walls taken under a high share are not a baseline
    r.host["steal_frac"] = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    phases.update(timed=t4 - t3, traced=t5 - t4, checks=time.time() - t5)
    return r


def end_to_end_metrics(setup_cpu: float, timed: Ops) -> dict:
    """CPU seconds, not walls: on a VM that shares its host, walls of the
    same run swing with the CPU time the hypervisor gives other guests
    (ops took 1.5-2x longer at 15-25% steal than at 0-5% on a 4-vCPU
    VM), while CPU time moved by a fifth at most."""
    return {
        "setup_s": (setup_cpu, "s"),
        "op_cpu_s": (statistics.median(timed.cpu), "s"),
    }


def layer_metrics(r, events: list[dict], setup: dict) -> dict:
    """Per-layer metrics of the traced ops of run ``r`` (see ``measure``)."""
    from perfbench.tracing import summarize_jobs

    wl, tracer, sampler, lat = r.wl, r.tracer, r.sampler, r.traced.lat
    n = len(lat)
    op_wall = sum(lat)
    cores = r.host["spark_graft_cpus"]
    jobs = summarize_jobs(events, r.traced.windows)
    header_jobs = summarize_jobs(events, r.traced.windows, group="sources:repair_csv")["jobs"]
    L = wl.layer
    self_s = tracer.self_s
    layers = ("plans", "pipeline", "sources", "marts", "scd2", "stream",
              "store.publish", "store.compact", "store.gc", "store.read")
    covered = sum(self_s.get(k, 0.0) for k in layers)
    written = tracer.fs["bytes_written"]
    live = r.stored if wl.has_stores else 0
    m = {
        "session.import_s": (setup["import"], "s"),
        "session.start_s": (setup["session"], "s"),
        "session.inputs_s": (setup["inputs"], "s"),
        "session.warmup_s": (setup["warmup"], "s"),
        "plans.build_s": (L.get("plans.build_s", 0.0) / n, "s"),
        "plans.action_s": (L.get("plans.action_s", 0.0) / n, "s"),
        "plans.catalyst_s": (L.get("plans.catalyst_s", 0.0) / n, "s"),
        "plans.scan_ratio": (
            L.get("plans.scan_ratio_sum", 0.0) / max(L.get("plans.scan_ratio_n", 0.0), 1),
            "ratio",
        ),
        "spark.jobs_per_op": (jobs["jobs"] / n, "count"),
        "spark.stages_per_op": (jobs["stages"] / n, "count"),
        "spark.tasks_per_op": (jobs["tasks"] / n, "count"),
        "spark.failed_tasks": (jobs["failed_tasks"], "count"),
        "spark.job_floor_s": (r.canary["best_sec"], "s"),
        "executor.run_s": (jobs["run_s"] / n, "s"),
        "executor.cpu_s": (jobs["cpu_s"] / n, "s"),
        "executor.gc_s": (jobs["gc_s"] / n, "s"),
        "executor.busy_frac": (jobs["run_s"] / (op_wall * cores), "ratio"),
        "shuffle.write_bytes": (jobs["shuffle_write_bytes"] / n, "B"),
        "shuffle.read_bytes": (jobs["shuffle_read_bytes"] / n, "B"),
        "shuffle.fetch_wait_s": (jobs["fetch_wait_s"] / n, "s"),
        "spill.disk_bytes": (jobs["spill_disk_bytes"] / n, "B"),
        "python_worker.cpu_s": (r.py_cpu / n, "s"),
        "python_worker.share": (r.py_cpu / max(r.py_cpu + jobs["cpu_s"], 1e-9), "ratio"),
        "python_worker.rss_mb_peak": (sampler.worker_rss_peak / 2**20, "MiB"),
        "peak_rss_mb": (sampler.rss_peak / 2**20, "MiB"),
        "sources.repair_csv_s": (tracer.total_s.get("repair_csv", 0.0) / n, "s"),
        "sources.header_jobs": (header_jobs / n, "count"),
        "pipeline.stage_table_s": (tracer.total_s.get("stage_table", 0.0) / n, "s"),
        "marts.build_s": (tracer.total_s.get("build_patient_mart", 0.0) / n, "s"),
        "scd2.write_swap_s": (tracer.total_s.get("write_swap", 0.0) / n, "s"),
        "scd2.rows_inserted": (L.get("scd2.rows_inserted", 0.0) / n, "count"),
        "mart.bytes_written": (L.get("mart.bytes_written", 0.0) / n, "B"),
        "stream.trigger_ms": (L.get("stream.trigger_ms", 0.0) / n, "ms"),
        "stream.add_batch_ms": (L.get("stream.add_batch_ms", 0.0) / n, "ms"),
        "stream.planning_ms": (L.get("stream.planning_ms", 0.0) / n, "ms"),
        "stream.commit_ms": (L.get("stream.commit_ms", 0.0) / n, "ms"),
        "stream.batches": (L.get("stream.batches", 0.0) / n, "count"),
        "stream.input_rows": (L.get("stream.input_rows", 0.0) / n, "count"),
        "store.publish_s": (self_s.get("store.publish", 0.0) / n, "s"),
        "store.compact_s": (self_s.get("store.compact", 0.0) / n, "s"),
        "store.gc_s": (self_s.get("store.gc", 0.0) / n, "s"),
        "store.read_s": (L.get("store.read_wall_s", 0.0) / n, "s"),
        "store.files": (wl.store_files(), "count"),
        "store.bytes_live": (live, "B"),
        "store.bytes_written": (written / n, "B"),
        "store.write_amp": (written / live if live else 0.0, "ratio"),
        "store.fs_ops": ((tracer.fs["created"] + tracer.fs["deleted"]) / n, "count"),
        "trace.coverage": (covered / op_wall, "ratio"),
        "trace.overhead_frac": (
            statistics.mean(lat) / statistics.mean(r.timed.lat + r.after.lat) - 1.0, "ratio"
        ),
        "trace.instrument_s": ((tracer.overhead_s + sampler.busy_s) / n, "s"),
        "rows_per_s": (r.traced.rows / op_wall, "rows/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (quantile(lat, 0.9), "s"),
        "op_count": (n, "count"),
        "error_rate": (len(r.failed) / r.n_ops, "ratio"),
        "stored_bytes_per_input_byte": (
            r.stored / r.stored_input if r.stored_input else 0.0, "ratio"
        ),
    }
    for k in layers:
        m[f"trace.self_s.{k}"] = (self_s.get(k, 0.0) / n, "s")
    m["trace.self_s.untraced"] = (max(op_wall - covered, 0.0) / n, "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
