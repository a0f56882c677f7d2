"""SparkSession factory with scale-oriented defaults.

The reference creates a bare GlueContext per job
(``Glue_Scripts/Raw_To_Staging.py:41-45``) and inherits whatever Glue
configures. Here we own the session and turn on everything that matters
at scale: AQE (runtime coalescing, skew-join splitting), Arrow for any
pandas exchange, UTC session time so results are reproducible across
engines and clusters, a whole-stage codegen cache large enough that
repeated plans reuse their compiled classes instead of recompiling them,
the engine's Python worker daemon (``worker_daemon``), whose workers
skip the per-task re-read of ``pyspark.zip`` and the spark-core jar and
the per-task collection of the Arrow stack's objects, and plan building
without PySpark's DataFrame-debugging call-site capture.

That capture (``spark.python.sql.dataFrameDebugging.enabled``, on by
default in PySpark 4.1) wraps every ``functions.*`` and ``Column`` call:
each call reads a conf over py4j, walks the Python stack (including a
failing ``import IPython`` that searches all of ``sys.path``), and sets
and clears the JVM's current origin, about nine driver->JVM round trips
where the call itself needs one. What it buys is the Python ``file:line``
"DataFrame context" attached to errors raised from DataFrame
expressions; with it off those errors carry only the JVM message and
stack, which are unchanged. PySpark reads the value once per Python
process, at the first wrapped call, so it is a session-build default:
pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
"true"}`` to the first ``get_session`` of a process to keep origins.

The JVM that ``get_session`` launches runs with JDK 17's tier-4 (C2)
thresholds x3 (``spark.driver.defaultJavaOptions``), so lukewarm
Catalyst planning code stays at C1 instead of being C2-compiled op after
op. A spark-submit or Glue driver and cluster executors do not get
them. The value replaces any ``spark.driver.defaultJavaOptions`` from
``spark-defaults.conf``; ``extra_conf={"spark.driver.defaultJavaOptions":
""}`` restores the JDK policy. Measurements and rejected options: SCALE.md, "Session defaults".
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of the host's RAM in whole GiB, capped at 32g (the cap when
    ``/proc/meminfo`` is unreadable)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal"))
    except (OSError, StopIteration, ValueError):
        return "32g"
    return f"{max(1, min(32, kb // (2 * 1024 * 1024)))}g"


# Host-independent defaults; ``_session_conf`` adds the two values sized
# from the host: shuffle partitions = 2 x the local task slots, driver
# heap = half of RAM capped at 32g.
_DEFAULTS: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and plan re-optimization from runtime stats. This is the
    # main defense against skew at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow makes any pandas_udf / toPandas exchange columnar + batched.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic time semantics: parquet timestamps are naive; pin UTC
    # so collect()/comparisons don't depend on machine timezone.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: dims (region/nation/supplier/...) broadcast
    # instead of shuffling the fact side.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Don't let tiny files fragment scans; at 100 TB this also bounds
    # task count on huge files.
    "spark.sql.files.maxPartitionBytes": "128MB",
    "spark.sql.parquet.compression.codec": "snappy",
    # The driver's events.parquet carries TIMESTAMP(NANOS), which the
    # vectorized reader rejects; read nanos as long session-wide
    # (plans.common.load_events converts to timestamp_ntz). Kept here
    # so loaders never have to mutate engine sessions at call time.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Compiled codegen classes live in one LRU per JVM (the driver, and
    # each executor on a cluster). Spark's default of 100 entries
    # thrashes: a curation_ingest run compiles ~125 distinct units (~340
    # generated classes) by its second op, and mart_etl misses even
    # below 100 (its first op and the canary compile 95 units, yet the
    # next op recompiles 26-38), because Spark builds the cache through
    # Guava, which splits maximumSize across segments. Every miss is a
    # Janino compile, a class load and a fresh JIT of the new class.
    # Generated classes average ~3 KB of bytecode (~8 KB per unit), and
    # metaspace after op 1 measured the same at 100 and 2000 entries.
    # Read once per JVM at the first codegen, so it only takes effect
    # as a session-build default.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Python workers fork from the engine's daemon (worker_daemon.py),
    # whose workers re-read a zip on the worker path only when it changed
    # on disk and inherit a frozen heap with the Arrow stack loaded. Under
    # the stock pyspark.daemon every Python task re-reads pyspark.zip and
    # the spark-core jar and then garbage-collects the whole worker heap:
    # ~260 ms of worker CPU for an empty task on CPython 3.11, ~2 ms here.
    # The package must be importable where the daemon starts: the
    # driver's working directory locally, an install or
    # spark.executorEnv.PYTHONPATH on a cluster. "pyspark.daemon"
    # restores the stock daemon.
    "spark.python.daemon.module": "synthea_etl_spark.worker_daemon",
    # No call-site capture while building plans. With it on, every
    # functions.*/Column call costs ~9 py4j round trips instead of one
    # (a conf read, a stack walk with a failing IPython import, origin
    # set/clear), paid in per-column cleaning on every load of every
    # landed table: with it on, a mart_etl op made ~22k round trips,
    # most of them building the staging frames. Lost: the Python
    # file:line "DataFrame context" in errors from DataFrame
    # expressions; the JVM message and stack are unchanged. PySpark
    # reads it once per Python process at the first wrapped call, so it
    # only takes effect as a session-build default; "true" restores it.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # C2 compiles only hot code: JDK 17's tier-4 thresholds (5000
    # invocations, 600 minimum, 15000 invocations plus loops, 40000 back
    # edges) x3; see the module docstring. A launch option of the JVM
    # get_session starts; it replaces a spark-defaults.conf value, and
    # "" restores the JDK policy.
    "spark.driver.defaultJavaOptions": (
        "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
        "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
    ),
    # local-mode niceties; harmless on a cluster.
    "spark.ui.enabled": "false",
}

# Shuffle partitions for masters that are not local. On a real cluster
# the caller passes shuffle_partitions (rule of thumb: 2-3x total cores,
# or rely on AQE coalescing from a high initial count).
_CLUSTER_SHUFFLE_PARTITIONS = 32


def _local_slots(master: str) -> int | None:
    """Task slots of a ``local``/``local[N]``/``local[*]`` master (a
    ``,F`` retry suffix allowed), None for any other master. ``*`` is
    the CPUs this process may run on, as the JVM counts them."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?", master)
    if m is None:
        return None
    n = m.group(1)
    if n is None:
        return 1
    return len(os.sched_getaffinity(0)) if n == "*" else int(n)


def _session_conf(
    master: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf ``get_session`` applies: engine defaults, then
    ``spark.sql.shuffle.partitions`` (the explicit argument, else 2 x the
    local task slots, else the cluster default) and the driver heap
    (``$SPARK_GRAFT_DRIVER_MEM``, else half of RAM capped at 32g), then
    ``extra_conf``.

    Two partitions per slot keeps every ``rebalance_by_key`` spread, and
    the Python stage behind it, at one or two tasks per core; JVM
    shuffles are coalesced by AQE either way."""
    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        slots = _local_slots(master)
        shuffle_partitions = (
            _CLUSTER_SHUFFLE_PARTITIONS if slots is None else 2 * slots
        )
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Single-JVM local mode puts ALL task slots in the driver heap: half
    # of RAM, capped at 32g (~0.5 GB of execution memory for each of 32
    # slots, the per-slot budget a real cluster executor would get; 8g
    # thrashed at sf10 on 32 slots, bench_artifacts/
    # stage_profile_sf10_r06_8g.json). The other half is left to the
    # Python workers and the page cache. Cluster deployments size
    # spark.executor.memory instead and this knob is inert.
    conf["spark.driver.memory"] = (
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory()
    )
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_session(
    app_name: str = "synthea_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``local[*]``) so the same entry point serves tests, bench, and a
    real cluster (where master comes from spark-submit and this arg
    stays None-but-ignored).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    for k, v in _session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
