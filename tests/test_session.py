"""Session sizing: shuffle partitions derived from the master's task
slots, without building a second SparkSession, a codegen cache that
holds more compiled classes than Spark's default of 100, plan
building without PySpark's call-site capture, and a driver JVM whose C2
compiles only hot code."""

from __future__ import annotations

import os

from pyspark.errors import utils as errors_utils

from synthea_etl_spark.session import _session_conf

KEY = "spark.sql.shuffle.partitions"
CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
DEFAULT_JAVA = "spark.driver.defaultJavaOptions"
C2_FLAGS = {
    "-XX:Tier4InvocationThreshold=15000",
    "-XX:Tier4MinInvocationThreshold=1800",
    "-XX:Tier4CompileThreshold=45000",
    "-XX:Tier4BackEdgeThreshold=120000",
}


def test_shuffle_partitions_are_twice_the_local_task_slots():
    assert _session_conf("local[4]")[KEY] == "8"
    assert _session_conf("local")[KEY] == "2"
    assert _session_conf("local[*]")[KEY] == str(2 * len(os.sched_getaffinity(0)))
    assert _session_conf("local[3, 2]")[KEY] == "6"
    # the explicit argument wins, and extra_conf over both
    assert _session_conf("local[4]", shuffle_partitions=5)[KEY] == "5"
    assert _session_conf("local[4]", 5, {KEY: "7"})[KEY] == "7"
    # masters that are not local keep the cluster default
    for master in ("spark://head:7077", "yarn", "local-cluster[2,1,1024]"):
        assert _session_conf(master)[KEY] == "32"


def test_codegen_cache_keeps_compiled_classes(spark):
    assert _session_conf("local[4]")[CODEGEN_CACHE] == "2000"
    assert _session_conf("local[4]", extra_conf={CODEGEN_CACHE: "50"})[CODEGEN_CACHE] == "50"
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_set():
        # integer literals are inlined into the generated code, so each
        # frame compiles its own class: 150 of them, more than Spark's
        # default cache of 100 holds
        for i in range(2, 152):
            spark.range(1).selectExpr(f"id * {i} + {i}").collect()

    run_set()
    before = compiles.getCount()
    run_set()
    assert compiles.getCount() - before == 0


def test_dataframe_debugging_defaults_off():
    assert _session_conf("local[4]")[DEBUGGING] == "false"
    assert _session_conf("local[4]", extra_conf={DEBUGGING: "true"})[DEBUGGING] == "true"


def test_session_builds_plans_without_call_site_capture(spark, monkeypatch):
    """No call-site capture around functions.*/Column calls. PySpark
    reads the conf once per process and caches it, so the cache is
    cleared to read it again from the test session."""
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    assert errors_utils.is_debugging_enabled() is False


def test_c2_thresholds_are_engine_defaults():
    assert set(_session_conf("local[4]")[DEFAULT_JAVA].split()) == C2_FLAGS
    # a caller's extraJavaOptions (perfbench passes its tmpdir flags so)
    # leave them in place; an empty defaultJavaOptions clears them
    conf = _session_conf("local[4]", extra_conf={"spark.driver.extraJavaOptions": "-Dx=1"})
    assert set(conf[DEFAULT_JAVA].split()) == C2_FLAGS
    assert conf["spark.driver.extraJavaOptions"] == "-Dx=1"
    assert _session_conf("local[4]", extra_conf={DEFAULT_JAVA: ""})[DEFAULT_JAVA] == ""


def test_session_jvm_runs_with_c2_thresholds(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("Tier4InvocationThreshold").getValue() == "15000"
    assert bean.getVMOption("Tier4BackEdgeThreshold").getValue() == "120000"
