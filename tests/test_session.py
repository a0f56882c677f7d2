"""Session sizing: shuffle partitions derived from the master's task
slots, without building a second SparkSession."""

from __future__ import annotations

import os

from synthea_etl_spark.session import _session_conf

KEY = "spark.sql.shuffle.partitions"


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
