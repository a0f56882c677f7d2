"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import compare, gen_docs, gen_synthea, run, tracing  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_synthea_generator_is_deterministic(tmp_path):
    plans = [gen_synthea.write_landing(str(tmp_path / n), 7, 3, 40) for n in "ab"]
    assert plans[0] == plans[1]
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    gen_synthea.write_landing(str(tmp_path / "c"), 8, 3, 40)
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_synthea_generator_plants_dirt_and_plan(tmp_path):
    plan = gen_synthea.write_landing(str(tmp_path), 3, 2, 40)
    d0, d1 = plan["dates"]
    for table in gen_synthea.SYNTHEA_TABLES:
        assert os.path.exists(tmp_path / d0 / table / f"{table}.csv")
    header, *rows = (tmp_path / d0 / "patients" / "patients.csv").read_text().splitlines()
    assert header.endswith(",") and header != header.lower()  # unnamed, mixed case
    assert '"1 Elm St, Apt 1"' in rows[0]  # quoted comma
    cond = (tmp_path / d0 / "conditions" / "conditions.csv").read_text().splitlines()[1:]
    assert len(cond) > len(set(cond))  # exact duplicates
    obs = (tmp_path / d0 / "observations" / "observations.csv").read_text()
    assert " or " in obs
    # the second load expires exactly the planned changes
    assert plan["expected_dims"][d0]["dim_patient"] == (40, 0)
    assert plan["expected_dims"][d1]["dim_patient"] == (40, 4)
    assert plan["expected_dims"][d1]["dim_medication"][1] == 8


def test_doc_generators_are_deterministic(tmp_path):
    for n in "ab":
        gen_docs.write_documents(str(tmp_path / n / "corpus"), 5, 300)
        gen_docs.write_batches(str(tmp_path / n / "batches"), 5, 3, 100)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    batches = gen_docs.write_batches(str(tmp_path / "c"), 5, 3, 100)
    assert [len(b["copy_ids"]) for b in batches] == [0, 5, 5]


def test_doc_generator_follows_measured_process():
    docs = gen_docs.documents(3, 4000)
    tokens = [d["text"].split() for d in docs]
    near = [t for t in tokens if t[-1] == "dup"]
    assert 0.04 < len(near) / len(docs) < 0.06
    assert all(10 <= len(t) <= 99 for t in tokens if t[-1] != "dup")
    assert {w for t in tokens for w in t} == set(gen_docs.VOCAB) | {"dup"}
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    assert 0.37 < sum(d["lang"] == "en" for d in docs) / len(docs) < 0.43


def test_eventlog_parser_on_recorded_log():
    events = tracing.read_eventlog(os.path.join(HERE, "testdata", "eventlog"))
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    lo = min(e["Submission Time"] for e in starts) / 1000.0
    hi = max(e["Submission Time"] for e in starts) / 1000.0
    s = tracing.summarize_jobs(events, [(lo, hi)])
    assert s["jobs"] == len(starts) == 2
    assert s["tasks"] == 5 and s["failed_tasks"] == 0
    assert s["shuffle_write_bytes"] > 0 and s["shuffle_read_bytes"] > 0
    assert s["run_s"] > 0 and s["cpu_s"] > 0
    # a job group filter and an empty window select nothing else
    assert tracing.summarize_jobs(events, [(lo, hi)], group="g:second")["jobs"] == 1
    assert tracing.summarize_jobs(events, [(0.0, 1.0)])["jobs"] == 0


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metric_names_are_declared():
    bench = _benchmark()
    ops = run.Ops()
    ops.lat, ops.cpu, ops.windows, ops.rows = [1.0], [2.0], [(0.0, 1.0)], 10
    e2e = run.end_to_end_metrics(1.0, ops)
    assert set(e2e) == {m["name"] for m in bench["end_to_end"]}
    r = SimpleNamespace(
        wl=SimpleNamespace(layer={}, has_stores=True, store_files=lambda: 0),
        tracer=SimpleNamespace(self_s={}, total_s={}, overhead_s=0.0,
                               fs={"created": 0, "deleted": 0, "bytes_written": 0}),
        sampler=SimpleNamespace(rss_peak=0, worker_rss_peak=0, busy_s=0.0),
        traced=ops, timed=ops, after=ops, n_ops=3, failed=set(), py_cpu=0.0, stored=0,
        stored_input=0, canary={"best_sec": 0.1}, host={"spark_graft_cpus": 4},
    )
    setup = dict.fromkeys(("import", "session", "inputs", "warmup"), 1.0)
    layer = run.layer_metrics(r, [], setup)
    assert set(layer) == {m["name"] for m in bench["per_layer"]}
    for spec in bench["end_to_end"]:
        assert e2e[spec["name"]][1] == spec["unit"]
    for spec in bench["per_layer"]:
        assert layer[spec["name"]][1] == spec["unit"]


def test_workloads_match_benchmark_json():
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in _benchmark()["workloads"]} == set(WORKLOADS)


def _result(workload: str, cpus: int, value: float) -> dict:
    return {
        "metrics": {"op_p50_s": {"value": value, "unit": "s"}},
        "host": {"workload": workload, "trace": 0, "nproc": cpus, "spark_graft_cpus": cpus},
    }


def test_compare_refuses_different_cpu_counts():
    with pytest.raises(ValueError):
        compare.compare([_result("w", 4, 1.0)], [_result("w", 32, 1.0)])
    rows = compare.compare(
        [_result("w", 4, v) for v in (1.0, 1.1, 0.9)],
        [_result("w", 4, v) for v in (2.0, 2.2, 1.8)],
    )
    assert rows[0][1] == "op_p50_s" and rows[0][4] == pytest.approx(1.0)


def test_quantile():
    assert run.quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert run.quantile([5.0], 0.9) == 5.0
