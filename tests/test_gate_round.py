"""Gate rotation: the round counter comes from the round records at the
repository root, so it advances without a hand edit."""

from __future__ import annotations

import os

from synthea_etl_spark.plans import common


def test_gate_round_counts_correctness_records(tmp_path):
    assert common.gate_round(str(tmp_path)) == common.GATE_ROUND_FALLBACK
    for i in (1, 2, 3):
        (tmp_path / f"CORRECTNESS_r{i:02d}.json").write_text("{}")
    (tmp_path / "BENCH_r04.json").write_text("{}")
    assert common.gate_round(str(tmp_path)) == 4


def test_gate_round_reads_the_repository_root():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert os.path.samefile(common.REPO_ROOT, root)
    assert common.gate_round() == common.gate_round(root) > 1
