"""tools/stream_drive.py: its pass/fail rule, its guard against a
stream that does not finish, and one family run end to end against
the committed artifact."""

from __future__ import annotations

import glob
import json
import os

import pytest

from tests.conftest import SF_DIR
from tools import stream_drive as drive

ARTIFACTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bench_artifacts",
)


def _artifact(name: str) -> dict:
    with open(os.path.join(ARTIFACTS, f"{name}.json")) as f:
        return json.load(f)


def test_false_checks_catches_nested_false_and_ignores_data():
    report = {
        "master": "local-cluster[2,4,4096]",
        "n_executors": 2,
        "n_docs": 0,
        "sample_mismatches": {},
        "sample_quota_diff": [],
        "tok_store": {
            "immediate_drift_match_on_slice_publish": True,
            "post_compaction_drift_match": False,
            "store_rows": 0,
            "compacted_upto": None,
        },
        "replay_after_compaction_is_noop": False,
    }
    assert drive.false_checks(report) == [
        "tok_store.post_compaction_drift_match",
        "replay_after_compaction_is_noop",
    ]


def test_differing_keys_names_nested_and_one_sided_keys():
    want = {
        "master": "local-cluster[2,4,4096]",
        "n_docs": 500,
        "tok_store": {"store_rows": 647, "compacted_upto": 9},
        "band_store": {"rows": 3632},
    }
    got = {
        "master": "local-cluster[2,4,4096]",
        "n_docs": 500,
        "tok_store": {"store_rows": 646, "compacted_upto": 9},
        "band_store": {"rows": 3632, "rows_match_rebuild": True},
        "n_erased": 46,
    }
    assert drive.differing_keys(got, want) == [
        "tok_store.store_rows",
        "band_store.rows_match_rebuild",
        "n_erased",
    ]
    assert drive.differing_keys(want, want) == []
    assert drive.differing_keys({"a": {"b": 1}}, {"a": 1}) == ["a"]


def test_every_committed_report_passes():
    names = [
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(ARTIFACTS, "*.json"))
    ]
    artifacts = {a for a, _ in drive.FAMILIES.values()}
    assert artifacts <= set(names)
    for a in artifacts:
        assert drive.false_checks(_artifact(a)) == [], a


def test_unfinished_stream_raises(tmp_path):
    class Query:
        stopped = False

        def awaitTermination(self, timeout):
            self.timeout = timeout
            return False

        def stop(self):
            self.stopped = True

    q = Query()
    d = drive.Drive(None, SF_DIR, str(tmp_path))
    with pytest.raises(RuntimeError, match="still running"):
        d.run("fam", lambda *args, **kw: q, None)
    assert q.stopped and q.timeout == drive.TIMEOUT_S


def test_token_stats_family_reproduces_committed_artifact(spark, tmp_path):
    want = _artifact("stream_token_stats_cluster_drive")
    del want["master"], want["n_executors"]
    got = drive.token_stats(drive.Drive(spark, SF_DIR, str(tmp_path)))
    assert got == want
