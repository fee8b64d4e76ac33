"""Driver-only checks of bench.py's query registry and outlier record
against the checked-in BENCH_r*.json rounds (no Spark session)."""

import json
import os

import bench

ROOT = os.path.dirname(os.path.abspath(bench.__file__))


def _recorded_round() -> dict:
    with open(os.path.join(ROOT, "BENCH_r06.json")) as f:
        return json.load(f)["parsed"]


def test_bench_queries_keep_recorded_order():
    """The timed set's names and order equal the recorded round's, so
    the BENCH trajectory stays comparable."""
    rec = _recorded_round()
    assert list(bench.bench_queries(None, rec["sf"])) == list(rec["queries"])


def test_outlier_record_keyed_by_run_shape():
    """Every checked-in round ran on local[32]: a 4-core run has no
    record to be judged against (the dispersion fallback applies), a
    32-core run at the same scale factor and media spec has all 43."""
    rec = _recorded_round()
    sf, spec = rec["sf"], rec["media_spec_version"]
    assert bench._previous_round_timings(4, sf, spec) == {}
    assert set(bench._previous_round_timings(32, sf, spec)) == set(rec["queries"])
    assert len(rec["queries"]) == 43
