"""tools/bench_runner.py: the two-level pair summary."""

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench_runner import pair_summary  # noqa: E402


def _run(seq, cpus, median):
    return {"seq": seq, "cpus": cpus, "median": median, "probe_n8": 18.0}


def test_pair_summary_needs_exactly_two_levels():
    with pytest.raises(ValueError):
        pair_summary([_run(0, 1, 10.0), _run(1, 1, 11.0)])
    with pytest.raises(ValueError):
        pair_summary([_run(0, 1, 10.0), _run(1, 2, 19.0), _run(2, 4, 35.0)])


def test_pair_summary_marks_unbalanced_order_partial():
    balanced = pair_summary(
        [_run(0, 1, 10.0), _run(1, 4, 32.0), _run(2, 4, 30.0), _run(3, 1, 10.0)]
    )
    assert "partial" not in balanced
    assert balanced["efficiency_of_medians"] == 0.775
    unbalanced = pair_summary([_run(0, 1, 10.0), _run(1, 4, 32.0), _run(2, 4, 30.0)])
    assert "partial" in unbalanced


def test_pair_summary_replays_r4_log():
    """Replaying the per-run records of the committed 1->4 pair log
    reproduces the summary line it recorded."""
    with open(os.path.join(REPO, "bench_logs", "pair_1_4_r4.log")) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    runs = [r for r in recs if "seq" in r]
    assert len(runs) == 6
    summary = pair_summary(runs)
    assert summary["efficiency_of_medians"] == 0.684
    assert "partial" not in summary

