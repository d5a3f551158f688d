"""Shared plumbing of the interleaved N->4N pair tools.

tools/pair_bench.py and tools/pair_resume.py run each pair leg through
:func:`pair_run_record` and summarize the legs with
:func:`pair_summary`; each keeps its own protocol logic (ABBA order,
resume-from-log).  Same-window A/Bs of the engine are
``perfbench/run.py``'s job.
"""

from __future__ import annotations

import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from scaling_bench import run_at  # noqa: E402


def pair_run_record(seq: int, cpus: int, tier: str, rounds: int, budget: int) -> dict:
    """One interleaved-pair leg: run ``scaling_bench.run_at`` at ``cpus``
    and shape the result the way pair logs / tools/pair_analyze.py expect."""
    r = run_at(cpus, tier, rounds, budget, reps=1)
    return {
        "seq": seq,
        "cpus": cpus,
        "median": r.get("urls_per_sec_median_round") or r["urls_per_sec"],
        "steady": r.get("urls_per_sec_steady"),
        "probe_n8": r.get("hw_probe_tasks_per_sec_n8"),
        "wall_sec": r.get("wall_sec"),
        # full per-round walls so tools/pair_analyze.py can fit the
        # serial + parallel/N decomposition on matched waves
        "per_round": r.get("per_round"),
    }


def pair_summary(runs: list[dict]) -> dict:
    """Median-of-medians two-level summary over pair-leg records.

    Raises ValueError unless exactly two levels are present (a one-level
    summary is degenerately eff=1.0; 3+ levels would silently drop the
    middle).  Marks the summary partial when the levels are unbalanced,
    because ABBA drift-cancellation needs a balanced order.
    """
    levels = sorted({r["cpus"] for r in runs})
    if len(levels) != 2:
        raise ValueError(f"summary needs exactly two levels, found {levels}")
    lo, hi = levels
    lo_meds = [r["median"] for r in runs if r["cpus"] == lo]
    hi_meds = [r["median"] for r in runs if r["cpus"] == hi]
    eff = (statistics.median(hi_meds) / statistics.median(lo_meds)) / (hi / lo)
    summary = {
        "levels": [lo, hi],
        "order": [r["cpus"] for r in runs],
        "lo_medians": lo_meds,
        "hi_medians": hi_meds,
        "lo_probes": [r["probe_n8"] for r in runs if r["cpus"] == lo],
        "hi_probes": [r["probe_n8"] for r in runs if r["cpus"] == hi],
        "efficiency_of_medians": round(eff, 3),
    }
    if len(lo_meds) != len(hi_meds):
        summary["partial"] = (
            f"unbalanced: {len(lo_meds)} runs at {lo} vs "
            f"{len(hi_meds)} at {hi} — drift does not cancel"
        )
    return summary
