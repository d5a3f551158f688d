"""Shared harness plumbing for the tools/ measurement scripts.

tools/ab_bench.py, tools/knob_matrix.py, tools/pair_bench.py and
tools/pair_resume.py each wrap the same four moves: append-and-print a
JSONL record, bracket runs with the DRAM-stream probe, launch
``bench.py --crawl-only`` in a subprocess and harvest its final JSON
line, and summarize reps by median.  VERDICT r4 item 8 asked for the
~80% shared code to live in one place; this module is that place.
The scripts keep their own protocol logic (ABBA vs palindrome order,
worktree vs in-repo engine, resume-from-log) — only the mechanics are
shared.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from scaling_bench import hw_stream_throughput, run_at  # noqa: E402


def make_emit(path: str):
    """Return an ``emit(rec)`` that appends one JSON line to ``path``
    (stamped with a monotonic t) and mirrors it to stdout."""

    def emit(rec: dict) -> None:
        rec["t"] = round(time.monotonic(), 1)
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)

    return emit


def probe(emit) -> float:
    """One bracketing DRAM-stream probe (n=8 procs, best of 2)."""
    v = hw_stream_throughput([8], reps=2)[8]
    emit({"kind": "probe", "n8_tasks_per_sec": v})
    return v


def run_crawl_subprocess(
    cwd: str, env: dict, emit, tag: dict, keys: tuple = (
        "urls_per_sec",
        "urls_per_sec_steady",
        "urls_per_sec_median_round",
        "urls",
        "rounds",
        "wall_sec",
        "per_round",
    ),
) -> dict:
    """Run ``bench.py --crawl-only`` in ``cwd`` under ``env``; emit and
    return a record of the crawl metrics (or a run_failed record and {})."""
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, "bench.py", "--crawl-only"],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
    )
    wall = time.monotonic() - t0
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        emit({"kind": "run_failed", **tag, "rc": out.returncode,
              "stderr_tail": out.stderr[-2000:]})
        return {}
    crawl = json.loads(lines[-1])["crawl"]
    rec = {"kind": "run", **tag, "wall_incl_setup": round(wall, 1)}
    for k in keys:
        rec[k] = crawl.get(k)
    emit(rec)
    return rec


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


def median_of(rs: list, key: str):
    vals = [x[key] for x in rs if x.get(key)]
    return statistics.median(vals) if vals else None


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
