"""Run the benchmark over several seeds and report each metric's median
and quartile spread (inter-quartile distance over the median).

    python3 perfbench/spread.py --workload recrawl --seeds 1-10 --seconds 3

Runs are made one after another, each in its own process; the raw
result lines go to ``--out`` (JSON lines) when given.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        context = json.loads(lines[-2]).get("context", {}) if len(lines) > 1 else {}
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "context": context, **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: correct={result['correct']} steal={context.get('steal_frac', 0):.3f} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    for name, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 and median(vs) else 0.0
        print(f"{name:32s} median={median(vs):.5g} spread={spread:.4f} n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
