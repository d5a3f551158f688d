import json
import os
import subprocess
import sys

from layers import LAYER_METRICS, per_layer_metrics

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_the_layer_registry():
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in _bench()["per_layer"]}
    assert per_layer == LAYER_METRICS


def test_per_layer_metrics_fills_every_name_and_rejects_typos():
    out = per_layer_metrics({"crawl.recrawl_frac": 0.5})
    assert set(out) == set(LAYER_METRICS)
    assert out["crawl.recrawl_frac"] == {"value": 0.5, "unit": "frac"}
    assert out["q.jobs_per_pass"]["value"] == 0.0
    try:
        per_layer_metrics({"crawl.recrawl_fraction": 0.5})
    except KeyError:
        pass
    else:
        raise AssertionError("unknown metric accepted")


def test_run_refuses_a_checkout_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    src = os.path.join(HERE, "run.py")
    (bench / "run.py").write_text(open(src).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "recrawl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
