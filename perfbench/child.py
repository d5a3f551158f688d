"""Child process of one benchmark run (started by run.py).

``child.py <cfg-json> prepare`` builds (or verifies) the seeded inputs
and their reference answers and probes the host; ``child.py <cfg-json>
measure`` builds the session with host-sized settings and runs the
workload.  Each writes a JSON file to the path run.py named.  Everything
a run writes stays under its run directory or the input cache.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def hw_probe(root: str, cores: int) -> float:
    """Host DRAM-stream throughput, recorded next to every result as
    context: ``scaling_bench.hw_stream_throughput``'s task and formula
    (tasks/s at ``cores`` concurrent processes), run as plain
    subprocesses because a multiprocessing pool puts its semaphores in
    /dev/shm, outside the checkout."""
    code = "from scaling_bench import _stream_task; print(_stream_task(0))"
    procs = [
        subprocess.Popen([sys.executable, "-c", code], cwd=root, stdout=subprocess.PIPE, text=True)
        for _ in range(cores)
    ]
    per = [float(p.communicate()[0]) for p in procs]
    return round(cores / (sum(per) / len(per)), 1)


def start_session(cfg: dict):
    """The engine's own session factory, sized from the host; returns
    (spark, seconds it took)."""
    from artemis_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(cfg["run_dir"], "warehouse"),
        # a fixed-size heap: the JVM's resident size is then the heap plus
        # what lives outside it, not a reading of when G1 grew the heap
        "spark.driver.extraJavaOptions": f"-Xms{cfg['heap_mb']}m",
    }
    if cfg["trace"]:
        log_dir = os.path.join(cfg["run_dir"], "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.monotonic()
    spark = get_spark(
        "perfbench",
        master=f"local[{cfg['cores']}]",
        shuffle_partitions=cfg["cores"],
        extra_conf=conf,
    )
    return spark, time.monotonic() - t0


def event_log_lines(cfg: dict):
    """Lines of the (stopped) session's event log, rolled or not: a
    rolled log is a directory of ``events_<n>_<app>`` files."""

    def order(path: str):
        parts = os.path.basename(path).split("_")
        return (os.path.dirname(path), int(parts[1]) if parts[0] == "events" else 0)

    log_dir = os.path.join(cfg["run_dir"], "eventlog")
    files = [
        os.path.join(d, name)
        for d, _, names in os.walk(log_dir)
        for name in names
        if not name.startswith(("appstatus", "."))
    ]
    for path in sorted(files, key=order):
        with open(path) as f:
            yield from f


def main() -> None:
    cfg, phase = json.loads(sys.argv[1]), sys.argv[2]
    sys.path[:0] = [cfg["root"], HERE]
    if cfg["workload"] == "recrawl":
        import crawlbench as workload
    else:
        import querybench as workload
    if phase == "prepare":
        os.makedirs(os.path.join(cfg["work"], "inputs"), exist_ok=True)
        out, path = workload.prepare(cfg), cfg["prepared"]
        out["hw_probe_tasks_per_s"] = hw_probe(cfg["root"], cfg["cores"])
    else:
        with open(cfg["prepared"]) as f:
            out, path = workload.measure(cfg, json.load(f)), cfg["result"]
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    main()
