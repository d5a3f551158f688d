"""Benchmark entry point.

    python3 perfbench/run.py --workload recrawl --seed 1 --seconds 3 --trace 0

Runs from the root of a checkout.  Two fresh child processes do the
work, each in its own session (so the Spark JVM and Python workers it
starts share its process group): the first prepares the seeded inputs,
their reference answers and the host probe; the second is the measured
run.  This supervisor samples the memory (PSS) of the second one's
process tree from /proc, enforces one deadline over both, kills and
reaps whatever is left of each, and prints the result as the last line
of standard output.  Scratch state lives under ``.perfbench_work/`` in the
checkout and is removed before and after every run; generated inputs
and reference answers stay cached there under content-hash markers.

Exit status is non-zero, with no result printed, when the program under
test is missing, a run fails, or the deadline passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("recrawl", "queries")
DEADLINE_S = 170


def host_sizing() -> dict:
    """local[N], partitions and driver heap from this host, not from
    fixed defaults: N = usable cores, heap = an eighth of MemTotal
    clamped to [1, 4] GiB (the JVM shares the box with the Python
    workers and the page cache)."""
    n = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 8))
    return {"cores": n, "heap_mb": heap_mb}


def _proc_tree_pss_kb(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and its descendants.

    PSS, not RSS: forked Python workers share copy-on-write pages with
    their daemon, and summing RSS would count those pages once per
    worker."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next((int(line.split()[1]) for line in f if line.startswith("Pss:")), 0)
        except OSError:
            pass
    return total


def _cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (context: a
    noisy neighbour shows here, not in the program's own numbers)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _session_pids(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getsid(int(name)) == sid:
                    out.append(int(name))
            except OSError:
                pass
    return out


def _reap(sid: int) -> None:
    """Kill every process left in the child's session and wait until
    all of them are gone."""
    try:
        os.killpg(sid, signal.SIGKILL)
    except OSError:
        pass
    deadline = time.monotonic() + 30
    while _session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.1)


def _run_child(phase: str, cfg: dict, env: dict, log, deadline: float, sample=None):
    """Run one phase of the workload in a fresh process session; returns
    its exit code, or None when the deadline passed.  ``sample(pid)`` is
    called every 0.2 s while it runs."""
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), json.dumps(cfg), phase],
        cwd=cfg["run_dir"],
        env=env,
        stdout=log,
        stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    stop = threading.Event()

    def loop() -> None:
        while not stop.is_set():
            sample(child.pid)
            stop.wait(0.2)

    sampler = threading.Thread(target=loop, daemon=True)
    if sample is not None:
        sampler.start()
    try:
        code = child.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    stop.set()
    if sample is not None:
        sampler.join()
    _reap(child.pid)
    if code is None:
        child.wait()
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("artemis_spark", "__spark_entry__.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"program under test not found next to perfbench/: {missing}", file=sys.stderr)
        return 2

    for name in os.listdir(WORK) if os.path.isdir(WORK) else []:
        if name.startswith("run-"):  # stale scratch of an earlier run
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "spark-local"))

    sizing = host_sizing()
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "root": ROOT,
        "work": WORK,
        "run_dir": run_dir,
        "window_done": os.path.join(run_dir, "window_done"),
        "prepared": os.path.join(run_dir, "prepared.json"),
        "result": os.path.join(run_dir, "result.json"),
        **sizing,
    }
    env = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith(("ARTEMIS_", "SPARK_GRAFT_", "PYSPARK_"))
    }
    env.update(
        SPARK_GRAFT_CPUS=str(sizing["cores"]),
        ARTEMIS_DRIVER_MEM=f"{sizing['heap_mb']}m",
        ARTEMIS_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # every JVM of the run, the spark-submit launcher included: temp
        # files in the run dir, no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        PYTHONDONTWRITEBYTECODE="1",
    )
    log_path = os.path.join(run_dir, "child.log")
    peak_kb = [0]
    steal0, t0 = _cpu_steal_s(), time.monotonic()
    deadline = t0 + DEADLINE_S

    def sample(pid: int) -> None:
        if not os.path.exists(cfg["window_done"]):
            peak_kb[0] = max(peak_kb[0], _proc_tree_pss_kb(pid))

    try:
        with open(log_path, "w") as log:
            code = _run_child("prepare", cfg, env, log, deadline)
            if code == 0:
                code = _run_child("measure", cfg, env, log, deadline, sample)
        if code != 0 or not os.path.exists(cfg["result"]):
            with open(log_path) as f:
                tail = f.read()[-4000:]
            why = "deadline passed" if code is None else f"exit code {code}"
            print(f"workload {args.workload} failed ({why}); log tail:\n{tail}", file=sys.stderr)
            return 1
        with open(cfg["result"]) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak_kb[0] / 1024.0, "unit": "MB"}
    context = result.pop("context")
    context["steal_frac"] = (_cpu_steal_s() - steal0) / (sizing["cores"] * (time.monotonic() - t0))
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
