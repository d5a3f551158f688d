"""Outside-in tracing for the traced run.

Three sources, none of which edits engine code:

* :class:`Tracer` wraps public callables (methods, module functions)
  and records one span per call.  Each wrapper also sets
  ``spark.job.description`` on the calling thread for the length of
  the call, so Spark jobs launched inside it carry the span's name —
  on the persist-pool threads too, because the description is set on
  whichever thread makes the call.
* :func:`parse_event_log` reads a Spark event log and attributes task
  metrics to jobs, and jobs to their description.
* :func:`udf_self_seconds` sums the Python self time the session's
  ``perf`` UDF profiler collected, per source file of the UDF body.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (comparable with event-log times)
    end: float
    thread: str
    parent: str | None


class Tracer:
    """Span recorder plus attribute patcher.

    ``enabled`` is checked on every call, so a run can switch tracing
    off and on between rounds without re-patching.  :meth:`restore`
    puts back every attribute :meth:`patch` replaced, newest first.
    """

    def __init__(self, set_description=None) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self._set_description = set_description
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object, bool]] = []

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            parent = stack[-1] if stack else None
            stack.append(name)
            if tracer._set_description is not None:
                tracer._set_description(name)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                stack.pop()
                if tracer._set_description is not None:
                    tracer._set_description(parent)
                with tracer._lock:
                    tracer.spans.append(
                        Span(name, t0, t1, threading.current_thread().name, parent)
                    )

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper.  Works on
        classes (unbound methods), instances and modules."""
        had_own = attr in getattr(owner, "__dict__", {})
        original = getattr(owner, attr)
        self._undo.append((owner, attr, owner.__dict__.get(attr) if had_own else None, had_own))
        setattr(owner, attr, self.wrap(original, name))

    def restore(self) -> None:
        while self._undo:
            owner, attr, original, had_own = self._undo.pop()
            if had_own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class JobRecord:
    job_id: int
    description: str | None
    submit_s: float
    stage_ids: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_spans: list[tuple[float, float]] = field(default_factory=list)


_MB = 1024.0 * 1024.0


def parse_event_log(lines) -> dict[int, JobRecord]:
    """Jobs by id, each with the summed metrics of its tasks.

    Tasks are attributed through their stage: a stage belongs to the
    job whose ``SparkListenerJobStart`` lists it.  Times are epoch
    seconds.
    """
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = JobRecord(
                job_id=ev["Job ID"],
                description=props.get("spark.job.description"),
                submit_s=ev["Submission Time"] / 1000.0,
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            if job is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.run_s += m.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            job.shuffle_write_mb += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
            )
            job.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
            if info.get("Launch Time") and info.get("Finish Time"):
                job.task_spans.append(
                    (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0)
                )
    return jobs


def jobs_between(jobs: dict[int, JobRecord], lo: float, hi: float) -> list[JobRecord]:
    """Jobs submitted inside [lo, hi)."""
    return [j for j in jobs.values() if lo <= j.submit_s < hi]


def by_description(jobs) -> dict[str, list[JobRecord]]:
    out: dict[str, list[JobRecord]] = defaultdict(list)
    for j in jobs:
        out[j.description or ""].append(j)
    return out


# --------------------------------------------------------------------------
# UDF profiler
# --------------------------------------------------------------------------


def udf_self_seconds(spark, files: dict[str, str]) -> dict[str, float]:
    """Python self time per label from the session's ``perf`` profiler.

    ``files`` maps a label to a source-file suffix (``"images.py"``);
    a profiled UDF counts toward a label when any function in its
    profile lives in that file.
    """
    out = {label: 0.0 for label in files}
    results = spark.profile.profiler_collector._perf_profile_results
    for stats in results.values():
        names = {key[0] for key in stats.stats}
        for label, suffix in files.items():
            if any(n.endswith(suffix) for n in names):
                out[label] += stats.total_tt
    return out


def window_job_stats(jobs: dict[int, JobRecord], intervals, cores: int) -> dict[str, float]:
    """Per-interval means of the job metrics of jobs submitted inside
    each [lo, hi) interval.  ``driver_only_s`` is the part of an
    interval during which no task of those jobs was running;
    ``cpu_frac`` is task CPU time over the interval's core-seconds."""
    from stats import clip, union_length

    keys = ("jobs", "tasks", "driver_only_s", "run_s", "cpu_frac", "gc_s", "shuffle_mb", "spill_mb")
    acc = dict.fromkeys(keys, 0.0)
    for lo, hi in intervals:
        rj = jobs_between(jobs, lo, hi)
        busy = union_length(clip([s for j in rj for s in j.task_spans], lo, hi))
        acc["jobs"] += len(rj)
        acc["tasks"] += sum(j.tasks for j in rj)
        acc["driver_only_s"] += (hi - lo) - busy
        acc["run_s"] += sum(j.run_s for j in rj)
        acc["cpu_frac"] += sum(j.cpu_s for j in rj) / (cores * (hi - lo))
        acc["gc_s"] += sum(j.gc_s for j in rj)
        acc["shuffle_mb"] += sum(j.shuffle_write_mb for j in rj)
        acc["spill_mb"] += sum(j.spill_mb for j in rj)
    n = max(1, len(intervals))
    return {k: v / n for k, v in acc.items()}
