import os
import threading
import types

import pytest

from tracing import Tracer, by_description, jobs_between, parse_event_log, window_job_stats

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def _jobs():
    with open(FIXTURE) as f:
        return parse_event_log(f)


def test_event_log_tasks_are_attributed_to_jobs_through_stages():
    jobs = _jobs()
    assert sorted(jobs) == [0, 1, 2]
    j0 = jobs[0]
    assert j0.description == "state.write_version"
    assert j0.tasks == 2
    assert j0.run_s == pytest.approx(1.07)
    assert j0.cpu_s == pytest.approx(0.9)
    assert j0.gc_s == pytest.approx(0.02)
    assert j0.shuffle_write_mb == pytest.approx(2.0)
    assert j0.spill_mb == pytest.approx(1.0)
    assert j0.submit_s == 1000.0
    # a task of a stage no job lists (stage 9) is attributed to nothing
    assert jobs[1].tasks == 1 and jobs[1].run_s == pytest.approx(0.19)
    assert jobs[1].description is None


def test_jobs_group_by_description_and_window():
    jobs = _jobs()
    groups = by_description(jobs.values())
    assert [j.job_id for j in groups["state.write_version"]] == [0]
    assert [j.job_id for j in groups[""]] == [1]
    assert [j.job_id for j in groups["q.sessionize"]] == [2]
    assert [j.job_id for j in jobs_between(jobs, 999.0, 1005.0)] == [0, 1]


def test_window_job_stats_driver_only_time():
    jobs = _jobs()
    s = window_job_stats(jobs, [(1000.0, 1004.0)], cores=2)
    assert s["jobs"] == 2 and s["tasks"] == 3
    # tasks cover [1000.1, 1001.0] and [1002.1, 1002.3]: 1.1 s busy of 4
    assert s["driver_only_s"] == pytest.approx(2.9)
    assert s["cpu_frac"] == pytest.approx(1.0 / (2 * 4.0))


class _Store:
    def read(self, x):
        return ("read", x)

    def write(self, x):
        return ("write", x)


class _Engine:
    def __init__(self, v):
        self.v = v

    def run_round(self):
        return self.v


def test_every_wrapper_restores_what_it_patched():
    mod = types.ModuleType("fake_mod")
    mod.update = lambda x: x + 1
    store = _Store()
    originals = {
        "init": _Engine.__init__,
        "round": _Engine.run_round,
        "update": mod.update,
    }
    tracer = Tracer()
    tracer.patch(_Engine, "__init__", "crawl.init")
    tracer.patch(_Engine, "run_round", "crawl.round")
    tracer.patch(mod, "update", "bloom.save")
    tracer.patch(store, "read", "state.read")
    tracer.patch(store, "write", "state.write")
    assert _Engine(3).run_round() == 3
    assert mod.update(1) == 2
    assert store.read(1) == ("read", 1) and store.write(2) == ("write", 2)
    assert [s.name for s in tracer.spans] == [
        "crawl.init", "crawl.round", "bloom.save", "state.read", "state.write",
    ]
    tracer.restore()
    assert _Engine.__init__ is originals["init"]
    assert _Engine.run_round is originals["round"]
    assert mod.update is originals["update"]
    # instance patches are removed, so lookups reach the class again
    assert "read" not in vars(store) and "write" not in vars(store)
    assert store.read.__func__ is _Store.read


def test_wrapper_sets_and_restores_the_job_description_per_thread():
    seen = []
    tracer = Tracer(set_description=lambda d: seen.append((threading.current_thread().name, d)))
    inner = tracer.wrap(lambda: None, "state.commit")
    outer = tracer.wrap(inner, "crawl.round")
    outer()
    me = threading.current_thread().name
    assert seen == [(me, "crawl.round"), (me, "state.commit"), (me, "crawl.round"), (me, None)]
    assert [s.parent for s in tracer.spans] == ["crawl.round", None]
    t = threading.Thread(target=inner, name="pool-0")
    t.start()
    t.join(timeout=5)
    assert not t.is_alive()
    assert seen[-2:] == [("pool-0", "state.commit"), ("pool-0", None)]


def test_disabled_tracer_records_nothing():
    tracer = Tracer(set_description=lambda d: pytest.fail("description set while disabled"))
    f = tracer.wrap(lambda x: x * 2, "q.x")
    tracer.enabled = False
    assert f(2) == 4
    assert tracer.spans == []


def test_wrapper_records_span_when_the_call_raises():
    tracer = Tracer()

    def boom():
        raise RuntimeError("x")

    with pytest.raises(RuntimeError):
        tracer.wrap(boom, "state.write_version")()
    assert [s.name for s in tracer.spans] == ["state.write_version"]
