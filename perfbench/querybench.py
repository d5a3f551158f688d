"""The ``queries`` workload: the nine headline operator queries.

Input: the five tables the queries read (orders, lineitem, events,
documents, embeddings), drawn from the run's seed at the row counts of
``inputs.QUERY_SCALE``.  No state store, no round loop.

* set-up: the session is built, then the input tables are opened
  (parquet footers read, schemas resolved), each once and cold;
* warm-up: one cold pass over the nine queries;
* timed window: warm passes until ``--seconds`` have passed (at least
  ``MIN_WINDOW_PASSES``); one operation is one query executed to a
  pandas frame on the driver;
* verification, after each pass and outside its timing: every result
  against the DuckDB oracle's, compared the way the repository's
  oracle harness compares them (same columns, same row count, equal
  values after an order-insensitive sort, no int-vs-float drift).

The traced run replaces the window by three passes in ABA order.
"""

from __future__ import annotations

import time

import pandas as pd

from child import event_log_lines, start_session
from layers import HEADLINE, per_layer_metrics
from stats import OpCounter, median, window_rate
import inputs

TABLES = ["orders", "lineitem", "events", "documents", "embeddings"]
MIN_WINDOW_PASSES = 1
TRACE_ORDER = "ABA"


# normalize() and same_result() restate the comparison of the
# repository's oracle harness (tests/oracle_harness.py) rather than
# import it, so that a later change to the test harness cannot change
# what this benchmark counts as a correct result.
def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Oracle-harness equality on two already normalized frames."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    if any({got[c].dtype.kind, want[c].dtype.kind} == {"i", "f"} for c in got.columns):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


def oracle_answers(tables_dir: str) -> dict[str, pd.DataFrame]:
    import duckdb

    import __spark_entry__ as E

    def compute():
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{tables_dir}/{t}.parquet')")
            sql = E.oracle_sql()
            return {n: normalize(con.execute(sql[n]).fetchdf()) for n in HEADLINE}
        finally:
            con.close()

    return inputs.cached_answer(tables_dir, "oracle", compute)


def prepare(cfg: dict) -> dict:
    tables_dir = inputs.query_tables(cfg["work"], cfg["seed"])
    oracle_answers(tables_dir)
    return {"tables": tables_dir}


def measure(cfg: dict, prepared: dict) -> dict:
    t_start = time.monotonic()
    tables_dir = prepared["tables"]
    oracle = oracle_answers(tables_dir)
    import __spark_entry__ as E

    spark, session_s = start_session(cfg)
    t0 = time.monotonic()
    for t in TABLES:
        spark.read.parquet(f"{tables_dir}/{t}.parquet").schema
    setup_s = session_s + time.monotonic() - t0

    qs = E.queries()

    def execute(name: str) -> pd.DataFrame:
        return qs[name](spark, tables_dir).toPandas()

    tracer = None
    runners = {n: (lambda n=n: execute(n)) for n in HEADLINE}
    if cfg["trace"]:
        from tracing import Tracer

        tracer = Tracer(spark.sparkContext.setJobDescription)
        runners = {n: tracer.wrap(f, f"q.{n}") for n, f in runners.items()}

    ops = OpCounter()

    def run_pass(kind: str) -> dict:
        """One pass over the headline queries; times exclude checking."""
        times, frames, errors = {}, {}, {}
        e0 = time.time()
        for n in HEADLINE:
            t0 = time.monotonic()
            try:
                frames[n] = runners[n]()
            except Exception as exc:  # a failed query is a failed operation
                errors[n] = f": {type(exc).__name__}: {exc}"[:200]
            times[n] = time.monotonic() - t0
        rec = {"kind": kind, "times": times, "wall": sum(times.values()), "lo": e0, "hi": time.time()}
        for n in HEADLINE:
            ok = n in frames and same_result(normalize(frames[n]), oracle[n])
            ops.record(ok, f"{kind} {n}{errors.get(n, '')}")
        return rec

    cold = run_pass("cold")
    passes = []
    kinds = TRACE_ORDER if tracer is not None else None
    while True:
        kind = kinds[len(passes)] if kinds else "A"
        if tracer is not None:
            tracer.enabled = kind == "B"
        passes.append(run_pass(kind))
        if kinds:
            if len(passes) == len(kinds):
                break
        elif sum(p["wall"] for p in passes) >= cfg["seconds"] and len(passes) >= MIN_WINDOW_PASSES:
            break
    with open(cfg["window_done"], "w"):
        pass
    spark.stop()

    window = [p for p in passes if p["kind"] == "A"]
    walls = [p["wall"] for p in window]
    e2e = {
        "setup_s": (setup_s, "s"),
        "warmup_s": (cold["wall"], "s"),
        "round_s_p50": (median(walls), "s"),
        "work_per_s": (window_rate([len(HEADLINE)] * len(walls), walls), "1/s"),
        "ok_frac": (ops.ok_frac, "frac"),
    }
    context = {
        "workload": "queries",
        "seed": cfg["seed"],
        "cores": cfg["cores"],
        "heap_mb": cfg["heap_mb"],
        "hw_probe_tasks_per_s": prepared["hw_probe_tasks_per_s"],
        "window_passes": len(window),
        "pass_walls_s": [round(w, 3) for w in walls],
        "cold_pass_s": {n: round(t, 3) for n, t in cold["times"].items()},
        "window_query_s": {n: round(median([p["times"][n] for p in window]), 3) for n in HEADLINE},
        "failures": ops.failures,
        "child_s": round(time.monotonic() - t_start, 2),
    }
    if tracer is None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        from tracing import by_description, jobs_between, parse_event_log, window_job_stats

        traced = [p for p in passes if p["kind"] == "B"]
        jobs = parse_event_log(event_log_lines(cfg))
        js = window_job_stats(jobs, [(p["lo"], p["hi"]) for p in traced], cfg["cores"])
        in_traced = [j for p in traced for j in jobs_between(jobs, p["lo"], p["hi"])]
        q_jobs = sum(len(js_) for d, js_ in by_description(in_traced).items() if d.startswith("q."))
        layer = {
            "session.start_s": session_s,
            "q.jobs_per_pass": q_jobs / len(traced),
            "spark.cpu_frac": js["cpu_frac"],
            "spark.gc_s_per_round": js["gc_s"],
            "spark.shuffle_mb_per_round": js["shuffle_mb"],
            "spark.spill_mb_per_round": js["spill_mb"],
        }
        for n in HEADLINE:
            layer[f"q.{n}.cold_s"] = cold["times"][n]
            layer[f"q.{n}.warm_s"] = median([p["times"][n] for p in traced])
        traced_rate = window_rate([len(HEADLINE)] * len(traced), [p["wall"] for p in traced])
        layer["trace.overhead_frac"] = 1.0 - traced_rate / e2e["work_per_s"][0]
        metrics = per_layer_metrics(layer)
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
        "context": context,
    }
