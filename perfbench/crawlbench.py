"""The ``recrawl`` workload: a politeness-bound crawl that revisits.

Input: the ``small`` synthetic web re-drawn from the run's seed, with
every page of every host seeded, so each round's wave is capped by the
per-host politeness budget from round 0 on; ``revisit_delay_rounds=1``
puts URLs from url_seen back into every round next to new ones.

Phases of one run, each timed on its own:

* set-up: the session is built, ``CrawlEngine`` is constructed and
  ``bootstrap`` commits, each once and cold, as in a fresh process;
* warm-up: round 0, which also builds the cached web;
* timed window: whole rounds until ``--seconds`` have passed (at least
  ``MIN_WINDOW_ROUNDS``, at most ``MODEL_ROUNDS - 1``);
* verification, outside every timing: each round's fetched-URL set
  from the committed crawl_log against the pure-Python model's round,
  and the final url_seen against the model's.

The traced run replaces the window by three rounds in ABA order —
untraced, traced, untraced — so ``trace.overhead_frac`` compares the
traced round with the mean of its neighbours, then calls the lazy operator layers one by one on the
committed state (see :func:`isolated_layers`).
"""

from __future__ import annotations

import hashlib
import os
import time

from child import event_log_lines, start_session
from stats import OpCounter, median, union_length, window_rate
import inputs

TIER = "small"
BUDGET = 16
REVISIT = 1
MIN_WINDOW_ROUNDS = 1
MODEL_ROUNDS = 4  # reference answers are prepared for this many rounds
TRACE_ORDER = "ABA"
SKIP_STATUS = (997, 998, 999)  # crawl_log rows that are not fetches

STORE_WRITES = ("write_version", "write_version_delta", "write_version_bucketed", "merge_upsert", "append_round")
STORE_COMMITS = ("commit", "vacuum")
STORE_METHODS = STORE_WRITES + STORE_COMMITS + (
    "manifest", "last_round", "current_version", "delta_chain", "read", "read_appended",
)


def crawl_config(cores: int):
    from artemis_spark.plans.crawl import CrawlConfig

    return CrawlConfig(
        politeness_budget=BUDGET,
        revisit_delay_rounds=REVISIT,
        num_partitions=cores,
        bloom_shards=2 * cores,
        # the default of 256 url_seen buckets is sized for a cluster-scale
        # state; for a few thousand URLs on N cores it only adds files
        state_buckets=4 * cores,
        light_stats=True,
    )


def _digest(urls) -> str:
    return hashlib.sha256("\n".join(sorted(urls)).encode()).hexdigest()


def model_answer(web: str) -> dict:
    """Digests of the reference model's fetched-URL set for each of the
    first ``MODEL_ROUNDS`` rounds, and of its url_seen after each."""
    from artemis_spark.model import ModelConfig, ReferenceModel

    def compute():
        m = ReferenceModel(web, ModelConfig(politeness_budget=BUDGET, revisit_delay_rounds=REVISIT))
        m._bootstrap()  # the same steps as ReferenceModel.run, one round at a time
        rounds, seen = [], []
        for r in range(MODEL_ROUNDS):
            rounds.append(_digest(m.run_round(r) if m.frontier else []))
            seen.append(_digest(f"{u} {e.refresh_rate} {e.last_hash}" for u, e in m.seen.items()))
        return {"rounds": rounds, "url_seen": seen}

    return inputs.cached_answer(web, f"model-b{BUDGET}-d{REVISIT}-r{MODEL_ROUNDS}", compute)


def verify(eng, ref: dict, n_rounds: int) -> tuple[list[bool], bool]:
    """(per-round fetch-set match, url_seen match after the last round)."""
    from pyspark.sql import functions as F

    log = (
        eng.store.read_appended("crawl_log")
        .filter(~F.col("status").isin(*SKIP_STATUS))
        .select("round", "url")
        .toPandas()
    )
    got = [_digest(log.loc[log["round"] == r, "url"]) for r in range(n_rounds)]
    seen = eng.store.read("url_seen").select("url", "refresh_rate", "last_hash").toPandas()
    got_seen = _digest(f"{u} {int(rr)} {h}" for u, rr, h in seen.itertuples(index=False))
    return [g == w for g, w in zip(got, ref["rounds"])], got_seen == ref["url_seen"][n_rounds - 1]


def prepare(cfg: dict) -> dict:
    web = inputs.crawl_web(cfg["work"], TIER, cfg["seed"])
    model_answer(web)
    return {"web": web}


def measure(cfg: dict, prepared: dict) -> dict:
    t_start = time.monotonic()
    web = prepared["web"]
    ref = model_answer(web)
    from artemis_spark.plans.crawl import CrawlEngine

    spark, session_s = start_session(cfg)
    tracer = None
    if cfg["trace"]:
        from tracing import Tracer
        import artemis_spark.operators.bloom as bloom_mod

        tracer = Tracer(spark.sparkContext.setJobDescription)
        tracer.patch(CrawlEngine, "__init__", "crawl.init")
        tracer.patch(CrawlEngine, "bootstrap", "crawl.bootstrap")
        tracer.patch(CrawlEngine, "run_round", "crawl.round")
        tracer.patch(bloom_mod, "update_and_save_shards", "bloom.save")

    ccfg = crawl_config(cfg["cores"])
    t0 = time.monotonic()
    eng = CrawlEngine(spark, web, os.path.join(cfg["run_dir"], "state"), ccfg)
    init_s = time.monotonic() - t0
    t0 = time.monotonic()
    eng.bootstrap()
    bootstrap_s = time.monotonic() - t0
    setup_s = session_s + init_s + bootstrap_s

    layer: dict[str, float] = {}
    if tracer is not None:
        for m in STORE_METHODS:
            tracer.patch(eng.store, m, f"state.{m}")
        t0 = time.monotonic()
        eng.web.count()
        eng.payload_cache.count()
        layer["fetch.cache_build_s"] = time.monotonic() - t0

    ops = OpCounter()
    t0 = time.monotonic()
    first = eng.run_round()
    warmup_s = time.monotonic() - t0

    rounds: list[dict] = []  # window rounds: stats + wall + epoch interval + kind
    kinds = TRACE_ORDER if tracer is not None else None
    failed_round = None
    while True:
        kind = kinds[len(rounds)] if kinds else "A"
        traced = kind == "B"
        if tracer is not None:
            tracer.enabled = traced
            before = _state_files(eng.store.root)
            if traced:
                spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                spark.profile.clear()
            else:
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
        e0, t0 = time.time(), time.monotonic()
        try:
            stats = eng.run_round()
        except Exception as exc:  # a failed operation; the crawl cannot go on after it
            failed_round = f"round {len(rounds) + 1}: {type(exc).__name__}: {exc}"[:300]
            break
        wall = time.monotonic() - t0
        rec = {"stats": stats, "wall": wall, "lo": e0, "hi": time.time(), "kind": kind}
        if tracer is not None and traced:
            from tracing import udf_self_seconds

            rec["udf"] = udf_self_seconds(spark, {"bloom": "bloom.py", "images": "images.py"})
            rec["files"] = _new_files(before, _state_files(eng.store.root))
        rounds.append(rec)
        if kinds:
            if len(rounds) == len(kinds):
                break
        elif len(rounds) == MODEL_ROUNDS - 1 or (
            sum(r["wall"] for r in rounds) >= cfg["seconds"] and len(rounds) >= MIN_WINDOW_ROUNDS
        ):
            break
    open(cfg["window_done"], "w").close()
    if failed_round and (tracer is not None or not rounds):
        raise RuntimeError(f"no timed window to report: {failed_round}")

    if tracer is not None:
        tracer.enabled = False
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        layer.update(isolated_layers(spark, eng))
        layer["state.mb_on_disk"] = sum(s for s in _state_files(eng.store.root).values()) / 2**20
        chains = eng.store.manifest().get("delta_chains", {})
        layer["state.delta_chain_max"] = float(max((len(c) for c in chains.values()), default=1))

    n_rounds = 1 + len(rounds)
    t_verify = time.monotonic()
    round_ok, seen_ok = verify(eng, ref, n_rounds)
    verify_s = time.monotonic() - t_verify
    for r, ok in enumerate(round_ok):
        ops.record(ok and (seen_ok or r < n_rounds - 1), f"round {r}")
    if failed_round:
        ops.record(False, failed_round)
    eng.close()
    spark.stop()

    window = [r for r in rounds if r["kind"] == "A"]
    fetched = [r["stats"]["fetched"] for r in window]
    walls = [r["wall"] for r in window]
    e2e = {
        "setup_s": (setup_s, "s"),
        "warmup_s": (warmup_s, "s"),
        "round_s_p50": (median(walls), "s"),
        "work_per_s": (window_rate(fetched, walls), "1/s"),
        "ok_frac": (ops.ok_frac, "frac"),
    }
    context = {
        "workload": "recrawl",
        "seed": cfg["seed"],
        "cores": cfg["cores"],
        "heap_mb": cfg["heap_mb"],
        "hw_probe_tasks_per_s": prepared["hw_probe_tasks_per_s"],
        "window_rounds": len(window),
        "fetched_per_round": fetched,
        "round_walls_s": [round(w, 3) for w in walls],
        "round0_fetched": first.get("fetched"),
        "failures": ops.failures,
        "verify_s": round(verify_s, 2),
        "child_s": round(time.monotonic() - t_start, 2),
    }
    if tracer is None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        tracer.restore()
        layer.update(
            traced_round_layers(cfg, tracer, [r for r in rounds if r["kind"] == "B"], event_log_lines(cfg))
        )
        layer["session.start_s"] = session_s
        layer["crawl.init_s"] = init_s
        layer["crawl.bootstrap_s"] = bootstrap_s
        traced_rate = window_rate(
            [r["stats"]["fetched"] for r in rounds if r["kind"] == "B"],
            [r["wall"] for r in rounds if r["kind"] == "B"],
        )
        layer["trace.overhead_frac"] = 1.0 - traced_rate / e2e["work_per_s"][0]
        from layers import per_layer_metrics

        metrics = per_layer_metrics(layer)
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
        "context": context,
    }


def _state_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _new_files(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    return {p: s for p, s in after.items() if p not in before}


def traced_round_layers(cfg: dict, tracer, traced: list[dict], log_lines) -> dict[str, float]:
    """Per-round layer numbers averaged over the traced rounds."""
    from tracing import parse_event_log, window_job_stats

    n = len(traced)
    js = window_job_stats(parse_event_log(log_lines), [(r["lo"], r["hi"]) for r in traced], cfg["cores"])
    fetched = sum(r["stats"]["fetched"] for r in traced)
    out = {
        "crawl.jobs_per_round": js["jobs"],
        "crawl.tasks_per_round": js["tasks"],
        "crawl.driver_only_s_per_round": js["driver_only_s"],
        "crawl.task_s_per_kurl": js["run_s"] * n / (fetched / 1000.0) if fetched else 0.0,
        "spark.cpu_frac": js["cpu_frac"],
        "spark.gc_s_per_round": js["gc_s"],
        "spark.shuffle_mb_per_round": js["shuffle_mb"],
        "spark.spill_mb_per_round": js["spill_mb"],
    }
    writes, commits = {f"state.{m}" for m in STORE_WRITES}, {f"state.{m}" for m in STORE_COMMITS}
    for r in traced:
        inside = [s for s in tracer.spans if r["lo"] <= s.start < r["hi"]]
        w = [s for s in inside if s.name in writes]
        per_round = {
            "state.write_s_per_round": sum(s.end - s.start for s in w),
            "state.write_busy_s_per_round": union_length((s.start, s.end) for s in w),
            "state.write_calls_per_round": len(w),
            "state.commit_s_per_round": sum(s.end - s.start for s in inside if s.name in commits),
            "state.files_written_per_round": len(r["files"]),
            "state.mb_written_per_round": sum(r["files"].values()) / 2**20,
            "bloom.save_s_per_round": sum(s.end - s.start for s in inside if s.name == "bloom.save"),
            "bloom.probe_py_s_per_round": r["udf"]["bloom"],
            "images.decode_py_s_per_round": r["udf"]["images"],
        }
        for k, v in per_round.items():
            out[k] = out.get(k, 0.0) + v / n
    return out


def _force(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def isolated_layers(spark, eng) -> dict[str, float]:
    """Each lazy operator layer called on its own over the committed
    state after the last timed round, i.e. the next round's inputs.

    Inputs are pinned first, so each timing covers one layer forced
    through a ``noop`` write; row counts are taken outside the timings.
    The auth/session gate is left out: it is a per-host join with no
    operator of its own.
    """
    from pyspark.sql import functions as F

    from artemis_spark import schemas as S
    from artemis_spark.functions.images import decode_validate_image
    from artemis_spark.functions.markup import extract_outlinks
    from artemis_spark.operators.bloom import with_bloom_maybe_seen
    from artemis_spark.operators.dedup import (
        as_new,
        dedupe_within_batch,
        split_by_bloom,
        validate_against_seen,
    )
    from artemis_spark.operators.politeness import politeness_ranked, with_score
    from artemis_spark.operators.robots import apply_robots_flags
    from artemis_spark.plans.crawl import CANDIDATE_COLS, CANDIDATES_SCHEMA, HOST_STATS_SCHEMA, CrawlEngine
    from artemis_spark.rounds import round_ts
    from artemis_spark.sources.fetch import synthetic_fetch

    store, cfg = eng.store, eng.cfg
    r = store.last_round() + 1
    now = round_ts(r)
    out: dict[str, float] = {}
    url_seen = store.read("url_seen", S.URL_SEEN_SCHEMA).localCheckpoint()
    seen_urls = url_seen.select("url")
    recrawl = CrawlEngine._stale(url_seen, r, cfg.revisit_delay_rounds).select(
        "url", "host", "depth", "nature", F.lit(r).alias("round_added")
    )
    frontier = store.read("frontier", CANDIDATES_SCHEMA).select(*CANDIDATE_COLS)
    cands = dedupe_within_batch(frontier.unionByName(recrawl)).localCheckpoint()
    n_cand = cands.count()
    n_seen = cands.join(seen_urls, "url", "left_semi").count()
    out["crawl.recrawl_frac"] = cands.join(recrawl.select("url"), "url", "left_semi").count() / n_cand
    out["dedup.seen_frac"] = n_seen / n_cand

    bcs: list = []
    probed = with_bloom_maybe_seen(spark, cands, eng.bloom, bc_registry=bcs).localCheckpoint()
    maybe = probed.filter("maybe_seen")
    out["bloom.maybe_seen_frac"] = maybe.count() / n_cand
    false_pos = maybe.join(seen_urls, "url", "left_anti").count()
    out["bloom.false_positive_frac"] = false_pos / (n_cand - n_seen) if n_cand > n_seen else 0.0

    new, maybe_seen = split_by_bloom(probed)
    validated = validate_against_seen(maybe_seen, url_seen, r, cfg.revisit_delay_rounds)
    out["dedup.validate_s"] = _force(validated)
    schedulable = as_new(new).unionByName(validated).localCheckpoint()

    rules = eng.robots.select(
        "host",
        F.col("pattern").cast("string").alias("pattern"),
        F.col("allow").cast("boolean").alias("allow"),
        F.lit(now).alias("fetched_at"),
        F.coalesce(F.col("ttl_s").cast("int"), F.lit(3600)).alias("ttl_s"),
    )
    flagged = apply_robots_flags(schedulable, rules, now)
    out["robots.flags_s"] = _force(flagged)
    flagged = flagged.localCheckpoint()
    n_sched = flagged.count()
    out["robots.blocked_frac"] = flagged.filter(~F.col("robots_allowed")).count() / max(1, n_sched)

    hs = store.read("host_stats", HOST_STATS_SCHEMA)
    scored = with_score(flagged.filter("robots_allowed").drop("robots_allowed"), hs).localCheckpoint()
    ranked = politeness_ranked(scored)
    out["politeness.topk_s"] = _force(ranked)
    ranked = ranked.localCheckpoint()
    n_ranked = ranked.count()
    wave = ranked.filter(F.col("_rk") <= cfg.politeness_budget).drop("_rk").localCheckpoint()
    out["politeness.deferred_frac"] = (n_ranked - wave.count()) / max(1, n_ranked)

    fetched = synthetic_fetch(wave, eng.web, eng.payload_cache)
    out["fetch.join_s"] = _force(fetched)
    fetched = fetched.localCheckpoint()

    pages = fetched.filter((F.col("status") == 200) & F.col("body").isNotNull())
    links = pages.select(extract_outlinks(F.col("body"), F.col("nature")).alias("ex"))
    out["markup.extract_s"] = _force(links)
    n_pages = pages.count()
    n_links = links.select(F.sum(F.size("ex.links"))).first()[0] or 0
    out["markup.links_per_page"] = n_links / max(1, n_pages)

    unchanged = (F.col("status") == 304) | (
        (F.col("status") == 200) & (F.col("last_hash") != "") & (F.col("content_sha224") == F.col("last_hash"))
    )
    images = fetched.filter(
        (F.col("status") == 200)
        & ~unchanged
        & F.col("fmt").isin(*cfg.allowed_fmts)
        & (F.col("nature") != "web_static_sitemap")
        & F.col("bytes").isNotNull()
    )
    decoded = images.select(decode_validate_image(F.col("bytes")).alias("d"))
    out["images.decode_s"] = _force(decoded)
    out["images.decoded_rows_per_round"] = float(images.count())
    while bcs:
        bcs.pop().destroy()
    return out
