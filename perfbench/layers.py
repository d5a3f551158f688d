"""The per-layer metrics of the traced run: name -> (unit, better).

One registry for both workloads, so every traced run prints every name;
a layer that does not run on a workload reports 0.  BENCHMARK.json's
``per_layer`` list is this table (a unit test keeps the two equal).
"""

from __future__ import annotations

# bench.py's HEADLINE list, copied rather than imported so that a later
# change to bench.py cannot change what this benchmark measures.
HEADLINE = [
    "dedup_anti_join",
    "politeness_topk",
    "crawl_metrics_rollup",
    "sessionize",
    "token_quality",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_docs",
    "ann_brute_topk",
]

LAYER_METRICS: dict[str, tuple[str, str]] = {
    # set-up (-> setup_s)
    "session.start_s": ("s", "lower"),
    "crawl.init_s": ("s", "lower"),
    "crawl.bootstrap_s": ("s", "lower"),
    # web caches (-> warmup_s on recrawl)
    "fetch.cache_build_s": ("s", "lower"),
    # round shape (-> round_s_p50)
    "crawl.jobs_per_round": ("count", "lower"),
    "crawl.tasks_per_round": ("count", "lower"),
    "crawl.driver_only_s_per_round": ("s", "lower"),
    # executor work (-> work_per_s on recrawl)
    "crawl.task_s_per_kurl": ("s", "lower"),
    "spark.cpu_frac": ("frac", "higher"),
    "spark.gc_s_per_round": ("s", "lower"),
    "spark.shuffle_mb_per_round": ("MB", "lower"),
    "spark.spill_mb_per_round": ("MB", "lower"),
    # state store (-> round_s_p50, work_per_s)
    "state.write_s_per_round": ("s", "lower"),
    "state.write_busy_s_per_round": ("s", "lower"),
    "state.commit_s_per_round": ("s", "lower"),
    "state.write_calls_per_round": ("count", "lower"),
    "state.files_written_per_round": ("count", "lower"),
    "state.mb_written_per_round": ("MB", "lower"),
    "state.mb_on_disk": ("MB", "lower"),
    "state.delta_chain_max": ("count", "lower"),
    # bloom pre-filter and its inputs (-> work_per_s on recrawl)
    "bloom.save_s_per_round": ("s", "lower"),
    "bloom.probe_py_s_per_round": ("s", "lower"),
    "bloom.maybe_seen_frac": ("frac", "lower"),
    "bloom.false_positive_frac": ("frac", "lower"),
    "crawl.recrawl_frac": ("frac", "lower"),
    # per-row operator layers (-> work_per_s on recrawl)
    "images.decode_py_s_per_round": ("s", "lower"),
    "images.decode_s": ("s", "lower"),
    "images.decoded_rows_per_round": ("count", "higher"),
    "markup.extract_s": ("s", "lower"),
    "markup.links_per_page": ("count", "higher"),
    "fetch.join_s": ("s", "lower"),
    "dedup.validate_s": ("s", "lower"),
    "dedup.seen_frac": ("frac", "lower"),
    "politeness.topk_s": ("s", "lower"),
    "politeness.deferred_frac": ("frac", "lower"),
    "robots.flags_s": ("s", "lower"),
    "robots.blocked_frac": ("frac", "lower"),
    # headline queries (-> round_s_p50 and warmup_s on queries)
    **{f"q.{n}.warm_s": ("s", "lower") for n in HEADLINE},
    **{f"q.{n}.cold_s": ("s", "lower") for n in HEADLINE},
    "q.jobs_per_pass": ("count", "lower"),
    # the traced run against the untraced rounds of the same run
    "trace.overhead_frac": ("frac", "lower"),
}


def per_layer_metrics(values: dict[str, float]) -> dict[str, dict]:
    """Every registered metric with its unit; unknown names are an error
    (a typo would otherwise silently report 0)."""
    unknown = set(values) - set(LAYER_METRICS)
    if unknown:
        raise KeyError(f"unregistered layer metrics: {sorted(unknown)}")
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, (unit, _) in LAYER_METRICS.items()
    }
