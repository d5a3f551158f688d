"""Quantify per-round Janino codegen compile cost in the crawl loop.

Reads org.apache.spark.metrics.source.CodegenMetrics (compile-time
histogram + generated-class counters) before/after each round.  Run
with ARTEMIS_EXTRA_CONF='{"spark.sql.codegen.cache.maxEntries":"10000"}'
to A/B the static codegen-cache size (default 100 entries LRU — a
46-job round generates hundreds of classes, so round-invariant code
recompiles every round when the cache thrashes).
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import bench as B
    from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine
    from artemis_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("prof_codegen")
    jvm = spark.sparkContext._jvm
    cg = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compile_stats() -> tuple[int, float]:
        """(n_compilations, approx_total_ms).

        The codahale histogram uses a decaying reservoir, so the exact
        per-round total isn't recoverable — approximate with
        count * mean, which is accurate while the reservoir (1028) holds
        most samples (true for a few-round run)."""
        h = cg.METRIC_COMPILATION_TIME()
        return int(h.getCount()), h.getCount() * h.getSnapshot().getMean()

    tier = os.environ.get("ARTEMIS_BENCH_TIER", "bench")
    web_dir = os.path.join(tempfile.gettempdir(), f"artemis_bench_web_{tier}")
    seeds = B._dense_seeds(web_dir, tier, 64)
    state_dir = f"/dev/shm/artemis_cgprof_{os.getpid()}"
    shutil.rmtree(state_dir, ignore_errors=True)
    cfg = CrawlConfig(
        politeness_budget=int(os.environ.get("ARTEMIS_BENCH_BUDGET", "1024")),
        num_partitions=cpus,
        bloom_shards=cpus * 2,
        light_stats=True,
        revisit_delay_rounds=1,
    )
    eng = CrawlEngine(spark, web_dir, state_dir, cfg, seeds_path=seeds)
    eng.bootstrap()
    rounds = int(os.environ.get("ARTEMIS_BENCH_ROUNDS", "4"))
    prev_n, prev_ms = compile_stats()
    for r in range(rounds):
        t0 = time.monotonic()
        st = eng.run_round()
        wall = time.monotonic() - t0
        n, ms = compile_stats()
        print(
            f"ROUND {r} wall={wall:.1f}s sched={st['scheduled']} "
            f"n_compile={n - prev_n} compile_ms={ms - prev_ms:.0f}",
            flush=True,
        )
        prev_n, prev_ms = n, ms
    shutil.rmtree(state_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
