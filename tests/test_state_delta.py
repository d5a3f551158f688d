"""Delta-log MERGE layout of the three per-host state tables: url_seen
(VERDICT r02 #4), robots_cache and host_stats (VERDICT r02 #3).

The scale claims under test:
  * a delta round writes O(|wave|) rows even when every bucket is dirty
    (the bucketed-rewrite layout degraded to O(|state|) on broad waves);
  * the chain is compacted so read amplification stays bounded;
  * the layout knob changes no observable crawl output;
  * robots_cache / host_stats append only the hosts a round actually
    changed (re-fetched rule sets / inlink increments) — per-round
    write cost tracks the wave, never the host history.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine  # noqa: E402


def _version_rows(root: str, table: str, v: int) -> int:
    """Physical parquet rows in one version dir (0 if empty/missing)."""
    vdir = os.path.join(root, table, f"v{v}")
    n = 0
    for dirpath, _dirs, files in os.walk(vdir):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return n


def _cfg(**kw):
    base = dict(politeness_budget=5, num_partitions=4, bloom_shards=8)
    base.update(kw)
    return CrawlConfig(**base)


def test_delta_layout_equals_rewrite_layout(spark, tmp_path, tiny_web):
    """state_delta_max_chain is a physical layout knob only: a delta
    chain and compacting every round (max chain 1) must produce
    identical url_seen and crawl_log."""
    a = CrawlEngine(
        spark, tiny_web, str(tmp_path / "delta"), _cfg(state_delta_max_chain=4)
    )
    a.run(3)
    b = CrawlEngine(
        spark, tiny_web, str(tmp_path / "rewrite"), _cfg(state_delta_max_chain=1)
    )
    b.run(3)

    def seen(eng):
        return {
            (r["url"], r["last_hash"], r["refresh_rate"], r["depth"], r["nature"])
            for r in eng.store.read("url_seen").collect()
        }

    def log(eng):
        return {
            (r["round"], r["url"], r["status"])
            for r in eng.store.read_appended("crawl_log").collect()
        }

    def stats(eng):
        return {
            (r["host"], r["inlinks"])
            for r in eng.store.read("host_stats").collect()
        }

    assert seen(a) == seen(b)
    assert log(a) == log(b)
    # host_stats uses the additive ("sum") delta merge — reconstruction
    # must equal the every-round compaction's cumulative counters exactly
    assert stats(a) == stats(b)
    # and the delta run really used a chain (>1 live version at some point)
    assert len(a.store.delta_chain("url_seen")) > 1
    assert len(a.store.delta_chain("host_stats")) > 1
    assert b.store.delta_chain("url_seen") == [b.store.current_version("url_seen")]


def test_delta_write_cost_tracks_wave_not_state(spark, tmp_path, tiny_web):
    """Recrawl-heavy steady state: every URL is re-fetched every round, so
    the bucketed-rewrite layout would rewrite the whole state each round.
    The delta layout must keep per-round written rows at O(|wave|) while
    |url_seen| grows to many times the wave."""
    state = str(tmp_path / "state")
    eng = CrawlEngine(
        spark, tiny_web, state,
        _cfg(politeness_budget=4, revisit_delay_rounds=1,
             state_delta_max_chain=12),
    )
    eng.run(8)
    chain = eng.store.delta_chain("url_seen")
    assert len(chain) >= 4, f"expected a delta chain, got {chain}"
    state_rows = eng.store.read("url_seen").count()
    # |updates| per round == that round's crawl_log rows (fetched +
    # robots-blocked + auth-deferred), politeness-bounded
    log = eng.store.read_appended("crawl_log")
    per_round = [
        r["c"] for r in log.groupBy("round").agg(F.count("*").alias("c")).collect()
    ]
    max_updates = max(per_round)
    for v in chain[1:]:  # deltas only (chain[0] is the compacted/initial base)
        dv = _version_rows(state, "url_seen", v)
        assert dv <= max_updates, (
            f"delta v{v} wrote {dv} rows (> max per-round updates "
            f"{max_updates}) — write cost is not tracking |updates|"
        )
    assert state_rows > 2 * max_updates, (
        f"fixture too small to distinguish wave from state "
        f"({state_rows} vs {max_updates})"
    )


def test_delta_chain_compaction(spark, tmp_path, tiny_web):
    """The chain never exceeds state_delta_max_chain: reaching the cap
    triggers a compaction round that rewrites one bucketed base."""
    eng = CrawlEngine(
        spark, tiny_web, str(tmp_path / "state"),
        _cfg(politeness_budget=50, revisit_delay_rounds=1,
             state_delta_max_chain=3),
    )
    eng.bootstrap()
    for _ in range(6):
        eng.run_round()
        chain = eng.store.delta_chain("url_seen")
        assert 1 <= len(chain) <= 3, f"chain {chain} exceeds the cap"
        hs_chain = eng.store.delta_chain("host_stats")
        assert 1 <= len(hs_chain) <= 3, f"host_stats chain {hs_chain}"
    df = eng.store.read("url_seen")
    assert df.count() == df.select("url").distinct().count()
    hs = eng.store.read("host_stats")
    assert hs.count() == hs.select("host").distinct().count()


def test_robots_and_host_stats_link_clean_buckets(spark, tmp_path, tiny_web):
    """robots_cache (delta layout since r05) and host_stats (since r04)
    append only this round's changes — re-fetched rule sets / inlink
    increments — so per-round written rows track the wave, never the
    host history."""
    state = str(tmp_path / "state")
    # small budget: waves touch few hosts per round, so each round's
    # refreshed rule set is a small fraction of the full robots table
    eng = CrawlEngine(spark, tiny_web, state, _cfg(politeness_budget=2))
    eng.run(4)
    rc_chain = eng.store.delta_chain("robots_cache")
    assert len(rc_chain) >= 2, f"robots_cache never went delta: {rc_chain}"
    rc_full = eng.store.read("robots_cache").count()
    rc_deltas = [_version_rows(state, "robots_cache", v) for v in rc_chain[1:]]
    assert all(d <= rc_full for d in rc_deltas)
    assert sum(rc_deltas) < len(rc_deltas) * rc_full, (
        "every robots_cache delta rewrote the full rule set — appends "
        "are not tracking the refreshed hosts"
    )
    # reconstruction keeps each host's NEWEST rule set exactly once: no
    # duplicate (host, pattern) pairs survive the chain merge
    rc = eng.store.read("robots_cache")
    assert (
        rc.groupBy("host", "pattern").count().filter(F.col("count") > 1).count()
        == 0
    )
    # host_stats: a real delta chain, and every delta version physically
    # smaller than the full reconstructed host set would be O(|hosts|)
    hs_chain = eng.store.delta_chain("host_stats")
    assert len(hs_chain) >= 2, f"host_stats never went delta: {hs_chain}"
    n_hosts = eng.store.read("host_stats").count()
    for v in hs_chain[1:]:
        dv = _version_rows(state, "host_stats", v)
        assert dv <= n_hosts
    assert sum(
        _version_rows(state, "host_stats", v) for v in hs_chain[1:]
    ) < len(hs_chain[1:]) * n_hosts, (
        "every host_stats delta rewrote the full host set — appends are "
        "not tracking the wave"
    )
    # consistency: stored bucket col matches the pinned modulus, hosts unique
    nb = int(eng.store.manifest()["state_buckets"])
    for table in ("robots_cache", "host_stats"):
        df = eng.store.read(table)
        assert "bucket" in df.columns
        bad = df.filter(
            F.col("bucket") != F.pmod(F.xxhash64("host"), F.lit(nb)).cast("int")
        ).count()
        assert bad == 0
    hs = eng.store.read("host_stats")
    assert hs.count() == hs.select("host").distinct().count()


def test_state_reads_launch_no_jobs(spark, tmp_path, tiny_web):
    """Opening the store's tables is planning only: a typed read never
    runs parquet schema inference (one Spark job per version dir), so a
    round's state reads cost no jobs however long the chain grows."""
    from artemis_spark.plans.crawl import CANDIDATES_SCHEMA
    from artemis_spark.schemas import URL_SEEN_SCHEMA

    eng = CrawlEngine(
        spark, tiny_web, str(tmp_path / "state"),
        _cfg(revisit_delay_rounds=1, state_delta_max_chain=4),
    )
    eng.run(3)
    assert len(eng.store.delta_chain("url_seen")) >= 2
    sc = spark.sparkContext
    sc.setJobGroup("state_reads_probe", "typed state reads")
    try:
        seen = eng.store.read("url_seen", URL_SEEN_SCHEMA)
        frontier = eng.store.read("frontier", CANDIDATES_SCHEMA)
        jobs = sc.statusTracker().getJobIdsForGroup("state_reads_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], f"opening the state ran {len(jobs)} job(s)"
    assert "bucket" in seen.columns
    assert seen.count() == seen.select("url").distinct().count() > 0
    assert frontier.columns == CANDIDATES_SCHEMA.fieldNames()
