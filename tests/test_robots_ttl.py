"""Honest robots TTL in the round loop (/root/reference/src/Robot.py:91-98):
rules are cached with their REAL fetch time; a change in the live web's
robots.txt becomes visible only when the cached entry's TTL expires —
on the exact round the reference's RobotCache would re-fetch."""

import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from artemis_spark.datagen import generate  # noqa: E402
from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine  # noqa: E402


def _write_robots(web: str, allow: bool) -> None:
    df = pd.DataFrame(
        [
            {
                "host": "host0000.test",
                "pattern": "/page",
                "allow": allow,
                "sitemap_url": None,
                # source fetched_at is ignored by the engine (it stamps its
                # own fetch time); ttl 7200s = 2 logical rounds
                "fetched_at": pd.Timestamp("2026-01-01T00:00:00Z"),
                "ttl_s": 7200,
            }
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        f"{web}/robots_rules.parquet",
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )


def test_robots_rule_expires_on_the_correct_round(spark, tmp_path):
    web = str(tmp_path / "web")
    generate("tiny", web)
    _write_robots(web, allow=False)

    state = str(tmp_path / "state")
    cfg = CrawlConfig(politeness_budget=8, num_partitions=4, bloom_shards=8)
    CrawlEngine(spark, web, state, cfg).run(1)  # round 0: fetches robots at T0

    # the live web flips: host0 becomes allowed — but the engine's cache
    # (fetched at T0, ttl 7200 = rounds 0..2) must keep blocking until it
    # expires at round 3
    _write_robots(web, allow=True)
    eng = CrawlEngine(spark, web, state, cfg)  # resume against the new web
    eng.run(3)  # rounds 1, 2, 3

    log = eng.store.read_appended("crawl_log")
    h0 = [
        (r["round"], r["status"])
        for r in log.filter(log["host"] == "host0000.test").collect()
    ]
    per_round = {}
    for rnd, status in h0:
        per_round.setdefault(rnd, set()).add(status)

    # cross-host links keep producing fresh host0 candidates every round
    for rnd in (0, 1, 2, 3):
        assert per_round.get(rnd), f"no host0 candidates reached round {rnd}"
    for rnd in (0, 1, 2):
        assert per_round[rnd] == {999}, (
            f"round {rnd}: cached disallow must still block, got {per_round[rnd]}"
        )
    assert 999 not in per_round[3], "expired rule must be re-fetched at round 3"
    assert 200 in per_round[3]

    # the cache itself records the re-fetch: one live entry for host0
    cache = eng.store.read("robots_cache")
    row = cache.filter(cache["host"] == "host0000.test").collect()
    assert len(row) == 1 and row[0]["allow"] is True
    assert row[0]["fetched_at"].hour == 3  # re-fetched at round 3, not before


def test_rule_less_host_is_negatively_cached(spark, tmp_path):
    """A host the robots source has no rules for is cached as one
    NULL-pattern sentinel row stamped with the fetch round (ttl 3600 =
    one logical round), and that row is served, not re-fetched, while
    it is live: round 1 leaves it unchanged."""
    from artemis_spark.rounds import round_ts

    web = str(tmp_path / "web")
    generate("tiny", web)
    _write_robots(web, allow=False)  # rules for host0000 only

    eng = CrawlEngine(
        spark, web, str(tmp_path / "state"),
        CrawlConfig(politeness_budget=8, num_partitions=4, bloom_shards=8),
    )
    eng.run(1)
    hosts = {
        r["host"] for r in eng.store.read_appended("crawl_log").collect()
    } - {"host0000.test"}
    assert hosts, "round 0 reached no rule-less host"

    def rows():
        cache = eng.store.read("robots_cache").drop("bucket")
        return {
            h: [r.asDict() for r in cache.filter(cache["host"] == h).collect()]
            for h in hosts
        }

    after_round0 = rows()
    for host, cached in after_round0.items():
        assert len(cached) == 1, (host, cached)
        (row,) = cached
        assert row["pattern"] is None and row["allow"] is None, row
        assert row["ttl_s"] == 3600
        # collected timestamps are naive local time; compare instants
        assert row["fetched_at"].timestamp() == round_ts(0).timestamp()
    eng.run(1)
    assert rows() == after_round0
