"""Host-bucketed state: every per-host state table stores
pmod(xxhash64(host), state_buckets) under a modulus pinned in the
manifest, and the bucket count is a physical layout knob only."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine  # noqa: E402


def test_resume_with_different_state_buckets_uses_pinned_modulus(
    spark, tmp_path, tiny_web
):
    """The bucket modulus is pinned in the manifest at first commit; a
    resume with a different cfg.state_buckets must adopt the stored value
    (mixed-modulus pruning would duplicate URLs across buckets)."""
    state = str(tmp_path / "state")
    a = CrawlEngine(
        spark, tiny_web, state,
        CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8,
                    state_buckets=64),
    )
    a.run(2)
    b = CrawlEngine(
        spark, tiny_web, state,
        CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8,
                    state_buckets=256),  # conflicting config on resume
    )
    b.run(1)
    df = b.store.read("url_seen")
    assert df.count() == df.select("url").distinct().count()
    # every row's bucket still matches the PINNED modulus (64)
    bad = df.filter(
        F.col("bucket") != F.pmod(F.xxhash64("host"), F.lit(64)).cast("int")
    ).count()
    assert bad == 0
    assert int(b.store.manifest()["state_buckets"]) == 64


def test_bucketed_state_equals_single_bucket_run(spark, tmp_path, tiny_web):
    """state_buckets is a physical layout knob only: B=1 (full rewrite,
    round-1 behavior) and B=64 must produce identical crawls."""
    a = CrawlEngine(
        spark, tiny_web, str(tmp_path / "b1"),
        CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8,
                    state_buckets=1),
    )
    a.run(2)
    b = CrawlEngine(
        spark, tiny_web, str(tmp_path / "b64"),
        CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8,
                    state_buckets=64),
    )
    b.run(2)

    def seen(eng):
        return {
            (r["url"], r["last_hash"], r["refresh_rate"], r["depth"])
            for r in eng.store.read("url_seen").collect()
        }

    def log(eng):
        return {
            (r["round"], r["url"], r["status"])
            for r in eng.store.read_appended("crawl_log").collect()
        }

    assert seen(a) == seen(b)
    assert log(a) == log(b)
