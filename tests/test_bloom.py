"""Bloom-shard layer: no false negatives ever, bounded false positives,
incremental per-shard build, saved-dir roundtrip (F1 tier;
reference analogue Slave.py:112,118-142)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from artemis_spark.functions.urls import host_partition_key
from artemis_spark.operators.bloom import (
    BloomShards,
    update_and_save_shards,
    with_bloom_maybe_seen,
    with_bloom_maybe_seen_shard_local,
)


def test_no_false_negatives_and_low_fp():
    bs = BloomShards(4, bits_per_shard=1 << 16, n_hashes=7)
    urls = pd.Series([f"http://h{i%37}.test/p{i}" for i in range(2000)])
    shards = np.array([i % 4 for i in range(2000)], dtype=np.int64)
    for s in range(4):
        bs.add(s, urls[shards == s])
    assert bs.might_contain(shards, urls).all()  # zero false negatives
    other = pd.Series([f"http://h{i%37}.test/OTHER{i}" for i in range(2000)])
    fp = bs.might_contain(shards, other).mean()
    assert fp < 0.05, f"false-positive rate too high: {fp}"


def test_shard_isolation():
    bs = BloomShards(2, bits_per_shard=1 << 14)
    bs.add(0, pd.Series(["http://a.test/x"]))
    assert bs.might_contain(np.array([0]), pd.Series(["http://a.test/x"]))[0]
    assert not bs.might_contain(np.array([1]), pd.Series(["http://a.test/x"]))[0]


def _urls(spark, tag):
    return spark.createDataFrame(
        [(f"http://h{i%11}.test/{tag}{i}", f"h{i%11}.test") for i in range(500)],
        "url string, host string",
    )


def test_distributed_build_and_probe(spark, tmp_path):
    df = _urls(spark, "p")
    v0 = str(tmp_path / "v0")
    update_and_save_shards(df, v0, None, 8, 1 << 16)
    bs = BloomShards.load_dir(v0)
    probed = with_bloom_maybe_seen(spark, df, bs)
    assert probed.where(~F.col("maybe_seen")).count() == 0  # all known
    fresh = _urls(spark, "NEW")
    fp = with_bloom_maybe_seen(spark, fresh, bs).where(F.col("maybe_seen")).count()
    assert fp < 25  # <5% false positives skip the anti-join bypass

    # incremental: second update must not lose the first round's URLs
    v1 = str(tmp_path / "v1")
    update_and_save_shards(fresh, v1, v0, 8, 1 << 16)
    bs = BloomShards.load_dir(v1)
    assert with_bloom_maybe_seen(spark, df, bs).where(~F.col("maybe_seen")).count() == 0
    assert with_bloom_maybe_seen(spark, fresh, bs).where(~F.col("maybe_seen")).count() == 0


def test_save_dir_roundtrip_and_hardlink_reuse(spark, tmp_path):
    import os

    p1 = str(tmp_path / "v0")
    one = spark.createDataFrame([("u1", "a.test"), ("u2", "a.test")], "url string, host string")
    dirty1 = update_and_save_shards(one, p1, None, 4, 1 << 14, n_hashes=5)
    bs = BloomShards.load_dir(p1)
    assert bs.m == 1 << 14 and bs.k == 5 and bs.num_shards == 4
    (s1,) = dirty1
    assert bs.might_contain(np.array([s1, s1]), pd.Series(["u1", "u2"])).all()
    assert not bs.bits[[s for s in range(4) if s != s1]].any()  # clean: zeros

    two = spark.createDataFrame([("u3", "b.test")], "url string, host string")
    p2 = str(tmp_path / "v1")
    (s2,) = update_and_save_shards(two, p2, p1, 4, 1 << 14, n_hashes=5)
    bs2 = BloomShards.load_dir(p2)
    assert bs2.might_contain(np.array([s1, s1, s2]), pd.Series(["u1", "u2", "u3"])).all()
    ino = lambda p, s: os.stat(os.path.join(p, f"shard_{s:05d}.npy")).st_ino
    for s in range(4):
        if s != s2:
            assert ino(p2, s) == ino(p1, s)  # clean: linked
    assert ino(p2, s2) != ino(p1, s2)  # dirty: rewritten


def test_shard_local_probe_equals_broadcast(spark, tmp_path):
    df = _urls(spark, "p")
    bdir = str(tmp_path / "bloomdir")
    update_and_save_shards(df, bdir, None, 8, 1 << 16)
    bs = BloomShards.load_dir(bdir)
    mixed = df.union(_urls(spark, "NEW"))
    via_bc = {
        (r["url"], r["maybe_seen"])
        for r in with_bloom_maybe_seen(spark, mixed, bs).collect()
    }
    via_local = {
        (r["url"], r["maybe_seen"])
        for r in with_bloom_maybe_seen_shard_local(mixed, bdir, 4).collect()
    }
    assert via_local == via_bc


def test_shard_key_matches_engine(spark):
    df = spark.createDataFrame([("h%d.test" % i,) for i in range(50)], "host string")
    got = df.select(host_partition_key(F.col("host"), 8).alias("s")).collect()
    assert all(0 <= r["s"] < 8 for r in got)
