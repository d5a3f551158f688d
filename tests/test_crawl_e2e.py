"""Golden end-to-end: the Spark engine must reproduce the pure-Python
reference model's crawl order, crawl log and final URL-seen set on the
deterministic tiny synthetic web (SURVEY.md §5 item 2; north_rule
"matching the reference's crawl ordering and URL-seen set under the
same seed list + politeness budget")."""

import pytest

from artemis_spark.model import ModelConfig, ReferenceModel
from artemis_spark.plans.crawl import CANDIDATES_SCHEMA, CrawlConfig, CrawlEngine

N_ROUNDS = 4
BUDGET = 5


@pytest.fixture(scope="module")
def engine_run(spark, tiny_web, tmp_path_factory):
    """(engine, per-round stats, round traffic) of one N_ROUNDS crawl.

    The traffic records, over the whole run, every load of a full bloom
    version into the driver (``BloomShards.load_dir``) and every
    broadcast of a bitset (a ``SparkContext.broadcast`` value carrying
    ``"bits"``) — both patched on their classes, so any caller is seen —
    and, per round, the ``MapInPandas`` nodes in the physical plans of
    all the round's pins (``_Round.pin``; the bloom probe is the round's
    only ``mapInPandas``), the persistent RDDs created since the crawl
    began that are still registered when the round returns, and the row
    count of the frontier it committed."""
    from pyspark import SparkContext

    from artemis_spark.operators.bloom import BloomShards
    from artemis_spark.plans.crawl import _Round

    state = str(tmp_path_factory.mktemp("state"))
    eng = CrawlEngine(
        spark,
        tiny_web,
        state,
        CrawlConfig(politeness_budget=BUDGET, num_partitions=4, bloom_shards=8),
    )
    traffic = {
        "load_dir": [], "bitset_broadcast": 0, "map_in_pandas": {},
        "persistent_rdds": [], "frontier_rows": [],
    }
    load_dir, broadcast, pin = BloomShards.load_dir, SparkContext.broadcast, _Round.pin
    run_round = CrawlEngine.run_round
    sc = spark.sparkContext
    first_rdd = sc.parallelize([]).id()  # RDD ids grow: later ones are this crawl's

    def recording_load_dir(cls, path):
        traffic["load_dir"].append(path)
        return load_dir(path)

    def recording_broadcast(self, value):
        if isinstance(value, dict) and "bits" in value:
            traffic["bitset_broadcast"] += 1
        return broadcast(self, value)

    def recording_pin(self, df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        nodes = traffic["map_in_pandas"]
        nodes[self.r] = nodes.get(self.r, 0) + plan.count("MapInPandas")
        return pin(self, df)

    def recording_run_round(self):
        stats = run_round(self)
        persistent = sc._jsc.getPersistentRDDs().keySet()
        traffic["persistent_rdds"].append(sum(1 for i in persistent if i > first_rdd))
        traffic["frontier_rows"].append(
            self.store.read("frontier", CANDIDATES_SCHEMA).count()
        )
        return stats

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(BloomShards, "load_dir", classmethod(recording_load_dir))
        mp.setattr(SparkContext, "broadcast", recording_broadcast)
        mp.setattr(_Round, "pin", recording_pin)
        mp.setattr(CrawlEngine, "run_round", recording_run_round)
        stats = eng.run(N_ROUNDS)
    return eng, stats, traffic


@pytest.fixture(scope="module")
def model_run(tiny_web):
    m = ReferenceModel(tiny_web, ModelConfig(politeness_budget=BUDGET))
    return m, m.run(N_ROUNDS)


def _engine_log(eng):
    df = eng.store.read_appended("crawl_log")
    return [r.asDict() for r in df.collect()]


def test_rounds_progress(engine_run):
    _, stats, _ = engine_run
    assert len(stats) == N_ROUNDS
    assert stats[0]["scheduled"] > 0
    assert stats[1]["scheduled"] > 0


def test_rounds_neither_load_nor_broadcast_a_bitset(engine_run):
    """Every round probes the bloom shard-locally: no round loads a full
    bloom version into the driver or broadcasts a bitset."""
    _, stats, traffic = engine_run
    assert len(stats) == N_ROUNDS
    assert traffic["load_dir"] == [] and traffic["bitset_broadcast"] == 0


def test_bloom_probe_runs_once_per_round(engine_run):
    """Each candidate is probed once: round 0 (no bloom version yet)
    plans no probe, and every later round plans exactly one
    ``MapInPandas`` across all its pins — the gate's bloom-negative and
    bloom-positive branches scan the probed candidates pin."""
    _, stats, traffic = engine_run
    assert traffic["map_in_pandas"] == {
        s["round"]: (0 if s["round"] == 0 else 1) for s in stats
    }


def test_rounds_free_their_pins(engine_run):
    """A round frees the checkpoint blocks of every pin it made: from
    round 1 on (the engine's own caches are built by then) the same
    number of persistent RDDs is left after every round."""
    _, stats, traffic = engine_run
    assert len(traffic["persistent_rdds"]) == len(stats) == N_ROUNDS
    assert len(set(traffic["persistent_rdds"][1:])) == 1, traffic["persistent_rdds"]


def test_new_candidates_is_committed_frontier_size(engine_run):
    """Without light_stats a round reports the row count of the
    frontier version it committed."""
    _, stats, traffic = engine_run
    assert [s["new_candidates"] for s in stats] == traffic["frontier_rows"]


def test_web_without_page_bodies_is_refused(spark, tiny_web, tmp_path):
    """Outlinks come from the page bytes: a link_graph without ``body``
    is refused when the engine is built, before any round runs."""
    import shutil

    import pyarrow.parquet as pq

    web = tmp_path / "web"
    shutil.copytree(tiny_web, web)
    lg = pq.read_table(web / "link_graph.parquet")
    pq.write_table(lg.drop(["body"]), web / "link_graph.parquet")
    state = tmp_path / "state"
    with pytest.raises(ValueError, match="'body'"):
        CrawlEngine(spark, str(web), str(state), CrawlConfig(num_partitions=4))
    assert not state.exists()


def test_crawl_order_matches_model(engine_run, model_run):
    eng, _, _ = engine_run
    model, result = model_run
    log = _engine_log(eng)
    for r in range(N_ROUNDS):
        eng_urls = sorted(
            row["url"]
            for row in log
            if row["round"] == r and row["status"] not in (997, 998, 999)
        )
        mod_urls = sorted(result["rounds"][r]) if r < len(result["rounds"]) else []
        assert eng_urls == mod_urls, f"round {r} fetch set diverged"


def test_crawl_log_rows_match_model(engine_run, model_run):
    eng, _, _ = engine_run
    model, result = model_run
    key = lambda d: (d["round"], d["url"])
    eng_rows = {
        key(r): (r["status"], r["image_id"], r["phash"], r["caption"], r["auth"])
        for r in _engine_log(eng)
    }
    mod_rows = {
        key(r): (r["status"], r["image_id"], r["phash"], r["caption"], r["auth"])
        for r in result["crawl_log"]
    }
    assert eng_rows == mod_rows


def test_final_url_seen_matches_model(engine_run, model_run):
    eng, _, _ = engine_run
    model, result = model_run
    seen_df = eng.store.read("url_seen")
    eng_seen = {
        r["url"]: (r["last_hash"], r["refresh_rate"], r["depth"])
        for r in seen_df.collect()
    }
    mod_seen = {
        u: (e["last_hash"], e["refresh_rate"], e["depth"])
        for u, e in result["url_seen"].items()
    }
    assert eng_seen == mod_seen


def test_lineage_metrics_written(engine_run):
    eng, _, _ = engine_run
    lm = eng.store.read_appended("lineage_metrics")
    rows = lm.collect()
    assert len(rows) > 0
    assert all(r["urls_scheduled"] <= r["urls_in"] for r in rows)
    by_round = {}
    for r in rows:
        by_round[r["round"]] = by_round.get(r["round"], 0) + r["urls_fetched"]
    assert by_round[0] > 0


def test_payload_validation_all_ok(engine_run):
    """input_hint: decoded phash + dims must equal the fixture metadata
    for every saved payload (PSNR/allclose equivalence is asserted
    per-codec in test_images.py)."""
    eng, _, _ = engine_run
    log = eng.store.read_appended("crawl_log")
    saved = log.filter(log["image_id"].isNotNull()).collect()
    assert len(saved) > 0
    assert all(r["payload_ok"] for r in saved)


def test_torrent_magnets_queued(engine_run, model_run):
    """S6 in-round wiring: the tiny web seeds one ``.torrent`` URL; its
    fetched payload must be bencode-parsed into a magnet task, logged
    with the handler-queue marker (997) and MERGEd into url_seen keyed
    by the full magnet URI (info-hash identity — Task.buildFromFile,
    /root/reference/src/Task.py:47-59).  Row-level equality with the
    model is covered by test_crawl_log_rows_match_model; this asserts
    the torrent-specific invariants directly."""
    eng, _, _ = engine_run
    _, result = model_run
    queued = [r for r in _engine_log(eng) if r["status"] == 997]
    assert queued, "no magnet task was queued from the seeded .torrent"
    assert all(r["url"].startswith("magnet:?xt=urn:btih:") for r in queued)
    # one queue row per info-hash: unchanged .torrent content must not
    # re-queue on recrawl (F7 short-circuit)
    assert len({r["url"] for r in queued}) == len(queued)
    seen_df = eng.store.read("url_seen")
    magnets = {
        r["url"]: r for r in seen_df.collect() if r["url"].startswith("magnet:")
    }
    assert set(magnets) == {r["url"] for r in queued}
    for row in magnets.values():
        assert row["nature"] == "web_static_torrent"


def test_crawl_to_exhaustion_keeps_one_schema(spark, tmp_path, tiny_web):
    """An empty round runs the same stages as any other: after a crawl
    ends on its first empty round, crawl_log and lineage_metrics still
    read as one table each, and the empty round reports the same keys.
    The one seed links to a single leaf page, so round 2 is empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    seeds = str(tmp_path / "seeds.parquet")
    pq.write_table(
        pa.table({
            "url": ["http://host0004.test/page8"],
            "depth": pa.array([0], pa.int32()),
            "nature": ["web_static"],
        }),
        seeds,
    )
    eng = CrawlEngine(
        spark, tiny_web, str(tmp_path / "state"),
        CrawlConfig(politeness_budget=BUDGET, num_partitions=4, bloom_shards=8),
        seeds_path=seeds,
    )
    stats = eng.run(6)
    assert [s["candidates"] for s in stats] == [1, 1, 0]
    assert all(s.keys() == stats[-1].keys() for s in stats)
    assert stats[-1]["new_candidates"] == 0
    log = eng.store.read_appended("crawl_log").collect()
    assert sorted((r["round"], r["status"]) for r in log) == [(0, 200), (1, 200)]
    lineage = eng.store.read_appended("lineage_metrics").collect()
    assert sorted(r["round"] for r in lineage) == [0, 1]


def test_resume_after_interrupt_equals_straight_run(spark, tmp_path, tiny_web):
    """North-rule resumability: stop after round k, build a NEW engine on
    the same state dir, continue — final url_seen and crawl_log equal an
    uninterrupted run over the same web."""
    from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8)

    straight = CrawlEngine(spark, tiny_web, str(tmp_path / "s1"), cfg)
    straight.run(3)

    part1 = CrawlEngine(spark, tiny_web, str(tmp_path / "s2"), cfg)
    part1.run(2)
    resumed = CrawlEngine(spark, tiny_web, str(tmp_path / "s2"), cfg)  # fresh process stand-in
    resumed.run(1)

    def snap(eng):
        seen = {
            (r["url"], r["last_hash"], r["refresh_rate"])
            for r in eng.store.read("url_seen").collect()
        }
        log = {
            (r["round"], r["url"], r["status"], r["image_id"], r["phash"])
            for r in eng.store.read_appended("crawl_log").collect()
        }
        return seen, log

    assert snap(resumed) == snap(straight)


def test_crash_between_write_and_commit_is_recovered(spark, tmp_path, tiny_web):
    """A round that dies AFTER writing version dirs but BEFORE the
    manifest swap must leave the previous snapshot intact; the re-run
    overwrites the orphaned dirs and converges to the straight run."""
    from pyspark.sql import functions as F

    from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8)

    straight = CrawlEngine(spark, tiny_web, str(tmp_path / "s1"), cfg)
    straight.run(3)

    crashed = CrawlEngine(spark, tiny_web, str(tmp_path / "s2"), cfg)
    crashed.run(2)
    # simulate the crash: orphaned next-version dirs exist, manifest does not
    # point at them (url_seen garbage + a leftover frontier dir)
    store = crashed.store
    garbage = store.read("frontier").limit(1).withColumn("bucket", F.lit(0))
    store.write_version_bucketed("url_seen", garbage)
    store.write_version("frontier", store.read("frontier").limit(2))
    assert store.last_round() == 1  # snapshot still the completed round

    resumed = CrawlEngine(spark, tiny_web, str(tmp_path / "s2"), cfg)
    resumed.run(1)

    def snap(eng):
        seen = {
            (r["url"], r["last_hash"], r["refresh_rate"])
            for r in eng.store.read("url_seen").collect()
        }
        log = {
            (r["round"], r["url"], r["status"])
            for r in eng.store.read_appended("crawl_log").collect()
        }
        return seen, log

    assert snap(resumed) == snap(straight)


def test_persist_failure_waits_for_writers_and_resumes(
    spark, tmp_path, tiny_web, monkeypatch
):
    """A write that fails inside the threaded persist fan-out fails the
    round before its commit, after every sibling writer has finished;
    re-running the round on the same engine converges to the straight
    run."""
    import threading
    import time

    from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8)
    straight = CrawlEngine(spark, tiny_web, str(tmp_path / "s1"), cfg)
    straight.run(3)

    eng = CrawlEngine(spark, tiny_web, str(tmp_path / "s2"), cfg)
    eng.run(1)  # round 0 writes the bases; round 1 appends deltas
    store = eng.store
    in_flight, failing = [0], [True]
    lock = threading.Lock()

    def track(name):
        write = getattr(store, name)

        def tracked(table, *args):
            with lock:
                in_flight[0] += 1
            try:
                if failing[0] and name == "write_version_delta" and table == "host_stats":
                    raise RuntimeError("injected host_stats write failure")
                if failing[0] and table == "frontier":
                    time.sleep(2)  # a sibling writer still busy at the failure
                return write(table, *args)
            finally:
                with lock:
                    in_flight[0] -= 1

        monkeypatch.setattr(store, name, tracked)

    for name in ("write_version", "write_version_delta", "write_version_bucketed", "append_round"):
        track(name)
    with pytest.raises(RuntimeError, match="injected"):
        eng.run_round()
    assert in_flight[0] == 0, "a persist writer outlived the failed round"
    assert store.last_round() == 0
    failing[0] = False

    eng.run(2)  # resume in-process: rounds 1 and 2

    def snap(e):
        seen = {
            (r["url"], r["last_hash"], r["refresh_rate"], r["depth"])
            for r in e.store.read("url_seen").collect()
        }
        log = {
            (r["round"], r["url"], r["status"], r["image_id"], r["phash"])
            for r in e.store.read_appended("crawl_log").collect()
        }
        return seen, log

    assert snap(eng) == snap(straight)


def test_salted_fetch_wave_same_results(spark, tmp_path, tiny_web):
    """north_rule skew handling: running the round with fetch_salt > 0
    (salted host repartition of the wave) must not change any output —
    salting is a physical re-distribution only: after 3 rounds the
    whole crawl_log and url_seen digest the same as an unsalted run's."""
    import hashlib

    def crawl(salt):
        eng = CrawlEngine(
            spark, tiny_web, str(tmp_path / f"salt{salt}"),
            CrawlConfig(politeness_budget=5, num_partitions=4, bloom_shards=8,
                        fetch_salt=salt),
        )
        eng.run(3)
        return eng

    def digest(df):
        rows = sorted(repr(tuple(r)) for r in df.select(*sorted(df.columns)).collect())
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    base, salted = crawl(0), crawl(4)
    for read in (lambda e: e.store.read_appended("crawl_log"),
                 lambda e: e.store.read("url_seen")):
        assert digest(read(salted)) == digest(read(base))
