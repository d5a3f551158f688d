"""A2 recrawl scheduler (Master.py:330-342): with revisit_delay=1 the
engine re-validates stale URLs, exercises the unchanged-content
short-circuit (F7) and refresh-rate backoff (T7), and must still match
the pure-Python model exactly."""

import pytest

from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from artemis_spark.model import ModelConfig, ReferenceModel
from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine

N_ROUNDS = 5
BUDGET = 6


@pytest.fixture(scope="module")
def runs(spark, tiny_web, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("state_recrawl"))
    eng = CrawlEngine(
        spark,
        tiny_web,
        state,
        CrawlConfig(
            politeness_budget=BUDGET,
            revisit_delay_rounds=1,
            num_partitions=4,
            bloom_shards=8,
            light_stats=True,  # the recrawl shape perfbench measures
        ),
    )
    # every DataFrame.count / isEmpty call made while the rounds run,
    # patched on the class so any caller is seen
    counts = []

    def recording(method):
        def record(self):
            counts.append((method.__name__, self))
            return method(self)

        return record

    with pytest.MonkeyPatch.context() as mp:
        for method in (ClassicDataFrame.count, ClassicDataFrame.isEmpty):
            mp.setattr(ClassicDataFrame, method.__name__, recording(method))
        eng_stats = eng.run(N_ROUNDS)
    model = ReferenceModel(
        tiny_web, ModelConfig(politeness_budget=BUDGET, revisit_delay_rounds=1)
    )
    model_result = model.run(N_ROUNDS)
    return eng, eng_stats, model_result, counts


def test_recrawl_fetch_sets_match(runs):
    eng, _, result, _ = runs
    log = [r.asDict() for r in eng.store.read_appended("crawl_log").collect()]
    for r in range(N_ROUNDS):
        eng_urls = sorted(
            x["url"]
            for x in log
            if x["round"] == r and x["status"] not in (997, 998, 999)
        )
        mod_urls = sorted(result["rounds"][r]) if r < len(result["rounds"]) else []
        assert eng_urls == mod_urls, f"round {r}"


def test_recrawl_happens(runs):
    eng, _, result, _ = runs
    log = [r.asDict() for r in eng.store.read_appended("crawl_log").collect()]
    from collections import Counter

    counts = Counter(x["url"] for x in log if x["status"] not in (997, 998, 999))
    assert max(counts.values()) >= 2, "no URL was ever recrawled with delay=1"


def test_light_stats_counts_candidates_only(runs):
    """light_stats leaves out only the info-only frontier size: every
    round still reports its candidates, summed from its lineage rows."""
    _, stats, _, _ = runs
    assert len(stats) == N_ROUNDS
    for s in stats:
        assert type(s["candidates"]) is int and s["candidates"] > 0, s
        assert s["new_candidates"] is None, s


def test_backoff_state_matches(runs):
    eng, _, result, _ = runs
    seen = {
        r["url"]: (r["refresh_rate"], r["last_hash"])
        for r in eng.store.read("url_seen").collect()
    }
    mod = {
        u: (e["refresh_rate"], e["last_hash"])
        for u, e in result["url_seen"].items()
    }
    assert seen == mod
    assert any(rr > 1 for rr, _ in seen.values()), "backoff never incremented"


def test_light_stats_rounds_run_no_count(runs):
    """With light_stats a round counts and probes nothing: its totals
    and its write-skip decisions come from the lineage rows it collects
    once."""
    _, stats, _, counts = runs
    assert len(stats) == N_ROUNDS
    assert counts == []
