"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator from SURVEY.md §2 (or a
training-data-pipeline operator from the brief) over the driver's
TPC-H-ish testdata; ``oracle_sql()`` holds the DuckDB-equivalent SQL.
Cross-engine reproducibility rules used throughout:

  * money/float aggregates are summed as integer cents (bigint), never
    raw doubles (cross-engine double sums differ in the last ulp);
  * 64-bit hashes derive from md5 hex prefixes (identical in Spark and
    DuckDB) instead of engine-specific hash functions;
  * similarity thresholds use integer cross-multiplication
    (den*inter >= num*(s1+s2-inter)) instead of float division;
  * timestamps are exported as epoch seconds (bigint).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from artemis_spark.functions.text import (
    EN_STOPWORDS,
    TOKEN_REGEX,
    fingerprint64,
    lang_id,
    n_regex_tokens,
    n_tokens,
    stopword_count,
)
from artemis_spark.functions.urls import canonicalize, onion_version, parse_magnet
from artemis_spark.operators.dedup_text import (
    MERSENNE_P,
    _minhash_params,
    exact_dedup,
    jaccard_pairs,
    md5_hash64,
    minhash_lsh_dedup_pairs,
    simhash64,
    word_shingles,
)
from artemis_spark.operators.robots import apply_robots
from artemis_spark.operators.similarity import (
    brute_force_topk,
    bucketed_ann_topk,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_banded,
    ivf_ann_topk,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col) -> F.Column:
    return F.round(col * 100).cast("long")


# ---------------------------------------------------------------------------
# shared synthetic-URL builders (same construction in Spark and SQL so the
# crawl operators can run over the driver's relational testdata)
# ---------------------------------------------------------------------------

# raw side exercises case-folding, ;params, #fragment AND dot segments
# (./ ../ and above-root ../ — RFC 3986 §5.2.4); the oracle emits the
# closed-form collapsed path per c_custkey % 4 class
_RAW_URL_SPARK = (
    "concat('HTTP://Host', cast(c_custkey % 50 as string), '.TEST', "
    "case cast(c_custkey % 4 as int) when 1 then '/a/./p' "
    "when 2 then '/a/b/../p' when 3 then '/../p' else '/p' end, "
    "cast(c_custkey as string), ';sid=9?q=', c_mktsegment, '#frag')"
)
_CANON_URL_SQL = (
    "'http://host' || (c_custkey % 50) || '.test' "
    "|| (CASE c_custkey % 4 WHEN 1 THEN '/a/p' WHEN 2 THEN '/a/p' "
    "ELSE '/p' END) || c_custkey || '?q=' || c_mktsegment"
)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: a frontier scheduling wave over sf0.001 — candidates
    derived from events, exact anti-join dedup vs a seen set, per-host
    politeness top-k (the crawl round's dedup+priority core,
    SURVEY.md §3.1)."""
    sf_dir = "/root/testdata/sf0.001"
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    cands = events.select(
        F.concat(
            F.lit("http://host"),
            (F.col("user_id") % 64).cast("string"),
            F.lit(".test/e"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        (F.col("user_id") % 64).cast("string").alias("host"),
        F.col("event_id"),
        (F.col("event_id") % 7).cast("int").alias("depth"),
    )
    seen = (
        orders.where(F.col("o_orderstatus") == "F")
        .select((F.col("o_orderkey") % 1000).alias("event_id"))
        .distinct()
    )
    new = cands.join(seen, "event_id", "left_anti")
    w = Window.partitionBy("host").orderBy(F.asc("depth"), F.asc("url"))
    return (
        new.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 8)
        .select("url", "host", "depth", "rank")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_url_canonicalize(spark, sf_dir):
    """T5 canonicalizer: mixed-case scheme/host lowered, ;params and
    #fragment dropped, query kept (ExtractorFactory.py:50-66)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey"),
        canonicalize(F.expr(_RAW_URL_SPARK)).alias("url"),
    )


def q_url_host_shard(spark, sf_dir):
    """P1 host-major keying: deterministic shard id per URL (prod path
    uses xxhash64; md5-derived here for the cross-engine oracle)."""
    c = _t(spark, sf_dir, "customer")
    url = canonicalize(F.expr(_RAW_URL_SPARK))
    return c.select(
        F.col("c_custkey"),
        (md5_hash64(url) % 32).alias("shard"),
    )


def q_dedup_anti_join(spark, sf_dir):
    """F4 exact URL-seen dedup as a left anti-join (Master.py:284-314)."""
    orders = _t(spark, sf_dir, "orders")
    seen = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
    )
    return orders.join(
        seen, orders["o_orderkey"] == seen["l_orderkey"], "left_anti"
    ).select("o_orderkey")


def q_within_batch_dedupe(spark, sf_dir):
    """Within-batch candidate dedupe: min per key (dedup.py semantics)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.min("l_linenumber").alias("first_line"),
        F.count("*").alias("n_lines"),
    )


def q_politeness_topk(spark, sf_dir):
    """§2.6 politeness: window-ranked top-k per group with deterministic
    tie-break — top-3 lineitems per supplier by price."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("price_cents"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("price_cents", _cents(F.col("l_extendedprice")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("l_suppkey", "rank", "l_orderkey", "l_linenumber", "price_cents")
    )


def q_robots_filter(spark, sf_dir):
    """F5 robots longest-match prefix filter as a broadcast join
    (Robot.py:27-81): /p1 disallowed but /p12 re-allowed on host 2;
    everything disallowed on host 5."""
    import datetime

    c = _t(spark, sf_dir, "customer")
    wave = c.select(
        F.concat(
            F.lit("http://host"),
            (F.col("c_custkey") % 10).cast("string"),
            F.lit(".test/p"),
            F.col("c_custkey").cast("string"),
        ).alias("url"),
        F.concat(F.lit("host"), (F.col("c_custkey") % 10).cast("string"), F.lit(".test")).alias("host"),
        F.col("c_custkey"),
    )
    t0 = datetime.datetime(2026, 1, 1)
    rules = spark.createDataFrame(
        [
            ("host2.test", "/p1", False, None, t0, 10**9),
            ("host2.test", "/p12", True, None, t0, 10**9),
            ("host5.test", "/", False, None, t0, 10**9),
        ],
        "host string, pattern string, allow boolean, sitemap_url string, fetched_at timestamp, ttl_s long",
    )
    allowed, _blocked = apply_robots(wave, rules, t0)
    return allowed.select("c_custkey", "url")


def q_state_merge(spark, sf_dir):
    """F4 crawl-state merge: left join + per-column coalesce
    (Master.py:296-310)."""
    new_batch = _t(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    stored = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_orderpriority")
    )
    j = new_batch.join(stored, new_batch["l_orderkey"] == stored["o_orderkey"], "left")
    return j.select(
        "l_orderkey",
        F.coalesce(F.col("o_orderpriority"), F.lit("NEW")).alias("priority"),
    )


def q_refresh_backoff(spark, sf_dir):
    """T7 refresh-rate backoff: incr() capped at 20 (Task.py:9,86-92)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            F.col("l_returnflag") == "R",
            F.least(F.lit(20), F.col("l_linenumber") + 15),
        )
        .otherwise(F.col("l_linenumber"))
        .alias("refresh_rate"),
    )


def q_recrawl_due(spark, sf_dir):
    """A2 recrawl scheduler: due when last_visit + refresh_rate*delay has
    passed (Master.py:330-342); refresh_rate derived per key."""
    o = _t(spark, sf_dir, "orders")
    due = F.expr(
        "o_orderdate + make_interval(0, 0, 0, cast(o_orderkey % 20 + 1 as int), 0, 0, 0)"
    )
    return o.where(due < F.lit("1996-01-01").cast("timestamp")).select("o_orderkey")


def q_crawl_metrics_rollup(spark, sf_dir):
    """A4/A6 metrics rollup (TPC-H-Q1 shape) with integer-cent sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(
                _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
            ).alias("sum_disc_scaled"),
            F.count("*").alias("count_order"),
        )
    )


def q_host_stats_agg(spark, sf_dir):
    """A3 per-shard accounting: counts + integer sums per group."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(_cents(F.col("value"))).alias("value_cents"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_events_window_agg(spark, sf_dir):
    """Windowed rollup (streaming aggregation shape, batch-equivalent):
    per-hour per-type counts; hour exported as epoch seconds."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        F.col("event_type"),
    ).agg(F.count("*").alias("n"), F.sum(_cents(F.col("value"))).alias("value_cents"))


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap sessions via lag + running sum — the
    batch equivalent of session_window streaming."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_timestamp("ts")).alias("start_epoch"),
    )


def q_join_agg_topn(spark, sf_dir):
    """TPC-H-Q3-shape join pipeline: 3-way join, filter, group, top-N —
    the general OLAP capability check (broadcast dims, integer cents)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
            ).alias("revenue_scaled")
        )
    )
    w = Window.orderBy(F.desc("revenue_scaled"), F.asc("l_orderkey"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("rank", "l_orderkey", "revenue_scaled")
    )


def q_rollup_agg(spark, sf_dir):
    """ROLLUP hierarchy aggregation (nation -> customer segment)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    return (
        j.rollup("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(_cents(F.col("c_acctbal"))).alias("bal_cents"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "n_cust",
            "bal_cents",
        )
    )


def q_cube_agg(spark, sf_dir):
    """CUBE over (nation, segment): all 4 grouping-set combinations."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    return (
        j.cube("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(_cents(F.col("c_acctbal"))).alias("bal_cents"),
        )
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            "n_cust",
            "bal_cents",
        )
    )


def q_first_last_window(spark, sf_dir):
    """Window frame semantics: first/last/nth value per customer's order
    history (last/nth need the full frame — the default running frame is
    a classic silent-wrong-answer trap)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(wf).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_key"),
    )


def q_pivot_status(spark, sf_dir):
    """Pivot (conditional aggregation form — identical in ANSI SQL):
    order counts per priority pivoted by status."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_o"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_p"),
    )


def q_set_ops(spark, sf_dir):
    """Set operators: union/intersect/except of key sets (the task-stream
    union shape, SURVEY.md §2.7)."""
    a = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    )
    b = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    )
    return (
        a.intersect(b).withColumn("tag", F.lit("both"))
        .unionByName(a.distinct().exceptAll(b.distinct()).withColumn("tag", F.lit("f_only")))
    )


def q_exists_semi_join(spark, sf_dir):
    """EXISTS as left-semi join (the robots/accreditation probe shape)."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return s.join(
        li, s["s_suppkey"] == li["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")


def q_exact_dedup_docs(spark, sf_dir):
    """Exact dedup: min doc per (lang, source) group."""
    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, ["lang", "source"], "doc_id")


def q_fingerprint_docs(spark, sf_dir):
    """Document fingerprinting: md5-derived 63-bit content hash of the
    normalized text."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint64(F.col("text")).alias("fp"))


def q_token_quality(spark, sf_dir):
    """Token counting + quality features + heuristic language ID."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_tokens(F.col("text")).alias("n_toks"),
        n_regex_tokens(F.col("text")).alias("n_rtoks"),
        stopword_count(F.col("text")).alias("n_stop"),
        lang_id(F.col("text")).alias("pred_lang"),
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs via shingle posting join;
    integer-arithmetic threshold jaccard >= 1/4."""
    d = _t(spark, sf_dir, "documents")
    sh = word_shingles(d, "doc_id", "text", 3)
    return jaccard_pairs(sh, "doc_id", num=1, den=4)


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH candidate generation (8 hashes, 4 bands) with exact
    jaccard >= 1/5 verification."""
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_dedup_pairs(d, "doc_id", "text", n=3, k=8, bands=4, num=1, den=5)


def q_near_dup_clusters(spark, sf_dir):
    """Transitive near-dup clusters over the MinHash-LSH pair edges
    (large-star/small-star connected components, operators/clusters.py)
    with min-id canonical selection — verified against a DuckDB
    recursive-CTE transitive closure."""
    from artemis_spark.operators.clusters import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup_pairs(d, "doc_id", "text", n=3, k=8, bands=4, num=1, den=5)
    return dedup_clusters(d, pairs, id_col="doc_id", src_col="doc1", dst_col="doc2")


def q_simhash_docs(spark, sf_dir):
    """63-bit SimHash per document from md5-derived word hashes."""
    d = _t(spark, sf_dir, "documents")
    return simhash64(d, "doc_id", "text")


def q_ann_brute_topk(spark, sf_dir):
    """Brute-force cosine top-5 (rank output; cosine rounded to 3dp
    before ranking, ties by neighbor id)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return brute_force_topk(emb, q, k=5).select("query_id", "rank", "neighbor_id")


def q_ann_bucketed(spark, sf_dir):
    """Sign-bucketed ANN top-3 — the IVF/LSH-style pruned path."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return bucketed_ann_topk(emb, q, k=3, d=3).select("query_id", "rank", "neighbor_id")


def q_ann_bucketed_d8(spark, sf_dir):
    """Sign-bucketed ANN at quantizer depth 8 (256 cells): the same
    operator at a scale-realistic depth — within-bucket work shrinks
    ~(1/2^d)^2 vs d=3's 8 buckets (operators/similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return bucketed_ann_topk(emb, q, k=3, d=8).select("query_id", "rank", "neighbor_id")


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: 8 deterministic cells, 2 probed per query — the
    data-dependent inverted-list counterpart of the sign-plane buckets
    (operators/similarity.py ivf_ann_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return ivf_ann_topk(emb, q, k=3, n_cells=8, nprobe=2).select(
        "query_id", "rank", "neighbor_id"
    )


def q_embedding_near_dup_banded(spark, sf_dir):
    """Near-dup pairs via banded sign-LSH (16 planes, 2 bands of 8):
    OR-amplified candidates, pair-deduped, exact-cosine verified —
    the at-scale replacement for the d=3 bucket self-join."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs_banded(emb, d=16, bands=2, threshold_milli=400)


def q_running_total(spark, sf_dir):
    """Window frame aggregation: cumulative order count + value per
    customer over time (running-total shape, deterministic int sums)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    ).rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).alias("n_so_far"),
        F.sum(_cents(F.col("o_totalprice"))).over(w).alias("spend_cents"),
    )


def q_rank_lag_lead(spark, sf_dir):
    """Ranking + offset window family: rank / dense_rank / lag / lead of
    order totals per priority class."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("total_cents"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("total_cents", _cents(F.col("o_totalprice")))
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.lag("o_orderkey", 1).over(w).alias("prev_key"),
            F.lead("o_orderkey", 1).over(w).alias("next_key"),
        )
        .where(F.col("rnk") <= 20)
    )


def q_wordcount_topk(spark, sf_dir):
    """The canonical explode->count->top-k wordcount over documents
    (whitespace tokens, lowered), top-50 with deterministic tie-break."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("w"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 50)
        .select("rank", "w", "n")
    )


def q_crawl_round_tiny(spark, sf_dir):
    """Flagship end-to-end: two crawl rounds over the deterministic tiny
    synthetic web (seeds -> dedup -> politeness -> robots -> synthetic
    fetch -> decode -> extract -> MERGE state), returning the crawl log.
    Non-SQL-expressible (iterative + stateful): rows-only driver check;
    full fixture equality vs the pure-Python reference model is asserted
    in tests/test_crawl_e2e.py."""
    import os
    import shutil
    import tempfile

    from artemis_spark.datagen import generate
    from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine

    web = os.path.join(tempfile.gettempdir(), "artemis_query_web_tiny")
    # marker versioned with the fixture format (v2: body + auth_rules) so a
    # cached pre-upgrade web dir is regenerated, not silently reused
    if not os.path.exists(os.path.join(web, "_DONE_v2")):
        generate("tiny", web)
        open(os.path.join(web, "_DONE_v2"), "w").close()
    state = tempfile.mkdtemp(prefix="artemis_query_state_")
    shutil.rmtree(state, ignore_errors=True)
    eng = CrawlEngine(
        spark, web, state,
        CrawlConfig(politeness_budget=5, num_partitions=8, bloom_shards=8),
    )
    eng.run(2)
    log = eng.store.read_appended("crawl_log")
    return log.select("round", "url", "host", "status", "image_id", "phash")


def q_multimodal_decode(spark, sf_dir):
    """Multimodal binary-column plumbing: deterministic PNG payloads are
    built from seeded pixels, then decoded + phashed via the Arrow
    mapInPandas stage (operators/multimodal.py).  Rows-only check (pixel
    hashing is not SQL-expressible); codec round-trip equality is
    asserted in tests/test_multimodal.py."""
    import numpy as np
    import pandas as pd

    from artemis_spark.functions.png import encode_rgb
    from artemis_spark.operators.multimodal import decode_stats

    rng = np.random.default_rng(7)
    rows = []
    for i in range(64):
        px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        rows.append({"image_id": f"q{i:03d}", "bytes": encode_rgb(px), "fmt": "png"})
    df = spark.createDataFrame(pd.DataFrame(rows))
    return decode_stats(df).select("image_id", "w", "h", "ok", "phash")


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-LSH bucket candidates +
    exact cosine >= 0.400 (integer-milli comparison)."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, d=3, threshold_milli=400)


# Shared markup-body templates: the Spark query concatenates these with
# doc_id/text, and the DuckDB oracle concatenates the IDENTICAL pieces,
# so both engines run the extraction grammar (functions/markup.py
# regexes, reference ExtractorFactory.py:26-91) over the same strings.
_MK_PRE = '<html><head><base href="http://b.test/dir/"></head><body><a href="http://ex.test/'
_MK_MID = '/a?x=1&amp;y=2">x</a><img src=\'//cdn.test/'
_MK_MID2 = ".png'><p>"
_MK_POST = "</p></body></html>"

_SM_PRE = '<?xml version="1.0"?><urlset><url><loc>http://s.test/'
_SM_MID = "</loc></url><url><loc>  /rel/"
_SM_MID2 = "?a=1&amp;2  </loc></url></urlset>"


def q_extract_links_markup(spark, sf_dir):
    """T2 real-markup link extraction (href/src/action grammar + base
    override + entity unescape, functions/markup.py; reference lxml
    iterlinks, ExtractorFactory.py:77-91) — run over HTML synthesized
    from the documents table so DuckDB can verify it."""
    from artemis_spark.functions.markup import html_base, html_links

    docs = _t(spark, sf_dir, "documents")
    body = F.concat(
        F.lit(_MK_PRE), F.col("doc_id"), F.lit(_MK_MID),
        F.col("doc_id"), F.lit(_MK_MID2), F.col("text"), F.lit(_MK_POST),
    )
    return (
        docs.select(
            "doc_id",
            html_base(body).alias("base"),
            F.posexplode(html_links(body)).alias("pos0", "link"),
        )
        .select(
            "doc_id", "base", (F.col("pos0") + 1).cast("long").alias("pos"), "link"
        )
    )


# Login-form fixture bodies (one doc_id splice each), shared verbatim by
# the Spark query and the DuckDB oracle.  Five shapes: decoy+full login,
# single-quoted email login, broken (no password -> not login), upper-case
# attrs + entity-escaped action + email fallback, no forms at all.
_FORM_BODIES = [
    ('<html><body><form action="/search" method="get"><input name="q" '
     'type="text"></form><form action="/sessions/s',
     '" method="post"><input name="user_f" type="text"><input name="pass_f" '
     'type="password"><input type="submit"></form></body></html>'),
    ("<form action='/login' method='POST'><input name='mail",
     "' type='EMAIL'><input name='pw' type='password'></form>"),
    ('<form action="/l2"><input name="user',
     '" type="text"><input name="note"></form>'),
    ('<FORM Action="x&amp;y',
     '"><Input Type="password" Name="P3"><input type="password" name="P3b">'
     '<input type="email" name="e3"></FORM>'),
    ("<html><body>doc ", " has no forms</body></html>"),
]


def q_form_parse(spark, sf_dir):
    """Login-form field parsing (reference FormHandler.extractOne +
    SigInForm.pick_fields, /root/reference/src/accreditation/
    FormHandler.py:26-39, Form.py:43-57): form blocks, action/method,
    input name/type grammar, login classification (password input
    present) and user/password field election (first text, else first
    email; first password) — one row per form, run over HTML
    synthesized from the documents table so DuckDB verifies the exact
    grammar (functions/markup.py parse_forms)."""
    from artemis_spark.functions.markup import parse_forms

    docs = _t(spark, sf_dir, "documents")
    sel = F.pmod(F.col("doc_id").cast("long"), F.lit(len(_FORM_BODIES)))
    body = None
    for i, (pre, suf) in enumerate(_FORM_BODIES):
        v = F.concat(F.lit(pre), F.col("doc_id"), F.lit(suf))
        body = F.when(sel == i, v) if body is None else body.when(sel == i, v)
    return (
        docs.select("doc_id", F.explode(parse_forms(body)).alias("f"))
        .select(
            "doc_id",
            F.col("f.pos").cast("long").alias("pos"),
            F.col("f.action").alias("action"),
            F.col("f.method").alias("method"),
            F.col("f.n_inputs").cast("long").alias("n_inputs"),
            F.col("f.is_login").alias("is_login"),
            F.col("f.user_field").alias("user_field"),
            F.col("f.pass_field").alias("pass_field"),
        )
    )


def q_torrent_to_magnet(spark, sf_dir):
    """S6 .torrent -> magnet conversion (reference Task.buildFromFile,
    /root/reference/src/Task.py:47-59): deterministic bencoded .torrent
    payloads are built driver-side, then converted executor-side via the
    Arrow mapInPandas bencode parse (sources/torrents.py).  Rows-only
    check (SHA1-over-byte-span is not DuckDB-expressible); golden
    equality is asserted in tests/test_torrents.py."""
    from artemis_spark.sources.torrents import bencode, torrents_to_magnets

    rows = []
    for i in range(64):
        info = {b"name": b"f%03d.iso" % i, b"piece length": 16384,
                b"pieces": bytes([i % 251]) * 20, b"length": 1000 + i}
        raw = bencode({b"announce": b"http://tr%d.test/a" % (i % 5), b"info": info})
        rows.append((f"http://t.test/{i}.torrent", "application/x-bittorrent",
                     bytearray(raw)))
    # a malformed payload and a non-torrent content type must be dropped
    rows.append(("http://t.test/bad.torrent", "application/x-bittorrent",
                 bytearray(b"garbage")))
    rows.append(("http://t.test/x.html", "text/html", bytearray(b"<html>")))
    df = spark.createDataFrame(rows, "url string, content_type string, body binary")
    return torrents_to_magnets(df).orderBy("url")


def q_extract_sitemap_locs(spark, sf_dir):
    """T3 sitemap <loc> extraction (namespace-tolerant, whitespace-
    trimmed, entity-unescaped; reference XMLExtractor XPath //loc,
    ExtractorFactory.py:26-68)."""
    from artemis_spark.functions.markup import sitemap_locs

    docs = _t(spark, sf_dir, "documents")
    body = F.concat(
        F.lit(_SM_PRE), F.col("doc_id"), F.lit(_SM_MID),
        F.col("doc_id"), F.lit(_SM_MID2),
    )
    return docs.select(
        "doc_id", F.posexplode(sitemap_locs(body)).alias("pos0", "loc")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "loc")


def q_ftp_listing_parse(spark, sf_dir):
    """S5 slice: unix `ls -l` listing grammar (name / mtime / is_dir,
    reference parseLine FTPDefaultHandler.py:9-35) over deterministic
    lines synthesized from the documents table."""
    from artemis_spark.sources.ftp import parse_ls_line

    docs = _t(spark, sf_dir, "documents")
    n = F.col("doc_id").cast("long") % 3
    line = (
        F.when(
            n == 0,
            F.concat(F.lit("drwxr-xr-x 2 ftp ftp 4096 Jun 06 10:19 dir"), F.col("doc_id")),
        )
        .when(
            n == 1,
            F.concat(
                F.lit("-rw-r--r-- 1 ftp ftp 1234 Jun 06 10:19 f"),
                F.col("doc_id"),
                F.lit(".bin"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("-rw-r--r-- 1 ftp ftp 999 Jan 16  2012 f"),
                F.col("doc_id"),
                F.lit(".tar"),
            )
        )
    )
    e = parse_ls_line(line, assume_year=2026)
    return docs.select(
        "doc_id",
        e.getField("name").alias("name"),
        e.getField("mtime_epoch").alias("mtime_epoch"),
        e.getField("is_dir").alias("is_dir"),
    )


def q_auth_routing(spark, sf_dir):
    """Auth routing skeleton (reference accreditationRules Task.py:12,41):
    per-host rules broadcast-joined to candidate URLs; auth != 'no' rows
    flagged deferred instead of fetched."""
    cust = _t(spark, sf_dir, "customer")
    cands = cust.select(
        F.expr(_RAW_URL_SPARK).alias("raw"),
        (F.col("c_custkey") % 50).cast("long").alias("hostnum"),
    ).select(canonicalize(F.col("raw")).alias("url"), "hostnum")
    rules = (
        cands.select("hostnum")
        .distinct()
        .select(
            "hostnum",
            F.when(F.col("hostnum") % 17 == 7, F.lit("form"))
            .when(F.col("hostnum") % 23 == 11, F.lit("http_basic"))
            .alias("auth"),
        )
        .filter(F.col("auth").isNotNull())
    )
    return cands.join(F.broadcast(rules), "hostnum", "left").select(
        "url",
        "hostnum",
        F.coalesce(F.col("auth"), F.lit("no")).alias("auth"),
        (F.coalesce(F.col("auth"), F.lit("no")) != "no").alias("deferred"),
    )


def q_auth_session_join(spark, sf_dir):
    """Auth session gate (reference AccreditationCache.py:18-30,
    FormHandler.py:9-36, User.py:28-37): gated candidates join the
    live-session set — 'fetch' under a live session, 'defer_retry'
    (refresh_rate=0, re-emitted next round) when a credentials row
    exists, 'defer_forever' (max backoff) otherwise.  Standalone
    oracle-checked mirror of the round-loop gate in plans/crawl.py."""
    R = 2  # evaluation round ("now" on the logical clock)
    cust = _t(spark, sf_dir, "customer")
    cands = cust.select(
        F.expr(_RAW_URL_SPARK).alias("raw"),
        (F.col("c_custkey") % 50).cast("long").alias("hostnum"),
    ).select(canonicalize(F.col("raw")).alias("url"), "hostnum")
    rules = (
        cands.select("hostnum")
        .distinct()
        .select(
            "hostnum",
            F.when(F.col("hostnum") % 17 == 7, F.lit("form"))
            .when(F.col("hostnum") % 23 == 11, F.lit("http_basic"))
            .alias("auth"),
        )
        .filter(F.col("auth").isNotNull())
    )
    # credentials fixture shape (datagen.gen_credentials): every form
    # host has an account, http_basic only the even ones
    creds = rules.filter(
        (F.col("auth") == "form")
        | ((F.col("auth") == "http_basic") & (F.col("hostnum") % 2 == 0))
    ).select("hostnum", F.lit(7200).alias("lifetime_s"))
    # deterministic login times: host h logged in at round h % 3; live
    # at round R iff (R - established) * ROUND_SECONDS < lifetime
    live = creds.filter(
        (F.lit(R) - F.col("hostnum") % 3) * 3600 < F.col("lifetime_s")
    ).select("hostnum", F.lit(True).alias("live"))
    has_cred = creds.select("hostnum", F.lit(True).alias("has_cred"))
    joined = (
        cands.join(F.broadcast(rules), "hostnum", "left")
        .withColumn("auth", F.coalesce(F.col("auth"), F.lit("no")))
        .join(F.broadcast(live), "hostnum", "left")
        .join(F.broadcast(has_cred), "hostnum", "left")
    )
    fetches = (F.col("auth") == "no") | F.col("live").isNotNull()
    return joined.select(
        "url",
        "hostnum",
        "auth",
        F.when(fetches, F.lit("fetch"))
        .when(F.col("has_cred").isNotNull(), F.lit("defer_retry"))
        .otherwise(F.lit("defer_forever"))
        .alias("action"),
        F.when(fetches, F.lit(None).cast("int"))
        .when(F.col("has_cred").isNotNull(), F.lit(0))
        .otherwise(F.lit(20))
        .cast("int")
        .alias("refresh_rate"),
    )


def q_magnet_parse(spark, sf_dir):
    """S6 torrent identity slice (reference Task.py:35-37,47-59,
    Slave.py:383-474): magnet-URI grammar + info-hash dedup.  Synthetic
    magnets derive deterministically from customer keys; ck%400 forces
    info-hash collisions so the dedup (canonical = min ck per hash) is
    exercised, and dn/tr params drop out on ck%5 / ck%7 / ck%3 so the
    NULL/empty paths stay covered."""
    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey").cast("long")
    ih = F.substring(F.sha2((ck % 400).cast("string"), 256), 1, 40)
    uri = F.concat(
        F.lit("magnet:?xt=urn:btih:"),
        ih,
        F.when(ck % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("&dn=doc-"), ck.cast("string"))
        ),
        F.when(ck % 7 == 0, F.lit("")).otherwise(
            F.lit("&tr=http%3A%2F%2Ftr1.test%2Fannounce")
        ),
        F.when(ck % 3 == 0, F.lit("")).otherwise(
            F.lit("&tr=udp%3A%2F%2Ftr2.test%3A80")
        ),
    )
    parsed = cust.select(ck.alias("ck"), uri.alias("uri")).select(
        "ck", parse_magnet(F.col("uri")).alias("m")
    )
    w = Window.partitionBy("info_hash")
    return (
        parsed.select(
            "ck",
            F.col("m.info_hash").alias("info_hash"),
            F.col("m.display_name").alias("display_name"),
            F.size("m.trackers").alias("n_trackers"),
        )
        .withColumn("canonical_ck", F.min("ck").over(w))
        .withColumn("is_dup", F.col("ck") != F.col("canonical_ck"))
    )


def q_onion_classify(spark, sf_dir):
    """S4 tor routing slice (reference Task.py:33-34 suffix test,
    HTTPDefaultHandler.py:66-89 SOCKS5 fetch — no egress in-sandbox):
    onion-address version validation + the F2 routing verdict.  ck%4
    cycles valid v3 / valid v2 / malformed .onion / plain web hosts."""
    cust = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey").cast("long")
    b32 = F.translate(F.sha2((ck % 97).cast("string"), 256), "0189", "wxyz")
    host = (
        F.when(ck % 4 == 0, F.concat(F.substring(b32, 1, 56), F.lit(".onion")))
        .when(ck % 4 == 1, F.concat(F.substring(b32, 1, 16), F.lit(".onion")))
        .when(ck % 4 == 2, F.concat(F.substring(b32, 1, 20), F.lit(".onion")))
        .otherwise(F.concat(F.lit("host"), (ck % 50).cast("string"), F.lit(".test")))
    )
    df = cust.select(ck.alias("ck"), host.alias("host"))
    v = onion_version(F.col("host"))
    is_tor = F.col("host").endswith(".onion")
    return df.select(
        "ck",
        "host",
        v.alias("onion_version"),
        is_tor.alias("is_tor"),
        F.when(is_tor & v.isNotNull(), F.lit("tor_fetch_stub"))
        .when(is_tor, F.lit("invalid_drop"))
        .otherwise(F.lit("web"))
        .alias("route"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "url_canonicalize": q_url_canonicalize,
        "url_host_shard": q_url_host_shard,
        "dedup_anti_join": q_dedup_anti_join,
        "within_batch_dedupe": q_within_batch_dedupe,
        "politeness_topk": q_politeness_topk,
        "robots_filter": q_robots_filter,
        "state_merge": q_state_merge,
        "refresh_backoff": q_refresh_backoff,
        "recrawl_due": q_recrawl_due,
        "crawl_metrics_rollup": q_crawl_metrics_rollup,
        "host_stats_agg": q_host_stats_agg,
        "events_window_agg": q_events_window_agg,
        "sessionize": q_sessionize,
        "join_agg_topn": q_join_agg_topn,
        "rollup_agg": q_rollup_agg,
        "cube_agg": q_cube_agg,
        "first_last_window": q_first_last_window,
        "pivot_status": q_pivot_status,
        "set_ops": q_set_ops,
        "exists_semi_join": q_exists_semi_join,
        "exact_dedup_docs": q_exact_dedup_docs,
        "fingerprint_docs": q_fingerprint_docs,
        "token_quality": q_token_quality,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "near_dup_clusters": q_near_dup_clusters,
        "simhash_docs": q_simhash_docs,
        "embedding_near_dup": q_embedding_near_dup,
        "running_total": q_running_total,
        "rank_lag_lead": q_rank_lag_lead,
        "wordcount_topk": q_wordcount_topk,
        "extract_links_markup": q_extract_links_markup,
        "form_parse": q_form_parse,
        "torrent_to_magnet": q_torrent_to_magnet,
        "extract_sitemap_locs": q_extract_sitemap_locs,
        "auth_routing": q_auth_routing,
        "auth_session_join": q_auth_session_join,
        "ftp_listing_parse": q_ftp_listing_parse,
        "magnet_parse": q_magnet_parse,
        "onion_classify": q_onion_classify,
        "crawl_round_tiny": q_crawl_round_tiny,
        "multimodal_decode": q_multimodal_decode,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_bucketed": q_ann_bucketed,
        "ann_bucketed_d8": q_ann_bucketed_d8,
        "ann_ivf": q_ann_ivf,
        "embedding_near_dup_banded": q_embedding_near_dup_banded,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_SHINGLES_CTE = """
words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, s AS shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(ws) - 2),
                  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS s
    FROM words WHERE len(ws) >= 3
  ) WHERE length(s) > 0
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
"""


def _jaccard_sql(num: int, den: int, cand_cte: str = "") -> str:
    """Posting-join jaccard SQL; optionally restricted to candidate pairs."""
    cand_join = "JOIN cands USING (doc1, doc2)" if cand_cte else ""
    return f"""
WITH {_SHINGLES_CTE} {cand_cte}
, inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc1, i.doc2, i.inter,
       s1.n_shingles AS size1, s2.n_shingles AS size2
FROM inter i
{cand_join}
JOIN sizes s1 ON s1.doc_id = i.doc1
JOIN sizes s2 ON s2.doc_id = i.doc2
WHERE {den} * i.inter >= {num} * (s1.n_shingles + s2.n_shingles - i.inter)
"""


def _minhash_oracle_sql(k: int = 8, bands: int = 4, num: int = 1, den: int = 5) -> str:
    params = _minhash_params(k)
    mh_exprs = ",\n    ".join(
        f"min(({a}::BIGINT * h + {b}) % {MERSENNE_P}) AS mh{i}"
        for i, (a, b) in enumerate(params)
    )
    rows_per_band = k // bands
    band_selects = []
    for bidx in range(bands):
        cols = [f"mh{bidx * rows_per_band + j}" for j in range(rows_per_band)]
        bucket = " || '_' || ".join(f"{c}::VARCHAR" for c in cols)
        # band-tagged like the Spark side: equal values in different
        # bands are not an LSH collision
        band_selects.append(f"SELECT doc_id, '{bidx}:' || {bucket} AS bucket FROM sig")
    bands_sql = " UNION ALL ".join(band_selects)
    cand_cte = f"""
, hashed AS (
  SELECT doc_id,
         (('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MERSENNE_P}) AS h
  FROM sh
),
sig AS (
  SELECT doc_id, {mh_exprs} FROM hashed GROUP BY doc_id
),
banded AS ({bands_sql}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
)
"""
    return _jaccard_sql(num, den, cand_cte)


def _simhash_oracle_sql() -> str:
    sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(63)
    )
    recompose = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {2**j}::BIGINT ELSE 0 END)" for j in range(63)
    )
    return f"""
WITH w AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE length(tok) > 0
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM w
),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, ({recompose}) AS simhash FROM s
"""


_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"

_ANN_CTE = """
q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 3) AS cos_sim
  FROM q JOIN c ON q.vec_id <> c.vec_id
)
"""


def _sq(s: str) -> str:
    """Escape a string for embedding in a single-quoted SQL literal."""
    return s.replace("'", "''")


def _sql_unescape(expr: str) -> str:
    """DuckDB twin of markup.unescape_entities applied to ``expr``."""
    return (
        f"replace(replace(replace(replace(replace({expr}, '&lt;', '<'), "
        "'&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&amp;', '&')"
    )


def _markup_links_oracle_sql() -> str:
    """DuckDB twin of q_extract_links_markup, built from the SAME regex
    constants (functions/markup.py) so grammar drift is impossible."""
    from artemis_spark.functions.markup import (
        BASE_HREF_RE, BASE_TAG_RE, HREF_DQ_RE, HREF_SQ_RE,
    )

    return f"""
        WITH t AS (
          SELECT doc_id,
                 '{_sq(_MK_PRE)}' || doc_id || '{_sq(_MK_MID)}' || doc_id
                 || '{_sq(_MK_MID2)}' || text || '{_sq(_MK_POST)}' AS body
          FROM documents),
        s AS (
          SELECT doc_id, body,
                 regexp_replace(body, '{_sq(BASE_TAG_RE)}', '', 'g') AS stripped
          FROM t),
        l AS (
          SELECT doc_id,
                 {_sql_unescape(f"nullif(regexp_extract(body, '{_sq(BASE_HREF_RE)}', 1), '')")} AS base,
                 list_transform(
                   list_concat(
                     regexp_extract_all(stripped, '{_sq(HREF_DQ_RE)}', 1),
                     regexp_extract_all(stripped, '{_sq(HREF_SQ_RE)}', 1)),
                   x -> {_sql_unescape("x")}) AS links
          FROM s)
        SELECT doc_id, base,
               generate_subscripts(links, 1)::BIGINT AS pos,
               unnest(links) AS link
        FROM l"""


def _form_parse_oracle_sql() -> str:
    """DuckDB twin of q_form_parse, built from the SAME regex constants
    (functions/markup.py form grammar) so drift is impossible."""
    from artemis_spark.functions.markup import (
        ACTION_DQ_RE, ACTION_SQ_RE, FORM_BLOCK_RE, INPUT_TAG_RE,
        METHOD_DQ_RE, METHOD_SQ_RE, NAME_DQ_RE, NAME_SQ_RE,
        TYPE_DQ_RE, TYPE_SQ_RE,
    )

    def _attr(src, dq, sq):
        return _sql_unescape(
            f"coalesce(nullif(regexp_extract({src}, '{_sq(dq)}', 1), ''), "
            f"nullif(regexp_extract({src}, '{_sq(sq)}', 1), ''))"
        )

    case = f"CASE (doc_id::BIGINT % {len(_FORM_BODIES)}) " + " ".join(
        f"WHEN {i} THEN '{_sq(pre)}' || doc_id || '{_sq(suf)}'"
        for i, (pre, suf) in enumerate(_FORM_BODIES)
    ) + " END"
    return f"""
        WITH t AS (
          SELECT doc_id, {case} AS body FROM documents),
        b AS (
          SELECT doc_id,
                 generate_subscripts(blocks, 1)::BIGINT AS pos,
                 unnest(blocks) AS block
          FROM (SELECT doc_id,
                       regexp_extract_all(body, '{_sq(FORM_BLOCK_RE)}', 0) AS blocks
                FROM t)),
        p AS (
          SELECT doc_id, pos, block,
                 regexp_extract(block, '(?is)^<form\\b[^>]*>', 0) AS open_tag,
                 list_transform(
                   regexp_extract_all(block, '{_sq(INPUT_TAG_RE)}', 0),
                   tg -> {{'name': {_attr('tg', NAME_DQ_RE, NAME_SQ_RE)},
                          'type': lower(coalesce({_attr('tg', TYPE_DQ_RE, TYPE_SQ_RE)}, 'text'))}}) AS ins
          FROM b)
        SELECT doc_id, pos,
               {_attr('open_tag', ACTION_DQ_RE, ACTION_SQ_RE)} AS action,
               upper(coalesce({_attr('open_tag', METHOD_DQ_RE, METHOD_SQ_RE)}, 'GET')) AS method,
               len(ins)::BIGINT AS n_inputs,
               len(list_filter(ins, s -> s.type = 'password')) > 0 AS is_login,
               coalesce(
                 list_filter(ins, s -> s.type = 'text' AND s.name IS NOT NULL)[1].name,
                 list_filter(ins, s -> s.type = 'email' AND s.name IS NOT NULL)[1].name
               ) AS user_field,
               list_filter(ins, s -> s.type = 'password' AND s.name IS NOT NULL)[1].name AS pass_field
        FROM p"""


def _sitemap_locs_oracle_sql() -> str:
    from artemis_spark.functions.markup import LOC_RE

    return f"""
        WITH t AS (
          SELECT doc_id,
                 '{_sq(_SM_PRE)}' || doc_id || '{_sq(_SM_MID)}' || doc_id
                 || '{_sq(_SM_MID2)}' AS body
          FROM documents),
        l AS (
          SELECT doc_id,
                 list_transform(
                   regexp_extract_all(body, '{_sq(LOC_RE)}', 1),
                   x -> {_sql_unescape("x")}) AS locs
          FROM t)
        SELECT doc_id,
               generate_subscripts(locs, 1)::BIGINT AS pos,
               unnest(locs) AS loc
        FROM l"""


def _sign_bucket_sql(d: int) -> str:
    """DuckDB twin of similarity.sign_bucket at depth d."""
    return " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(d)
    )


def _band_key_sql(b: int, rb: int) -> str:
    """DuckDB twin of similarity.band_keys band b (rb bits per band)."""
    return " + ".join(
        f"(CASE WHEN embedding[{b * rb + j + 1}] > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(rb)
    )


def _ann_bucketed_oracle_sql(d: int, k: int = 3) -> str:
    return f"""
        WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                          {_sign_bucket_sql(d)} AS bucket
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                     {_sign_bucket_sql(d)} AS bucket
              FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.v, c.v), 3) AS cos_sim
          FROM q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
        SELECT query_id, rank, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored) WHERE rank <= {k}"""


def _near_dup_banded_oracle_sql(d: int, bands: int, threshold_milli: int) -> str:
    rb = d // bands
    band_ctes = ",\n".join(
        f"s{b} AS (SELECT vec_id, {_band_key_sql(b, rb)} AS key FROM embeddings)"
        for b in range(bands)
    )
    cand_union = "\nUNION\n".join(
        f"SELECT a.vec_id AS vec1, b.vec_id AS vec2 "
        f"FROM s{b} a JOIN s{b} b ON a.key = b.key AND a.vec_id < b.vec_id"
        for b in range(bands)
    )
    return f"""
        WITH {band_ctes},
        cand AS ({cand_union}),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT vec1, vec2,
               round(list_cosine_similarity(x.v, y.v) * 1000)::BIGINT AS cos_milli
        FROM cand JOIN v x ON x.vec_id = vec1 JOIN v y ON y.vec_id = vec2
        WHERE round(list_cosine_similarity(x.v, y.v) * 1000) >= {threshold_milli}"""


def oracle_sql() -> dict[str, str]:
    return {
        "url_canonicalize": f"SELECT c_custkey, {_CANON_URL_SQL} AS url FROM customer",
        "url_host_shard": f"""
            SELECT c_custkey,
                   (('0x' || substr(md5({_CANON_URL_SQL}), 1, 15))::BIGINT % 32) AS shard
            FROM customer""",
        "dedup_anti_join": """
            SELECT o_orderkey FROM orders o
            WHERE NOT EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')""",
        "within_batch_dedupe": """
            SELECT l_orderkey, min(l_linenumber) AS first_line, count(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey""",
        "politeness_topk": """
            SELECT l_suppkey, rank, l_orderkey, l_linenumber, price_cents FROM (
              SELECT l_suppkey, l_orderkey, l_linenumber,
                     round(l_extendedprice * 100)::BIGINT AS price_cents,
                     row_number() OVER (PARTITION BY l_suppkey
                       ORDER BY round(l_extendedprice * 100)::BIGINT DESC,
                                l_orderkey ASC, l_linenumber ASC) AS rank
              FROM lineitem) WHERE rank <= 3""",
        "robots_filter": """
            WITH wave AS (
              SELECT c_custkey,
                     'http://host' || (c_custkey % 10) || '.test/p' || c_custkey AS url,
                     'host' || (c_custkey % 10) || '.test' AS host,
                     '/p' || c_custkey AS path
              FROM customer),
            rules(host, pattern, allow) AS (VALUES
              ('host2.test', '/p1', false),
              ('host2.test', '/p12', true),
              ('host5.test', '/', false)),
            best AS (
              SELECT w.c_custkey, w.url,
                     max_by(r.allow, length(r.pattern)) AS allow
              FROM wave w JOIN rules r
                ON w.host = r.host AND starts_with(w.path, r.pattern)
              GROUP BY 1, 2)
            SELECT w.c_custkey, w.url FROM wave w
            LEFT JOIN best b ON b.c_custkey = w.c_custkey
            WHERE coalesce(b.allow, true)""",
        "state_merge": """
            SELECT l_orderkey, coalesce(o_orderpriority, 'NEW') AS priority
            FROM (SELECT DISTINCT l_orderkey FROM lineitem) n
            LEFT JOIN orders ON o_orderkey = l_orderkey""",
        "refresh_backoff": """
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_returnflag = 'R'
                        THEN least(20, l_linenumber + 15)
                        ELSE l_linenumber END AS refresh_rate
            FROM lineitem""",
        "recrawl_due": """
            SELECT o_orderkey FROM orders
            WHERE o_orderdate + ((o_orderkey % 20 + 1) * INTERVAL 1 DAY)
                  < TIMESTAMP '1996-01-01'""",
        "crawl_metrics_rollup": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
                   sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_base_cents,
                   sum(round(l_extendedprice * 100)::BIGINT
                       * (100 - round(l_discount * 100)::BIGINT))::BIGINT AS sum_disc_scaled,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "host_stats_agg": """
            SELECT event_type, count(*) AS n,
                   sum(round(value * 100)::BIGINT)::BIGINT AS value_cents,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type""",
        "events_window_agg": """
            SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch, event_type,
                   count(*) AS n, sum(round(value * 100)::BIGINT)::BIGINT AS value_cents
            FROM events GROUP BY 1, 2""",
        "sessionize": """
            -- floor(epoch()) everywhere: Spark's unix_timestamp truncates
            -- sub-second parts while DuckDB's epoch() keeps them
            WITH g AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) IS NULL
                            OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
            s AS (
              SELECT user_id, ts,
                     sum(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC
                       ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
              FROM g)
            SELECT user_id, session_id, count(*) AS n_events,
                   floor(min(epoch(ts)))::BIGINT AS start_epoch
            FROM s GROUP BY user_id, session_id""",
        "join_agg_topn": """
            WITH j AS (
              SELECT l_orderkey,
                     sum(round(l_extendedprice * 100)::BIGINT
                         * (100 - round(l_discount * 100)::BIGINT))::BIGINT AS revenue_scaled
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < TIMESTAMP '1995-03-15'
              GROUP BY l_orderkey)
            SELECT rank, l_orderkey, revenue_scaled FROM (
              SELECT l_orderkey, revenue_scaled,
                     row_number() OVER (ORDER BY revenue_scaled DESC,
                                        l_orderkey ASC) AS rank
              FROM j) WHERE rank <= 10""",
        "rollup_agg": """
            SELECT coalesce(n_name, 'ALL') AS nation,
                   coalesce(c_mktsegment, 'ALL') AS segment,
                   count(*) AS n_cust,
                   sum(round(c_acctbal * 100)::BIGINT)::BIGINT AS bal_cents
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY ROLLUP (n_name, c_mktsegment)""",
        "cube_agg": """
            SELECT coalesce(n_name, 'ALL') AS nation,
                   coalesce(c_mktsegment, 'ALL') AS segment,
                   count(*) AS n_cust,
                   sum(round(c_acctbal * 100)::BIGINT)::BIGINT AS bal_cents
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY CUBE (n_name, c_mktsegment)""",
        "first_last_window": """
            SELECT o_custkey, o_orderkey,
                   first_value(o_orderkey) OVER w AS first_key,
                   last_value(o_orderkey) OVER
                     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                     AS last_key,
                   nth_value(o_orderkey, 2) OVER
                     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                     AS second_key
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)""",
        "pivot_status": """
            SELECT o_orderpriority,
                   count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
                   count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
                   count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
            FROM orders GROUP BY o_orderpriority""",
        "set_ops": """
            WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
                 b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
            SELECT k, 'both' AS tag FROM (SELECT DISTINCT k FROM a INTERSECT SELECT DISTINCT k FROM b)
            UNION ALL
            SELECT k, 'f_only' AS tag FROM (SELECT DISTINCT k FROM a EXCEPT SELECT DISTINCT k FROM b)""",
        "exists_semi_join": """
            SELECT s_suppkey, s_name FROM supplier s
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 45)""",
        "exact_dedup_docs": """
            SELECT lang, source, min(doc_id) AS doc_id
            FROM documents GROUP BY lang, source""",
        "fingerprint_docs": r"""
            SELECT doc_id,
                   ('0x' || substr(md5(regexp_replace(trim(lower(text)),
                        '\s+', ' ', 'g')), 1, 15))::BIGINT AS fp
            FROM documents""",
        "token_quality": rf"""
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(string_split(text, ' ')) AS n_toks,
                   len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS n_rtoks,
                   len(list_filter(string_split(lower(text), ' '),
                       w -> list_contains({_STOP_LIST_SQL}, w))) AS n_stop,
                   CASE WHEN 20 * len(list_filter(string_split(lower(text), ' '),
                             w -> list_contains({_STOP_LIST_SQL}, w)))
                             >= len(string_split(text, ' '))
                        THEN 'en' ELSE 'other' END AS pred_lang
            FROM documents""",
        "ngram_jaccard_pairs": _jaccard_sql(1, 4),
        "minhash_lsh_pairs": _minhash_oracle_sql(8, 4, 1, 5),
        "near_dup_clusters": f"""
            WITH RECURSIVE pairs AS ({_minhash_oracle_sql(8, 4, 1, 5)}),
            edges AS (
              SELECT doc1 AS s, doc2 AS d FROM pairs
              UNION
              SELECT doc2, doc1 FROM pairs),
            reach(id, r) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id),
            cc AS (SELECT id AS doc_id, min(r) AS cluster_id
                   FROM reach GROUP BY id)
            SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM cc""",
        "simhash_docs": _simhash_oracle_sql(),
        "running_total": """
            SELECT o_custkey, o_orderkey,
                   count(*) OVER w AS n_so_far,
                   (sum(round(o_totalprice * 100)::BIGINT) OVER w)::BIGINT AS spend_cents
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate ASC, o_orderkey ASC
                         ROWS UNBOUNDED PRECEDING)""",
        "rank_lag_lead": """
            SELECT o_orderpriority, o_orderkey, rnk, drnk, prev_key, next_key FROM (
              SELECT o_orderpriority, o_orderkey,
                     rank() OVER w AS rnk,
                     dense_rank() OVER w AS drnk,
                     lag(o_orderkey, 1) OVER w AS prev_key,
                     lead(o_orderkey, 1) OVER w AS next_key
              FROM (SELECT *, round(o_totalprice * 100)::BIGINT AS total_cents FROM orders)
              WINDOW w AS (PARTITION BY o_orderpriority
                           ORDER BY total_cents DESC, o_orderkey ASC))
            WHERE rnk <= 20""",
        "wordcount_topk": """
            WITH c AS (
              SELECT w, count(*) AS n FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
              ) WHERE length(w) > 0 GROUP BY w)
            SELECT rank, w, n FROM (
              SELECT w, n, row_number() OVER (ORDER BY n DESC, w ASC) AS rank
              FROM c) WHERE rank <= 50""",
        "embedding_near_dup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) AS bucket
                       FROM embeddings)
            SELECT a.vec_id AS vec1, b.vec_id AS vec2,
                   round(list_cosine_similarity(a.v, b.v) * 1000)::BIGINT AS cos_milli
            FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v) * 1000)::BIGINT >= 400""",
        "ann_brute_topk": f"""
            WITH {_ANN_CTE}
            SELECT query_id, rank, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
              FROM scored) WHERE rank <= 5""",
        "ann_bucketed": """
            WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) AS bucket
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) AS bucket
                  FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.v, c.v), 3) AS cos_sim
              FROM q JOIN c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
            SELECT query_id, rank, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
              FROM scored) WHERE rank <= 3""",
        "ann_ivf": """
            WITH cents AS (
              SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
              FROM embeddings ORDER BY vec_id LIMIT 8),
            c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v
                  FROM embeddings),
            asg AS (
              SELECT neighbor_id, v, cell FROM (
                SELECT c.neighbor_id, c.v, cents.cell,
                       row_number() OVER (PARTITION BY c.neighbor_id
                         ORDER BY round(list_cosine_similarity(c.v, cents.cv), 3)
                                  DESC, cents.cell ASC) AS rk
                FROM c CROSS JOIN cents) WHERE rk = 1),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
                  FROM embeddings WHERE vec_id < 10),
            pr AS (
              SELECT query_id, v, cell FROM (
                SELECT q.query_id, q.v, cents.cell,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY round(list_cosine_similarity(q.v, cents.cv), 3)
                                  DESC, cents.cell ASC) AS rk
                FROM q CROSS JOIN cents) WHERE rk <= 2),
            scored AS (
              SELECT pr.query_id, asg.neighbor_id,
                     round(list_cosine_similarity(pr.v, asg.v), 3) AS cos_sim
              FROM asg JOIN pr USING (cell)
              WHERE pr.query_id <> asg.neighbor_id)
            SELECT query_id, rank, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
              FROM scored) WHERE rank <= 3""",
        "extract_links_markup": _markup_links_oracle_sql(),
        "form_parse": _form_parse_oracle_sql(),
        "extract_sitemap_locs": _sitemap_locs_oracle_sql(),
        "ann_bucketed_d8": _ann_bucketed_oracle_sql(8),
        "ftp_listing_parse": """
            WITH t AS (
              SELECT doc_id,
                CASE doc_id::BIGINT % 3
                  WHEN 0 THEN 'drwxr-xr-x 2 ftp ftp 4096 Jun 06 10:19 dir' || doc_id
                  WHEN 1 THEN '-rw-r--r-- 1 ftp ftp 1234 Jun 06 10:19 f' || doc_id || '.bin'
                  ELSE '-rw-r--r-- 1 ftp ftp 999 Jan 16  2012 f' || doc_id || '.tar'
                END AS line
              FROM documents),
            p AS (
              SELECT doc_id,
                     list_filter(string_split(trim(line), ' '), x -> x <> '') AS toks
              FROM t),
            e AS (
              SELECT doc_id,
                     CASE WHEN starts_with(toks[1], 'l') THEN toks[-3] ELSE toks[-1] END AS name,
                     starts_with(toks[1], 'd') AS is_dir,
                     CASE WHEN starts_with(toks[1], 'l') THEN toks[-6] ELSE toks[-4] END AS d1,
                     CASE WHEN starts_with(toks[1], 'l') THEN toks[-5] ELSE toks[-3] END AS d2,
                     CASE WHEN starts_with(toks[1], 'l') THEN toks[-4] ELSE toks[-2] END AS d3
              FROM p)
            SELECT doc_id, name,
                   (CASE WHEN is_dir THEN -1
                         ELSE coalesce(
                           epoch(try_strptime('2026 ' || d1 || ' ' || d2 || ' ' || d3,
                                              '%Y %b %d %H:%M')),
                           epoch(try_strptime(d1 || ' ' || d2 || ' ' || d3, '%b %d %Y')),
                           -1) END)::BIGINT AS mtime_epoch,
                   is_dir
            FROM e""",
        "embedding_near_dup_banded": _near_dup_banded_oracle_sql(16, 2, 400),
        "auth_routing": f"""
            WITH c AS (
              SELECT {_CANON_URL_SQL} AS url,
                     (c_custkey % 50)::BIGINT AS hostnum
              FROM customer),
            r AS (
              SELECT DISTINCT hostnum,
                     CASE WHEN hostnum % 17 = 7 THEN 'form'
                          WHEN hostnum % 23 = 11 THEN 'http_basic' END AS auth
              FROM c WHERE hostnum % 17 = 7 OR hostnum % 23 = 11)
            SELECT url, c.hostnum, coalesce(r.auth, 'no') AS auth,
                   coalesce(r.auth, 'no') <> 'no' AS deferred
            FROM c LEFT JOIN r ON c.hostnum = r.hostnum""",
        "auth_session_join": f"""
            WITH c AS (
              SELECT {_CANON_URL_SQL} AS url,
                     (c_custkey % 50)::BIGINT AS hostnum
              FROM customer),
            r AS (
              SELECT DISTINCT hostnum,
                     CASE WHEN hostnum % 17 = 7 THEN 'form'
                          WHEN hostnum % 23 = 11 THEN 'http_basic' END AS auth
              FROM c WHERE hostnum % 17 = 7 OR hostnum % 23 = 11),
            cr AS (
              SELECT hostnum, 7200 AS lifetime_s FROM r
              WHERE auth = 'form' OR (auth = 'http_basic' AND hostnum % 2 = 0)),
            lv AS (
              SELECT hostnum FROM cr WHERE (2 - hostnum % 3) * 3600 < lifetime_s)
            SELECT c.url, c.hostnum, coalesce(r.auth, 'no') AS auth,
                   CASE WHEN coalesce(r.auth, 'no') = 'no'
                             OR lv.hostnum IS NOT NULL THEN 'fetch'
                        WHEN cr.hostnum IS NOT NULL THEN 'defer_retry'
                        ELSE 'defer_forever' END AS action,
                   (CASE WHEN coalesce(r.auth, 'no') = 'no'
                              OR lv.hostnum IS NOT NULL THEN NULL
                         WHEN cr.hostnum IS NOT NULL THEN 0
                         ELSE 20 END)::INT AS refresh_rate
            FROM c LEFT JOIN r ON c.hostnum = r.hostnum
                   LEFT JOIN cr ON c.hostnum = cr.hostnum
                   LEFT JOIN lv ON c.hostnum = lv.hostnum""",
        "magnet_parse": """
            WITH u AS (
              SELECT c_custkey::BIGINT AS ck,
                     'magnet:?xt=urn:btih:'
                     || substr(sha256((c_custkey % 400)::VARCHAR), 1, 40)
                     || CASE WHEN c_custkey % 5 = 0 THEN ''
                             ELSE '&dn=doc-' || c_custkey::VARCHAR END
                     || CASE WHEN c_custkey % 7 = 0 THEN ''
                             ELSE '&tr=http%3A%2F%2Ftr1.test%2Fannounce' END
                     || CASE WHEN c_custkey % 3 = 0 THEN ''
                             ELSE '&tr=udp%3A%2F%2Ftr2.test%3A80' END AS uri
              FROM customer),
            p AS (
              SELECT ck,
                     nullif(lower(regexp_extract(uri,
                       '[?&]xt=urn:btih:([A-Fa-f0-9]{40}|[A-Za-z2-7]{32})', 1)),
                       '') AS info_hash,
                     nullif(regexp_extract(uri, '[?&]dn=([^&]*)', 1), '')
                       AS display_name,
                     len(regexp_extract_all(uri, '[?&]tr=([^&]*)', 1))::INT
                       AS n_trackers
              FROM u)
            SELECT ck, info_hash, display_name, n_trackers,
                   min(ck) OVER (PARTITION BY info_hash) AS canonical_ck,
                   ck <> min(ck) OVER (PARTITION BY info_hash) AS is_dup
            FROM p""",
        "onion_classify": """
            WITH h AS (
              SELECT c_custkey::BIGINT AS ck,
                     translate(sha256((c_custkey % 97)::VARCHAR),
                               '0189', 'wxyz') AS b32
              FROM customer),
            d AS (
              SELECT ck,
                     CASE WHEN ck % 4 = 0 THEN substr(b32, 1, 56) || '.onion'
                          WHEN ck % 4 = 1 THEN substr(b32, 1, 16) || '.onion'
                          WHEN ck % 4 = 2 THEN substr(b32, 1, 20) || '.onion'
                          ELSE 'host' || (ck % 50)::VARCHAR || '.test'
                     END AS host
              FROM h),
            v AS (
              SELECT ck, host,
                     (CASE WHEN regexp_matches(host, '^[a-z2-7]{56}\\.onion$')
                             THEN 3
                           WHEN regexp_matches(host, '^[a-z2-7]{16}\\.onion$')
                             THEN 2 END)::INT AS onion_version,
                     host LIKE '%.onion' AS is_tor
              FROM d)
            SELECT ck, host, onion_version, is_tor,
                   CASE WHEN is_tor AND onion_version IS NOT NULL
                          THEN 'tor_fetch_stub'
                        WHEN is_tor THEN 'invalid_drop'
                        ELSE 'web' END AS route
            FROM v""",
    }
