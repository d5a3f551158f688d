"""The crawl round loop — one Catalyst DAG per round.

This is the engine's flagship "query", the Spark re-expression of the
reference's full slave→master→slave cycle (SURVEY.md §3.1):

    candidates -> scheme/domain rules (F2,F3)
               -> within-batch dedupe
               -> bloom pre-filter (F1) -> exact validate (F4,A1)
               -> robots broadcast join (F5) [+ sitemap side-emit]
               -> score + per-host politeness top-k (§2.6)
               -> salted fetch wave (S2/S3, synthetic join in-sandbox)
               -> payload decode/phash pandas UDF (input_hint)
               -> content gates (F6 fmt, F7 unchanged-hash)
               -> outlink extraction (T2/T3) -> next candidates
               -> MERGE url_seen, append crawl_log + lineage_metrics

Each round commits atomically through the StateStore manifest, so a run
is resumable from any completed round (north_rule).  The reference's
equivalents are cited per stage in the operator modules.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import (
    canonicalize,
    classify_nature,
    host_of,
    host_partition_key,
    resolve_url,
    scheme_of,
)
from ..operators.bloom import BloomShards, with_bloom_maybe_seen_shard_local
from ..operators.dedup import (
    as_new,
    bump_refresh_rate,
    dedupe_within_batch,
    split_by_bloom,
    validate_against_seen,
)
from ..functions.images import decode_validate_image
from ..functions.markup import extract_outlinks, first_login_form
from ..operators.politeness import politeness_ranked, with_score
from ..operators.robots import apply_robots_flags, sitemap_candidates
from ..rounds import EPOCH_SQL, ROUND_SECONDS, round_ts
from ..schemas import MAX_REFRESH_RATE, URL_SEEN_SCHEMA
from ..sources.fetch import build_payload_cache, build_web, synthetic_fetch
from ..sources.state import DeltaTable, StateStore
from .. import schemas as S

ROBOTS_BLOCKED_STATUS = 999  # crawl_log marker for robots-rejected URLs
AUTH_DEFERRED_STATUS = 998  # crawl_log marker for auth-gated (deferred) URLs
TORRENT_QUEUED_STATUS = 997  # crawl_log marker for magnet tasks queued from .torrent payloads

CANDIDATE_COLS = ["url", "host", "depth", "nature", "round_added"]

import pyspark.sql.types as T

HOST_STATS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("inlinks", T.LongType(), True),
    ]
)

CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("nature", T.StringType(), True),
        T.StructField("round_added", T.IntegerType(), True),
    ]
)


@dataclass
class CrawlConfig:
    politeness_budget: int = 8  # per (host, round) — north_rule's explicit budget
    revisit_delay_rounds: int = 10**6  # effectively crawl-once; tests override (A2)
    num_partitions: int = 32
    allowed_schemes: tuple[str, ...] = ("http", "https")  # F2 protocolRules
    allowed_fmts: tuple[str, ...] = ("png", "jpeg")  # F6 content-type gate
    bloom_bits_per_shard: int = 1 << 20
    bloom_shards: int = 64
    # Every per-host state table (url_seen, host_stats, robots_cache) is
    # stored under pmod(xxhash64(host), state_buckets): compacted bases
    # are partitioned by it, so wave-sliced reads prune whole buckets.
    # 256 by default (pinned in the manifest on first commit, so raising
    # it never mixes moduli within one state dir); at 10^10 URLs use 4096+.
    state_buckets: int = 256
    # Delta-log MERGE layout (sources/state.py DeltaTable): each round
    # appends only its update rows as a delta version (write cost
    # O(|wave|) even when every bucket is dirty); reads reconstruct per
    # key, and a chain of N versions is compacted to one bucketed base
    # to bound read amplification.  <= 1 compacts every round.
    state_delta_max_chain: int = 8
    # salt>0 shapes the wave for a real per-host HTTP fetcher; the
    # synthetic join path leaves it 0 (the join partitions by url).
    fetch_salt: int = 0
    light_stats: bool = False  # skip info-only frontier-size count (bench mode)


def _is_sitemap():
    return F.col("nature") == "web_static_sitemap"


def _fmt_ok(allowed_fmts):
    """F6 content-type gate (sitemaps carry no image payload).  NULL fmt
    (a 200 row with no image payload at all, e.g. a .torrent file) must
    gate as False, not NULL: the backoff rule's ~fmt_ok conjunct would
    otherwise go NULL and skip the backoff bump."""
    return _is_sitemap() | F.coalesce(F.col("fmt").isin(*allowed_fmts), F.lit(False))


class _Gate(NamedTuple):
    """What the gate stage hands the later stages: the three filter
    scans of the ``gated`` pin, the wave's hosts and buckets, the robots
    rules it refreshed / applied, and auth_sessions after this round's
    logins."""

    robots_blocked: DataFrame
    auth_deferred: DataFrame
    fetchable: DataFrame
    cand_hosts: DataFrame
    wave_buckets: list[int]
    refreshed: DataFrame
    wave_rules: DataFrame
    sessions_next: DataFrame


class _Round:
    """One round's shared context: its number and logical clock, the
    pinned bucket modulus, the three delta-log state tables, and every
    pin made this round (released by :meth:`release`)."""

    def __init__(self, store: StateStore, cfg: CrawlConfig):
        self.t_start = time.monotonic()
        self.r = store.last_round() + 1
        self.now = round_ts(self.r)
        # One bucket modulus for every host-keyed state table (url_seen,
        # robots_cache, host_stats), pinned in the manifest on first
        # commit — a resume with a different cfg.state_buckets would
        # otherwise prune with the stored modulus while writing under the
        # new one, duplicating keys across buckets.
        stored_b = store.manifest().get("state_buckets")
        self.n_buckets = n_buckets = int(stored_b) if stored_b else cfg.state_buckets
        self.pins: list[DataFrame] = []

        def table(name, schema, delta_parts=None):
            return DeltaTable(
                store, name, schema, n_buckets, cfg.state_delta_max_chain,
                base_parts=max(1, min(cfg.num_partitions, n_buckets)),
                delta_parts=delta_parts,
            )

        # delta files per round: url_seen keeps the seen_updates pin's
        # own partitioning (no shuffle); host_stats deltas are
        # O(|wave hosts|) rows and robots_cache deltas hold only the
        # re-fetched rule sets, so fewer, larger files beat one per task
        self.url_seen = table("url_seen", URL_SEEN_SCHEMA)
        self.host_stats = table(
            "host_stats", HOST_STATS_SCHEMA, max(1, cfg.num_partitions // 4)
        )
        self.robots_cache = table("robots_cache", S.ROBOTS_SCHEMA, 1)

    def pin(self, df: DataFrame) -> DataFrame:
        """Materialize-once node: truncate the lineage of a round's hot
        intermediate with localCheckpoint(eager=False) instead of
        cache().  A round's tree (chain reconstruction ∪ recrawl scan →
        dedupe → robots/auth → politeness → fetch join → markup
        extraction → MERGE) feeds ~30 driver actions (writes, collects,
        counts); with cache() every one of them re-analyzes and
        re-optimizes the FULL tree and AQE replans it stage by stage —
        profiling showed the executors 98% idle (wall 429s vs 291s total
        task time on 32 cores) with the wall almost entirely
        single-threaded driver planning.  Pinning collapses each
        materialized intermediate to a leaf scan so downstream plans
        stay O(1)-sized however deep the round pipeline gets.  Losing
        RDD lineage is safe by design: the committed state store is the
        recovery mechanism (rounds are resumable), not Spark recompute."""
        p = df.localCheckpoint(eager=False)
        self.pins.append(p)
        return p

    def release(self) -> None:
        """Free every pin's checkpoint RDD: every plan referencing them
        has materialized (or the round failed).  ``DataFrame.unpersist()``
        does not free a localCheckpoint's blocks."""
        while self.pins:
            self.pins.pop()._jdf.queryExecution().analyzed().rdd().unpersist(False)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        web_dir: str,
        state_dir: str,
        config: CrawlConfig | None = None,
        seeds_path: str | None = None,
    ):
        self.spark = spark
        self.web_dir = web_dir
        self.cfg = config or CrawlConfig()
        self.seeds_path = seeds_path or f"{web_dir}/seeds.parquet"
        self.link_graph = spark.read.parquet(f"{web_dir}/link_graph.parquet")
        # T2/T3 links come from the fetched page bytes: a web without
        # page bodies cannot be crawled, so refuse it before any state
        if "body" not in self.link_graph.columns:
            raise ValueError(
                f"{web_dir}/link_graph.parquet has no 'body' column: "
                "outlinks are extracted from the page bytes"
            )
        self.store = StateStore(spark, state_dir)
        self.payloads = spark.read.parquet(f"{web_dir}/payloads.parquet")
        # Two caches, not one pre-joined table: pages hash-partitioned by
        # host (per-round fetch joins never exchange the page side, only
        # the wave) and payload bytes hash-partitioned by image_id
        # (bytes attach per round only for fetched rows; pre-joining them
        # would replicate each shared image ~10x into a multi-GB cache).
        # On a cluster the same effect comes from Iceberg bucketed tables.
        self.web = build_web(self.link_graph, self.cfg.num_partitions).persist()
        self.payload_cache = build_payload_cache(
            self.payloads, self.cfg.num_partitions
        ).persist()
        self.robots = spark.read.parquet(f"{web_dir}/robots_rules.parquet")
        self.domain_rules = spark.read.parquet(f"{web_dir}/domain_rules.parquet")
        # per-host accreditation rules (reference Task.py:12,41); absent
        # file (pre-auth fixtures) == empty table == everything auth='no'.
        # Explicit casts: empty/all-NULL parquet columns arrive VOID-typed.
        auth_path = f"{web_dir}/auth_rules.parquet"
        if os.path.exists(auth_path):
            self.auth_rules = spark.read.parquet(auth_path).select(
                F.col("host").cast("string").alias("host"),
                F.col("auth").cast("string").alias("auth"),
            )
        else:
            self.auth_rules = spark.createDataFrame([], S.AUTH_RULES_SCHEMA)
        # per-host login credentials (reference users table,
        # /root/reference/src/accreditation/User.py:28-37); absent file ==
        # no accounts == every auth-gated host stays deferred (r02 shape).
        creds_path = f"{web_dir}/credentials.parquet"
        if os.path.exists(creds_path):
            self.credentials = spark.read.parquet(creds_path).select(
                F.col("host").cast("string").alias("host"),
                F.col("auth").cast("string").alias("auth"),
                F.col("login").cast("string").alias("login"),
                F.col("password").cast("string").alias("password"),
                F.col("lifetime_s").cast("int").alias("lifetime_s"),
            )
        else:
            self.credentials = spark.createDataFrame([], S.CREDENTIALS_SCHEMA)
        # login pages for 'form' hosts (reference FormHandler.extractOne
        # fetches the form URL and parses the real markup,
        # /root/reference/src/accreditation/FormHandler.py:26-39).
        # self.loginable = hosts whose login can actually be PERFORMED:
        # an account exists AND (http_basic, which needs no form, OR the
        # host's login page parses to a fillable login form — password
        # input present, user/password fields elected per
        # SigInForm.pick_fields, Form.py:43-57).  Hosts whose form cannot
        # be filled (NoUserField/NoPassField) are excluded: they defer
        # forever exactly like credential-less hosts.  Legacy webs
        # without a login_pages table keep the pre-r04 behavior (every
        # account loginable).
        _null_form = [
            F.lit(None).cast("string").alias(c)
            for c in ("form_action", "user_field", "pass_field")
        ]
        lp_path = f"{web_dir}/login_pages.parquet"
        if os.path.exists(lp_path):
            parsed = (
                spark.read.parquet(lp_path)
                .select(
                    F.col("host").cast("string").alias("host"),
                    F.col("url").cast("string").alias("url"),
                    first_login_form(F.col("body").cast("string")).alias("_f"),
                )
                .select(
                    "host",
                    # fill_form action fallback: form.action or base_url
                    # (= the login page URL), Form.py:76-78
                    F.coalesce(F.col("_f.action"), F.col("url")).alias("form_action"),
                    F.col("_f.user_field").alias("user_field"),
                    F.col("_f.pass_field").alias("pass_field"),
                )
                .filter(
                    F.col("user_field").isNotNull()
                    & F.col("pass_field").isNotNull()
                )
            )
            loginable = (
                self.credentials.filter(F.col("auth") != "form")
                .select("host", "auth", "login", "lifetime_s", *_null_form)
                .unionByName(
                    self.credentials.filter(F.col("auth") == "form")
                    .join(parsed, "host", "inner")
                    .select(
                        "host", "auth", "login", "lifetime_s",
                        "form_action", "user_field", "pass_field",
                    )
                )
            )
        else:
            loginable = self.credentials.select(
                "host", "auth", "login", "lifetime_s", *_null_form
            )
        # Built once per engine and persisted: the rounds that consult
        # it (the login stage, the deferred-row backoff) read the cache
        # instead of re-parsing every login page.  The session's cache
        # matches plans over the same files, so a cache an earlier
        # engine left would serve the login pages as they were then:
        # drop it first.
        loginable.unpersist()
        self.loginable = loginable.persist()
        self.seeds = spark.read.parquet(self.seeds_path)

    def close(self) -> None:
        """Release the persisted web/payload/loginable caches.  Cached
        plans live in the session's CacheManager until explicitly
        unpersisted — they do NOT die with the engine object, so a
        long-lived session running many engines (test suites, notebook
        reuse) leaks heap without this."""
        for df in (self.web, self.payload_cache, self.loginable):
            try:
                df.unpersist()
            except Exception:
                pass

    # ------------------------------------------------------------------ state

    def _bloom_path(self, v: int) -> str:
        return f"{self.store.root}/bloom/v{v}"

    @property
    def bloom(self) -> BloomShards:
        """The committed bloom version loaded whole on the driver (empty
        shards before the first one).  The round never reads it — it
        probes shard-locally — so it is loaded afresh on each access;
        it serves inspection and the broadcast reference probe."""
        v = self.store.current_version("bloom")
        if v >= 0:
            return BloomShards.load_dir(self._bloom_path(v))
        return BloomShards(self.cfg.bloom_shards, self.cfg.bloom_bits_per_shard)

    def bootstrap(self) -> None:
        """Round -1: frontier v0 = canonicalized seeds (S1,
        /root/reference/gateway.py:32-60)."""
        if self.store.last_round() >= -1 and self.store.current_version("frontier") >= 0:
            return
        seeds = self.seeds.select(
            canonicalize(F.col("url")).alias("url"),
            F.col("depth").cast("int").alias("depth"),
            # explicit cast: an all-null seeds.nature column type-infers as
            # non-string in parquet and coalesce would fail under ANSI
            # normalize: any unknown/missing nature is re-derived from the
            # URL so downstream code can assume the closed enum
            # (/root/reference/src/Task.py:16-20)
            F.when(
                F.col("nature").cast("string").isin(*S.NATURES),
                F.col("nature").cast("string"),
            ).otherwise(classify_nature(F.col("url"))).alias("nature"),
            F.lit(0).alias("round_added"),
        ).filter(F.col("url").isNotNull())
        seeds = seeds.withColumn("host", host_of(F.col("url"))).select(*CANDIDATE_COLS)
        fv = self.store.write_version("frontier", seeds)
        uv = self.store.write_version(
            "url_seen", self.spark.createDataFrame([], URL_SEEN_SCHEMA)
        )
        hv = self.store.write_version(
            "host_stats", self.spark.createDataFrame([], HOST_STATS_SCHEMA)
        )
        self.store.commit(-1, {"frontier": fv, "url_seen": uv, "host_stats": hv})

    # ------------------------------------------------------------------ round

    @staticmethod
    def _stale(df: DataFrame, at_round: int, delay_rounds: int) -> DataFrame:
        """A2 staleness (/root/reference/src/Task.py:94-95 inverted):
        at_round - last_controlled_round >= refresh_rate * delay."""
        return df.filter(
            (
                F.lit(at_round)
                - (
                    (
                        F.unix_timestamp("last_controlled")
                        - F.unix_timestamp(F.lit(EPOCH_SQL))
                    )
                    / F.lit(ROUND_SECONDS)
                ).cast("long")
            )
            >= F.col("refresh_rate").cast("long") * F.lit(delay_rounds)
        )

    def run_round(self) -> dict:
        """One crawl round as a composition of stages: read state →
        route + dedupe + bloom probe → gate (validate, robots, auth) →
        schedule (politeness top-k) → fetch + extract → persist + commit.
        An empty round runs the same stages over no rows.  Its totals are
        the sums of the lineage rows it committed; nothing it writes is
        visible until the manifest commit, and every pin it made is
        released however it ends."""
        rd = _Round(self.store, self.cfg)
        try:
            url_seen, frontier, recrawl_due = self._read_state(rd)
            candidates = self._route(rd, frontier, recrawl_due)
            gate = self._gate(rd, candidates, url_seen)
            scheduled, deferred = self._schedule(rd, gate)
            fetched = self._fetch(rd, scheduled)
            torrents = self._torrent_queue(fetched)
            crawl_log = self._crawl_log(rd, fetched, gate, torrents)
            extracted, next_frontier = self._links(rd, fetched, gate, scheduled, deferred)
            seen_updates = self._seen_updates(rd, fetched, gate, torrents)
            wall_ms, lineage_rows = self._persist(
                rd, candidates, gate, scheduled, fetched, crawl_log, extracted,
                next_frontier, seen_updates,
            )
        finally:
            rd.release()
        total = lambda c: sum(row[c] for row in lineage_rows)
        # return contract: with light_stats the info-only "new_candidates"
        # (the committed frontier's size) is None (not 0, not a sentinel
        # int) — consumers aggregating per-round counts must skip None.
        return {
            "round": rd.r,
            "candidates": total("urls_in"),
            "scheduled": total("urls_scheduled"),
            "robots_blocked": total("urls_robots_blocked"),
            "fetched": total("urls_fetched"),
            "new_candidates": (
                None if self.cfg.light_stats else self.store.committed_rows("frontier")
            ),
            "wall_ms": wall_ms,
        }

    # ----------------------------------------------------------- round stages

    def _read_state(self, rd: _Round) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(url_seen, frontier, recrawl_due) of the committed snapshot."""
        # A2 recrawl scheduler (/root/reference/src/Master.py:330-342),
        # merge-on-READ: stale URLs are derived from the committed
        # url_seen snapshot when the round starts instead of being
        # re-written into the frontier at round end — the frontier table
        # stays O(|new links|) while recrawl-heavy steady state would
        # otherwise rewrite O(|state|) rows every round (the r02 bench's
        # largest single write).  The filter is identical to the old
        # round-end `_stale(merged_state, r+1)` evaluated one round later.
        url_seen = rd.url_seen.read()
        if len(rd.url_seen.chain()) > 1:
            # delta-layout read is a reconstruction aggregate consumed by
            # several jobs this round (recrawl scan, validate join) —
            # materialize it once instead of recomputing
            url_seen = rd.pin(url_seen)
        recrawl_due = self._stale(url_seen, rd.r, self.cfg.revisit_delay_rounds).select(
            "url", "host", "depth", "nature", F.lit(rd.r).alias("round_added")
        )
        return url_seen, self.store.read("frontier", CANDIDATES_SCHEMA), recrawl_due

    def _route(
        self, rd: _Round, frontier: DataFrame, recrawl_due: DataFrame
    ) -> DataFrame:
        """The candidates pin: admitted, routed, deduped and
        bloom-probed rows (none at all in an empty round)."""
        cfg = self.cfg
        # F2 protocol rules + nature gating (tor/torrent unfetchable
        # in-sandbox) and F3 domain rules (broadcast blocklist anti-join)
        # filter rows before the routing exchange, so no rejected row
        # is shuffled, deduped or probed.
        blocked_hosts = self.domain_rules.filter(~F.col("allowed")).select("host")
        admitted = frontier.unionByName(recrawl_due).filter(
            scheme_of(F.col("url")).isin(*cfg.allowed_schemes)
            & ~F.col("nature").isin("web_static_tor", "web_static_torrent")
        ).join(F.broadcast(blocked_hosts), "host", "left_anti")
        # THE routing shuffle (reference P2, /root/reference/src/Slave.py:145-172):
        # one hash exchange by host up front, which the within-batch
        # dedupe reuses.  Pins do not carry it on: each later host-keyed
        # consumer of a pin (politeness window, fetch join) re-exchanges
        # the wave-sized slice it reads (README "Round execution shape").
        deduped = dedupe_within_batch(
            admitted.repartition(cfg.num_partitions, "host")
        )
        # F1 bloom pre-filter (the slave's lossy alreadySent tier,
        # /root/reference/src/Slave.py:118-142), probed once per
        # candidate inside this pin: the gate's bloom-negative and
        # bloom-positive branches are filter scans of its maybe_seen
        # column.  Before the first bloom version (round 0) nothing has
        # been seen: bootstrap commits an empty url_seen, and every
        # later round commits url_seen and bloom together, so skipping
        # the probe is exact.
        bloom_v = self.store.current_version("bloom")
        if bloom_v >= 0:
            probed = with_bloom_maybe_seen_shard_local(
                deduped, self._bloom_path(bloom_v), cfg.num_partitions
            )
        else:
            probed = deduped.withColumn("maybe_seen", F.lit(False))
        return rd.pin(probed)

    def _gate(self, rd: _Round, candidates: DataFrame, url_seen: DataFrame) -> _Gate:
        """The gate chain — validate join → robots → auth flags over the
        bloom-probed candidates — materialized once as the ``gated``
        pin; every branch of it is a filter scan of that pin."""
        cfg, r, now = self.cfg, rd.r, rd.now
        # F4 exact validate (the master's Validator, Master.py:284-314)
        # of the bloom positives; bloom negatives cannot be in url_seen.
        definitely_new, maybe_seen = split_by_bloom(candidates)
        schedulable = as_new(definitely_new).unionByName(
            validate_against_seen(maybe_seen, url_seen, r, cfg.revisit_delay_rounds)
        )
        cand_hosts, wave_buckets, refreshed, wave_rules = self._robots_rules(
            rd, candidates
        )
        # Auth annotation (accreditationRules, reference Task.py:12,41;
        # AuthNature Task.py:22-27): one broadcast join on the schedulable
        # set gives every downstream branch (allowed, robots-blocked,
        # deferred) its auth marker.
        schedulable = schedulable.join(
            F.broadcast(self.auth_rules), "host", "left"
        ).withColumn("auth", F.coalesce(F.col("auth"), F.lit("no")))
        decided = apply_robots_flags(schedulable, wave_rules, now)

        # Auth lifecycle (reference AccreditationCache/FormHandler,
        # /root/reference/src/accreditation/AccreditationCache.py:18-30,
        # FormHandler.py:9-36): an auth-gated host's URLs are fetchable
        # only under a LIVE session (now < established_at + lifetime_s).
        # First contact defers the URLs for one round (the form must be
        # fetched and parsed) while a login establishes the session; the
        # next round's wave fetches them with the session marker.  Hosts
        # with no credentials row defer forever (the r02 behavior).
        auth_sessions = self.store.read("auth_sessions", S.AUTH_SESSIONS_SCHEMA)
        live_sess_hosts = (
            auth_sessions.filter(
                F.unix_timestamp(F.lit(now))
                < F.unix_timestamp("established_at") + F.col("lifetime_s")
            )
            .select("host")
            .distinct()
        )
        # One broadcast LEFT join + flag columns, NOT a union/split of
        # semi/anti branches.  The whole gate chain (validate join ->
        # robots join -> auth flags) is materialized ONCE as the
        # `gated` pin; every branch below — robots_blocked,
        # auth_deferred, fetchable — is a filter SCAN of that pin.
        # Previously each branch was its own lazy pin whose first action
        # re-executed the unpinned chain from `candidates`, so the same
        # O(wave) work (including the validate join against url_seen)
        # ran up to 4x per round — the dominant share of the r4
        # "seen_updates materialize" phase.
        live_flagged = decided.join(
            F.broadcast(live_sess_hosts.withColumn("_live", F.lit(True))),
            "host",
            "left",
        )
        gated = rd.pin(live_flagged)
        robots_blocked = gated.filter(~F.col("robots_allowed")).drop(
            "robots_allowed", "_live"
        )
        auth_deferred = gated.filter(
            F.col("robots_allowed")
            & (F.col("auth") != "no")
            & F.col("_live").isNull()
        ).drop("robots_allowed", "_live")
        fetchable = gated.filter(
            F.col("robots_allowed") & ((F.col("auth") == "no") | F.col("_live"))
        ).drop("robots_allowed", "_live")
        return _Gate(
            robots_blocked, auth_deferred, fetchable, cand_hosts, wave_buckets,
            refreshed, wave_rules,
            self._sessions_next(rd, auth_sessions, auth_deferred),
        )

    def _robots_rules(self, rd: _Round, candidates: DataFrame):
        """(cand_hosts, wave_buckets, refreshed, wave_rules) of the wave.

        F5 robots with an honest TTL cache (reference Robot.py:91-98):
        per-host rules carry their REAL fetch time in the persisted
        robots_cache table.  Hosts needed this round whose entry is
        missing or TTL-expired are re-fetched (in-sandbox: re-read from
        the live robots source) and stamped fetched_at=now; live entries
        are served from cache even if the source changed — exactly the
        staleness window a real crawler has.  Rule-less hosts get a
        NULL-pattern sentinel row so they are not re-fetched every round
        (negative caching, ≙ RobotCache caching empty parsers).

        At-scale shape (VERDICT r03 #2/#3): the wave only consults rules
        for ITS OWN hosts, so everything here is wave-bounded —
          cache_slice  stored rows for wave hosts, read under a
                       PartitionFilter on the STORED bucket column;
          refreshed    re-fetched rules for the missing/expired subset
                       (the robots SOURCE is streamed with a broadcast
                       semi-join on that tiny host set; the full source
                       is NEVER broadcast — at 10^8 hosts that
                       broadcast cannot build);
          wave_rules   live cache_slice ∪ refreshed — all that
                       apply_robots/sitemap discovery need.
        """
        now = rd.now
        cand_hosts = rd.pin(candidates.select("host").distinct())
        wave_buckets = sorted(
            int(x["b"])
            for x in cand_hosts.select(
                host_partition_key(F.col("host"), rd.n_buckets).alias("b")
            )
            .distinct()
            .collect()
        )
        cache_slice = rd.pin(
            rd.robots_cache.read()
            .filter(F.col("bucket").isin(wave_buckets))
            .drop("bucket")
            .join(F.broadcast(cand_hosts), "host", "left_semi")
        )
        live_slice = cache_slice.filter(
            F.unix_timestamp(F.lit(now))
            <= F.unix_timestamp("fetched_at") + F.col("ttl_s")
        )
        need = cand_hosts.join(
            F.broadcast(live_slice.select("host").distinct()), "host", "left_anti"
        )
        # One LEFT join from the needy hosts to their source rules (the
        # source streams past the broadcast host set; only the wave's
        # rules are broadcast back): a host with no rules keeps one
        # all-NULL row, its sentinel.  Explicit casts: an all-NULL column
        # in a user-supplied robots parquet arrives VOID-typed and
        # corrupts downstream unions.
        src_rules = self.robots.drop("fetched_at").join(
            F.broadcast(need), "host", "left_semi"
        )
        refreshed = rd.pin(
            need.join(F.broadcast(src_rules), "host", "left").select(
                "host",
                F.col("pattern").cast("string").alias("pattern"),
                F.col("allow").cast("boolean").alias("allow"),
                F.col("sitemap_url").cast("string").alias("sitemap_url"),
                F.lit(now).alias("fetched_at"),
                F.coalesce(F.col("ttl_s").cast("int"), F.lit(3600)).alias("ttl_s"),
            )
        )
        wave_rules = rd.pin(live_slice.unionByName(refreshed))
        return cand_hosts, wave_buckets, refreshed, wave_rules

    def _sessions_next(
        self, rd: _Round, auth_sessions: DataFrame, auth_deferred: DataFrame
    ) -> DataFrame:
        """auth_sessions after this round's logins."""
        # Login round: every deferred host whose login is PERFORMABLE
        # (credentials + parsed fillable form for 'form' hosts — see
        # self.loginable) gets a session stamped this round.  The
        # session id commits to the PARSED form evidence (action +
        # elected field names — FormHandler extractOne -> pick_fields ->
        # fill_form + submit, minus the network); for http_basic hosts
        # the form columns are NULL and concat_ws reduces to the
        # form-less host|login|round id.  The deferred host set (wave-
        # bounded, tiny) is the broadcast side; loginable streams.
        new_sessions = (
            self.loginable.join(
                F.broadcast(auth_deferred.select("host").distinct()),
                "host",
                "left_semi",
            )
            .select(
                "host",
                "auth",
                F.sha2(
                    F.concat_ws(
                        "|",
                        F.col("host"), F.col("login"), F.col("form_action"),
                        F.col("user_field"), F.col("pass_field"), F.lit(str(rd.r)),
                    ),
                    224,
                ).alias("session_id"),
                F.lit(rd.now).alias("established_at"),
                F.col("lifetime_s").cast("int").alias("lifetime_s"),
            )
        )
        return auth_sessions.join(
            new_sessions.select("host"), "host", "left_anti"
        ).unionByName(new_sessions)

    def _schedule(self, rd: _Round, gate: _Gate) -> tuple[DataFrame, DataFrame]:
        """(scheduled, deferred): §2.6 priority + politeness top-k."""
        # The score join consults only wave hosts: PartitionFilter on the
        # stored bucket column (pushes through the delta-chain sum
        # aggregate — the grouping includes bucket) + broadcast
        # semi-join, so with_score broadcasts O(|wave hosts|) rows, never
        # the full per-host history.
        hs_slice = (
            rd.host_stats.read()
            .filter(F.col("bucket").isin(gate.wave_buckets))
            .drop("bucket")
            .join(F.broadcast(gate.cand_hosts), "host", "left_semi")
        )
        scored = with_score(gate.fetchable, hs_slice)
        # one window evaluation: the gated pin's scan carries no
        # partitioning (a localCheckpoint scan drops it), so the window
        # exchanges the fetchable slice by host once; scheduled and
        # deferred are filter scans of the ranked pin
        ranked = rd.pin(politeness_ranked(scored))
        budget = self.cfg.politeness_budget
        return (
            ranked.filter(F.col("_rk") <= budget).drop("_rk"),
            ranked.filter(F.col("_rk") > budget).drop("_rk"),
        )

    def _fetch(self, rd: _Round, scheduled: DataFrame) -> DataFrame:
        """The fetched pin: fetch join, content gates, torrent parse,
        payload decode and markup extraction in one pass."""
        cfg = self.cfg
        # S2/S3 fetch wave: join against the cached web, which is stored
        # hash(host)-partitioned and sorted, so only the wave side
        # exchanges.  (cfg.fetch_salt shapes a real-HTTP wave.)
        wave = scheduled
        if cfg.fetch_salt > 0:
            from ..functions.urls import salted_host

            wave = wave.repartition(
                cfg.num_partitions, salted_host(F.col("host"), F.col("url"), cfg.fetch_salt)
            )
        fetched = synthetic_fetch(wave, self.web, self.payload_cache)

        # F7 unchanged-content short-circuit (304 or same sha224)
        unchanged = (F.col("status") == 304) | (
            (F.col("status") == 200)
            & (F.col("last_hash") != "")
            & (F.col("content_sha224") == F.col("last_hash"))
        )
        saved = (F.col("status") == 200) & ~unchanged & _fmt_ok(cfg.allowed_fmts)

        fetched = fetched.withColumn("unchanged", unchanged).withColumn("saved", saved)

        # S6 .torrent -> magnet (Task.buildFromFile,
        # /root/reference/src/Task.py:47-59): a fetched, changed
        # ``.torrent`` payload is bencode-parsed into a magnet URI inline
        # in the fetch pass — the when()-guard NULLs the bytes for every
        # non-torrent row, so the Arrow transfer ships nulls and the UDF
        # pays only a null check outside the (rare) torrent rows.  NULL
        # magnet == not a torrent fetch / malformed metainfo.
        from ..sources.torrents import magnet_of_torrent

        is_torrent_fetch = (
            (F.col("status") == 200)
            & ~F.col("unchanged")
            & F.col("url").endswith(".torrent")
            & F.col("body").isNotNull()
        )
        fetched = fetched.withColumn(
            "magnet",
            magnet_of_torrent(F.when(is_torrent_fetch, F.col("body"))),
        )

        fetched = fetched.withColumn(
            "decoded",
            F.when(
                F.col("saved") & ~_is_sitemap() & F.col("bytes").isNotNull(),
                decode_validate_image(F.col("bytes")),
            ),
        ).withColumn("computed_phash", F.col("decoded.phash"))

        # T1 dispatch + T2/T3 extraction over the real page bytes
        # (html href/src grammar vs sitemap <loc> grammar by nature),
        # evaluated once while the pin materializes: the pin holds only
        # the small extracted array, never the body bytes.
        fetched = fetched.withColumn(
            "ex",
            F.when(
                F.col("saved"),
                extract_outlinks(F.col("body"), F.col("nature")),
            ),
        )
        return rd.pin(fetched.drop("bytes", "body"))

    @staticmethod
    def _torrent_queue(fetched: DataFrame) -> DataFrame:
        """S6 wave-level info-hash dedup: two .torrent URLs serving the
        SAME metainfo (identical bytes -> identical info-hash) must
        queue ONE magnet task; the winner is the deterministic
        min-(depth, host, auth, magnet) parent — struct min == the
        model's lexicographic tuple min.  Tiny per-wave set (torrent
        rows only), one hash aggregate."""
        return (
            fetched.filter(F.col("magnet").isNotNull())
            .select(
                F.regexp_extract("magnet", "btih:([0-9a-f]{40})", 1).alias("info_hash"),
                F.struct("depth", "host", "auth", "magnet").alias("t"),
            )
            .groupBy("info_hash")
            .agg(F.min("t").alias("t"))
            .select(
                F.col("t.depth").alias("depth"),
                F.col("t.host").alias("host"),
                F.col("t.auth").alias("auth"),
                F.col("t.magnet").alias("magnet"),
            )
        )

    def _crawl_log(
        self, rd: _Round, fetched: DataFrame, gate: _Gate, torrents: DataFrame
    ) -> DataFrame:
        """The round's crawl_log rows (S8/S9 sink)."""
        r, now = rd.r, rd.now
        # payload validation (input_hint): decoded dims + phash must match
        # the fixture metadata; NULL when nothing was decoded this round
        payload_ok = F.when(
            F.col("saved") & F.col("computed_phash").isNotNull(),
            (F.col("computed_phash") == F.col("expected_phash"))
            & (F.col("decoded.w") == F.col("expected_w").cast("int"))
            & (F.col("decoded.h") == F.col("expected_h").cast("int")),
        )

        def marker_rows(df: DataFrame, status: int, url: str = "url") -> DataFrame:
            """Unfetched rows logged under a status marker."""
            return df.select(
                F.lit(r).alias("round"),
                F.col(url).alias("url"),
                "host",
                F.lit(status).alias("status"),
                F.lit(None).cast("string").alias("image_id"),
                F.lit(None).cast("long").alias("phash"),
                F.lit(None).cast("string").alias("caption"),
                F.lit(None).cast("boolean").alias("payload_ok"),
                F.lit(now).alias("fetched_at"),
                "auth",
            )

        return fetched.select(
            F.lit(r).alias("round"),
            "url",
            "host",
            "status",
            F.when(F.col("saved"), F.col("image_id")).alias("image_id"),
            F.when(F.col("saved"), F.col("computed_phash")).alias("phash"),
            F.when(F.col("saved"), F.col("caption")).alias("caption"),
            payload_ok.alias("payload_ok"),
            F.lit(now).alias("fetched_at"),
            "auth",  # 'no' for plain rows; auth nature for session fetches
        ).unionByName(
            marker_rows(gate.robots_blocked, ROBOTS_BLOCKED_STATUS)
        ).unionByName(
            marker_rows(gate.auth_deferred, AUTH_DEFERRED_STATUS)
        ).unionByName(
            # queued magnet tasks (handler-queue marker): host/auth are
            # the winning parent's — the task is attributed to the page
            # that supplied the metainfo, like the reference's task
            # parentage (Task.buildFromFile inherits the parent task)
            marker_rows(torrents, TORRENT_QUEUED_STATUS, url="magnet")
        )

    def _links(
        self,
        rd: _Round,
        fetched: DataFrame,
        gate: _Gate,
        scheduled: DataFrame,
        deferred: DataFrame,
    ) -> tuple[DataFrame, DataFrame]:
        """(extracted pin, next frontier): T2/T3 extraction, redirects,
        sitemaps and never-seen deferred rows -> next-round candidates."""
        # parent depth is carried through the explode (join-free)
        redirects = (
            fetched.filter(F.col("status").isin(301, 302, 307, 308) & F.col("location").isNotNull())
            .select("depth", resolve_url(F.col("url"), F.col("location")).alias("_abs"))
            .select("depth", canonicalize(F.col("_abs")).alias("url"))
            .filter(F.col("url").isNotNull())
        )
        # Staged projections on purpose: resolve_url and canonicalize each
        # reference their input many times, so fusing them into one Project
        # duplicates every regex ~5x and blows the whole-stage-codegen
        # method limit (Spark then falls back to interpreted eval on the
        # hottest path of the round).  Materializing `_abs` as a column
        # keeps each regex evaluated once per row; CollapseProject leaves
        # multi-referenced non-trivial aliases alone.
        ex_exploded = fetched.filter(F.col("saved")).select(
            # resolve_base_href: a <base href> overrides the page URL
            # as resolution parent (ExtractorFactory.py:84-86)
            F.coalesce(F.col("ex.base"), F.col("url")).alias("parent"),
            (F.col("depth") + 1).alias("depth"),
            F.explode_outer("ex.links").alias("raw"),
        )
        extracted_with_depth = rd.pin(
            ex_exploded
            .select("depth", resolve_url(F.col("parent"), F.col("raw")).alias("_abs"))
            .select("depth", canonicalize(F.col("_abs")).alias("url"))
            .filter(F.col("url").isNotNull())
            .withColumn("host", host_of(F.col("url")))
        )

        # sitemap discovery reads the robots CACHE (sitemaps are found when
        # robots is fetched/parsed, Robot.py:78-79,134-137)
        sitemaps = sitemap_candidates(gate.wave_rules, scheduled).select(
            "url", host_of(F.col("url")).alias("host"), F.lit(0).alias("depth")
        )
        redirect_cands = redirects.withColumn("host", host_of(F.col("url")))

        next_frontier = (
            extracted_with_depth.select("url", "host", "depth")
            .unionByName(redirect_cands.select("url", "host", "depth"))
            .unionByName(sitemaps.select("url", "host", "depth"))
            .withColumn("nature", classify_nature(F.col("url")))
            .withColumn("round_added", F.lit(rd.r + 1))
            .select(*CANDIDATE_COLS)
            # politeness-deferred rows carry over ONLY when never-seen:
            # a was_seen deferred row sits in url_seen, stays due (its
            # last_controlled did not move), and the merge-on-read
            # recrawl scan re-derives it next round — writing it here
            # too would emit every backlogged recrawl row twice per
            # round (frontier write + scan), the dominant redundant
            # volume of recrawl-heavy steady state.
            .unionByName(
                deferred.filter(~F.col("was_seen")).select(*CANDIDATE_COLS)
            )
        )
        return extracted_with_depth, next_frontier

    def _seen_updates(
        self, rd: _Round, fetched: DataFrame, gate: _Gate, torrents: DataFrame
    ) -> DataFrame:
        """The round's url_seen rows (A1 MERGE upsert), pinned: consumed
        by the url_seen write and the bloom update."""
        now = rd.now
        backoff_needed = (
            F.col("status").isin(301, 302, 304, 307, 308)
            | (F.col("status") >= 400)
            | F.col("unchanged")
            | ((F.col("status") == 200) & ~F.col("unchanged") & ~_fmt_ok(self.cfg.allowed_fmts))
        )
        seen_updates = fetched.select(
            "url",
            "host",
            scheme_of(F.col("url")).alias("scheme"),
            "depth",
            F.col("score"),
            F.lit(now).alias("last_visited"),
            F.lit(now).alias("last_controlled"),
            # a successfully-parsed .torrent also records its content sha
            # even though nothing is "saved": the F7 short-circuit then
            # suppresses re-parsing (and re-queueing) on recrawl while
            # the metainfo is unchanged
            F.when(F.col("saved") | F.col("magnet").isNotNull(), F.col("content_sha224"))
            .otherwise(F.col("last_hash"))
            .alias("last_hash"),
            # greatest(1, ...): a completed session-fetch must clear the
            # refresh_rate=0 retry marker set at deferral time, or the
            # recrawl scan would re-emit the URL every round forever
            F.when(backoff_needed, bump_refresh_rate(F.col("refresh_rate")))
            .otherwise(F.greatest(F.lit(1), F.col("refresh_rate")))
            .cast("int")
            .alias("refresh_rate"),
            "nature",
            F.col("round_added"),
        ).unionByName(
            # robots-blocked URLs back off to MAX (effectively never
            # retried); auth-deferred URLs on LOGINABLE hosts get
            # refresh_rate=0 — the merge-on-read recrawl scan then
            # re-emits them automatically next round, when the login
            # session established this round is live (the deferred-stream
            # consumption the r02 verdict asked for).  Credential-less
            # hosts AND hosts whose login form cannot be filled back off
            # to MAX like robots blocks.
            gate.robots_blocked.withColumn("_rr", F.lit(MAX_REFRESH_RATE))
            .unionByName(
                gate.auth_deferred.join(
                    F.broadcast(
                        self.loginable.select("host").withColumn("_hc", F.lit(True))
                    ),
                    "host",
                    "left",
                ).withColumn(
                    "_rr",
                    F.when(F.col("_hc"), F.lit(0)).otherwise(
                        F.lit(MAX_REFRESH_RATE)
                    ),
                ).drop("_hc")
            )
            .select(
                "url",
                "host",
                scheme_of(F.col("url")).alias("scheme"),
                "depth",
                F.lit(0.0).alias("score"),
                F.lit(None).cast("timestamp").alias("last_visited"),
                F.lit(now).alias("last_controlled"),
                F.col("last_hash"),
                F.col("_rr").alias("refresh_rate"),
                "nature",
                F.col("round_added"),
            )
        ).unionByName(
            # queued magnet tasks MERGE into url_seen keyed on the full
            # magnet URI (info-hash identity): the same torrent is never
            # re-queued while its metainfo is unchanged.  host = winning
            # parent's (magnet URIs have no authority); refresh_rate=MAX —
            # no transmission daemon in-sandbox ever completes them (S6
            # stub), and the F2 nature gate keeps them unfetchable.
            torrents.select(
                F.col("magnet").alias("url"),
                "host",
                F.lit("magnet").alias("scheme"),
                (F.col("depth") + 1).cast("int").alias("depth"),
                F.lit(0.0).alias("score"),
                F.lit(None).cast("timestamp").alias("last_visited"),
                F.lit(now).alias("last_controlled"),
                F.lit("").alias("last_hash"),
                F.lit(MAX_REFRESH_RATE).alias("refresh_rate"),
                F.lit("web_static_torrent").alias("nature"),
                F.lit(rd.r + 1).alias("round_added"),
            )
        )
        return rd.pin(seen_updates)

    def _persist(
        self,
        rd: _Round,
        candidates: DataFrame,
        gate: _Gate,
        scheduled: DataFrame,
        fetched: DataFrame,
        crawl_log: DataFrame,
        extracted: DataFrame,
        next_frontier: DataFrame,
        seen_updates: DataFrame,
    ) -> tuple[int, list]:
        """Write every table of the round, an empty one's too, and
        commit the manifest; returns (wall_ms, lineage rows)."""
        store, r = self.store, rd.r
        # host PageRank proxy: inbound links observed this round.  In the
        # delta-log layout (A3 at scale) these per-host increments are the
        # ONLY rows written for host_stats on a normal round; the
        # cumulative view is the chain-sum reconstruction.
        inlink_delta = extracted.groupBy("host").agg(
            F.count("*").cast("long").alias("inlinks")
        )
        # The <= num_partitions lineage rows, collected once before the
        # writes: they carry the round's totals and decide the two
        # skippable writes, and the lineage_metrics write re-ships them.
        lineage = self._lineage(rd, candidates, scheduled, fetched, gate)
        lineage_rows = lineage.collect()
        wall_ms = int((time.monotonic() - rd.t_start) * 1000)
        lineage = self.spark.createDataFrame(
            [(*row, wall_ms) for row in lineage_rows],
            lineage.schema.add("wall_ms", T.IntegerType(), False),
        ).coalesce(1)
        total = lambda c: sum(row[c] for row in lineage_rows)

        def _robots_cache():
            # nothing re-fetched this round: the committed version is
            # already current — no write job at all
            if rd.robots_cache.chain() and not total("robots_rows_refreshed"):
                return rd.robots_cache.current()
            return rd.robots_cache.write(gate.refreshed)

        def _sessions():
            # tiny per-host table (only auth-gated hosts ever get rows);
            # when no URL deferred this round no new session can exist —
            # reuse the committed version, skip the job entirely
            if not total("urls_auth_deferred"):
                return store.current_version("auth_sessions")
            return store.write_version("auth_sessions", gate.sessions_next)

        # Dedupe before writing: extraction emits the same URL from many
        # parents (3-4x write amplification otherwise).  The dedupe keys
        # on the uniform (url, host) hash — safe under the zipf-heavy
        # target-host skew of the raw extracted stream — and the written
        # frontier stays in that uniform layout: the next round starts
        # with its own routing repartition by host, so a host-grouping
        # shuffle here would move the round's largest intermediate a
        # second time for a layout nothing consumes.  Only the frontier
        # write reads it, so it runs inside that write, unpinned.
        # Recrawl rows are NOT written here — they are derived from
        # url_seen at the next round's read (merge-on-read recrawl, see
        # _read_state).
        next_frontier = dedupe_within_batch(
            next_frontier.select(*CANDIDATE_COLS)
        ).select(*CANDIDATE_COLS)

        # The persists share only pinned parents, whose shuffle stages
        # ran when they were created (PLANS.md "Round-plan pinning"), so
        # they run unsequenced as concurrent Spark jobs from driver
        # threads.  Nothing is visible until the manifest commit.
        pool = ThreadPoolExecutor(max_workers=8)
        try:
            f_rc = pool.submit(_robots_cache)
            f_sv = pool.submit(_sessions)
            f_log = pool.submit(store.append_round, "crawl_log", crawl_log, r)
            f_lin = pool.submit(store.append_round, "lineage_metrics", lineage, r)
            f_uv = pool.submit(rd.url_seen.write, seen_updates)
            f_hv = pool.submit(rd.host_stats.write, inlink_delta)
            f_fv = pool.submit(store.write_version, "frontier", next_frontier)
            f_bv = pool.submit(self._write_bloom, seen_updates)
            f_log.result()
            f_lin.result()
            (uv, url_chain), (hv, hs_chain), (rv, rc_chain) = (
                f_uv.result(), f_hv.result(), f_rc.result()
            )
            fv, bv, sv = f_fv.result(), f_bv.result(), f_sv.result()
        finally:
            # wait for in-flight writers even when one failed: a resume
            # in this process must not race a sibling still writing the
            # next version dirs (queued jobs are cancelled)
            pool.shutdown(wait=True, cancel_futures=True)
        store.commit(
            r,
            {"url_seen": uv, "host_stats": hv, "frontier": fv, "bloom": bv,
             "robots_cache": rv, "auth_sessions": sv},
            meta={"state_buckets": rd.n_buckets},
            delta_chains={
                "url_seen": url_chain,
                "host_stats": hs_chain,
                "robots_cache": rc_chain,
            },
        )
        # GC: superseded versions are unreachable once the manifest moved on;
        # keep one prior snapshot for post-hoc inspection (Iceberg's
        # expire_snapshots analogue)
        store.vacuum(keep_last=2)
        return wall_ms, lineage_rows

    def _write_bloom(self, seen_updates: DataFrame) -> int:
        """Incremental bloom update with this round's seen URLs: OR-merge
        + write happen INSIDE the executor task per shard; the driver
        only links untouched shards — no S*m/8 array in driver memory."""
        # looked up at call time, so a wrapper installed on the module
        # (e.g. a tracer) sees every call
        from ..operators.bloom import update_and_save_shards

        cur_bv = self.store.current_version("bloom")
        prev = self._bloom_path(cur_bv) if cur_bv >= 0 else None
        if prev is not None:
            meta = BloomShards.dir_meta(prev)
            S_, m_, k_ = meta["num_shards"], meta["m"], meta["k"]
        else:
            S_, m_, k_ = self.cfg.bloom_shards, self.cfg.bloom_bits_per_shard, 7
        update_and_save_shards(
            seen_updates.select("url", "host"),
            self._bloom_path(cur_bv + 1),
            prev,
            S_,
            m_,
            k_,
        )
        return cur_bv + 1

    def _lineage(
        self,
        rd: _Round,
        candidates: DataFrame,
        scheduled: DataFrame,
        fetched: DataFrame,
        gate: _Gate,
    ) -> DataFrame:
        """Lineage / metrics (A3/A4/A6) per host-shard, without the
        ``wall_ms`` column the caller appends once it has collected them.

        These rows are the round's only counts: ``run_round`` sums its
        totals (candidates, scheduled, fetched, robots-blocked) from
        them, and ``_persist`` decides from the auth-deferred and
        refreshed-robots tallies whether auth_sessions and robots_cache
        are rewritten, so no stage counts or probes a pin of its own.
        One tagged union + ONE hash aggregate instead of a groupBy per
        counter stitched by full-outer joins: the per-partition counters
        all key on the same shard id, so a single shuffle suffices.  An
        empty round has no rows."""
        snapshot = json.dumps(self.store.manifest()["tables"], sort_keys=True)
        shard = host_partition_key(F.col("host"), self.cfg.num_partitions)
        counted = {
            "urls_in": candidates,
            "urls_scheduled": scheduled,
            "urls_fetched": fetched,
            "urls_robots_blocked": gate.robots_blocked,
            "urls_auth_deferred": gate.auth_deferred,
            "robots_rows_refreshed": gate.refreshed,
        }
        tagged = reduce(lambda a, b: a.unionByName(b), (
            df.select(shard.alias("partition_id"), F.lit(c).alias("_k"))
            for c, df in counted.items()
        ))
        return (
            tagged.groupBy("partition_id")
            .agg(*(F.sum(F.when(F.col("_k") == c, 1).otherwise(0)).alias(c) for c in counted))
            .select(
                F.lit(rd.r).alias("round"),
                F.col("partition_id").cast("int"),
                "urls_in",
                (F.col("urls_in") - F.col("urls_scheduled")).alias("urls_deduped"),
                *list(counted)[1:],
                F.lit(snapshot).alias("input_snapshot"),
            )
        )

    def run(self, n_rounds: int) -> list[dict]:
        """Run up to n_rounds, resuming from the last committed round."""
        self.bootstrap()
        out = []
        for _ in range(n_rounds):
            t0 = time.monotonic()
            stats = self.run_round()
            stats["round_wall_ms"] = int((time.monotonic() - t0) * 1000)
            out.append(stats)
            # no candidates leave nothing to extract, so the next
            # frontier is empty too
            if stats["candidates"] == 0:
                break
        return out
