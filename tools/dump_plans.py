"""Regenerate PLANS.md: formatted physical plans of the round's critical
paths + headline queries, with the properties each plan must exhibit."""
from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    # keep the operator tree + the scan lines (PushedFilters/ReadSchema)
    tree_end = txt.index("\n\n") if "\n\n" in txt else len(txt)
    tree = txt[:tree_end]
    details = "\n".join(
        line.strip()[:200]
        for line in txt.splitlines()
        if re.search(
            r"PushedFilters|PartitionFilters|ReadSchema|Arguments: hashpartitioning|Join type",
            line,
        )
    )
    return tree + "\n-- scan/exchange details --\n" + details


def final_plan(df) -> tuple[str, dict[int, str]]:
    """The executed (AQE final) plan of an already-run ``df``: the tree,
    and the detail block of each node in it.  Unlike the initial plan,
    it shows which shuffles the run reused (ReusedExchange)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    tree = txt[txt.index("== Final Plan =="):txt.index("+- == Initial Plan ==")]
    ids = {int(i) for i in re.findall(r"\((\d+)\)", tree)}
    blocks = {
        int(b[1:b.index(")")]): b
        for b in txt.split("\n\n")
        if re.match(r"\(\d+\) ", b) and int(b[1:b.index(")")]) in ids
    }
    return tree.rstrip(), blocks


PIN_NOTE = """\
Symptom (profiled at the bench tier, 32 cores): executor utilization
12-15/32 with 17-38s per round of ZERO-job driver dead time.  Cause:
the round tree (delta-chain reconstruction ∪ recrawl scan → dedupe →
robots/auth → politeness → fetch join → markup extraction → MERGE)
feeds ~46 driver actions (writes, collects, probes); with cache(),
every action re-analyzes, re-optimizes and AQE-replans the FULL tree —
serialized, single driver thread — because cache() keeps complete
lineage.  The work grows with pipeline depth, so every feature added
since r01 (auth, forms, delta-log, bloom shards) made every OTHER
action slower: the r01→r03 driver-tier regression.

Fix: the round's pins (`_Round.pin` in plans/crawl.py) use
`localCheckpoint(eager=False)` instead of cache(), which truncates
lineage at each materialized intermediate — downstream plans see a
leaf RDD scan.
Losing recompute lineage is safe by design: the committed state store
is the crash-recovery mechanism (rounds are resumable), not Spark
recompute.  On a real cluster use `reliableCheckpoint` off the hot
path or simply accept executor-loss recompute of one round's pins.

r5 measurement note: `localCheckpoint(eager=False)` is NOT lazy for
AQE plans — building the checkpoint RDD materializes every non-result
query stage at pin-CREATION time (verified: a groupBy pin's create
cost 12.9s vs first count 1.9s).  So each `_pin()` in the round runs
its upstream stages right where it is created; the round is a sequence
of pin materializations, and anything derived from an existing pin is
a cheap leaf scan.  This is why every branch split (robots_blocked /
auth_deferred / scheduled / deferred) must filter a SHARED pin: a
branch with its own pin re-executes the whole unpinned chain at its
creation point (the r1-r4 engine paid that 4x per round).

Second serialized driver cost: Janino codegen compilation.  Round 0
compiles ~300 classes (perfbench recrawl workload, 4 cores); with the
default 100-entry codegen cache (static conf
`spark.sql.codegen.cache.maxEntries`) EVERY round recompiles EVERY
class (~2-3s serial driver time).  With the cache sized to hold
several rounds (4096), steady-state rounds compile only the 65-80
classes whose generated source embeds round-varying primitive
literals (round number, epoch timestamps, wave-bucket isin lists —
primitives inline into the source text; strings/arrays go to the
references array and do not)."""

TORRENT_NOTE = """\
The magnet conversion is a `when()`-guarded Arrow pandas UDF column on
the SAME `fetched` relation the round already materializes once
(`plans/crawl.py`): non-torrent rows ship a NULL bytes column across
the Arrow boundary (a null check, no bencode work), and the pinned
`fetched` leaf then feeds the queue aggregate, the crawl_log union and
the url_seen MERGE without ever re-executing the fetch join.  The
alternative — filtering the wave to `%.torrent` and re-joining the web
cache for the subset — would schedule a second co-partitioned join per
round for what is typically a handful of rows.

The queue itself is one tiny hash aggregate:
`groupBy(info_hash).agg(min(struct(depth, host, auth, magnet)))` —
wave-bounded (only rows whose parse succeeded), no window, no join.
At 10^10-URL scale the .torrent fraction of a wave is small and the
aggregate's input is already filtered to it; the only per-row cost laid
on the full wave is the NULL column through the existing Python stage
that `decode_validate_image` already established (one Arrow round-trip
per round, shared shape)."""

GATING_NOTE = """\
The round materializes exactly three wave-sized pins between routing
and fetch: `candidates` (routed, deduped and bloom-probed), `gated`
(validate join → robots flags → auth flags over the candidates pin,
one annotated relation) and `ranked` (politeness window over the
fetchable slice of `gated`).  The bloom-negative and bloom-positive
branches of the gate, robots_blocked, auth_deferred, fetchable,
scheduled and deferred are filter SCANS of those pins — they appear in
downstream plans as Filter-over-leaf, nothing else.  The bloom probe
runs once per candidate, inside `candidates`, and is shard-local:
candidates exchange by bloom shard id and each mapInPandas task loads
its own shard files (no bitset broadcast; round 0, before any bloom
version, skips the probe).  Probed inside `gated` instead, it would
sit in both branches of the bloom split's union and run twice.  A
pin's scan carries no partitioning, so `ranked`'s window exchanges
the fetchable slice by host once.

Before r5 each branch was its own localCheckpoint pin; because pin
creation executes eagerly (see Round-plan pinning), each one re-ran
the whole O(wave) gate chain — bloom probe, validate join, robots
join, window — up to 4x per round.  Measured at local[1], tier=bench,
1024-budget waves: median round wall 122-188s → 84-107s and the
round's 'seen_updates materialize' phase (which used to pay 3 of the
4 re-runs) 9-53s → 3.7-22s.

Write-tail shape: the round first collects its <= P lineage rows (one
tagged-union aggregate over the candidates, gated, ranked, fetched and
refreshed pins); they carry the round's totals and the two write-skip
tallies, so no stage counts or probes a pin.  The persists then run as
concurrent jobs with no sequencing action before them.  Every pin they
read ran its shuffle stages when it was created (see Round-plan
pinning); what is left is its result stage, whose partitions the block
manager computes once however many jobs read them concurrently.  A
round whose lineage tallies no refreshed robots rule or no
auth-deferred URL skips that write entirely (committed version
re-recorded); lineage_metrics is written from the collected rows; the
next frontier is not pinned — only its write reads it, so its dedupe
runs inside that write; url_seen/host_stats/robots deltas append
UNPARTITIONED small files (bucket kept as a column; partition dirs only
on compacted bases, where PartitionFilter pruning pays).  Every pin
left is read by two or more plans, and the round unpersists each pin's
checkpoint RDD when it ends (`DataFrame.unpersist()` does not free a
localCheckpoint), so no round's blocks outlive it."""


def main() -> None:
    from pyspark.sql import functions as F

    from artemis_spark.session import get_spark
    from artemis_spark.datagen import generate
    from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine
    import __spark_entry__ as E

    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.01"
    web = os.path.join(tempfile.gettempdir(), "artemis_plans_web")
    if not os.path.exists(os.path.join(web, "_DONE")):
        generate("tiny", web)
        open(os.path.join(web, "_DONE"), "w").close()
    state = tempfile.mkdtemp(prefix="artemis_plans_state_")
    eng = CrawlEngine(
        spark, web, state, CrawlConfig(politeness_budget=5, num_partitions=8)
    )
    eng.web.count()  # materialize caches so plans show InMemoryTableScan
    eng.payload_cache.count()

    sections = []

    # 1. the co-partitioned fetch join
    from artemis_spark.sources.fetch import synthetic_fetch

    wave = (
        eng.link_graph.select("url")
        .select("url", F.parse_url("url", F.lit("HOST")).alias("host"))
        .repartition(8, "host")
    )
    # at tiny fixture scale AQE correctly broadcasts the web instead; force
    # the sort-merge path to show the shape a 100TB web table would plan
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sections.append((
        "Fetch join (wave x cached web), broadcast disabled to show the "
        "at-scale shape — MUST show the cached side read straight from "
        "InMemoryTableScan with no Exchange and no Sort above it "
        "(co-partitioned on hash(host), cache pre-sorted on the join "
        "keys); only the wave side exchanges.  (At the tiny fixture size "
        "AQE instead broadcasts the web — also correct.)",
        plan_of(synthetic_fetch(wave, eng.web, eng.payload_cache)),
    ))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))

    # 2. dedupe within batch — HashAggregate, never SortAggregate
    from artemis_spark.operators.dedup import dedupe_within_batch

    cands = wave.select(
        "url", "host", F.lit(1).alias("depth"),
        F.lit("web_static").alias("nature"), F.lit(0).alias("round_added"),
    )
    sections.append((
        "Within-batch dedupe — MUST plan HashAggregate (fixed-width "
        "numeric buffers; min(string) would silently degrade to a "
        "SortAggregate over the whole batch) and reuse the wave's "
        "hash(host) partitioning (no extra Exchange).",
        plan_of(dedupe_within_batch(cands)),
    ))

    # 3. markup extraction — all-JVM regexp inside codegen, no Python eval
    from artemis_spark.functions.markup import extract_outlinks

    ex_df = eng.web.select(
        extract_outlinks(F.col("body"), F.lit("web_static")).alias("ex")
    )
    sections.append((
        "Markup link extraction (T2/T3) — MUST contain NO ArrowEvalPython/"
        "BatchEvalPython node: the href/src/base/<loc> grammar is native "
        "regexp expressions fused into whole-stage codegen, so the hottest "
        "per-byte loop of the crawl never crosses into Python.",
        plan_of(ex_df),
    ))

    # 4. bucketed url_seen base scan — partition pruning on bucket
    eng.run(1)
    seen = eng.store.read("url_seen")
    sections.append((
        "url_seen bucketed-base scan — MUST show PartitionFilters on the "
        "bucket partition column: round 0 and every compaction write the "
        "delta chain's base partitioned by bucket (the _read_chain reduce "
        "over the chain plus the round's rows), so a bucket predicate "
        "reads only those buckets' directories.",
        plan_of(seen.filter(F.col("bucket").isin(3, 7))),
    ))

    # 5. delta-chain reconstruction feeding the validate join: the
    # reconstruction aggregate is keyed (host, url) precisely so the
    # join reuses its exchange
    from artemis_spark.operators.dedup import validate_against_seen

    eng.run(2)  # extend the url_seen delta chain past one version
    seen_chain = eng.store.read("url_seen")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sections.append((
        "Validate-against-seen over the delta-chain state (broadcast "
        "disabled to show the at-scale shape) — the state side MUST show "
        "exactly ONE Exchange: the reconstruction aggregate's own "
        "hashpartitioning(url), with neither a second Exchange nor a "
        "separate Sort between the aggregate and the sort-merge join "
        "(the aggregate's url ordering feeds the SMJ directly).  The "
        "wide state shuffles once per round; only the narrow wave side "
        "re-exchanges.  This is why the join key is url alone: the old "
        "(host eqNullSafe, url) compound key planned as (coalesce, "
        "isnull, url) exchanges on BOTH sides.",
        plan_of(validate_against_seen(cands, seen_chain, 3, 1)),
    ))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))

    # 7. robots_cache wave-sliced read (r03 verdict #2/#3)
    rc = eng.store.read("robots_cache")
    sections.append((
        "robots_cache wave-sliced read — the bucket predicate MUST reach "
        "the bucketed BASE member as PartitionFilters (the only "
        "O(|hosts|)-sized member): each round consults rules only for "
        "its wave's hosts (cache_slice reads the wave's buckets, then "
        "semi-joins the wave host set), and the robots SOURCE is joined "
        "with a broadcast semi-join on the tiny needy-host set — the "
        "full source is NEVER broadcast (at 10^8 hosts that broadcast "
        "cannot build).  Writes are delta-log appends of ONLY the rules "
        "re-fetched this round (r5; group_last reconstruction keeps a "
        "host's newest rule set, compaction bounds the chain), so "
        "per-round robots IO tracks the wave, not the host history; the "
        "small unpartitioned delta members are filtered by column stats.",
        plan_of(rc.filter(F.col("bucket").isin(3, 7))),
    ))

    # 8. host_stats delta-chain read under a wave bucket predicate
    hs = eng.store.read("host_stats")
    sections.append((
        "host_stats delta-chain reconstruction under a wave bucket "
        "predicate — the additive (sum) merge groups by (host, bucket), "
        "so the bucket predicate pushes through the aggregate AND the "
        "chain union into every member's scan: PartitionFilters on the "
        "bucketed BASE (the O(|hosts|) member), column-stats filters on "
        "the small unpartitioned deltas (r5: shattering an O(|wave|) "
        "delta into bucket=N one-row dir files cost more file-open "
        "overhead than the pruning saved).  A normal round APPENDS only "
        "that round's inlink deltas (write_version_delta, no shuffle); "
        "only a compaction round rewrites the cumulative base — "
        "per-round host_stats read AND write cost track the wave.",
        plan_of(hs.filter(F.col("bucket").isin(3, 7))),
    ))

    # 6. headline oracle queries: pushdown + broadcast evidence
    for name, why in [
        ("dedup_anti_join", "BroadcastHashJoin LeftAnti; the seen-side filter "
                            "l_returnflag='R' is pushed into the parquet scan "
                            "(PushedFilters) and only l_orderkey is read."),
        ("join_agg_topn", "dimension filters pushed to scans; customer side "
                          "broadcast; partial aggregation before the exchange."),
        ("politeness_topk", "single exchange for the window partitionBy; "
                            "ReadSchema pruned to the 4 used columns."),
    ]:
        sections.append((f"`{name}` — {why}", plan_of(E.queries()[name](spark, sf))))

    # 9. MinHash-LSH candidate generation, from the executed plan
    mh = E.queries()["minhash_lsh_pairs"](spark, sf)
    mh.collect()
    tree, nodes = final_plan(mh)
    sig_aggs = [n for n, b in nodes.items() if "partial_min(" in b]
    bucket_joins = [n for n, b in nodes.items() if re.search(r"Left keys \[1\]: \[bucket#", b)]
    if len(sig_aggs) != 1 or len(bucket_joins) != 1:
        raise SystemExit(
            f"minhash_lsh_pairs: {len(sig_aggs)} signature aggregates, "
            f"{len(bucket_joins)} bucket joins (want 1 and 1)"
        )
    details = "\n".join(
        line[:200] for n in sig_aggs + bucket_joins for line in nodes[n].splitlines()
        if not line.startswith(("Input", "Output", "Aggregate Attributes", "Results"))
    )
    sections.append((
        "`minhash_lsh_pairs` (executed plan) — MUST run exactly ONE "
        "signature HashAggregate over the shingles (the partial_min over "
        "all k hashes) and ONE self-join on the band-tagged bucket; the "
        "join's other side reads the signature shuffle as a "
        "ReusedExchange, and no band re-aggregates the shingles (per-band "
        "joins let column pruning split the signature into one 2-hash "
        "aggregate per band, each re-exploding the shingles).",
        tree + "\n-- signature aggregate and bucket join --\n" + details,
    ))

    # static (non-plan) design-note sections — carried here so a
    # regeneration never drops them (the BENCH.md overwrite lesson, r03)
    sections.append((
        "Round-plan pinning — the driver, not the executors, is the "
        "scale axis that breaks first on a long-lived crawl; each "
        "round's ~50 jobs MUST see O(1)-size plans, not the round's "
        "full operator tree.",
        PIN_NOTE,
    ))
    sections.append((
        "Torrent magnet queue (S6) — the .torrent parse must ride the "
        "fetch pass, not re-run it",
        TORRENT_NOTE,
    ))
    sections.append((
        "Single-pass wave gating (r5) — the gate chain MUST materialize "
        "once per round; every branch is a filter scan of one pin.",
        GATING_NOTE,
    ))

    out = ["# PLANS — physical-plan audit of the critical paths",
           "",
           "Regenerate with `python tools/dump_plans.py`.  Each section states",
           "the property the plan must exhibit; the plan text is the proof.",
           ""]
    for title, plan in sections:
        out += [f"## {title}", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(HERE, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
