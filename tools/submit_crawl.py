"""spark-submit driver program for the crawl engine.

The north rule's launch mode is ``spark-submit --py-files`` on a
multi-executor cluster (reference deployment: one Master + Monitors +
Slaves launched per machine, /root/reference/src/Master.py:21-53 — here
the cluster manager replaces that hand-rolled process placement).  This
file is that driver program: package the engine, submit it, and the
round loop runs unchanged — the engine itself never cares whether its
session is local[N] or 1000 executors.

Package + cluster launch::

    python tools/submit_crawl.py --emit-zip /tmp/artemis_spark.zip
    spark-submit --master yarn --deploy-mode client \
        --num-executors 1000 --executor-cores 4 --executor-memory 16g \
        --py-files /tmp/artemis_spark.zip \
        --conf spark.sql.shuffle.partitions=8192 \
        tools/submit_crawl.py \
        --web-dir  hdfs:///crawl/web \
        --state-dir hdfs:///crawl/state \
        --rounds 100 --budget 1024 --partitions 8192

Local smoke over the deterministic synthetic web (identical code path,
the sandbox evidence for the launch mode)::

    spark-submit --master 'local[4]' --py-files /tmp/artemis_spark.zip \
        tools/submit_crawl.py --tier tiny --rounds 3 \
        --state-dir /tmp/artemis_submit_state

Conf precedence: anything the submitter passes via ``--conf`` wins; the
engine's tunings (artemis_spark.session.engine_conf) fill only the keys
left unset.  Resume: rounds commit atomically to the state store, so
re-running the same command with the same --state-dir continues from
the last committed round (crash mid-round re-runs that round from its
committed inputs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _import_engine():
    """Import artemis_spark.

    Under ``spark-submit --py-files`` the zip is on the driver's
    sys.path already; under a plain ``python tools/submit_crawl.py`` (or
    spark-submit without --py-files, run from a checkout) fall back to
    the repo root next to this file.
    """
    try:
        import artemis_spark  # noqa: F401
    except ImportError:
        sys.path.insert(0, os.path.dirname(HERE))
        import artemis_spark  # noqa: F401


def build_session(args: argparse.Namespace):
    """Session with correct conf precedence for both launch modes.

    spark-submit mode (detected by the PythonRunner gateway env var):
    the submitted --master/--conf are authoritative, so the session is
    created bare and the engine tunings are layered AFTERWARD, only
    onto keys the submitter (or spark-defaults.conf) left unset.  The
    builder is deliberately not used for them: measured on this Spark,
    builder.config() OVERRIDES a spark-submit --conf for the same key,
    which is the wrong precedence for an operator-driven launch.
    Static/core keys (driver memory, local.dir, UI retention, codegen
    cache) cannot be set after the driver JVM is up — those must come
    from spark-submit flags; --emit-zip prints the recommended set.
    """
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # spark-submit's PythonRunner
        from pyspark.sql import SparkSession

        from artemis_spark.session import _ship_package, engine_conf

        spark = SparkSession.builder.appName("artemis_crawl").getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        cc = spark.sparkContext.getConf()
        for k, v in engine_conf(args.partitions).items():
            if cc.contains(k):
                continue  # submitted or cluster default — keep it
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # static conf: spark-submit --conf territory
        if not cc.get("spark.submit.pyFiles", None):
            # submitted from a checkout without --py-files: ship the
            # package so executor-side pandas UDFs can unpickle.  (With
            # --py-files the walk would see only the zip path — skip.)
            _ship_package(spark)
        return spark
    # plain-python mode: the session factory owns master + conf
    from artemis_spark.session import get_spark

    return get_spark(
        "artemis_crawl",
        master=args.master,
        shuffle_partitions=args.partitions,
    )


def prepare_web(args: argparse.Namespace) -> str:
    """Resolve the web-fixture directory, generating the synthetic tier
    on demand (marker-gated: datagen is deterministic and one-time)."""
    if args.web_dir and not args.tier:
        return args.web_dir
    from artemis_spark.datagen import generate

    tier = args.tier or "tiny"
    web_dir = args.web_dir or os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"artemis_submit_web_{tier}"
    )
    marker = os.path.join(web_dir, "_DONE_v5")
    if not os.path.exists(marker):
        generate(tier, web_dir)
        open(marker, "w").close()
    return web_dir


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--emit-zip", metavar="PATH", help="build the --py-files zip and exit")
    src = ap.add_argument_group("input web")
    src.add_argument("--web-dir", help="fixture dir (link_graph/payloads/robots parquet)")
    src.add_argument("--tier", help="generate the synthetic web at this tier into --web-dir")
    st = ap.add_argument_group("crawl state")
    st.add_argument("--state-dir", help="state-store root (required unless --emit-zip)")
    st.add_argument("--fresh", action="store_true", help="wipe --state-dir first (no resume)")
    run = ap.add_argument_group("run shape")
    run.add_argument("--rounds", type=int, default=5)
    run.add_argument("--budget", type=int, default=1024, help="politeness budget per (host, round)")
    run.add_argument("--partitions", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    run.add_argument("--revisit-rounds", type=int, default=10**6, help="recrawl staleness in rounds")
    run.add_argument("--seeds", help="seed parquet path (default: <web-dir>/seeds.parquet)")
    run.add_argument("--master", help="plain-python mode only; ignored under spark-submit")
    run.add_argument("--light-stats", action="store_true", help="skip the info-only frontier-size count (bench mode)")
    args = ap.parse_args()

    _import_engine()
    if args.emit_zip:
        from artemis_spark.session import build_pyfiles_zip

        zpath = build_pyfiles_zip(args.emit_zip)
        print(f"wrote {zpath}")
        print(
            "spark-submit --master <cluster> \\\n"
            "  --conf spark.sql.codegen.cache.maxEntries=4096 \\\n"
            "  --conf spark.cleaner.periodicGC.interval=1min \\\n"
            "  --conf spark.sql.ui.retainedExecutions=8 \\\n"
            f"  --py-files {zpath} {os.path.abspath(__file__)} \\\n"
            "  --web-dir <dir> --state-dir <dir> --rounds N --partitions <2-3x total cores>"
        )
        return
    if not args.state_dir:
        ap.error("--state-dir is required")
    if args.fresh:
        shutil.rmtree(args.state_dir, ignore_errors=True)

    spark = build_session(args)
    web_dir = prepare_web(args)

    from artemis_spark.plans.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(
        politeness_budget=args.budget,
        num_partitions=args.partitions,
        bloom_shards=max(args.partitions * 2, 8),
        revisit_delay_rounds=args.revisit_rounds,
        light_stats=args.light_stats,
    )
    eng = CrawlEngine(spark, web_dir, args.state_dir, cfg, seeds_path=args.seeds)
    t0 = time.monotonic()
    stats = eng.run(args.rounds)
    wall = time.monotonic() - t0
    for s in stats:
        print(json.dumps(s), flush=True)
    urls = sum(s.get("scheduled", 0) + s.get("fetched", 0) for s in stats)
    print(
        json.dumps(
            {
                "rounds_run": len(stats),
                "urls": urls,
                "wall_sec": round(wall, 2),
                "urls_per_sec": round(urls / wall, 1) if wall else None,
                "state_dir": args.state_dir,
                "master": spark.sparkContext.master,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
