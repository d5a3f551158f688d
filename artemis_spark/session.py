"""SparkSession factory tuned for the crawl engine.

Local-mode defaults mirror what we would set on a 1000-executor cluster:
AQE on (runtime skew-join splitting replaces the reference's netarea
split-on-overload, /root/reference/src/Monitor.py:489-515), runtime
bloom-filter join pruning on (complements our explicit per-partition
bloom shards), Arrow enabled for every pandas UDF boundary, and UTC so
results hash-compare cleanly against the DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

def engine_conf(n_shuffle: int) -> dict[str, str]:
    """The engine-required Spark conf as a plain dict.

    Exposed separately from :func:`get_spark` so a ``spark-submit``
    driver program (tools/submit_crawl.py, the north_rule launch mode)
    can apply these tunings ONLY where the submitter's ``--conf`` left
    them unset — command-line conf must win on a real cluster.
    """
    return {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.default.parallelism": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # The crawl loop keys every join/window/groupBy by (host, ...) and
        # keeps both sides hash(host)-partitioned; allow Catalyst to treat
        # subset-key partitionings as co-partitioned so those joins plan
        # with zero exchange (the Phi host-major colocation invariant).
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
        # URL expressions are wide (regex CASE chains); keep them inside
        # whole-stage codegen instead of silently falling back to
        # interpreted eval when a generated method passes 8KB
        "spark.sql.codegen.hugeMethodLimit": "65535",
        # A crawl round runs ~55-70 jobs, and round 0 compiles ~300
        # codegen classes (perfbench recrawl workload, 4 cores); the
        # default 100-entry Janino LRU therefore thrashes and every
        # task of every later stage recompiles its generated code
        # (compile happens at cache-miss inside the task, not only on the
        # driver).  Size the cache to hold several full rounds so
        # steady-state rounds recompile only the 65-80 classes whose source
        # embeds round-varying primitive literals.  Same-window A/B
        # (BENCH.md, round 4 "interleaved knob matrix"): median-round
        # 13.2k -> 22.0k URLs/s.
        # Static conf: must be set before the first session is built.
        "spark.sql.codegen.cache.maxEntries": "4096",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("ARTEMIS_DRIVER_MEM", "8g"),
        # Shuffle files of finished jobs are only deleted when a driver GC
        # collects their RDD references (ContextCleaner); the 30min default
        # lets an entire multi-round run accumulate every round's shuffle
        # output — fatal when spark.local.dir is tmpfs (it is RAM) and the
        # mounting pressure stalls whole rounds.  One minute bounds the
        # backlog to roughly a round.
        "spark.cleaner.periodicGC.interval": "1min",
        # shuffle/spill scratch space; benches point this at tmpfs so the
        # single sandbox disk doesn't masquerade as a scaling ceiling (a
        # real cluster's shuffle bandwidth scales with executor count)
        "spark.local.dir": os.environ.get("ARTEMIS_LOCAL_DIR", "/tmp"),
        "spark.ui.enabled": "false",
        # spark.ui.enabled=false does NOT stop the status listeners: the
        # driver still retains up to 1000 SQL executions — each holding a
        # full AQE plan graph snapshot (ours are huge: delta-chain
        # reconstruction unions re-planned per stage) — plus 1000
        # jobs/stages of task metadata.  A long-lived driver (a
        # multi-hundred-round crawl, or a test suite sharing one JVM)
        # accumulates gigabytes of dead plan strings and OOMs the heap.
        # Keep only a short diagnostic window; on a real cluster these are
        # served from the history server, not driver heap.
        "spark.sql.ui.retainedExecutions": "8",
        "spark.ui.retainedJobs": "50",
        "spark.ui.retainedStages": "50",
        "spark.ui.retainedTasks": "500",
        "spark.sql.pyspark.jvmStacktrace.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # split scans finer than the 128MB default: sandbox inputs are
        # tens of MB and a single split serializes the whole first stage
        # (scan+explode+canonicalize fuse into it).  On a 100TB cluster
        # raise this back toward 128-256MB via extra_conf or
        # spark-submit --conf.
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        # pack small files: the default openCostInBytes (4MB) gives every
        # file a 4MB floor weight, so with 4MB maxPartitionBytes each
        # bucket-partitioned delta file becomes its OWN scan task — a
        # k-member url_seen/host_stats chain over 256 buckets then costs
        # k*256 task launches per reconstruction, which serializes
        # core-starved runs (local[2] round walls grew 1.5x over 6
        # rounds; see BENCH.md round 4).  64KB packs the tiny delta
        # files ~60-to-a-split while leaving large-file splitting to
        # maxPartitionBytes.
        "spark.sql.files.openCostInBytes": str(64 * 1024),
    }


def get_spark(
    app_name: str = "artemis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this is ~2-3x total cores instead; the round loop additionally
    repartitions the fetch wave by host (the Phi host-major invariant,
    /root/reference/src/Netarea.py:7-11).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # ARTEMIS_MASTER overrides the default thread-local master — e.g.
    # "local-cluster[4,1,6144]" runs 4 real executor JVMs behind a
    # standalone-style scheduler, the in-sandbox analogue of "4
    # executors" for the north_rule's N -> 4N scaling evidence (the
    # driver process is identical at both sizes, so driver-side fixed
    # cost cancels out of the ratio exactly as on a real cluster).
    master = master or os.environ.get("ARTEMIS_MASTER") or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or cpus

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in engine_conf(n_shuffle).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship artemis_spark to Python workers (the --py-files pattern).

    Worker processes unpickle our pandas UDFs by importing this package;
    when the driver script runs outside the repo root the module isn't
    on the workers' sys.path.  addPyFile distributes a zip exactly the
    way ``spark-submit --py-files artemis_spark.zip`` does on a cluster
    (north_rule launch mode).
    """
    zpath = os.path.join(tempfile.gettempdir(), "artemis_spark_pyfiles.zip")
    build_pyfiles_zip(zpath)
    spark.sparkContext.addPyFile(zpath)


def build_pyfiles_zip(zpath: str) -> str:
    """Zip the artemis_spark package for ``spark-submit --py-files``.

    Always rebuilds (a cached zip goes stale); the write is tmp+rename so
    a concurrent builder never publishes a half-written archive.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = zpath + f".{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    os.replace(tmp, zpath)
    return zpath
