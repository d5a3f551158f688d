"""Versioned table store with atomic round commits — the Iceberg stand-in.

The north_rule calls for Iceberg tables (MERGE INTO url_seen, snapshot
isolation, resume-from-any-round).  The session ships no Iceberg
runtime jar, so this module provides the same contract over plain
parquet:

  * every mutable table (url_seen, host_stats, robots_cache, frontier,
    bloom bits) is written as a new immutable version directory
    ``<table>/v{n}``;
  * a round is committed by atomically replacing ``MANIFEST.json``
    (os.replace) pointing at the exact version of every table plus the
    round high-water mark — the snapshot;
  * append-only outputs (crawl_log, lineage_metrics) land in
    ``<table>/round={r}`` partition dirs, idempotently overwritten if a
    crashed round re-runs.

The three per-host state tables (url_seen, host_stats, robots_cache)
are delta logs, each served by one :class:`DeltaTable`: a bucketed base
plus a chain of small per-round deltas recorded in the manifest's
``delta_chains``, reconstructed on read by the table's merge reduce
(``DELTA_MERGE``).  A round appends only its update rows (O(|wave|)
write cost, Iceberg merge-on-read's analogue); a table without a chain,
or whose chain reached ``max_chain``, instead writes a new bucketed
base computed by the same reduce over the chain plus the new rows —
the compaction that bounds read amplification.

Crash anywhere before the manifest swap leaves the previous snapshot
intact; resume re-runs the incomplete round from its inputs.  On a real
cluster the same interface maps 1:1 onto Iceberg MERGE + snapshot ids.

Reference analogue: there is none — the reference's state is RAM-only
ARC caches that die with the process (/root/reference/src/Cache.py:54-135);
resumability is a capability the rebuild adds per north_rule.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urls import host_partition_key

# Per-table primary key for delta-chain reconstruction.  Only tables
# registered here may use write_version_delta.
DELTA_KEYS = {"url_seen": "url", "host_stats": "host", "robots_cache": "host"}
# How chain members combine per key: "last" = last-writer-wins (full
# row replacement, url_seen MERGE semantics); "sum" = additive counters
# (host_stats inlink deltas — each round appends only the hosts that
# gained inlinks, reconstruction sums the chain); "group_last" = the key
# groups MULTIPLE rows and a refresh replaces the whole group (robots
# rules: a re-fetched host contributes its complete rule set, so
# reconstruction keeps only the newest version that mentions the host).
DELTA_MERGE = {"url_seen": "last", "host_stats": "sum", "robots_cache": "group_last"}


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "MANIFEST.json")

    # -- manifest ------------------------------------------------------------

    def manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"round": -1, "tables": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def commit(
        self,
        round_no: int,
        table_versions: dict[str, int],
        meta: dict | None = None,
        delta_chains: dict[str, list[int]] | None = None,
    ) -> None:
        """Atomically publish a round: the snapshot pointer swap.

        ``meta`` entries (e.g. the pinned state_buckets modulus) are
        merged into the manifest top level.  ``delta_chains`` records,
        per delta-layout table, the ordered version list (base first)
        that reconstructs the current state; a compaction resets the
        chain to ``[new_base]``."""
        m = self.manifest()
        m["round"] = round_no
        m["tables"].update({k: int(v) for k, v in table_versions.items()})
        if meta:
            m.update(meta)
        if delta_chains:
            m.setdefault("delta_chains", {}).update(
                {t: [int(v) for v in c] for t, c in delta_chains.items()}
            )
        # a table committed WITHOUT an explicit chain entry was plain-
        # written: its new version supersedes any prior delta chain, so
        # drop the stale chain instead of reconstructing from old versions
        for t in table_versions:
            if not (delta_chains and t in delta_chains):
                m.get("delta_chains", {}).pop(t, None)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def last_round(self) -> int:
        return int(self.manifest()["round"])

    # -- versioned tables ------------------------------------------------------

    def _vdir(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, f"v{version}")

    def current_version(self, table: str) -> int:
        return int(self.manifest()["tables"].get(table, -1))

    def delta_chain(self, table: str) -> list[int]:
        return [int(v) for v in self.manifest().get("delta_chains", {}).get(table, [])]

    def _has_files(self, path: str) -> bool:
        return any(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
        )

    def committed_rows(self, table: str) -> int:
        """Row count of a plain table's committed version, summed from
        its parquet footers on the driver: no Spark job reads the rows."""
        return sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for d, _, fs in os.walk(self._vdir(table, self.current_version(table)))
            for f in fs
            if f.endswith(".parquet")
        )

    def _live(self, table: str, chain: list[int]) -> list[int]:
        """The chain members that hold parquet files (see read())."""
        return [v for v in chain if self._has_files(self._vdir(table, v))]

    def _scan(self, path: str, schema: T.StructType | None) -> DataFrame:
        """One version dir.  A given schema skips parquet schema
        inference, which is one Spark job per directory opened."""
        reader = self.spark.read
        return (reader if schema is None else reader.schema(schema)).parquet(path)

    def read(self, table: str, schema=None) -> DataFrame | None:
        if schema is not None and table in DELTA_KEYS:
            schema = with_bucket(schema)
        chain = self.delta_chain(table)
        if len(chain) > 1:
            live = self._live(table, chain)
            if live:
                return self._read_chain(table, live, schema=schema)
            # fall through: an entirely-empty chain behaves like an
            # empty table (schema-typed below)
        v = self.current_version(table)
        if v < 0:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            return None
        path = self._vdir(table, v)
        # a bucketed write of an empty update set leaves a version dir with
        # no parquet files — schema inference would fail on it
        if schema is not None and not self._has_files(path):
            return self.spark.createDataFrame([], schema)
        return self._scan(path, schema)

    def _read_chain(
        self,
        table: str,
        chain: list[int],
        tail: DataFrame | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Merge-on-read for a delta-layout table: base + deltas unioned
        with a chain sequence number, then reduced per key by the
        table's ``DELTA_MERGE`` rule.  ``tail`` is one more member after
        the chain — a compaction's new rows — so a compaction is exactly
        this reduce, and each table's merge is defined here only.
        Grouping includes the stored ``bucket`` partition column
        (functionally dependent on the key's host), so bucket predicates
        above this read still prune the scan.  This is the read-side
        cost of O(|updates|)-per-round writes; compaction bounds the
        chain length.  ``schema`` (with ``bucket``) types every member's
        scan instead of inferring it."""
        key = DELTA_KEYS[table]
        dfs = [self._scan(self._vdir(table, v), schema) for v in chain]
        if tail is not None:
            dfs.append(tail)
        u = dfs[0].withColumn("_seq", F.lit(0))
        for i, d in enumerate(dfs[1:], 1):
            u = u.unionByName(d.withColumn("_seq", F.lit(i)))
        if DELTA_MERGE.get(table, "last") == "group_last":
            # the key groups multiple rows (robots: one row per pattern)
            # and a refresh replaces the whole group, so the winner is
            # every row of the key's NEWEST chain member.  Window over
            # (bucket, key): a bucket predicate above this read still
            # pushes through the window's partitionBy into the member
            # scans as a PartitionFilter.
            from pyspark.sql import Window

            w = Window.partitionBy("bucket", key)
            return (
                u.withColumn("_mx", F.max("_seq").over(w))
                .filter(F.col("_seq") == F.col("_mx"))
                .drop("_seq", "_mx")
            )
        if DELTA_MERGE.get(table, "last") == "sum":
            # additive counters: one hash aggregate sums the chain.  The
            # stored ``bucket`` partition column joins the GROUP BY (it is
            # functionally dependent on the key's host), so a bucket
            # predicate above this read pushes through the aggregate and
            # the union into every chain member's scan as a
            # PartitionFilter — wave-sliced readers stay O(|wave buckets|)
            # however long the chain is.
            val_cols = [c for c in u.columns if c not in (key, "bucket", "_seq")]
            return (
                u.groupBy(key, "bucket")
                .agg(*[F.sum(c).alias(c) for c in val_cols])
                .select(key, *val_cols, "bucket")
            )
        # Group on the key ALONE (bucket, functionally dependent on the
        # key's host, is folded in via max()): the reconstruction then
        # leaves the state hash-partitioned on exactly the key its
        # downstream join uses (validate-against-seen), so that join
        # reuses this aggregate's exchange instead of re-shuffling the
        # full state once more per round.
        val_cols = [c for c in u.columns if c not in (key, "bucket", "_seq")]
        return (
            u.groupBy(key)
            .agg(
                F.max_by(F.struct(*val_cols), F.col("_seq")).alias("_r"),
                F.max("bucket").alias("bucket"),
            )
            .select(key, "_r.*", "bucket")
        )

    def _next_vdir(self, table: str) -> tuple[int, str]:
        """The next version number and its (cleared) directory."""
        v = self.current_version(table) + 1
        path = self._vdir(table, v)
        if os.path.exists(path):  # leftover from a crashed round
            shutil.rmtree(path)
        return v, path

    def write_version(self, table: str, df: DataFrame) -> int:
        """Write df as the next version dir; returns the version number
        (caller passes it to commit()). Not visible until committed."""
        v, path = self._next_vdir(table)
        df.write.mode("overwrite").parquet(path)
        return v

    def write_version_delta(self, table: str, upd_df: DataFrame) -> int:
        """Append-only delta version for a delta-chain table: writes ONLY
        the round's update rows — per-round write cost is O(|updates|)
        regardless of how many buckets they touch.  The caller records
        the new version in the manifest's ``delta_chains`` via commit();
        read() then reconstructs per key.  This is the parquet stand-in
        for Iceberg's merge-on-read delete/data files.

        Unpartitioned: ``bucket`` stays a plain column.  A delta holds
        one round's rows, so bucket=N dirs would shatter it into ~|wave
        buckets| tiny files and the per-round chain scan degenerates
        into file-open overhead (measured: 12-33 s/round at local[1] by
        chain length 6, the dominant term of the r5 state_reads
        profile); wave-sliced reads keep PartitionFilter pruning on the
        bucketed base, the only O(|state|)-sized member."""
        if table not in DELTA_KEYS:
            raise ValueError(f"no delta key registered for table {table!r}")
        v, path = self._next_vdir(table)
        upd_df.write.mode("overwrite").parquet(path)
        return v

    def write_version_bucketed(self, table: str, df: DataFrame) -> int:
        """Full version write of a host-bucketed table, partitioned by
        its ``bucket`` int column: the base of a delta chain, whose
        bucket=N dirs let wave-sliced reads prune by PartitionFilter."""
        v, path = self._next_vdir(table)
        df.write.mode("overwrite").partitionBy("bucket").parquet(path)
        return v

    def merge_upsert(self, table: str, updates: DataFrame, key: str, schema) -> int:
        """MERGE INTO emulation: rows in ``updates`` replace same-key rows.

        Iceberg path: ``MERGE INTO <table> t USING updates u ON t.url =
        u.url WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
        INSERT *``.  Fallback: current anti-join updates, union, write
        next version.  Matches A1 tasksMap upsert semantics
        (/root/reference/src/Master.py:313,322-328).
        """
        current = self.read(table, schema)
        cols = [f.name for f in schema.fields]
        upd = updates.select(*cols)
        merged = current.join(upd.select(key), on=key, how="left_anti").select(*cols).unionByName(upd)
        return self.write_version(table, merged)

    # -- append-only outputs ---------------------------------------------------

    def append_round(self, table: str, df: DataFrame, round_no: int) -> None:
        """Idempotent per-round append: overwrite the round's partition dir."""
        path = os.path.join(self.root, table, f"round={round_no}")
        df.drop("round").write.mode("overwrite").parquet(path)

    def read_appended(self, table: str) -> DataFrame | None:
        base = os.path.join(self.root, table)
        if not os.path.exists(base):
            return None
        # mergeSchema: append-only tables may gain columns across engine
        # versions (e.g. payload_ok); without it the inferred schema depends
        # on which round-dir Spark samples.
        return (
            self.spark.read.option("basePath", base)
            .option("mergeSchema", "true")
            .parquet(base)
        )

    # -- GC ----------------------------------------------------------------------

    def vacuum(self, keep_last: int = 2) -> None:
        """Drop version dirs older than the committed one (minus keep_last).

        Versions referenced by a live delta chain are never dropped — a
        chain's base stays reachable however many deltas follow it."""
        m = self.manifest()
        chains = m.get("delta_chains", {})
        for table, v in m["tables"].items():
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            pinned = {int(x) for x in chains.get(table, [])}
            for d in os.listdir(tdir):
                if (
                    d.startswith("v")
                    and d[1:].isdigit()
                    and int(d[1:]) < v - keep_last + 1
                    and int(d[1:]) not in pinned
                ):
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)


def with_bucket(schema: T.StructType) -> T.StructType:
    """A delta table's stored schema: its row schema plus ``bucket``."""
    if "bucket" in schema.fieldNames():
        return schema
    return T.StructType(schema.fields + [T.StructField("bucket", T.IntegerType(), True)])


class DeltaTable:
    """One delta-log state table: url_seen, host_stats or robots_cache.

    The write rule, the same for all three: a table with no chain entry
    (bootstrap's empty flat v0, or no version yet) or whose chain has
    reached ``max_chain`` members writes a new bucketed base — the
    ``_read_chain`` reduce over the chain plus the new rows, partitioned
    into ``base_parts`` tasks by bucket; any other round appends the new
    rows as an unpartitioned delta, coalesced to ``delta_parts`` files
    when given (None keeps the rows' own partitioning).  ``max_chain``
    <= 1 compacts every round.

    Every store access goes through ``self.store.<method>`` at call
    time, so wrappers installed on the store after construction (e.g. a
    tracer) see each read and write.
    """

    def __init__(
        self,
        store: StateStore,
        name: str,
        schema: T.StructType,
        n_buckets: int,
        max_chain: int,
        base_parts: int,
        delta_parts: int | None = None,
    ):
        self.store = store
        self.name = name
        self.schema = with_bucket(schema)
        self.n_buckets = n_buckets
        self.max_chain = max_chain
        self.base_parts = base_parts
        self.delta_parts = delta_parts

    def chain(self) -> list[int]:
        return self.store.delta_chain(self.name)

    def read(self) -> DataFrame:
        """The committed view, with the ``bucket`` column.  A table with
        no chain entry has no live rows (bootstrap's v0 is empty), so it
        reads as an empty frame."""
        if not self.chain():
            return self.store.spark.createDataFrame([], self.schema)
        return self.store.read(self.name, self.schema)

    def current(self) -> tuple[int, list[int]]:
        """(version, chain) of the committed state — what a round that
        writes nothing re-records in the manifest."""
        return self.store.current_version(self.name), self.chain()

    def write(self, rows: DataFrame) -> tuple[int, list[int]]:
        """Write the round's rows (keyed by ``host``-derived bucket);
        returns (version, new chain) for the manifest commit."""
        chain = self.chain()
        rows = rows.withColumn("bucket", host_partition_key(F.col("host"), self.n_buckets))
        if chain and len(chain) < self.max_chain:
            if self.delta_parts is not None:
                rows = rows.coalesce(self.delta_parts)
            v = self.store.write_version_delta(self.name, rows)
            return v, chain + [v]
        live = self.store._live(self.name, chain)
        merged = self.store._read_chain(self.name, live, tail=rows, schema=self.schema)
        v = self.store.write_version_bucketed(
            self.name, merged.repartition(self.base_parts, "bucket")
        )
        return v, [v]
