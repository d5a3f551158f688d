"""The fetch wave — synthetic in-sandbox, pluggable for real HTTP.

Reference: each Crawler thread pops a task and runs the scheme handler's
conditional GET (/root/reference/src/handlers/HTTPDefaultHandler.py:104-126),
checking headers for redirect/304/4xx backoff (:34-49).

In-sandbox there is no network, so "fetching" the scheduled wave is a
deterministic join against the synthetic web:

  wave JOIN link_graph  ON url       -> status, location, sha, body
       JOIN payloads    ON image_id  -> bytes, caption, fmt   (200s only)

The wave is salted-repartitioned by host first (north_rule skew
handling): each Spark task processes a bounded slice of one host — the
explicit analogue of one netarea's bounded deque + bundles of 20
(/root/reference/src/Slave.py:40,145-172).

A real-HTTP fetcher would replace the link_graph join with a
``mapInPandas`` batch fetch; the stub below pins the exact UDF
signature and batch shape so the swap is drop-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FETCH_RESULT_COLS = [
    "status",
    "location",
    "content_sha224",
    "image_id",
]


def build_web(link_graph: DataFrame, num_partitions: int) -> DataFrame:
    """The page side of the synthetic web: link_graph (HTTP metadata +
    page body markup), hash-partitioned by host and pre-sorted on the
    round-join keys.

    The page ``body`` is the only link source the round reads (T2/T3
    markup extraction, and the .torrent metainfo the magnet queue
    parses); the pre-parsed ``outlinks`` array is left out of the
    cache — it duplicates the links in the body.

    Payload bytes deliberately stay in a SEPARATE image_id-keyed cache
    (:func:`build_payload_cache`): pages share images ~10:1, so joining
    bytes into the page table up front replicates every image ~10x —
    a multi-GB cache whose build dominates round 0 and whose full width
    then streams through the fetch join every round.  Joining bytes per
    round on image_id instead touches each image once and only for rows
    actually fetched.  The cached ordering here satisfies every round's
    sort-merge join, so the page side is never sorted again (the Phi
    host-major colocation invariant, /root/reference/src/Netarea.py:7-11,
    as a Spark co-partitioned join).
    """
    from ..functions.urls import host_of

    lg = link_graph.select(
        host_of(F.col("url")).alias("g_host"),
        F.col("url").alias("g_url"),
        *FETCH_RESULT_COLS,
        "body",
    )
    return lg.repartition(num_partitions, "g_host").sortWithinPartitions(
        "g_host", "g_url"
    )


def build_payload_cache(payloads: DataFrame, num_partitions: int) -> DataFrame:
    """Image payloads hash-partitioned + pre-sorted on image_id: the
    cached ordering makes every round's bytes join a sort-merge join
    whose heavy side needs neither exchange nor sort — only the skinny
    fetched-page side shuffles (~wave-size rows of metadata)."""
    p = payloads.select(
        F.col("image_id").alias("p_image_id"),
        F.col("bytes"),
        F.col("fmt"),
        F.col("caption"),
        F.col("phash").alias("expected_phash"),
        F.col("w").alias("expected_w"),
        F.col("h").alias("expected_h"),
    )
    return p.repartition(num_partitions, "p_image_id").sortWithinPartitions(
        "p_image_id"
    )


def synthetic_fetch(
    wave: DataFrame, web: DataFrame, payloads: DataFrame | None = None
) -> DataFrame:
    """Join the scheduled wave against the synthetic web, then attach
    payload bytes for 200-status rows from the image_id-keyed cache.

    URLs absent from the web come back status=404 (dead link), the same
    observable as a live 404 (/root/reference/src/handlers/HTTPDefaultHandler.py:46-49).

    The page-join keys are (host, url) — host is derivable from url, so
    the extra key changes nothing semantically, but it lets Catalyst
    prove the wave's hash(host) partitioning co-locates with the cached
    web's and plan the join with ZERO exchange on either side.  The
    payload join exchanges only the fetched metadata rows (bytes never
    shuffle; they flow from the cache straight into the decode
    projection downstream).
    """
    j = wave.join(
        web,
        (wave["host"] == web["g_host"]) & (wave["url"] == web["g_url"]),
        "left",
    ).drop("g_host", "g_url")
    j = j.withColumn("status", F.coalesce(F.col("status"), F.lit(404)))
    if payloads is not None:
        j = j.join(
            payloads,
            (j["status"] == 200) & (j["image_id"] == payloads["p_image_id"]),
            "left",
        ).drop("p_image_id")
    return j


def http_fetch_stub(wave: DataFrame) -> DataFrame:
    """Signature-pinning stub for a real HTTP fetcher.

    On a cluster with egress this becomes::

        def fetch_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:           # one Arrow batch of one host-salt slice
                # issue conditional GETs (If-Modified-Since from last_visited,
                # HTTPDefaultHandler.py:24-32), 4KB streamed reads, 1MB spool
                yield pdf.assign(status=..., location=..., content_sha224=...,
                                 image_id=..., body=...)

        wave.mapInPandas(fetch_batch, schema=WAVE_SCHEMA + FETCH_RESULT_COLS)

    Deliberately unimplemented in-sandbox (no network).
    """
    raise NotImplementedError("no network egress in this environment; use synthetic_fetch")
