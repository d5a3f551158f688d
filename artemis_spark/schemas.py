"""Fixed schemas for every engine table (FIXTURES.md).

The reference has no schemas at all — Tasks are mutable Python objects
(/root/reference/src/Task.py:61-101) pickled between processes.  Here
every table is a typed StructType; only primitive column types are
needed (str/int/float/bool/bytes/timestamp), matching the reference's
value universe plus ``array<string>`` for outlinks before ``explode``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# frontier / url_seen — the Task record (/root/reference/src/Task.py:62-84)
# as columns: urlparse components become derived columns, not object attrs.
# ---------------------------------------------------------------------------

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),  # canonical form
        T.StructField("host", T.StringType(), True),
        T.StructField("scheme", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("score", T.DoubleType(), True),
        # -1-as-never sentinels in the reference (src/Task.py:77-78) become
        # NULL timestamps here.
        T.StructField("last_visited", T.TimestampType(), True),
        T.StructField("last_controlled", T.TimestampType(), True),
        T.StructField("last_hash", T.StringType(), True),  # sha224 hex, "" = none
        T.StructField("refresh_rate", T.IntegerType(), True),  # 1..20
        T.StructField("nature", T.StringType(), True),  # TaskNature names
        T.StructField("round_added", T.IntegerType(), True),
    ]
)

URL_SEEN_SCHEMA = FRONTIER_SCHEMA  # same shape; url_seen is the state table

# TaskNature (/root/reference/src/Task.py:16-20); tor/torrent are
# classified but not fetched in-sandbox (SURVEY.md S4/S6 out of scope).
NATURES = ("web_static", "web_static_torrent", "web_static_tor", "web_static_sitemap")

# AuthNature (/root/reference/src/Task.py:22-27); assigned per host from
# accreditationRules (/root/reference/src/Task.py:12,41).  auth != 'no'
# URLs are routed to a deferred/flagged stream, not silently fetched —
# in-sandbox there is no accreditation store (SURVEY.md §1.1(9)).
AUTH_NATURES = ("no", "form", "http_basic", "http_digest", "ftp")

AUTH_RULES_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("auth", T.StringType(), True),
    ]
)

MAX_REFRESH_RATE = 20  # /root/reference/src/Task.py:9

# per-host login credentials (reference users table,
# /root/reference/src/accreditation/User.py:28-37): hosts with a row can
# be logged into; auth-gated hosts without one stay deferred forever.
CREDENTIALS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("auth", T.StringType(), True),
        T.StructField("login", T.StringType(), True),
        T.StructField("password", T.StringType(), True),
        T.StructField("lifetime_s", T.IntegerType(), True),
    ]
)

# established auth sessions (reference User.deathtime semantics,
# /root/reference/src/accreditation/User.py:20-24): a session made in
# round r serves waves while now < established_at + lifetime_s.
AUTH_SESSIONS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("auth", T.StringType(), True),
        T.StructField("session_id", T.StringType(), True),
        T.StructField("established_at", T.TimestampType(), True),
        T.StructField("lifetime_s", T.IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# payloads — input_hint shape, exact (BASELINE.json)
# ---------------------------------------------------------------------------

PAYLOADS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# ---------------------------------------------------------------------------
# link_graph — the deterministic synthetic web (replaces live fetch +
# lxml extraction, /root/reference/src/extractors/ExtractorFactory.py:77-91)
# ---------------------------------------------------------------------------

LINK_GRAPH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("image_id", T.StringType(), True),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("location", T.StringType(), True),  # redirect target
        T.StructField("outlinks", T.ArrayType(T.StringType()), True),
        T.StructField("content_sha224", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# robots_rules (/root/reference/src/Robot.py:27-81,117-138)
# ---------------------------------------------------------------------------

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("pattern", T.StringType(), True),  # path prefix
        T.StructField("allow", T.BooleanType(), True),
        T.StructField("sitemap_url", T.StringType(), True),
        T.StructField("fetched_at", T.TimestampType(), True),
        T.StructField("ttl_s", T.IntegerType(), True),  # 3600 (src/Robot.py:107)
    ]
)
