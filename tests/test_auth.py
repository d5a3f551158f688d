"""Auth lifecycle (reference accreditation machinery,
/root/reference/src/accreditation/AccreditationCache.py:18-30,
FormHandler.py:9-36, User.py:28-37):

  round d   — first contact with an auth-gated host: URLs deferred
              (998), a login establishes a session (credentials table)
  round d+1 — the same URLs re-emitted and fetched 200 under the live
              session, crawl_log carries the auth-nature marker
  round d+2 — session expired (lifetime_s=7200 == 2 logical rounds):
              re-defer + re-login
  no credentials row — deferred forever (the pre-session behavior)
"""

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from artemis_spark.datagen import TIERS, gen_auth_rules, gen_credentials  # noqa: E402
from artemis_spark.plans.crawl import (  # noqa: E402
    AUTH_DEFERRED_STATUS,
    CrawlConfig,
    CrawlEngine,
)


def test_auth_rules_deterministic():
    rules = gen_auth_rules(TIERS["small"])  # 64 hosts
    m = dict(zip(rules["host"], rules["auth"]))
    assert m["host0007.test"] == "form"  # 7 % 17 == 7
    assert m["host0011.test"] == "http_basic"  # 11 % 23 == 11
    assert m["host0048.test"] == "http_digest"  # 48 % 31 == 17
    assert "host0000.test" not in m  # defaultdict -> 'no'


def test_credentials_deterministic():
    creds = gen_credentials(TIERS["small"])
    hosts = set(creds["host"])
    assert "host0007.test" in hosts  # form hosts always have an account
    assert "host0034.test" in hosts  # http_basic, even k
    assert "host0048.test" in hosts  # http_digest, even k
    assert "host0011.test" not in hosts  # http_basic, odd k: credential-less
    assert "host0017.test" not in hosts  # http_digest, odd k: credential-less
    assert (creds["lifetime_s"] == 7200).all()


def test_auth_session_lifecycle(spark, tmp_path, tiny_web):
    """host0007 (auth=form, credentials present) must flip 998 -> 200
    exactly one round after discovery, fetch under a recorded session,
    and re-defer when the session expires two rounds later."""
    eng = CrawlEngine(
        spark, tiny_web, str(tmp_path / "state"),
        # revisit every round so the post-expiry re-defer is guaranteed
        # to see host0007 candidates at round d+2
        CrawlConfig(politeness_budget=25, num_partitions=4, bloom_shards=8,
                    revisit_delay_rounds=1),
    )
    eng.run(6)
    log = eng.store.read_appended("crawl_log")
    h7 = log.filter(F.col("host") == "host0007.test").collect()
    assert h7, "crawl never reached the auth-gated host"

    by_round: dict[int, list] = {}
    for row in h7:
        by_round.setdefault(row["round"], []).append(row)
    d = min(by_round)
    # first contact: everything deferred, nothing fetched
    assert all(r["status"] == AUTH_DEFERRED_STATUS for r in by_round[d])
    assert all(r["image_id"] is None for r in by_round[d])
    # one round later: every deferred URL fetched 200 under the session
    nxt = {r["url"]: r for r in by_round.get(d + 1, [])}
    for row in by_round[d]:
        got = nxt.get(row["url"])
        assert got is not None and got["status"] == 200, (
            f"{row['url']} did not flip 998->200 at round {d + 1}"
        )
        assert got["auth"] == "form"
    # session recorded with a deterministic id
    sess = (
        eng.store.read("auth_sessions")
        .filter(F.col("host") == "host0007.test")
        .collect()
    )
    assert sess and all(s["session_id"] and s["auth"] == "form" for s in sess)
    # expiry: lifetime 7200s == 2 rounds, so round d+2 defers again
    assert any(
        r["status"] == AUTH_DEFERRED_STATUS for r in by_round.get(d + 2, [])
    ), f"no re-deferral after session expiry (rounds seen: {sorted(by_round)})"
    # ... and round d+3 fetches again under the re-login
    assert any(r["status"] == 200 for r in by_round.get(d + 3, []))

    # each round's lineage tallies exactly its deferred (998) rows: the
    # tally that decides whether auth_sessions is rewritten
    lineage = eng.store.read_appended("lineage_metrics")
    tallied = {
        r["round"]: r["n"]
        for r in lineage.groupBy("round")
        .agg(F.sum("urls_auth_deferred").alias("n"))
        .collect()
    }
    logged = {
        r["round"]: r["count"]
        for r in log.filter(F.col("status") == AUTH_DEFERRED_STATUS)
        .groupBy("round")
        .count()
        .collect()
    }
    assert tallied == {r: logged.get(r, 0) for r in range(6)}

    # plain hosts still carry auth='no' on fetched rows
    normal = (
        log.filter((F.col("status") == 200) & (F.col("host") == "host0000.test"))
        .limit(5)
        .collect()
    )
    assert normal and all(r["auth"] == "no" for r in normal)


def test_session_established_via_parsed_form(spark, tmp_path, tiny_web):
    """The login consumes the PARSED login form (FormHandler.extractOne
    -> pick_fields -> fill_form): the recorded session id commits to the
    form's action and elected field names, recomputable from the
    datagen-rendered page (action=/sessions/s7, fields user_f7/pass_f7
    for host0007)."""
    import hashlib

    eng = CrawlEngine(
        spark, tiny_web, str(tmp_path / "state"),
        CrawlConfig(politeness_budget=25, num_partitions=4, bloom_shards=8,
                    revisit_delay_rounds=1),
    )
    eng.run(3)
    sess = (
        eng.store.read("auth_sessions")
        .filter(F.col("host") == "host0007.test")
        .collect()
    )
    assert sess, "no session established"
    log = eng.store.read_appended("crawl_log")
    d = min(
        r["round"]
        for r in log.filter(
            (F.col("host") == "host0007.test")
            & (F.col("status") == AUTH_DEFERRED_STATUS)
        ).collect()
    )
    expected = hashlib.sha224(
        f"host0007.test|user0007|/sessions/s7|user_f7|pass_f7|{d}".encode()
    ).hexdigest()
    assert sess[0]["session_id"] == expected, (
        "session id does not commit to the parsed form evidence"
    )


def test_broken_login_form_defers_forever(spark, tmp_path, tiny_web):
    """A 'form' host whose login page has no password input (NoPassField,
    Form.py:70-73) can never log in even WITH credentials: deferred on
    every contact, refresh_rate backed off to MAX, no session row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from artemis_spark.functions.markup import render_login_page

    web = str(tmp_path / "web_brokenform")
    shutil.copytree(tiny_web, web)
    pq.write_table(
        pa.table(
            {
                "host": ["host0007.test"],
                "url": ["http://host0007.test/login"],
                "body": [
                    render_login_page("host0007.test", "/sessions/s7",
                                      "user_f7", None)
                ],
            }
        ),
        os.path.join(web, "login_pages.parquet"),
    )
    eng = CrawlEngine(
        spark, web, str(tmp_path / "state"),
        CrawlConfig(politeness_budget=25, num_partitions=4, bloom_shards=8),
    )
    eng.run(4)
    log = eng.store.read_appended("crawl_log")
    h7 = log.filter(F.col("host") == "host0007.test").collect()
    assert h7, "crawl never reached the auth-gated host"
    assert all(r["status"] == AUTH_DEFERRED_STATUS for r in h7)
    seen = eng.store.read("url_seen")
    h7_seen = seen.filter(seen["host"] == "host0007.test").collect()
    assert h7_seen and all(r["refresh_rate"] == 20 for r in h7_seen)
    assert (
        eng.store.read("auth_sessions")
        .filter(F.col("host") == "host0007.test")
        .count()
        == 0
    )


def test_auth_without_credentials_defers_forever(spark, tmp_path, tiny_web):
    """No credentials row == the pre-session behavior: deferred every
    contact, never fetched, url_seen backed off to MAX."""
    web = str(tmp_path / "web_nocreds")
    shutil.copytree(tiny_web, web)
    os.remove(os.path.join(web, "credentials.parquet"))
    eng = CrawlEngine(
        spark, web, str(tmp_path / "state"),
        CrawlConfig(politeness_budget=25, num_partitions=4, bloom_shards=8),
    )
    eng.run(4)
    log = eng.store.read_appended("crawl_log")
    h7 = log.filter(F.col("host") == "host0007.test").collect()
    assert h7, "crawl never reached the auth-gated host"
    assert all(r["status"] == AUTH_DEFERRED_STATUS for r in h7)
    assert all(r["auth"] == "form" for r in h7)
    seen = eng.store.read("url_seen")
    h7_seen = seen.filter(seen["host"] == "host0007.test").collect()
    assert h7_seen and all(r["refresh_rate"] == 20 for r in h7_seen)
    assert all(r["last_visited"] is None for r in h7_seen)
    # and no session was ever established
    assert (
        eng.store.read("auth_sessions")
        .filter(F.col("host") == "host0007.test")
        .count()
        == 0
    )


def test_login_page_change_rotates_session(spark, tmp_path, tiny_web):
    """When the login PAGE itself changes between logins (new action +
    field names), the re-login after session expiry must commit to the
    NEWLY-parsed form — a different session id recomputable from the v2
    evidence — and fetching must continue under it.  The reference
    re-fetches and re-parses the form on every login
    (/root/reference/src/accreditation/FormHandler.py:26-39); here the
    page swap lands between two engine incarnations over the same state
    dir, which also exercises resume-from-checkpoint."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from artemis_spark.functions.markup import render_login_page
    from artemis_spark.rounds import ts_round

    web = str(tmp_path / "web_v2form")
    shutil.copytree(tiny_web, web)
    state = str(tmp_path / "state")
    cfg = CrawlConfig(politeness_budget=25, num_partitions=4, bloom_shards=8,
                      revisit_delay_rounds=1)
    eng = CrawlEngine(spark, web, state, cfg)
    eng.run(3)  # first contact + v1-form login happen in rounds 0-2
    sess1 = (
        eng.store.read("auth_sessions")
        .filter(F.col("host") == "host0007.test")
        .collect()
    )
    assert sess1, "no v1 session established"

    # the login page changes: new action and new field names
    pq.write_table(
        pa.table(
            {
                "host": ["host0007.test"],
                "url": ["http://host0007.test/login"],
                "body": [
                    render_login_page(
                        "host0007.test", "/sessions/v2", "login_v2", "secret_v2"
                    )
                ],
            }
        ),
        os.path.join(web, "login_pages.parquet"),
    )

    # resume from the committed state; lifetime_s=7200 == 2 rounds, so
    # whatever session was live at round 2 expires within rounds 3-5 and
    # the re-login parses the v2 page
    eng2 = CrawlEngine(spark, web, state, cfg)
    eng2.run(3)
    sess2 = (
        eng2.store.read("auth_sessions")
        .filter(F.col("host") == "host0007.test")
        .collect()
    )
    assert len(sess2) == 1
    r2 = ts_round(sess2[0]["established_at"])
    assert r2 >= 3, "no re-login happened after the page swap"
    expected = hashlib.sha224(
        f"host0007.test|user0007|/sessions/v2|login_v2|secret_v2|{r2}".encode()
    ).hexdigest()
    assert sess2[0]["session_id"] == expected, (
        "re-login did not commit to the v2 parsed form"
    )
    assert sess2[0]["session_id"] != sess1[0]["session_id"]
    # and the crawl kept fetching under the rotated session
    log = eng2.store.read_appended("crawl_log")
    assert (
        log.filter(
            (F.col("host") == "host0007.test")
            & (F.col("round") > r2)
            & (F.col("status") == 200)
        ).count()
        > 0
        or log.filter(
            (F.col("host") == "host0007.test")
            & (F.col("round") == r2 + 1)
        ).count()
        == 0  # the run may end right after the re-login round
    )
