"""Seeded, benchmark-owned inputs and their cached reference answers.

Every input set is a pure function of (spec, seed).  It is written once
into ``<work>/inputs/<kind>-<key>/`` outside all timings, next to a
marker that records the sha256 of each file.  A later run re-hashes the
files and refuses to time inputs whose hashes do not match the marker.
Reference answers (the pure-Python crawl model's rounds, the DuckDB
oracle's query results) are cached in the same directory.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import pickle
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

MARKER = "_inputs.json"


class InputMismatch(RuntimeError):
    """Cached inputs whose content no longer matches their marker."""


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _file_hashes(d: str) -> dict[str, str]:
    return {
        name: _sha256(os.path.join(d, name))
        for name in sorted(os.listdir(d))
        if name.endswith(".parquet")
    }


def cached_inputs(work: str, kind: str, spec: dict, build) -> str:
    """Directory holding the inputs for ``spec``, built by
    ``build(out_dir)`` on first use and verified by hash on every use."""
    key = hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:16]
    out = os.path.join(work, "inputs", f"{kind}-{key}")
    marker = os.path.join(out, MARKER)
    if not os.path.exists(marker):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        with open(os.path.join(tmp, MARKER), "w") as f:
            json.dump({"spec": spec, "files": _file_hashes(tmp)}, f, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(marker) as f:
        recorded = json.load(f)
    if recorded["spec"] != spec or recorded["files"] != _file_hashes(out):
        raise InputMismatch(f"inputs in {out} do not match their marker")
    return out


def cached_answer(inputs_dir: str, name: str, compute):
    """A reference answer pickled next to the inputs it was derived
    from (only this program writes these files)."""
    path = os.path.join(inputs_dir, f"answer-{name}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    value = compute()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(value, f)
    os.replace(tmp, path)
    return value


# --------------------------------------------------------------------------
# crawl webs
# --------------------------------------------------------------------------


def crawl_web(work: str, tier: str, seed: int) -> str:
    """The synthetic web of ``tier`` re-drawn from ``seed``, with every
    page of every host added to the tier's own seeds, so the very first
    wave is already politeness-bound instead of ramping up from a
    handful of seeds."""
    from artemis_spark import datagen as D

    spec = dataclasses.replace(D.TIERS[tier], seed=seed)

    def build(out: str) -> None:
        dense = pd.DataFrame(
            {"url": D.page_url(k, j), "depth": 0, "nature": "web_static"}
            for k in range(spec.n_hosts)
            for j in range(spec.pages_per_host)
        )
        seeds = pd.concat([dense, D.gen_seeds(spec)]).drop_duplicates("url", ignore_index=True)
        tables = {
            "payloads": D.gen_payloads(spec),
            "link_graph": D.gen_link_graph(spec),
            "robots_rules": D.gen_robots(spec),
            "domain_rules": D.gen_domain_rules(spec),
            "auth_rules": D.gen_auth_rules(spec),
            "credentials": D.gen_credentials(spec),
            "login_pages": D.gen_login_pages(spec),
            "seeds": seeds,
        }
        for name, df in tables.items():
            pq.write_table(
                pa.Table.from_pandas(df, preserve_index=False),
                os.path.join(out, f"{name}.parquet"),
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
                row_group_size=2000 if name == "payloads" else 20000,
            )

    desc = {"tier": tier, **dataclasses.asdict(spec), "seeds": "every page"}
    return cached_inputs(work, "web", desc, build)


# --------------------------------------------------------------------------
# query tables
# --------------------------------------------------------------------------

# Row counts of the 0.01 scale of the TPC-H-ish test tables: large
# enough that every headline query runs real stages, small enough
# that a cold pass and the warm passes fit one run.
QUERY_SCALE = {"orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}

_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]


def _ts(days_from: str, days: np.ndarray) -> pd.Series:
    return pd.Timestamp(days_from) + pd.to_timedelta(days, unit="D")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near duplicate of an earlier document: a few words edited
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, size=int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, size=n)
    x = centers[label] + rng.normal(scale=0.8, size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(x),
            "label": label.astype(np.int32),
        }
    )


def query_tables(work: str, seed: int) -> str:
    """The five tables the headline queries read, drawn from ``seed``
    with the shapes and value domains of the repository's test data."""

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        n_o, n_l = QUERY_SCALE["orders"], QUERY_SCALE["lineitem"]
        n_e = QUERY_SCALE["events"]
        orders = pd.DataFrame(
            {
                "o_orderkey": np.arange(n_o, dtype=np.int64),
                "o_custkey": rng.integers(0, n_o // 10, n_o),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
                "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, n_o)),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
                ),
            }
        )
        lineitem = pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_o, n_l),
                "l_partkey": rng.integers(0, 2000, n_l),
                "l_suppkey": rng.integers(0, 100, n_l),
                "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_l), 2),
                "l_discount": rng.integers(0, 11, n_l) / 100.0,
                "l_tax": rng.integers(0, 9, n_l) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_l),
                "l_linestatus": rng.choice(["F", "O"], n_l),
                "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_l)),
            }
        )
        events = pd.DataFrame(
            {
                "event_id": np.arange(n_e, dtype=np.int64),
                "ts": pd.Timestamp("2024-01-01")
                + pd.to_timedelta(np.sort(rng.uniform(0, 30 * 86400, n_e)), unit="s").round("us"),
                "user_id": rng.integers(0, 150, n_e),
                "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_e),
                "value": np.round(rng.uniform(0.01, 500, n_e), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
            }
        )
        tables = {
            "orders": orders,
            "lineitem": lineitem,
            "events": events,
            "documents": _documents(rng, QUERY_SCALE["documents"]),
            "embeddings": _embeddings(rng, QUERY_SCALE["embeddings"]),
        }
        for name, df in tables.items():
            pq.write_table(
                pa.Table.from_pandas(df, preserve_index=False),
                os.path.join(out, f"{name}.parquet"),
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )

    return cached_inputs(work, "tables", {"seed": seed, "rows": QUERY_SCALE, "v": 1}, build)
