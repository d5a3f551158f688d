"""MinHash-LSH candidate generation and SimHash against plain-Python
references: band isolation of the one band-tagged self-join, the 63-bit
SimHash fold, and the k % bands guard."""

import hashlib
import random

import pytest

from artemis_spark.operators.dedup_text import (
    lsh_candidate_pairs,
    minhash_lsh_dedup_pairs,
    simhash64,
)


def _sig_df(spark, sigs: dict[int, tuple[int, ...]]):
    k = len(next(iter(sigs.values())))
    cols = ", ".join(f"mh{i} long" for i in range(k))
    return spark.createDataFrame(
        [(d, *mh) for d, mh in sigs.items()], f"id long, {cols}"
    )


def _pairs(df) -> set[tuple[int, int]]:
    return {(r["doc1"], r["doc2"]) for r in df.collect()}


def _per_band_reference(sigs: dict[int, tuple[int, ...]], bands: int) -> set:
    """Docs become a pair iff some band b holds equal minhash runs in
    both — a collision between different bands does not count."""
    r = len(next(iter(sigs.values()))) // bands
    out = set()
    for b in range(bands):
        buckets: dict[tuple, list[int]] = {}
        for d, mh in sigs.items():
            buckets.setdefault(mh[b * r:(b + 1) * r], []).append(d)
        for docs in buckets.values():
            out |= {(x, y) for x in docs for y in docs if x < y}
    return out


def test_lsh_cross_band_collision_is_not_a_candidate(spark):
    sigs = {
        1: (1, 2, 3, 4),
        2: (3, 4, 9, 9),  # its band 0 equals doc 1's band 1
        3: (1, 2, 7, 7),  # same band 0 as doc 1
    }
    got = _pairs(lsh_candidate_pairs(_sig_df(spark, sigs), "id", k=4, bands=2))
    assert got == {(1, 3)}


def test_lsh_matches_per_band_reference_on_random_signatures(spark):
    rng = random.Random(7)
    # a 3-value alphabet makes same-band AND cross-band collisions common
    sigs = {d: tuple(rng.randrange(3) for _ in range(6)) for d in range(200)}
    want = _per_band_reference(sigs, bands=3)
    got = _pairs(lsh_candidate_pairs(_sig_df(spark, sigs), "id", k=6, bands=3))
    assert want and got == want


def _simhash_reference(text: str) -> int:
    """md5 -> first 15 hex digits -> 63-bit majority over distinct words."""
    words = {w for w in text.split(" ") if w}
    hashes = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in words]
    out = 0
    for j in range(63):
        if sum(1 if (h >> j) & 1 else -1 for h in hashes) > 0:
            out |= 1 << j
    return out


def test_simhash64_matches_python_fold(spark):
    docs = [
        (1, "the cat sat on the mat the end"),  # repeated words
        (2, "double  spaced  words here"),  # empty tokens
        (3, "solo"),  # one word
        (4, "near duplicate captions share most of their words"),
        (5, "near duplicate captions share most of the words"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    assert got == {d: _simhash_reference(t) for d, t in docs}


def test_lsh_rejects_k_not_divisible_by_bands(spark):
    sig = _sig_df(spark, {1: tuple(range(8))})
    with pytest.raises(ValueError, match="bands"):
        lsh_candidate_pairs(sig, "id", k=8, bands=3)
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_dedup_pairs(docs, "doc_id", "text", k=8, bands=3)
