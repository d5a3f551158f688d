"""Document deduplication family — exact, n-gram Jaccard, MinHash+LSH,
SimHash — all pure DataFrame ops (no Python per row anywhere).

These are the training-data-pipeline operators a 100 TB corpus needs on
top of the crawl loop.  Design notes for scale:

  * shingle posting-list self-join (not all-pairs): pairwise work is
    bounded by shared shingles, the standard distributed formulation;
  * every similarity condition is kept in *integer* arithmetic
    (3*inter >= size1+size2 <=> jaccard >= 0.5) so results are
    bit-reproducible across engines (and against the DuckDB oracle);
  * the cross-engine 64-bit hash is derived from md5 hex (identical in
    Spark and DuckDB), not xxhash64 (Spark-only);
  * MinHash uses (a*h + b) mod p with p = 2^31-1 and h pre-reduced mod
    p so products stay < 2^63 (no overflow divergence between engines).

Reference parity: the reference dedups URLs, not documents
(/root/reference/src/Master.py:284-314) — content-level dedup is new
capability mandated by the task brief, built in the same two-tier
cheap-filter -> exact-verify shape as F1 -> F4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1


def md5_hash64(col) -> F.Column:
    """Deterministic 63-bit hash from the md5 hex prefix — identical to
    DuckDB's ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the min-id row per key group (hash groupBy)."""
    return df.groupBy(*keys).agg(F.min(id_col).alias(id_col))


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a small-scan input to full parallelism before a
    fan-out (explode) stage.  A documents file is a handful of splits,
    but shingling expands it 30-100x — without this the explode and the
    first aggregation run on 1-4 tasks regardless of cluster size."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Tokenization is a plain single-space split so the oracle matches.
    """
    grams = F.expr(
        f"transform(sequence(0, size(split({text_col}, ' ')) - {n}), "
        f"i -> concat_ws(' ', slice(split({text_col}, ' '), i + 1, {n})))"
    )
    return (
        # guard: sequence(0, negative) would generate a *descending* range
        _spread(df.where(F.size(F.split(F.col(text_col), " ")) >= n))
        .select(F.col(id_col), F.explode(grams).alias("shingle"))
        .where(F.length("shingle") > 0)
        .distinct()
    )


def shingle_sizes(sh: DataFrame, id_col: str) -> DataFrame:
    return sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))


def jaccard_pairs(
    sh: DataFrame, id_col: str, num: int = 1, den: int = 2, max_df: int | None = None
) -> DataFrame:
    """All document pairs with jaccard >= num/den, via posting-list join.

    Output: (doc1, doc2, inter, size1, size2) — integers only.
    jaccard >= num/den  <=>  den*inter >= num*(size1+size2-inter).

    ``max_df`` is the scale guard: a shingle present in k documents
    contributes k^2 rows to the self-join, so one stop-shingle shared by
    10^6 docs degenerates the exact path quadratically.  With a cap, any
    shingle whose document frequency exceeds ``max_df`` is dropped from
    the universe BEFORE the join (both intersections and sizes), bounding
    per-shingle join work at max_df^2.  Ubiquitous shingles carry no
    similarity signal (they raise every pair's score equally), so
    near-dup pairs driven by rare shingles are preserved; default None
    keeps exact semantics for oracle parity.
    """
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_df)
            .select("shingle")
        )
        # the hot set is the extreme top of the df distribution — tiny —
        # so the anti-join broadcasts instead of shuffling the postings
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh.select(F.col(id_col).alias("doc1"), "shingle")
    b = sh.select(F.col(id_col).alias("doc2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("inter"))
    )
    sizes = shingle_sizes(sh, id_col)
    s1 = sizes.select(F.col(id_col).alias("doc1"), F.col("n_shingles").alias("size1"))
    s2 = sizes.select(F.col(id_col).alias("doc2"), F.col("n_shingles").alias("size2"))
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .where(
            F.lit(den) * F.col("inter")
            >= F.lit(num) * (F.col("size1") + F.col("size2") - F.col("inter"))
        )
        .select("doc1", "doc2", "inter", "size1", "size2")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per hash function, a odd, < 2^31."""
    params = []
    for i in range(k):
        a = (2 * i + 1) * 40_503_551 % MERSENNE_P
        b = (i + 1) * 76_543_217 % MERSENNE_P
        params.append((a or 1, b))
    return params


def minhash_signatures(sh: DataFrame, id_col: str, k: int = 8) -> DataFrame:
    """k-wide MinHash signature per doc from md5-derived shingle hashes.

    minhash_i = min over shingles of (a_i * (h mod p) + b_i) mod p.
    Output: (id, mh0..mh{k-1}).
    """
    h = (md5_hash64(F.col("shingle")) % MERSENNE_P).alias("h")
    base = sh.select(F.col(id_col), h)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_minhash_params(k))
    ]
    return base.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, k: int = 8, bands: int = 4
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    Output: (doc1, doc2) distinct, doc1 < doc2.  Each signature row
    explodes into one bucket per band, tagged with the band index so
    equal minhashes of different bands never collide; ONE self-join on
    that bucket (one shuffle) yields every band's pairs.  The explode
    reads all k minhashes, so the signature aggregate runs once (per-band
    joins let column pruning split it into one shingle re-aggregation
    per band).  Hot buckets stay bounded: a bucket holds k/bands hashes.
    """
    if k % bands:
        raise ValueError(f"k={k} minhashes do not split into {bands} equal bands")
    r = k // bands
    buckets = F.array(*[
        F.concat_ws("_", F.lit(str(b)), *[F.col(f"mh{b * r + j}").cast("string") for j in range(r)])
        for b in range(bands)
    ])
    banded = sig.select(F.col(id_col), F.explode(buckets).alias("bucket"))
    a = banded.select(F.col(id_col).alias("doc1"), "bucket")
    b = banded.select(F.col(id_col).alias("doc2"), "bucket")
    return a.join(b, "bucket").where(F.col("doc1") < F.col("doc2")).select("doc1", "doc2").distinct()


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    num: int = 3,
    den: int = 10,
) -> DataFrame:
    """Candidate generation by LSH, then *exact* jaccard verification —
    the two-tier shape again.  Output matches jaccard_pairs on the
    candidate subset: (doc1, doc2, inter, size1, size2)."""
    sh = word_shingles(df, id_col, text_col, n)
    cands = lsh_candidate_pairs(minhash_signatures(sh, id_col, k), id_col, k, bands)
    a = sh.select(F.col(id_col).alias("doc1"), F.col("shingle").alias("sh1"))
    b = sh.select(F.col(id_col).alias("doc2b"), F.col("shingle").alias("sh2"))
    inter = (
        cands.join(a, "doc1")
        .join(b, (F.col("doc2") == F.col("doc2b")) & (F.col("sh1") == F.col("sh2")))
        .groupBy("doc1", "doc2")
        .agg(F.count("*").alias("inter"))
    )
    sizes = shingle_sizes(sh, id_col)
    s1 = sizes.select(F.col(id_col).alias("doc1"), F.col("n_shingles").alias("size1"))
    s2 = sizes.select(F.col(id_col).alias("doc2"), F.col("n_shingles").alias("size2"))
    return (
        inter.join(s1, "doc1")
        .join(s2, "doc2")
        .where(
            F.lit(den) * F.col("inter")
            >= F.lit(num) * (F.col("size1") + F.col("size2") - F.col("inter"))
        )
        .select("doc1", "doc2", "inter", "size1", "size2")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """63-bit (non-negative in both engines) SimHash over word hashes: bit
    j is 1 iff the sum over distinct words of (2*bit_j(hash(w)) - 1) > 0.

    Fully JVM-side: one explode + one hash aggregate (one shuffle).  The
    63 conditional sums and their recomposition are one SQL expression,
    the statement the DuckDB oracle runs, parsed in one call instead of
    built as ~900 Column nodes.  Output: (id, simhash:long).
    """
    words = (
        _spread(df)
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .distinct()
        .withColumn("h", md5_hash64(F.col("w")))
    )
    fold = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {2 ** j}L ELSE 0L END)"
        for j in range(63)
    )
    return words.groupBy(id_col).agg(F.expr(fold).alias("simhash"))
