"""Near-dup connected-components clustering (operators/clusters.py):
the large-star/small-star contraction agrees exactly with a pure-Python
union-find on hand-built and random graphs, incl. long chains (O(log n)
rounds) and isolated nodes."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from artemis_spark.operators.clusters import (  # noqa: E402
    connected_components_star,
    dedup_clusters,
)


def _union_find(n_ids, edges):
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id representative per component
    comp = {}
    for i in n_ids:
        r = find(i)
        comp[i] = min(j for j in n_ids if find(j) == r)
    return comp


def _run(spark, ids, edges, stats=None):
    nodes = spark.createDataFrame([(i,) for i in ids], "id: long")
    e = spark.createDataFrame(edges or [(None, None)], "src: long, dst: long").where(
        "src IS NOT NULL"
    )
    got = {
        r["id"]: r["comp"]
        for r in connected_components_star(e, nodes, stats=stats).collect()
    }
    assert got == _union_find(ids, edges)


def test_two_components_and_singleton(spark):
    _run(spark, list(range(7)), [(1, 2), (2, 3), (5, 6)])  # {1,2,3}, {5,6}, 0/4 alone


def test_long_chain_converges(spark):
    # diameter 9: needs more than one contraction round
    _run(spark, list(range(10)), [(i, i + 1) for i in range(9)])


def test_random_graph_matches_union_find(spark):
    import random

    rng = random.Random(11)
    ids = list(range(200))
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(120)]
    _run(spark, ids, edges)


def test_star_random_graph(spark):
    import random

    rng = random.Random(7)
    ids = list(range(200))
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(120)]
    _run(spark, ids, edges)


def test_star_chain_olog_rounds(spark):
    # 1000-node chain: diameter 999 — label propagation needs O(diameter)
    # rounds; large-star/small-star must converge in O(log n) (~10 + slack)
    import math

    n = 1000
    stats = {}
    _run(spark, list(range(n)), [(i, i + 1) for i in range(n - 1)], stats)
    assert stats["rounds"] <= 2 * int(math.log2(n)) + 2, stats


def test_dedup_clusters_keep_policy(spark):
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id: long")
    pairs = spark.createDataFrame([(3, 1), (1, 4)], "doc1: long, doc2: long")
    rows = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert rows[1]["cluster_id"] == rows[3]["cluster_id"] == rows[4]["cluster_id"] == 1
    assert rows[1]["keep"] and not rows[3]["keep"] and not rows[4]["keep"]
    assert rows[0]["keep"] and rows[2]["keep"]  # singletons survive
