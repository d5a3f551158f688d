"""Near-duplicate clustering: connected components over dedup pair
edges + canonical-document selection.

The dedup family (exact / n-gram Jaccard / MinHash-LSH / SimHash /
embedding near-dup) emits PAIRS; a training-data pipeline needs the
transitive closure — if A~B and B~C, {A,B,C} is one duplicate cluster
and exactly one canonical document survives.  No reference analogue
(the reference crawls, it does not dedup corpora); this is part of the
brief's training-data operator family.

Algorithm: alternating large-star/small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond") expressed purely
as DataFrame joins/aggregations.  It converges in O(log n) rounds even
on long chains (e.g. sliding-window shingle overlaps), where min-label
propagation would need O(diameter) rounds.  Each round's edge list is
localCheckpointed, so lineage stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Undirected edge list as (u, v) with v < u, self-loops dropped."""
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    return (
        e.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """(id, comp) with comp = min node id in the component, via
    alternating large-star/small-star contraction.

    ``edges`` may list each undirected edge in either (or both)
    directions; ``nodes`` supplies the full vertex set so isolated
    nodes come back as their own singleton component.  Each round is
    two groupBy+join passes over the shrinking edge list.

      large-star(u): m = min(N(u) + {u}); emit (v, m) for v in N(u), v > u
      small-star(u): over edges (u, v<u): m = min(N(u));
                     emit (u, m) and (v, m) for v in N(u), v != m

    ``stats`` (optional) gets ``{"rounds": r}`` for convergence tests.
    """
    e = _canonical_edges(edges, src_col, dst_col).localCheckpoint()
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star over the symmetric view
        sym = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star over canonical (v < u) edges
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(smins, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .unionByName(smins.select(F.col("u").alias("n"), F.col("m")))
            .where(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint()  # truncate per-round lineage growth
        )
        # converged when the edge set is unchanged.  Exact check (no
        # hash-collision false positive): counts first (one scan each),
        # then a one-sided set diff only when counts match — both sides
        # are distinct, so equal counts + empty ss∖e implies e∖ss is
        # empty too.  Both frames are already localCheckpointed, so the
        # extra pass scans materialized partitions, not recomputed plans.
        if ss.count() == e.count() and ss.exceptAll(e).isEmpty():
            e = ss
            converged = True
            break
        e = ss
    else:
        converged = False
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — labels would be wrong; raise max_iter (O(log n) "
            "rounds suffice for n up to 2**max_iter nodes)"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # final edges are stars (u -> component min); nodes not in any edge
    # are their own component
    comp = e.groupBy("u").agg(F.min("v").alias("comp")).select(
        F.col("u").alias("id"), "comp"
    )
    all_nodes = nodes.select(F.col(id_col).alias("id"))
    return (
        all_nodes.join(comp, "id", "left")
        .select("id", F.coalesce(F.col("comp"), F.col("id")).alias("comp"))
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc1",
    dst_col: str = "doc2",
) -> DataFrame:
    """(doc_id, cluster_id, keep): transitive near-dup clusters over the
    pair edges, with the min-id document of each cluster kept as the
    canonical survivor (keep=true) — the standard corpus-dedup policy.
    Documents in no pair are singleton clusters and always kept."""
    cc = connected_components_star(
        pairs, docs, src_col=src_col, dst_col=dst_col, id_col=id_col
    )
    return cc.select(
        F.col("id").alias(id_col),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("keep"),
    )
