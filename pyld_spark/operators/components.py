"""Connected components over an edge DataFrame — dedup-cluster resolution.

Near-dup detection (MinHash/SimHash/Jaccard, :mod:`.dedup`) emits *pairs*;
a training-data pipeline needs *clusters* (one canonical survivor per group
of mutually-similar documents, including transitive links A~B~C where A and
C never collided directly). This module closes that gap with the
alternating large-star / small-star algorithm of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SoCC 2014): each round is
two grouped aggregations + joins, and the edge set converges to per-
component stars in O(log n) rounds — no O(diameter) label-propagation
chains, no driver-side union-find.

Scale design (the reason this shape and not GraphFrames/Pregel):

- Every round is plain DataFrame groupBy/join on the node id — AQE handles
  the hot-key skew of a giant component's root the same way it handles any
  hot aggregation key.
- Lineage is truncated every round (``session.cut_lineage``): local
  checkpoints, or reliable ones once a checkpoint directory is set
  (``SparkContext.setCheckpointDir``) so a 40-round job survives executor
  loss.
- Convergence is detected from a constant-size signature
  ``(count, bit_xor(xxhash64(u, v)))`` computed in the same action that
  materializes the round — no exceptAll() anti-join over two full edge
  sets per round.

No reference analogue (digitalbazaar/pyld has no graph-clustering surface);
this is part of the training-data-pipeline extras mandated by the brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyld_spark.session import cut_lineage


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set as distinct (u, v) with u < v, self-loops dropped."""
    e = edges.select(F.col(src).cast("string").alias("a"),
                     F.col(dst).cast("string").alias("b"))
    return (
        e.where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u}).

    Output may contain duplicate edges: small_star's aggregations are
    duplicate-insensitive and its final ``distinct`` restores the set —
    deduping here too would cost one extra full shuffle per round (measured
    ~25% of the fixpoint wall at 8M edges)."""
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    m = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        nbrs.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), F.col("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large->small; connect each smaller neighbor (and u) to
    the minimum of the group."""
    directed = e.select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        directed.join(mins, "u")
        .select(F.col("v").alias("n"), F.col("m"))
        .union(mins.select(F.col("u").alias("n"), F.col("m")))
        .where(F.col("n") != F.col("m"))
        .select(F.col("m").alias("u"), F.col("n").alias("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    return out


def _signature(e: DataFrame) -> tuple[int, int]:
    # bit_xor over a DISTINCT edge set is an order-independent, overflow-free
    # (ANSI-safe) set signature.
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every node that appears in ``edges``; the
    component id is the lexicographically-smallest node id in the component
    (deterministic, matches a SQL ``min`` over the transitive closure).

    Isolated nodes never appear in an edge list — callers that need total
    coverage left-join this result and coalesce to the node's own id (see
    :func:`dedup_clusters`).
    """
    e = cut_lineage(_canonical_edges(edges, src, dst))
    sig = _signature(e)
    for _ in range(max_iter):
        e2 = cut_lineage(_small_star(_large_star(e)))
        sig2 = _signature(e2)
        e = e2
        if sig2 == sig:
            break
        sig = sig2
    else:  # pragma: no cover - max_iter is far above the O(log n) bound
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # Converged edge set is a star per component: (root=u, member=v) with
    # u < v and u = component min. min() per member guards the (benign)
    # case of a member momentarily linked to two labels on the final round.
    members = e.groupBy(F.col("v").alias("node")).agg(F.min("u").alias("component"))
    roots = e.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def dedup_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_duplicate) for EVERY document.

    ``pairs`` is any near-dup pair table (minhash_dedup_pairs,
    simhash_near_pairs, ngram_jaccard_pairs). cluster_id = min doc_id of the
    connected component (the canonical survivor); singletons cluster with
    themselves. One broadcast-size component map joined to the corpus —
    the big table is touched once.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    labeled = (
        documents.select(F.col(id_col).cast("string").alias(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labeled.join(sizes, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            (F.col(id_col) != F.col("cluster_id")).alias("is_duplicate"),
        )
    )
