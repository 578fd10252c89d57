"""Community detection over the constructed KG: synchronous label propagation.

No reference analogue (digitalbazaar/pyld stops at document algorithms); this
serves the "graph materialize" axis of the north rule — community ids over
the canonical entity graph are a standard downstream feature (entity
disambiguation blocking, corpus clustering, graph-partitioned storage keys).

Why SYNCHRONOUS label propagation and not the classic async variant:

- Async LPA (update labels in-place, random visit order) is famously
  non-deterministic — the result depends on the visit order, which in a
  distributed engine means partition order. Useless for a reproducible
  pipeline and impossible to oracle-check.
- Synchronous LPA with a total tie-break IS deterministic: every node
  simultaneously adopts the label that is most frequent among its
  neighbors, ties broken by the lexicographically least label. A fixed
  iteration count (no convergence test — synchronous LPA can 2-cycle on
  bipartite structures) makes the output a pure function of the edge set,
  bit-replayable in any SQL engine, which is what makes the DuckDB gate
  oracle hash-exact.

Scale design: each iteration is one shuffled hash join (labels ⋈ edges,
keyed on the neighbor id) plus one two-key groupBy count and one min-struct
aggregation per node — all map-side-combinable, no windows, no driver-side
data. Lineage is truncated per iteration (``session.cut_lineage``; reliable
once a checkpoint directory is set) exactly like the connected-components
fixpoint (components.py). Hot labels (a viral community) concentrate on the
(node, label) count key, which is fine — the key includes the node, so the
aggregation never collapses onto a single reducer; the labels ⋈ edges join
skew on hub NEIGHBORS is the same shape the PageRank contribution join has
and AQE skew-splitting applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyld_spark.session import cut_lineage


def _symmetric_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct symmetric closure with self-loops dropped."""
    e = edges.select(
        F.col(src).cast("string").alias("src"),
        F.col(dst).cast("string").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Synchronous label propagation over an undirected edge list.

    Returns (node, community) for every node appearing in ``edges``. Labels
    start as the node's own id; each of the ``iters`` rounds every node
    adopts the most frequent label among its neighbors' CURRENT labels
    (its own label does not vote), ties broken by the least label. The
    result is a pure function of the edge set — deterministic across
    partitionings, run-to-run, and engines.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")

    _cut = cut_lineage if truncate_lineage else (lambda df: df)

    sym = _cut(_symmetric_edges(edges, src, dst))
    nodes = _cut(sym.select(F.col("src").alias("node")).distinct())
    labels = nodes.withColumn("community", F.col("node"))
    for _ in range(iters):
        votes = (
            sym.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("community").alias("nbr_label")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), F.col("nbr_label"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        # (max count, then min label) via a single min-struct aggregation:
        # struct ordering is lexicographic, so min over (-cnt, label) picks
        # the highest count and breaks ties on the least label.
        labels = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("nbr_label").alias("lbl"))).alias("best"))
            .select("node", F.col("best.lbl").alias("community"))
        )
        labels = _cut(labels)
    return labels


def community_sizes(labels: DataFrame) -> DataFrame:
    """(community, n_members) — one exchange on the community id."""
    return labels.groupBy("community").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
