"""Deterministic graph random walks — node2vec-style corpus generation.

No reference analogue (digitalbazaar/pyld stops at document algorithms);
this serves the training-data-pipeline axis: random walks over the
canonical entity graph are the standard input corpus for skip-gram graph
embeddings (DeepWalk / node2vec), and at 10^12-triple scale the walk
generation itself must be a distributed dataflow.

Why DETERMINISTIC pseudo-random walks and not ``rand()``:

- ``rand()`` walks are not reproducible across runs/partitionings and
  cannot be oracle-checked. Here every step choice is an explicit 31-bit
  LCG over BIGINTs: the walk state carries an integer ``seed``; at step t
  from node c the next seed is ``(seed * 1103515245 + 12345 + mix(c))
  mod 2^31`` and the chosen neighbor index is ``seed' mod degree(c)``,
  where neighbors are ranked by lexicographic order and ``mix(c)`` is a
  positional-ascii mix of the node id (first char, last two chars,
  length — sensitive to hash-suffixed IRIs that share a long prefix).
  Every operation is integer arithmetic + ``ascii``/``substr``/``length``
  — bit-replayable in any SQL engine (the DuckDB gate oracle replays it
  exactly), and the initial seed additionally mixes the walk number so
  co-started walks diverge.

Scale design: neighbor ranks are a one-time per-src window
(``row_number`` over dst — partitioned by src, never global); each walk
step is TWO equi-joins, both keyed: state ⋈ degrees on the node id to
compute the choice index (no fan-out), then state ⋈ adjacency on
(src, idx) — a two-column equi-join that lands on exactly one row per
walk, so a hub with 10^6 neighbors costs one lookup, not a 10^6-row
fan-out. Lineage truncated per step (``session.cut_lineage``; reliable
once a checkpoint directory is set). Output size is exactly
``n_start_nodes * walks_per_node * length`` rows — linear, never
degree-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyld_spark.session import cut_lineage

_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2**31
_SEED_W = 2654435761  # Knuth multiplicative constant — mixes the walk number


def _node_mix(node: F.Column) -> F.Column:
    """Positional-ascii mix: first char, last char, second-to-last char,
    length. Chosen over hashing because both Spark and ANSI SQL compute it
    with the same integer result (hex→int conversion is not portable)."""
    last = F.ascii(node.substr(F.length(node), F.lit(1))).cast("bigint")
    last2 = F.ascii(
        node.substr(F.greatest(F.length(node) - F.lit(1), F.lit(1)), F.lit(1))
    ).cast("bigint")
    return (
        F.ascii(node).cast("bigint") * F.lit(8191)
        + last * F.lit(127)
        + last2 * F.lit(31)
        + F.length(node).cast("bigint") * F.lit(131)
    )


def _seed0(node: F.Column, walk_no: F.Column) -> F.Column:
    return F.pmod(
        walk_no.cast("bigint") * F.lit(_SEED_W) + _node_mix(node),
        F.lit(_LCG_M),
    )


def _next_seed(seed: F.Column, node: F.Column) -> F.Column:
    return F.pmod(
        seed * F.lit(_LCG_A) + F.lit(_LCG_C) + _node_mix(node),
        F.lit(_LCG_M),
    )


def random_walks(
    edges: DataFrame,
    length: int = 4,
    walks_per_node: int = 1,
    src: str = "src",
    dst: str = "dst",
    truncate_lineage: bool = True,
) -> DataFrame:
    """Deterministic LCG-driven walks over the symmetric closure of ``edges``.

    Starts ``walks_per_node`` walks from every node that appears in the
    edge list and takes ``length - 1`` steps (so each walk emits ``length``
    rows, step 0 being the start node). Returns
    ``(walk_id string, step int, node string)`` where
    ``walk_id = start_node || '#' || walk_no``. A pure function of the
    edge set — deterministic across partitionings, runs, and engines.
    """
    if length < 1:
        raise ValueError("length must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    from pyld_spark.operators.communities import _symmetric_edges

    sym = _symmetric_edges(edges, src, dst)
    w = Window.partitionBy("src").orderBy("dst")
    adj = sym.select(
        "src",
        "dst",
        (F.row_number().over(w) - F.lit(1)).cast("bigint").alias("idx"),
    )

    _cut = cut_lineage if truncate_lineage else (lambda df: df)

    adj = _cut(adj)
    deg = _cut(adj.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg")))

    walk_no = F.explode(
        F.sequence(F.lit(0), F.lit(walks_per_node - 1))
    ).alias("walk_no")
    state = deg.select(F.col("src").alias("node"), walk_no).select(
        F.concat(F.col("node"), F.lit("#"), F.col("walk_no")).alias("walk_id"),
        "node",
        _seed0(F.col("node"), F.col("walk_no")).alias("seed"),
    )
    out = [state.select("walk_id", F.lit(0).cast("int").alias("step"), "node")]
    for t in range(1, length):
        stepped = state.join(deg, state["node"] == deg["src"]).select(
            "walk_id",
            F.col("node"),
            _next_seed(F.col("seed"), F.col("node")).alias("seed"),
            F.col("deg"),
        )
        chosen = stepped.select(
            "walk_id",
            F.col("node").alias("cur"),
            "seed",
            F.pmod(F.col("seed"), F.col("deg")).alias("choice"),
        )
        state = (
            chosen.join(
                adj,
                (chosen["cur"] == adj["src"]) & (chosen["choice"] == adj["idx"]),
            )
            .select("walk_id", F.col("dst").alias("node"), "seed")
        )
        state = _cut(state)
        out.append(state.select("walk_id", F.lit(t).cast("int").alias("step"), "node"))
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res
