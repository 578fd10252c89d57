"""Query surface over the constructed knowledge graph.

The pipeline's whole point is to *materialize* triples (expand → toRDF →
canonicalize → triple tables); this module is the consumer side: SPARQL-style
basic-graph-pattern (BGP) matching and bounded k-hop neighborhood expansion
over any ``(subj, pred, obj_kind, obj_value, ...)`` triple DataFrame.

The reference processor (digitalbazaar/pyld) deliberately stops at framing —
"pyld is not an RDF store" — so there is no reference analogue; frame-based
selection (jsonld/frame.py) covers the document-shaped side, and this module
covers the graph-shaped side the north rule's "graph materialize" output
exists to serve.

Scale design:

- A BGP compiles to filtered scans + equi-joins, the classic SPARQL→SQL
  mapping. Constant positions become pushdown predicates on the parquet
  scan (``PushedFilters``); variable positions become projected columns;
  shared variables become join keys. Catalyst/AQE then does what it does to
  any join DAG: reorders by size, broadcasts small pattern scans (a selective
  ``pred = <x>`` filter over a pred-partitioned triple table is tiny),
  splits skewed keys.
- Bag semantics, like SPARQL BGPs and like the SQL-join oracle: no implicit
  ``distinct`` (a distinct is a full shuffle the caller may not need).
- Disconnected patterns are rejected rather than silently cross-joined.
- k-hop is a frontier loop of semi-join rounds — each round shuffles only
  the *frontier* (new nodes), never re-touches the visited set except for
  one anti-join, and truncates lineage per round exactly like the
  connected-components fixpoint (components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyld_spark.session import cut_lineage

_POSITIONS = (("subj", 0), ("pred", 1), ("obj_value", 2))


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _pattern_frame(triples: DataFrame, pattern: tuple[str, str, str]) -> DataFrame:
    """One triple pattern → a filtered scan projecting its variables."""
    if len(pattern) != 3:
        raise ValueError(f"pattern must be (subj, pred, obj): {pattern!r}")
    df = triples
    names: dict[str, str] = {}  # var name -> first column bound to it
    sel = []
    for col, idx in _POSITIONS:
        term = pattern[idx]
        if _is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"bare '?' in pattern {pattern!r}")
            if name in names:
                # same variable twice in one pattern: equality constraint
                df = df.where(F.col(col) == F.col(names[name]))
            else:
                names[name] = col
                sel.append(F.col(col).alias(name))
        else:
            df = df.where(F.col(col) == F.lit(term))
    if not sel:
        # fully-ground pattern: keep a constant marker column so the join
        # below degrades to an existence check via crossJoin-of-one-row
        raise ValueError(
            f"fully-ground pattern {pattern!r} binds no variables; "
            "use a filter on another pattern instead"
        )
    return df.select(*sel)


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    filters: tuple[str, ...] | list[str] = (),
    optional: list[tuple[str, str, str]] = (),
) -> DataFrame:
    """Match a basic graph pattern; one output row per binding (bag
    semantics), one output column per distinct ``?variable``.

    ``patterns`` is a list of (subj, pred, obj) terms; a leading ``?`` marks
    a variable, anything else is an IRI/literal constant compared against
    ``subj`` / ``pred`` / ``obj_value``. ``filters`` are SQL boolean
    expressions over the variable columns, applied after all required joins
    (e.g. ``"e1 < e2"``). ``optional`` patterns are SPARQL ``OPTIONAL``
    blocks of one pattern each: left-joined after the required part, their
    new variables NULL where unmatched (and never constraining the required
    bindings). Each optional pattern must share ≥1 variable with the
    required part, and its new variables must be distinct from other
    optional patterns' (one-level OPTIONAL, no optional-to-optional joins —
    the common query shape, and the one with an unambiguous SQL mapping).

    Each pattern with constants compiles to a pushdown-filtered scan; shared
    variables become equi-join keys. Required patterns must be connected
    (each one shares ≥1 variable with the ones before it) — an accidental
    cross product over a triple table is never what anyone wants at scale.
    """
    if not patterns:
        raise ValueError("empty BGP")
    out = _pattern_frame(triples, patterns[0])
    order = list(out.columns)
    for pat in patterns[1:]:
        f = _pattern_frame(triples, pat)
        shared = sorted(set(out.columns) & set(f.columns))
        if not shared:
            raise ValueError(
                f"pattern {pat!r} shares no variable with the patterns before "
                "it; reorder the BGP so it is connected"
            )
        out = out.join(f, on=shared, how="inner")
        order += [c for c in f.columns if c not in order]
    for expr in filters:
        out = out.where(F.expr(expr))
    required_vars = set(order)
    seen_optional_vars: set[str] = set()
    for pat in optional:
        f = _pattern_frame(triples, pat)
        shared = sorted(required_vars & set(f.columns))
        if not shared:
            raise ValueError(
                f"optional pattern {pat!r} shares no variable with the "
                "required patterns"
            )
        new_vars = set(f.columns) - required_vars
        clash = new_vars & seen_optional_vars
        if clash:
            raise ValueError(
                f"optional pattern {pat!r} rebinds variable(s) {sorted(clash)} "
                "from another optional pattern"
            )
        seen_optional_vars |= new_vars
        out = out.join(f, on=shared, how="left")
        order += [c for c in f.columns if c not in order]
    # joins float their keys to the front; restore first-appearance order
    return out.select(*order)


def khop_neighborhood(
    triples: DataFrame,
    seeds: DataFrame,
    k: int,
    directed: bool = False,
) -> DataFrame:
    """Nodes within ``k`` hops of any seed: (node, hops) with hops = the
    MINIMUM distance (seeds themselves at 0). Edges are the IRI→IRI triples
    (``obj_kind = 'IRI'``); ``directed=False`` (default) also walks edges
    backwards, which is what entity-neighborhood queries over bipartite
    turn→entity graphs need.

    ``seeds`` must have a ``node`` column. Each round expands only the new
    frontier via one join, folds it into the visited set, and truncates
    lineage — k rounds, k frontier-sized shuffles, never O(graph) per round.

    The edge relation is hash-partitioned and sorted on ``src`` ONCE and
    localCheckpointed; LogicalRDD preserves that partitioning/ordering, so
    every round's sort-merge join exchanges and sorts only the frontier
    side — the graph-sized relation is persisted once instead of shuffled
    k times (round-5: the 8M-edge bench spent most of its wall in a
    per-run global ``distinct`` + per-round edge shuffles; duplicates
    don't affect minimal hops, the frontier is distinct-ed instead).
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    edges = (
        triples.where(F.col("obj_kind") == "IRI")
        .select(F.col("subj").alias("src"), F.col("obj_value").alias("dst"))
    )
    if not directed:
        edges = edges.union(edges.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
    edges = cut_lineage(edges.repartition("src").sortWithinPartitions("src"))

    visited = cut_lineage(seeds.select(F.col("node")).distinct().withColumn(
        "hops", F.lit(0).cast("int")
    ))
    frontier = visited
    for depth in range(1, k + 1):
        nxt = cut_lineage(
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(depth).cast("int"))
        )
        if nxt.isEmpty():
            break
        visited = cut_lineage(visited.unionByName(nxt))
        frontier = nxt
    return visited
