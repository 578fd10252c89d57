"""Corpus-scale blank-node canonicalization, one route per document.

Re-expresses URDNA2015 (reference: pyld's ``canon.py``) over a corpus-wide
quad table (SURVEY.md §2.9, §4.2). Each document takes exactly one route,
picked by its quad count:

1. **at or under** ``max_exact_quads``: the exact per-document URDNA2015 in
   a grouped Arrow UDF (``groupBy(doc_id).applyInArrow``), which for
   :func:`canonicalize_triples` also relabels the doc's rows;
2. **over the bound**: distributed WL hash refinement
   (:func:`_wl_refined_labels`) seeded with each bnode's first-degree hash
   (:func:`first_degree_hashes`, one explode + one groupBy, whole-stage
   codegen), relabeled by equi-joins on ``(doc_id, bnode)``. It is planned
   only when such a document exists.

Transcript docs reach this module only as fallback docs: a tagged doc whose
turn ``@id`` values are non-null and distinct is labeled inside its own row
by the compiled projection (:func:`canonicalize_documents`).

Bnodes are doc-namespaced, so no canonicalization component ever spans
documents: the exact route needs only the doc's own rows, in one Python task
per slot (:func:`~pyld_spark.session.repartition_per_slot`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyld_spark.operators.doc_runner import doc_bnode_namespace, rows_to_quads
from pyld_spark.session import cut_lineage, repartition_per_slot

_LABEL_SCHEMA = "doc_id string not null, bnode string not null, label string not null"


def _bnode_positions():
    """``(column, condition)`` for each position of a triple row that can
    hold a blank node, the condition being true when it does.
    :func:`_exact_relabeled` states the same rule in Python; they must agree."""
    return (
        ("subj", F.col("subj").startswith("_:")),
        ("obj_value", F.col("obj_kind") == "blank node"),
        ("graph", F.col("graph").startswith("_:")),
    )


def _masked_quad_expr(self_col):
    """Serialized N-Quad with `self` bnode → _:a, other bnodes → _:z —
    the first-degree-hash masking, as a pure column expression."""

    def mask(col, is_bnode):
        return (
            F.when(is_bnode, F.when(F.col(col) == self_col, F.lit("_:a")).otherwise(F.lit("_:z")))
            .otherwise(F.concat(F.lit("<"), F.col(col), F.lit(">")))
        )

    is_bnode = dict(_bnode_positions())
    subj = mask("subj", is_bnode["subj"])
    pred = F.concat(F.lit("<"), F.col("pred"), F.lit(">"))
    obj = mask("obj_value", is_bnode["obj_value"])
    # literal objects: canonical N-Quads literal form
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    langstring = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    escaped = F.col("obj_value")
    for raw, esc in (("\\", "\\\\"), ("\t", "\\t"), ("\n", "\\n"), ("\r", "\\r"), ('"', '\\"')):
        escaped = F.replace(escaped, F.lit(raw), F.lit(esc))
    # suffix parity with nquads.serialize_term: langString with a null/empty
    # language gets NO @tag (not a bare "@"), and a null datatype means
    # xsd:string (no ^^ suffix) — a NULL here would null the whole concat
    # and silently DROP the quad from the hash input
    lit_form = F.concat(
        F.lit('"'), escaped, F.lit('"'),
        F.when(
            F.col("obj_datatype") == langstring,
            F.when(
                F.col("obj_language").isNotNull() & (F.col("obj_language") != ""),
                F.concat(F.lit("@"), F.col("obj_language")),
            ).otherwise(F.lit("")),
        )
        .when(F.col("obj_datatype").isNull() | (F.col("obj_datatype") == xsd_string),
              F.lit(""))
        .otherwise(F.concat(F.lit("^^<"), F.col("obj_datatype"), F.lit(">"))),
    )
    obj = F.when(F.col("obj_kind") == "literal", lit_form).otherwise(obj)
    graph = (
        F.when(F.col("graph") == "@default", F.lit(""))
        .when(F.col("graph").startswith("_:"),
              F.concat(F.lit(" "),
                       F.when(F.col("graph") == self_col, F.lit("_:a")).otherwise(F.lit("_:z"))))
        .otherwise(F.concat(F.lit(" <"), F.col("graph"), F.lit(">")))
    )
    return F.concat(subj, F.lit(" "), pred, F.lit(" "), obj, graph, F.lit(" .\n"))


def _bnode_quad_index(triples: DataFrame) -> DataFrame:
    """Explode each quad to one row per blank-node POSITION it mentions.

    Deliberately NOT ``array_distinct``: URDNA2015 appends the quad to a
    bnode's quad list once per position it occupies (reference canon.py —
    per-attribute append over subject/object/name), so a self-loop
    ``_:b <p> _:b`` or a subject that is also the graph name contributes
    its masked line TWICE to that bnode's first-degree hash input. A
    dedup here changes those bnodes' fd hashes and therefore the
    sorted-hash label order (caught by the random-graph differential
    fuzz, tests/test_canonicalize_random_graphs.py — transcript and
    gadget corpora never exercise multi-position bnodes)."""
    bnodes = F.array_compact(F.array(*(F.when(b, F.col(c)) for c, b in _bnode_positions())))
    return triples.withColumn("bnode", F.explode(bnodes))


def first_degree_hashes(triples: DataFrame) -> DataFrame:
    """(doc_id, bnode) → first-degree hash.

    One shuffle on (doc_id, bnode); map-side partial aggregation applies
    because sha2/concat_ws(sort_array(collect_list)) is a standard agg.
    """
    idx = _bnode_quad_index(triples)
    masked = idx.withColumn("masked", _masked_quad_expr(F.col("bnode")))
    return (
        masked.groupBy("doc_id", "bnode")
        .agg(F.sha2(F.concat_ws("", F.sort_array(F.collect_list("masked"))), 256).alias("fd_hash"))
    )


def _wl_refined_labels(triples: DataFrame, n_iters: int = 6) -> DataFrame:
    """Deterministic WL-style hash refinement for OVERSIZED docs.

    The exact per-doc URDNA2015 puts a whole document into one
    ``applyInArrow`` group and, on large automorphic structures (e.g. a
    symmetric cycle of 10^6 bnodes where every first-degree hash collides),
    hash-n-degree explores permutations — unbounded CPU *and* one-executor
    memory. Docs whose quad count exceeds the guard route here instead:

    1. seed every bnode with its first-degree hash;
    2. ``n_iters`` rounds of ``h' = sha2(h || sorted multiset of
       (direction:predicate:neighbor_h))`` over the bnode↔bnode adjacency
       edges — one join + one agg per round, fully distributed;
    3. labels by ``row_number`` over ``(fd_hash, h, bnode)`` per doc.

    Ranking by the first-degree hash first makes a doc whose first-degree
    hashes are all distinct get exactly URDNA2015's labels (its simple path
    issues them in sorted-hash order). Where hashes collide, the refined
    hash orders each collision class, and for bnodes WL cannot distinguish
    (true automorphic orbits) the original bnode id breaks the tie —
    deterministic given deterministic input labels (ours are ``_:b{n}`` in
    node-map order). Those labels are NOT URDNA2015-order-identical
    (URDNA2015 issues them in its own hash-n-degree processing order). This
    is the documented degradation the guard buys: bounded memory and
    polynomial work on oversized ambiguous docs, where reference pyld either
    OOMs or explores permutations without bound and completes neither.
    """
    # bnode↔bnode adjacency: one row per directed bnode pair per quad
    is_bnode = dict(_bnode_positions())
    pairs = triples.filter(is_bnode["subj"] & is_bnode["obj_value"])
    out_e = pairs.select("doc_id", F.col("subj").alias("bnode"),
                         F.concat(F.lit("o:"), F.col("pred")).alias("edge"),
                         F.col("obj_value").alias("nbr"))
    in_e = pairs.select("doc_id", F.col("obj_value").alias("bnode"),
                        F.concat(F.lit("i:"), F.col("pred")).alias("edge"),
                        F.col("subj").alias("nbr"))
    edges = out_e.unionByName(in_e)

    h = first_degree_hashes(triples).select(
        "doc_id", "bnode", "fd_hash", F.col("fd_hash").alias("h"))
    for _ in range(n_iters):
        nbr_h = h.select(
            F.col("doc_id").alias("_nd"), F.col("bnode").alias("_nb"),
            F.col("h").alias("nbr_h"),
        )
        sigs = (
            edges.join(
                nbr_h,
                (F.col("doc_id") == F.col("_nd")) & (F.col("nbr") == F.col("_nb")),
                "left",
            )
            .groupBy("doc_id", "bnode")
            .agg(F.concat_ws("|", F.sort_array(F.collect_list(
                F.concat(F.col("edge"), F.lit(":"), F.col("nbr_h"))
            ))).alias("sig"))
        )
        h = (
            h.join(sigs, ["doc_id", "bnode"], "left")
            .withColumn("h", F.sha2(F.concat_ws("#", F.col("h"), F.coalesce(F.col("sig"), F.lit(""))), 256))
            .select("doc_id", "bnode", "fd_hash", "h")
        )
        # cut the 6-round lineage so the plan doesn't re-derive every round
        h = cut_lineage(h, eager=False)

    w_rank = Window.partitionBy("doc_id").orderBy("fd_hash", "h", "bnode")
    return h.withColumn(
        "label",
        F.concat(F.lit("_:c14n"), (F.row_number().over(w_rank) - 1).cast("string")),
    ).select("doc_id", "bnode", "label")


def _urdna2015(table) -> dict:
    """URDNA2015 ``{bnode: "_:c14nN"}`` of one whole document's triple rows
    (an Arrow table): the one call of the algorithm in this module."""
    from pyld_spark.jsonld.canon import URDNA2015

    return URDNA2015().main(rows_to_quads(table))


def _exact_labels(key, table):
    """One document's label rows (one ``applyInArrow`` group)."""
    import pyarrow as pa

    labels = _urdna2015(table)
    columns = ([key[0].as_py()] * len(labels), list(labels), list(labels.values()))
    return pa.table([pa.array(c, pa.string()) for c in columns],
                    names=["doc_id", "bnode", "label"])


def _exact_relabeled(key, table):
    """One document's own rows (one ``applyInArrow`` group), every blank
    node relabeled ``{doc namespace}_c14nN`` by one dict lookup."""
    import pyarrow as pa

    ns = doc_bnode_namespace(key[0].as_py()) + "_"
    relabel = {old: ns + new[2:] for old, new in _urdna2015(table).items()}
    kinds = table.column("obj_kind").to_pylist()
    for name in ("subj", "obj_value", "graph"):
        values = table.column(name).to_pylist()
        flags = ([k == "blank node" for k in kinds] if name == "obj_value"
                 else [v is not None and v.startswith("_:") for v in values])
        i = table.schema.get_field_index(name)
        table = table.set_column(i, table.field(i), pa.array(
            [relabel.get(v, v) if b else v for v, b in zip(values, flags)], table.field(i).type))
    return table


def _relabeled_by_join(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """``triples`` relabeled from ``(doc_id, bnode, label)`` rows as
    :func:`_exact_relabeled` does: one left equi-join on ``(doc_id, bnode)``
    per blank-node position."""
    side = cut_lineage(labels.select(
        F.col("doc_id").alias("_d"), F.col("bnode").alias("_b"),
        F.concat(F.lit("_:d"), F.substring(F.sha2(F.col("doc_id"), 256), 1, 16),
                 F.lit("_"), F.substring(F.col("label"), 3, 1000)).alias("_g"),
    ))
    for col, is_bnode in _bnode_positions():
        triples = (
            triples.join(side, (F.col("doc_id") == F.col("_d")) & (F.col(col) == F.col("_b"))
                         & is_bnode, "left")
            .withColumn(col, F.coalesce(F.col("_g"), F.col(col)))
            .drop("_d", "_b", "_g")
        )
    return triples


def _by_route(triples: DataFrame, max_exact_quads: int, exact, schema, wl) -> DataFrame:
    """``applyInArrow(exact, schema)`` per doc of at most ``max_exact_quads``
    quads, one Python task per slot; ``wl`` over the rest, planned only when
    a first job over ``triples`` finds such a doc."""

    def per_doc(t):
        return repartition_per_slot(t, "doc_id").groupBy("doc_id").applyInArrow(exact, schema)

    big_docs = cut_lineage(
        triples.groupBy("doc_id").count()
        .filter(F.col("count") > max_exact_quads).select("doc_id")
    )
    if big_docs.isEmpty():
        return per_doc(triples)
    return per_doc(triples.join(F.broadcast(big_docs), "doc_id", "left_anti")).unionByName(
        wl(triples.join(F.broadcast(big_docs), "doc_id", "left_semi")))


def canonical_labels(triples: DataFrame, max_exact_quads: int = 100_000) -> DataFrame:
    """(doc_id, bnode) → canonical label ``_:c14nN`` (doc-local numbering).

    A doc with at most ``max_exact_quads`` quads gets the exact URDNA2015
    labels. A doc over the bound would be one executor's single group
    (memory, and permutation blowup when its hashes collide), so it takes
    the distributed WL refinement (:func:`_wl_refined_labels`) instead."""
    return _by_route(triples, max_exact_quads, _exact_labels, _LABEL_SCHEMA,
                     _wl_refined_labels)


def canonicalize_triples(triples: DataFrame, max_exact_quads: int = 100_000) -> DataFrame:
    """Relabel every blank node in the triples table with its canonical
    per-document label, prefixed with the doc namespace for corpus-global
    uniqueness. The output schema is the input schema.

    The exact route relabels inside the document's own group, so its plan
    is one exchange of the quad rows, on ``doc_id``, and no join. A doc over
    ``max_exact_quads`` takes the WL route, relabeled by equi-joins on
    ``(doc_id, bnode)``."""
    return _by_route(
        triples, max_exact_quads, _exact_relabeled, triples.schema,
        lambda big: _relabeled_by_join(big, _wl_refined_labels(big)),
    )


def canonicalize_documents(docs: DataFrame, triples: DataFrame) -> DataFrame:
    """Canonical triples of ``triples``, the quarantine-free
    :func:`~pyld_spark.operators.expand_stage.docs_to_triples` output of
    ``docs`` (the ``(conv_id, doc)`` rows of
    :func:`~pyld_spark.transcripts.assemble_documents`): the routing the
    pipeline's canonicalize stage runs.

    Tagged transcript docs whose turn ``@id`` values are all non-null and
    distinct are labeled in the compiled per-row projection
    (``_compiled_transcript_triples(canonical=True)``): no exchange and no
    Python node between the scan and the output. Every other doc — tagged
    with a null or repeated turn ``@id``, or untagged — goes through
    :func:`canonicalize_triples` over its rows of ``triples``. Whether any
    such doc exists is decided on the driver, so a corpus without one never
    plans the general canonicalization at all.
    """
    from pyld_spark.operators.expand_stage import (
        _compiled_transcript_triples,
        _transcript_fallback_ids,
        is_transcript_tagged,
    )

    if not is_transcript_tagged(docs, "doc"):
        return canonicalize_triples(triples)
    in_row = _compiled_transcript_triples(docs, "conv_id", "doc", canonical=True)
    fallback = cut_lineage(_transcript_fallback_ids(docs, "conv_id", "doc"))
    if fallback.isEmpty():
        return in_row
    return in_row.unionByName(canonicalize_triples(
        triples.join(F.broadcast(fallback), "doc_id", "left_semi")))
