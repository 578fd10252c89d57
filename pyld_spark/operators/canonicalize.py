"""Corpus-scale blank-node canonicalization, one route per document.

Re-expresses URDNA2015 (reference: pyld's ``canon.py``) over a corpus-wide
quad table (SURVEY.md §2.9, §4.2). Each document takes exactly one route,
picked by its quad count:

1. **at or under** ``max_exact_quads``: the exact per-document URDNA2015 in
   a grouped Arrow UDF (``groupBy(doc_id).applyInArrow``);
2. **over the bound**: distributed WL hash refinement
   (:func:`_wl_refined_labels`) seeded with each bnode's first-degree hash
   (:func:`first_degree_hashes`, one explode + one groupBy, whole-stage
   codegen). It is planned only when such a document exists.

Transcript docs reach this module only as fallback docs: a tagged doc whose
turn ``@id`` values are non-null and distinct is labeled inside its own row
by the compiled projection (:func:`canonicalize_documents`).

Everything partitions by ``doc_id``: bnodes are doc-namespaced, so no
canonicalization component ever spans documents, and the groupBys shuffle on
the same key the triples table is already clustered by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from pyld_spark.operators.doc_runner import rows_to_quads
from pyld_spark.session import cut_lineage, repartition_by

_LABEL_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("bnode", StringType(), False),
        StructField("label", StringType(), False),
    ]
)


def _masked_quad_expr(self_col):
    """Serialized N-Quad with `self` bnode → _:a, other bnodes → _:z —
    the first-degree-hash masking, as a pure column expression."""

    def mask(kind_col, value_col):
        return (
            F.when(kind_col == "blank node",
                   F.when(value_col == self_col, F.lit("_:a")).otherwise(F.lit("_:z")))
            .otherwise(F.concat(F.lit("<"), value_col, F.lit(">")))
        )

    subj = F.when(F.col("subj").startswith("_:"),
                  F.when(F.col("subj") == self_col, F.lit("_:a")).otherwise(F.lit("_:z"))
                  ).otherwise(F.concat(F.lit("<"), F.col("subj"), F.lit(">")))
    pred = F.concat(F.lit("<"), F.col("pred"), F.lit(">"))
    obj = mask(F.col("obj_kind"), F.col("obj_value"))
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
    bnodes = F.array_compact(
        F.array(
            F.when(F.col("subj").startswith("_:"), F.col("subj")),
            F.when((F.col("obj_kind") == "blank node"), F.col("obj_value")),
            F.when(F.col("graph").startswith("_:"), F.col("graph")),
        )
    )
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


def _wl_refined_labels(triples: DataFrame, fd: DataFrame, n_iters: int = 6) -> DataFrame:
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
    bsub = F.col("subj").startswith("_:")
    bobj = F.col("obj_kind") == "blank node"
    pairs = triples.select(
        "doc_id", "subj", "pred", "obj_value",
        bsub.alias("_bs"), bobj.alias("_bo"),
    )
    out_e = (
        pairs.filter(F.col("_bs") & F.col("_bo"))
        .select("doc_id", F.col("subj").alias("bnode"),
                F.concat(F.lit("o:"), F.col("pred")).alias("edge"),
                F.col("obj_value").alias("nbr"))
    )
    in_e = (
        pairs.filter(F.col("_bs") & F.col("_bo"))
        .select("doc_id", F.col("obj_value").alias("bnode"),
                F.concat(F.lit("i:"), F.col("pred")).alias("edge"),
                F.col("subj").alias("nbr"))
    )
    edges = out_e.unionByName(in_e)

    h = fd.select("doc_id", "bnode", "fd_hash", F.col("fd_hash").alias("h"))
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


def _doc_partitioned(triples: DataFrame) -> DataFrame:
    """Hash-partition the quad table by ``doc_id`` — the ONE exchange the
    whole canonicalization shares.

    Every downstream distribution requirement is a superset of
    ``doc_id`` — the per-doc ``applyInArrow`` groups, ``groupBy(doc_id)``
    label maps and the final relabel equi-join — and
    ``HashPartitioning(doc_id)`` satisfies a ``ClusteredDistribution`` over
    any key list containing ``doc_id``, so none of them re-shuffle. The
    width is the session's (:func:`~pyld_spark.session.repartition_by`) so
    the label-map side of the relabel join lands co-partitioned.
    """
    return repartition_by(triples, "doc_id")


def _exact_labels(key, table):
    """URDNA2015 labels of one whole document (one ``applyInArrow`` group)."""
    import pyarrow as pa

    from pyld_spark.jsonld.canon import URDNA2015

    doc_id = key[0].as_py()
    mapping = URDNA2015().main(rows_to_quads(table))
    return pa.Table.from_pylist(
        [{"doc_id": doc_id, "bnode": old, "label": new}
         for old, new in mapping.items()],
        schema=to_arrow_schema(_LABEL_SCHEMA),
    )


def canonical_labels(
    triples: DataFrame,
    max_exact_quads: int = 100_000,
    pre_partitioned: bool = False,
) -> DataFrame:
    """(doc_id, bnode) → canonical label ``_:c14nN`` (doc-local numbering).

    A doc with at most ``max_exact_quads`` quads gets the exact URDNA2015
    labels, one ``applyInArrow`` group per doc. A doc over the bound would
    be one executor's single group (memory, and permutation blowup when its
    hashes collide), so it takes the distributed WL refinement
    (:func:`_wl_refined_labels`) instead. Such docs are looked for first, in
    a job of its own over ``triples``; a corpus without one plans the exact
    route alone.

    ``pre_partitioned=True`` promises the caller already ran
    :func:`_doc_partitioned` (avoids a second exchange of the quad table).
    """
    if not pre_partitioned:
        triples = _doc_partitioned(triples)
    big_docs = cut_lineage(
        triples.groupBy("doc_id").count()
        .filter(F.col("count") > max_exact_quads).select("doc_id")
    )
    if big_docs.isEmpty():
        return triples.groupBy("doc_id").applyInArrow(_exact_labels, _LABEL_SCHEMA)
    big = triples.join(F.broadcast(big_docs), "doc_id", "left_semi")
    return (
        triples.join(F.broadcast(big_docs), "doc_id", "left_anti")
        .groupBy("doc_id").applyInArrow(_exact_labels, _LABEL_SCHEMA)
        .unionByName(_wl_refined_labels(big, first_degree_hashes(big)))
    )


def canonicalize_triples(triples: DataFrame, max_exact_quads: int = 100_000,
                         input_partitioned: bool = False) -> DataFrame:
    """Relabel every blank node in the triples table with its canonical
    per-document label (prefixed with the doc namespace for corpus-global
    uniqueness).

    Single shuffle join: the per-document label mappings are collected into
    one small map per doc_id and joined once on doc_id (all three bnode
    positions relabel via ``element_at`` on that map). The quad table is
    exchanged exactly once (:func:`_doc_partitioned`) and that partitioning
    feeds BOTH the label computation and the left side of the relabel
    join.

    ``input_partitioned=True``: the caller promises the input is ALREADY
    hash-partitioned by ``doc_id`` (a bucketed triples table — the
    production Iceberg layout where the triples stage writes bucketed by
    doc_id). The explicit repartition is skipped and every downstream
    doc_id-clustered requirement is satisfied straight off the scan —
    the stage's only full-corpus exchange disappears (round-5 verdict
    item 3: canonicalize is the N→4N laggard, and its cross-executor
    shuffle is the scaling tax)."""
    if not input_partitioned:
        triples = _doc_partitioned(triples)
    labels = canonical_labels(
        triples, max_exact_quads=max_exact_quads, pre_partitioned=True
    ).withColumn(
        "global_label",
        F.concat(F.lit("_:d"), F.substring(F.sha2(F.col("doc_id"), 256), 1, 16),
                 F.lit("_"), F.substring(F.col("label"), 3, 1000)),
    )
    label_maps = labels.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bnode"), F.col("global_label")))
        ).alias("_lmap")
    )

    t = triples.join(label_maps, "doc_id", "left")

    def relabel(col, is_bnode):
        return F.when(
            is_bnode & F.col("_lmap").isNotNull(),
            F.coalesce(F.element_at(F.col("_lmap"), F.col(col)), F.col(col)),
        ).otherwise(F.col(col))

    return (
        t.withColumn("subj", relabel("subj", F.col("subj").startswith("_:")))
        .withColumn("obj_value", relabel("obj_value", F.col("obj_kind") == "blank node"))
        .withColumn("graph", relabel("graph", F.col("graph").startswith("_:")))
        .drop("_lmap")
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
