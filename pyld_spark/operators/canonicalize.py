"""Corpus-scale blank-node canonicalization: exact URDNA2015, one document
at a time.

Re-expresses URDNA2015 (reference: pyld's ``canon.py``) over a corpus-wide
quad table (SURVEY.md §2.9, §4.2). Bnodes are doc-namespaced, so no
canonicalization component ever spans documents: each document is
canonicalized whole by :class:`~pyld_spark.jsonld.canon.URDNA2015` in one
group of the per-document runner
(:func:`~pyld_spark.operators.doc_runner.map_doc_groups`: one ``doc_id``
exchange, one Python task per slot, and its quarantine policy). A document
over the work budget of :mod:`pyld_spark.jsonld.canon` becomes one
quarantine row coded ``canonicalization budget exceeded``, as any other bad
document does. Nothing is probed or routed on the driver: building the plan
runs no job.

Transcript docs reach this module only as fallback docs: a tagged doc whose
turn ``@id`` values are non-null and distinct is labeled inside its own row
by the compiled projection (:func:`canonicalize_documents`).

:func:`first_degree_hashes` is the first-degree hash as a relational
column expression; the benchmark counts docs with colliding hashes by it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

from pyld_spark.jsonld.canon import URDNA2015
from pyld_spark.operators.doc_runner import (
    doc_bnode_namespace,
    doc_schema,
    map_doc_groups,
    quads_to_rows,
)
from pyld_spark.operators.expand_stage import TRIPLE_SCHEMA
from pyld_spark.session import cut_lineage


def _bnode_positions():
    """``(column, condition)`` for each position of a triple row that can
    hold a blank node, the condition being true when it does."""
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


def _canonical_labels(doc_id, quads):
    return URDNA2015().main(quads).items()


def _canonical_rows(doc_id, quads):
    """The document's triple rows, every blank node relabeled with its
    URDNA2015 label in the doc namespace: ``{ns}_c14nN``."""
    labels = URDNA2015().main(quads)

    def relabel(term):
        return dict(term, value=labels[term["value"]]) if term["type"] == "blank node" else term

    return quads_to_rows([(relabel(s), p, relabel(o), labels.get(g, g)) for s, p, o, g in quads],
                         doc_bnode_namespace(doc_id))


def canonical_labels(triples: DataFrame) -> DataFrame:
    """(doc_id, bnode) → canonical label ``_:c14nN`` (doc-local numbering),
    with the runner's ``error_code``: a document over the canonicalization
    work budget is one row with null ``bnode`` and ``label``."""
    return map_doc_groups(triples, _canonical_labels, doc_schema(
        StructField("bnode", StringType(), True), StructField("label", StringType(), True)))


def canonicalize_triples(triples: DataFrame) -> DataFrame:
    """Relabel every blank node in the triples table with its canonical
    per-document label, prefixed with the doc namespace for corpus-global
    uniqueness. Output: ``doc_id``, the triple columns and ``error_code``;
    a document over the canonicalization work budget is one quarantine row.

    Its plan is one exchange of the quad rows, on ``doc_id``, and no join:
    each document is relabeled inside its own group."""
    return map_doc_groups(triples, _canonical_rows, TRIPLE_SCHEMA)


def canonicalize_documents(docs: DataFrame, triples: DataFrame) -> DataFrame:
    """Canonical triples of ``triples``, the quarantine-free
    :func:`~pyld_spark.operators.expand_stage.docs_to_triples` output of
    ``docs`` (the ``(conv_id, doc)`` rows of
    :func:`~pyld_spark.transcripts.assemble_documents`): the routing the
    pipeline's canonicalize stage runs.

    Tagged transcript docs whose turn ``@id`` values are all non-null and
    distinct are labeled in the compiled per-row projection
    (``_compiled_transcript_triples(canonical=True)``): no exchange and no
    Python node between the scan and the output, and a literal-null
    ``error_code``, so a quarantine split of that route folds to an empty
    relation. Every other doc — tagged with a null or repeated turn ``@id``,
    or untagged — goes through :func:`canonicalize_triples` over its rows of
    ``triples``. Whether any such doc exists is decided on the driver, so a
    corpus without one never plans the general canonicalization at all.
    """
    from pyld_spark.operators.expand_stage import (
        _compiled_transcript_triples,
        _transcript_fallback_ids,
        is_transcript_tagged,
    )

    if not is_transcript_tagged(docs, "doc"):
        return canonicalize_triples(triples)
    in_row = _compiled_transcript_triples(docs, "conv_id", "doc", canonical=True).withColumn(
        "error_code", F.lit(None).cast("string"))
    fallback = cut_lineage(_transcript_fallback_ids(docs, "conv_id", "doc"))
    if fallback.isEmpty():
        return in_row
    return in_row.unionByName(canonicalize_triples(
        triples.join(F.broadcast(fallback), "doc_id", "left_semi")))
