"""Corpus-scale fromRDF (SURVEY.md §2.6): triples table → JSON-LD documents.

Two layers:

- :func:`triples_to_documents` — group the flat triples by ``doc_id``
  (documents are independent; one shuffle) and run the exact fromRDF
  algorithm per group (:func:`pyld_spark.operators.doc_runner.map_doc_groups`,
  ``applyInArrow``);
- :func:`list_chain_lengths` — the *relational* analogue of list
  reconstruction: rdf:first/rdf:rest chains measured by bounded-iteration
  self-joins (the pattern that would replace the in-UDF walk if single
  documents outgrew executor memory).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

from pyld_spark.operators.doc_runner import doc_schema, map_doc_groups
from pyld_spark.session import cut_lineage

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"

DOC_SCHEMA = doc_schema(StructField("expanded", StringType(), True))


def triples_to_documents(triples: DataFrame, use_native_types: bool = False) -> DataFrame:
    """(doc_id, flat triple cols) → (doc_id, expanded JSON-LD array json,
    error_code)."""

    def expanded(_doc_id, quads):
        from pyld_spark.jsonld.fromrdf import from_rdf

        return [(json.dumps(from_rdf(quads, use_native_types=use_native_types),
                            sort_keys=True),)]

    return map_doc_groups(triples, expanded, DOC_SCHEMA)


def list_chain_lengths(triples: DataFrame, max_iters: int = 64) -> DataFrame:
    """Length of every rdf:first/rest list chain, via iterative self-joins.

    Bounded-iteration pointer doubling on rdf:rest edges: each round joins
    the frontier to itself, doubling the hop distance — O(log L) shuffles for
    chains of length L (vs L joins for naive walking). Returns
    (doc_id, head, length) for each chain head (a cell not referenced by
    another cell's rdf:rest).
    """
    rest = (
        triples.filter(F.col("pred") == RDF_REST)
        .select("doc_id", F.col("subj").alias("src"), F.col("obj_value").alias("dst"))
    )
    # hops: src -> (dst, steps); start with 1-hop edges
    hops = rest.select("doc_id", "src", "dst", F.lit(1).alias("steps"))
    # pointer doubling until all reach rdf:nil
    for _ in range(max_iters):
        unfinished = hops.filter(F.col("dst") != RDF_NIL)
        if unfinished.isEmpty():
            break
        nxt = hops.select(
            "doc_id", F.col("src").alias("_m"), F.col("dst").alias("_d"),
            F.col("steps").alias("_s"),
        )
        advanced = (
            unfinished.join(
                nxt,
                (unfinished["doc_id"] == nxt["doc_id"]) & (unfinished["dst"] == nxt["_m"]),
            )
            .select(
                unfinished["doc_id"], unfinished["src"], F.col("_d").alias("dst"),
                (unfinished["steps"] + F.col("_s")).alias("steps"),
            )
        )
        finished = hops.filter(F.col("dst") == RDF_NIL)
        hops = cut_lineage(finished.unionByName(advanced))
    heads = rest.join(
        rest.select("doc_id", F.col("dst").alias("src")).distinct(),
        ["doc_id", "src"], "left_anti",
    ).select("doc_id", F.col("src").alias("head"))
    return (
        hops.filter(F.col("dst") == RDF_NIL)
        .join(heads, (hops["doc_id"] == heads["doc_id"]) & (hops["src"] == heads["head"]), "left_semi")
        .select("doc_id", F.col("src").alias("head"), F.col("steps").cast("bigint").alias("length"))
    )
