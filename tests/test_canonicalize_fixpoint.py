"""Corpus-scale canonicalization vs exact per-doc URDNA2015: canonical_labels
must reproduce the reference labels on transcript documents, whose
first-degree hashes are distinct."""

from __future__ import annotations

import json

from pyld_spark.operators.canonicalize import canonical_labels, canonicalize_triples
from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
from pyld_spark.transcripts import assemble_documents, transcripts_from_events

from tests.ref_oracle import get_reference_jsonld, requires_reference


def _ref_canonical_mapping(doc):
    """Reference normalize → {_:bN: _:c14nN} mapping via label-tagged quads."""
    from pyld_spark.jsonld.canon import URDNA2015
    from pyld_spark.jsonld.context import initial_context
    from pyld_spark.jsonld.expand import expand
    from pyld_spark.jsonld.rdf import to_rdf

    quads = to_rdf(expand(doc, context=initial_context()))
    return URDNA2015().main(quads)


def _check_transcript_labels(spark, sf_dir):
    import hashlib

    docs = assemble_documents(transcripts_from_events(spark, sf_dir)).limit(10).cache()
    triples, _ = split_quarantine(docs_to_triples(docs))
    labels = {
        (r.doc_id, r.bnode): r.label
        for r in canonical_labels(triples).collect()
    }
    assert labels
    for row in docs.collect():
        mapping = _ref_canonical_mapping(json.loads(row.doc))
        # bnodes in the spark table are namespaced _:dHASH_bN
        ns = "_:d" + hashlib.sha256(row.conv_id.encode()).hexdigest()[:16] + "_"
        for old, new in mapping.items():
            spark_bnode = ns + old[2:]
            assert labels[(row.conv_id, spark_bnode)] == new, (
                f"conv {row.conv_id} bnode {old}"
            )


def test_fast_path_matches_exact_on_transcripts(spark, sf_dir):
    """Every doc takes the exact per-doc route."""
    _check_transcript_labels(spark, sf_dir)


@requires_reference
def test_fallback_path_on_symmetric_gadgets(spark):
    """Docs with colliding first-degree hashes exercise hash-n-degree in the
    exact per-doc route; a unique-hash doc takes its simple path. Both must
    match the reference."""
    ref = get_reference_jsonld()
    gadget_docs = {
        "sym-pair": {
            "@context": {"@vocab": "http://v/"},
            "@graph": [
                {"@id": "_:a", "link": {"@id": "_:b"}},
                {"@id": "_:b", "link": {"@id": "_:a"}},
            ],
        },
        "cycle3": {
            "@context": {"@vocab": "http://v/"},
            "@graph": [
                {"@id": "_:a", "link": {"@id": "_:b"}},
                {"@id": "_:b", "link": {"@id": "_:c"}},
                {"@id": "_:c", "link": {"@id": "_:a"}},
            ],
        },
        "easy": {
            "@context": {"@vocab": "http://v/"},
            "@id": "http://e/a",
            "p": [{"q": "x"}, {"q": "y"}],
        },
    }
    rows = [(k, json.dumps(v)) for k, v in sorted(gadget_docs.items())]
    docs = spark.createDataFrame(rows, ["conv_id", "doc"])
    triples, quarantine = split_quarantine(docs_to_triples(docs))
    assert quarantine.count() == 0
    labels = {}
    for r in canonical_labels(triples).collect():
        labels.setdefault(r.doc_id, {})[r.bnode] = r.label

    # Automorphic gadgets admit several equally-canonical mappings (ties are
    # broken by quad encounter order) — the canonical *document* is what must
    # match the reference (same criterion as runtests.py:455-476).
    by_doc = {}
    for r in triples.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, doc in gadget_docs.items():
        ref_nq = get_reference_jsonld().normalize(
            doc, {"algorithm": "URDNA2015", "format": "application/n-quads"}
        )
        mine = set()
        lab = labels.get(doc_id, {})
        for r in by_doc[doc_id]:
            subj = lab.get(r.subj, r.subj)
            obj = lab.get(r.obj_value, r.obj_value) if r.obj_kind == "blank node" else None
            if r.obj_kind == "IRI":
                o = f"<{r.obj_value}>"
            elif r.obj_kind == "blank node":
                o = obj
            else:
                o = f'"{r.obj_value}"'
            mine.add(f"{subj if subj.startswith('_:') else '<' + subj + '>'} <{r.pred}> {o} .")
        expected = {ln for ln in ref_nq.split("\n") if ln}
        assert mine == expected, f"{doc_id}:\n{sorted(mine)}\nvs\n{sorted(expected)}"


def test_canonicalize_triples_end_to_end(spark, sf_dir):
    """Relabeled triples table: canonical labels, no original _:dX_bN left."""
    from pyspark.sql import functions as F

    docs = assemble_documents(transcripts_from_events(spark, sf_dir)).limit(5)
    triples, _ = split_quarantine(docs_to_triples(docs))
    canon = canonicalize_triples(triples).cache()
    assert canon.count() == triples.count()
    n_old_style = canon.filter(
        F.col("subj").rlike("^_:d[0-9a-f]{16}_b\\d")
        | ((F.col("obj_kind") == "blank node") & F.col("obj_value").rlike("^_:d[0-9a-f]{16}_b\\d"))
    ).count()
    assert n_old_style == 0
    n_canon = canon.filter(F.col("subj").rlike("^_:d[0-9a-f]{16}_c14n")).count()
    assert n_canon > 0
