"""End-to-end Spark pipeline tests: transcripts → assembly → expansion →
triples/canonical N-Quads, cross-checked against the reference processor and
against the pure-SQL triple projection."""

from __future__ import annotations

import json
import re

from pyld_spark.operators.expand_stage import (
    docs_to_canonical_nquads,
    docs_to_triples,
    split_quarantine,
)
from pyld_spark.operators.triples import turn_literal_triples
from pyld_spark.transcripts import (
    VOCAB,
    assemble_documents,
    transcripts_from_events,
)

from tests.ref_oracle import get_reference_jsonld, requires_reference


def _denamespace(v):
    return re.sub(r"^_:d[0-9a-f]{16}_", "_:", v) if isinstance(v, str) else v


@requires_reference
def test_docs_to_triples_matches_reference(spark, sf_dir):
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    some = docs.limit(5).cache()
    out, quarantine = split_quarantine(docs_to_triples(some))
    assert quarantine.count() == 0
    mine = {}
    for r in out.collect():
        mine.setdefault(r.doc_id, set()).add(
            (_denamespace(r.subj), r.pred, r.obj_kind, _denamespace(r.obj_value),
             r.obj_datatype, r.obj_language, _denamespace(r.graph))
        )
    ref = get_reference_jsonld()
    for row in some.collect():
        dataset = ref.to_rdf(json.loads(row.doc))
        expected = set()
        for gname, triple_list in dataset.items():
            for t in triple_list:
                o = t["object"]
                expected.add((
                    t["subject"]["value"], t["predicate"]["value"],
                    o["type"], o["value"],
                    o.get("datatype") if o["type"] == "literal" else None,
                    o.get("language"), gname,
                ))
        assert mine[row.conv_id] == expected, f"conv {row.conv_id}"


def test_pipeline_triples_superset_of_sql_projection(spark, sf_dir):
    """The pure-SQL M0 projection must agree exactly with the full JSON-LD
    path on its predicates (rdf:type Turn, turnIndex, role, text, tool)."""
    t = transcripts_from_events(spark, sf_dir)
    docs = assemble_documents(t)
    full, _ = split_quarantine(docs_to_triples(docs))
    preds = [VOCAB + p for p in ("turnIndex", "role", "text", "tool")]
    full_subset = {
        (r.subj, r.pred, r.obj_kind, r.obj_value, r.obj_datatype, r.obj_language)
        for r in full.collect()
        if r.pred in preds or (r.obj_value == VOCAB + "Turn")
    }
    sql_subset = {tuple(r) for r in turn_literal_triples(t).collect()}
    assert sql_subset == full_subset


def test_per_turn_text_equality_invariant(spark, sf_dir):
    """BASELINE.json input_hint invariant, checked through the full pipeline:
    every (turn_iri, text) from the source table appears as a conv:text triple
    and vice versa."""
    from pyspark.sql import functions as F

    from pyld_spark.transcripts import turn_iri

    t = transcripts_from_events(spark, sf_dir)
    docs = assemble_documents(t)
    triples, _ = split_quarantine(docs_to_triples(docs))
    emitted = triples.filter(F.col("pred") == VOCAB + "text").select(
        F.col("subj"), F.col("obj_value").alias("text")
    )
    source = t.select(
        turn_iri(F.col("conv_id"), F.col("turn_idx")).alias("subj"), "text"
    )
    diff1 = emitted.exceptAll(source).count()
    diff2 = source.exceptAll(emitted).count()
    assert diff1 == 0 and diff2 == 0


def test_quarantine_rows(spark):
    bad = spark.createDataFrame(
        [
            ("good", json.dumps({"@id": "http://e/a", "http://e/p": "v"})),
            ("bad-json", "{not json"),
            ("bad-jsonld", json.dumps(
                {"@id": "http://e/a",
                 "http://e/p": {"@value": "x", "@language": "en",
                                "@type": "http://e/T"}})),
        ],
        ["conv_id", "doc"],
    )
    good, quarantine = split_quarantine(docs_to_triples(bad))
    q = {r.doc_id: r.error_code for r in quarantine.collect()}
    assert set(q) == {"bad-json", "bad-jsonld"}
    assert q["bad-jsonld"] == "invalid value object"
    assert good.count() == 1


@requires_reference
def test_docs_to_canonical_nquads_matches_reference(spark, sf_dir):
    docs = assemble_documents(transcripts_from_events(spark, sf_dir)).limit(3).cache()
    out, quarantine = split_quarantine(docs_to_canonical_nquads(docs))
    assert quarantine.count() == 0
    ref = get_reference_jsonld()
    mine = {r.doc_id: r.nquads for r in out.collect()}
    for row in docs.collect():
        expected = ref.normalize(
            json.loads(row.doc),
            {"algorithm": "URDNA2015", "format": "application/n-quads"},
        )
        assert mine[row.conv_id] == expected
