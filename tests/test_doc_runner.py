"""The per-document runner's quarantine policy, stage by stage: a bad
document becomes one row carrying its error code — never a task failure and
never an all-null row without a code."""

from __future__ import annotations

import datetime

from pyld_spark.operators.compact_stage import compact_corpus_stats, flatten_corpus_stats
from pyld_spark.operators.frame_stage import frame_corpus_stats, frame_match_stats
from pyld_spark.operators.fromrdf_stage import triples_to_documents
from pyld_spark.transcripts import VOCAB, XSD, assemble_documents

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
BAD_DOC = '{"@context": {"@vocab": 5}, "@id": "https://ex.org/bad/1", "a": 1}'
TRIPLE_COLS = ("doc_id string, subj string, pred string, obj_kind string, "
               "obj_value string, obj_datatype string, obj_language string, "
               "graph string")


def _codes(df) -> dict:
    return {r.doc_id: r.error_code for r in df.select("doc_id", "error_code").collect()}


def _docs(spark):
    """One good transcript doc ("c-1") and one with an invalid @vocab."""
    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    good = assemble_documents(spark.createDataFrame(
        [("c-1", 0, "user", "x", "debugger", ts0)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ))
    bad = spark.createDataFrame([("bad", BAD_DOC)], "conv_id string, doc string")
    return good.unionByName(bad)


def _candidate_triples(spark):
    """Triples making both docs candidates of the Conversation frame and the
    requireAll Turn+tool frame, so each doc reaches the frame kernel."""
    rows = []
    for doc_id, subj in (("c-1", "https://pyld-spark.example/conv/c-1"),
                         ("bad", "https://ex.org/bad/1")):
        rows += [
            (doc_id, subj, RDF_TYPE, "IRI", VOCAB + "Conversation", None, None, "@default"),
            (doc_id, subj, RDF_TYPE, "IRI", VOCAB + "Turn", None, None, "@default"),
            (doc_id, subj, VOCAB + "tool", "literal", "t", XSD + "string", None, "@default"),
        ]
    return spark.createDataFrame(rows, TRIPLE_COLS)


def test_stats_stages_quarantine_with_error_code(spark):
    docs = _docs(spark)
    triples = _candidate_triples(spark)
    ctx = {"@vocab": VOCAB, "turns": {"@id": VOCAB + "turns", "@container": "@list"}}
    frame_conv = {"@context": {"@vocab": VOCAB}, "@type": "Conversation"}
    frame_tool = {"@context": {"@vocab": VOCAB}, "@type": "Turn", "tool": {}}
    stages = {
        "flatten_corpus_stats": flatten_corpus_stats(docs),
        "compact_corpus_stats": compact_corpus_stats(docs, ctx, "turns", ["role"]),
        "frame_corpus_stats": frame_corpus_stats(docs, triples, frame_conv),
        "frame_match_stats": frame_match_stats(
            docs, triples, frame_tool, options={"requireAll": True}
        ),
    }
    for name, df in stages.items():
        assert df.columns[-1] == "error_code", name
        assert _codes(df) == {"c-1": None, "bad": "invalid vocab mapping"}, name
        bad = df.where("doc_id = 'bad'").first()
        assert all(v is None for v in bad[1:-1]), name


def test_triples_to_documents_quarantines_non_spec_errors(spark):
    """A null subject is not a JsonLdError: it used to fail the task."""
    rows = [
        ("ok", "https://ex.org/s", "https://ex.org/p", "literal", "v",
         XSD + "string", None, "@default"),
        ("null-subj", None, "https://ex.org/p", "literal", "v",
         XSD + "string", None, "@default"),
        ("bad-json-literal", "https://ex.org/s", "https://ex.org/p", "literal",
         "{bad", "http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON", None, "@default"),
    ]
    out = triples_to_documents(spark.createDataFrame(rows, TRIPLE_COLS))
    assert _codes(out) == {
        "ok": None,
        "null-subj": "internal error: AttributeError",
        "bad-json-literal": "invalid JSON literal",
    }
