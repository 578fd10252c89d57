"""Regression lock on the per-document JSON-LD stages.

``tests/goldens/doc_stages.json`` holds a fixed input set (the 15 sf0.001
transcript documents cut to their first 8 turns and untagged, so the triples
stage takes the general kernel,
plus planted bad rows: a null doc, invalid JSON and one document per
``JsonLdError`` code planted by ``perfbench/gen.py``) and every column each
stage emitted on it. The expected rows were recorded from the tree whose
stages were certified equal to the reference processor; they lock that
behaviour in place and are NOT new parity evidence.

Columns a stage gained later (the stats stages' ``error_code``) are not part
of the lock: each stage is compared on the columns recorded for it.

Regenerate (only when a behaviour change is intended and reviewed)::

    python -m tests.test_doc_stage_goldens <sf0.001 data dir>
"""

from __future__ import annotations

import json
import os
import sys

import pytest

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "goldens", "doc_stages.json")

VOCAB = "https://pyld-spark.example/vocab#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

# the invalid documents planted by perfbench/gen.py (INVALID_SHAPES), with
# the error code each must quarantine under
PLANTED = [
    ("planted-null", None),
    ("planted-badjson", "{not json"),
    ("planted-vocab", '{"@context": {"@vocab": 5}, "@id": "https://ex.org/bad/1", "a": 1}'),
    ("planted-type", '{"@id": "https://ex.org/bad/2", "@type": 5}'),
    ("planted-iri", '{"@context": {"x": {"@id": 5}}, "@id": "https://ex.org/bad/3", "x": 1}'),
    ("planted-lang", '{"@id": "https://ex.org/bad/4", "http://ex.org/p": '
                     '{"@value": "a", "@language": 5}}'),
    ("planted-base", '{"@context": {"@base": 5}, "@id": "https://ex.org/bad/5"}'),
]

COMPACT_CTX = {
    "@vocab": VOCAB,
    "turns": {"@id": VOCAB + "turns", "@container": "@list"},
    "idx": {"@id": VOCAB + "turnIndex", "@type": XSD + "integer"},
    "who": {"@id": VOCAB + "role"},
}
CONV_FRAME = {"@context": {"@vocab": VOCAB}, "@type": "Conversation"}
TOOL_FRAME = {"@context": {"@vocab": VOCAB}, "@type": "Turn", "tool": {}}

TRIPLE_COLS = ("doc_id string, subj string, pred string, obj_kind string, "
               "obj_value string, obj_datatype string, obj_language string, "
               "graph string")


def _pages(docs: list) -> list:
    """One HTML page per document (base href on every other page), plus
    planted pages: null html, invalid JSON in the script, no script."""
    pages = []
    for i, (doc_id, doc) in enumerate(docs):
        base = f'<base href="https://pages.example/root{i % 3}/">' if i % 2 else ""
        body = doc if doc is not None else ""
        pages.append((
            f"page-{doc_id}",
            f'<html><head>{base}<script type="application/ld+json">{body}'
            "</script></head><body>"
            '<script type="text/javascript">var x = 1;</script></body></html>',
            "https://site.example/p/" if i % 4 == 0 else None,
        ))
    pages += [
        ("page-null-html", None, None),
        ("page-no-script", "<html>no scripts</html>", None),
        ("page-bad-script", '<script type="application/ld+json">{bad</script>', None),
    ]
    return pages


def _planted_triples() -> list:
    """Triples that make every planted doc a frame candidate (so the bad doc
    reaches the per-document frame kernel), and one triples group whose
    fromRDF raises a spec error."""
    rows = []
    for doc_id, _doc in PLANTED:
        for pred, kind, val in (
            (RDF + "type", "IRI", VOCAB + "Conversation"),
            (RDF + "type", "IRI", VOCAB + "Turn"),
            (VOCAB + "tool", "literal", "t"),
        ):
            dt = XSD + "string" if kind == "literal" else None
            rows.append((doc_id, "https://ex.org/s", pred, kind, val, dt, None, "@default"))
    rows.append(("planted-json-literal", "https://ex.org/s", "https://ex.org/p",
                 "literal", "{bad", RDF + "JSON", None, "@default"))
    return rows


def _run_stages(spark, inputs: dict) -> dict:
    """Every per-document stage over the fixed inputs → {stage: DataFrame}."""
    from pyld_spark.operators.compact_stage import (
        compact_corpus_stats,
        compact_documents,
        flatten_corpus_stats,
    )
    from pyld_spark.operators.expand_stage import (
        docs_to_canonical_nquads,
        docs_to_triples,
        split_quarantine,
    )
    from pyld_spark.operators.frame_stage import (
        frame_corpus_stats,
        frame_documents,
        frame_match_stats,
    )
    from pyld_spark.operators.fromrdf_stage import triples_to_documents
    from pyld_spark.sources.html_ingest import html_to_documents

    docs = spark.createDataFrame(
        [tuple(d) for d in inputs["docs"]], "conv_id string, doc string"
    ).repartition(3)
    pages = spark.createDataFrame(
        [tuple(p) for p in inputs["pages"]], "page_id string, html string, url string"
    ).repartition(2)
    triples_all = docs_to_triples(docs)
    good, _ = split_quarantine(triples_all)
    candidates = good.unionByName(spark.createDataFrame(
        [tuple(r) for r in inputs["planted_triples"]], TRIPLE_COLS
    ))
    html_docs = html_to_documents(pages, url_col="url")
    return {
        "docs_to_triples": triples_all,
        "docs_to_triples_base_col": docs_to_triples(
            html_docs.filter("error_code is null"),
            id_col="doc_id", doc_col="doc", base_col="base",
        ),
        "docs_to_canonical_nquads": docs_to_canonical_nquads(docs),
        "compact_documents": compact_documents(docs, COMPACT_CTX),
        "flatten_corpus_stats": flatten_corpus_stats(docs),
        "compact_corpus_stats": compact_corpus_stats(
            docs, COMPACT_CTX, "turns", ["idx", "who"]
        ),
        "frame_documents": frame_documents(docs, CONV_FRAME),
        "frame_match_stats": frame_match_stats(
            docs, candidates, TOOL_FRAME, value_prop="tool",
            options={"requireAll": True},
        ),
        "frame_corpus_stats": frame_corpus_stats(docs, candidates, CONV_FRAME),
        "html_to_documents": html_docs,
        "triples_to_documents": triples_to_documents(candidates),
    }


def _sorted_rows(df, cols: list) -> list:
    return sorted(
        (list(r) for r in df.select(*cols).collect()),
        key=lambda r: json.dumps(r, ensure_ascii=False),
    )


def _load_goldens() -> dict:
    if not os.path.exists(GOLDEN_PATH):  # only while regenerating
        return {"inputs": {}, "outputs": {}}
    with open(GOLDEN_PATH, encoding="utf-8") as fh:
        return json.load(fh)


GOLDEN = _load_goldens()


@pytest.mark.parametrize("stage", sorted(GOLDEN["outputs"]))
def test_stage_matches_golden(spark, stage):
    expected = GOLDEN["outputs"][stage]
    df = _run_stages(spark, GOLDEN["inputs"])[stage]
    got = _sorted_rows(df, expected["columns"])
    assert len(got) == len(expected["rows"]), stage
    assert got == expected["rows"], stage


def _write_goldens(sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from pyld_spark.session import get_spark
    from pyld_spark.transcripts import assemble_documents, transcripts_from_events

    spark = get_spark("doc_stage_goldens", cpus=2, shuffle_partitions=4)
    assembled = assemble_documents(
        transcripts_from_events(spark, sf_dir).filter("turn_idx < 8")
    )
    docs = [
        (r.conv_id, r.doc)
        for r in assembled.select("conv_id", F.col("doc").alias("doc", metadata={}))
        .orderBy("conv_id").limit(20).collect()
    ] + PLANTED
    inputs = {
        "docs": [list(d) for d in docs],
        "pages": [list(p) for p in _pages(docs)],
        "planted_triples": [list(r) for r in _planted_triples()],
    }
    outputs = {}
    for stage, df in _run_stages(spark, inputs).items():
        cols = df.columns
        outputs[stage] = {"columns": cols, "rows": _sorted_rows(df, cols)}
    spark.stop()
    with open(GOLDEN_PATH, "w", encoding="utf-8") as fh:
        json.dump({"inputs": inputs, "outputs": outputs}, fh,
                  ensure_ascii=False, indent=0, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    _write_goldens(sys.argv[1])
