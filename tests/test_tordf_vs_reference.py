"""Differential tests: expand→nodemap→toRDF→N-Quads vs the reference, byte
for byte (including _:bN label sequences)."""

from __future__ import annotations

import json

import pytest

from pyld_spark.jsonld.context import initial_context
from pyld_spark.jsonld.expand import expand
from pyld_spark.jsonld.nquads import parse_nquads, serialize_quads
from pyld_spark.jsonld.rdf import canonical_double, to_rdf

from tests.fixtures_expand import EXPAND_FIXTURES
from tests.ref_oracle import get_reference_jsonld, requires_reference

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

TORDF_EXTRA = {
    "doubles": {
        "@context": {"@vocab": EX},
        "@id": EX + "a",
        "d1": 1.1, "d2": 123456789.123456789, "d3": 1e21, "d4": -0.000001,
        "d5": {"@value": 5, "@type": XSD + "double"},
        "d6": {"@value": "9.9", "@type": XSD + "double"},
    },
    "integers_bools": {
        "@context": {"@vocab": EX},
        "@id": EX + "a",
        "i": 0, "j": -7, "b": True, "f": False,
        "fi": 3.0,
    },
    "json_literal_tordf": {
        "@context": {"p": {"@id": EX + "p", "@type": "@json"}},
        "@id": EX + "a",
        "p": {"z": [1.5, "x"], "a": {"nested": True}, "n": None},
    },
    "lists_nested": {
        "@context": {"p": {"@id": EX + "p", "@container": "@list"}},
        "@id": EX + "a",
        "p": [["x", "y"], "z", []],
    },
    "bnodes": {
        "@context": {"@vocab": EX},
        "@id": EX + "a",
        "p": [{"q": "inner"}, {"@id": "_:explicit", "q": "labeled"}],
    },
    "named_graphs_tordf": {
        "@context": {"@vocab": EX},
        "@graph": [
            {"@id": EX + "g1", "@graph": [{"@id": EX + "s", "p": "v1"}]},
            {"@id": EX + "s", "p": "top"},
        ],
    },
    "bnode_graph_name": {
        "@context": {"@vocab": EX},
        "@graph": [{"@graph": [{"@id": EX + "s", "p": "v"}]}],
    },
    "lang_tagged": {
        "@context": {"@vocab": EX, "@language": "en"},
        "@id": EX + "a",
        "p": ["hello", {"@value": "bonjour", "@language": "FR"}],
    },
    "relative_dropped": {
        "@context": {"@vocab": EX},
        "@id": EX + "a",
        "p": {"@id": "http://ok/b"},
    },
    "escaping": {
        "@context": {"@vocab": EX},
        "@id": EX + "a",
        "p": 'quote " back \\ tab \t nl \n cr \r end',
    },
    "reverse_tordf": {
        "@context": {"children": {"@reverse": EX + "parent"}, "@vocab": EX},
        "@id": EX + "a",
        "children": [{"@id": EX + "b"}, {"q": "bnode child"}],
    },
    "shared_list_values": {
        "@context": {"@vocab": EX},
        "@id": EX + "a",
        "p": {"@list": [1, 2.5, True, "s", {"@id": EX + "n"}]},
    },
}


def my_nquads(doc, base=None):
    ctx = initial_context(base=base)
    expanded = expand(doc, context=ctx, base_url=base)
    quads = to_rdf(expanded)
    return serialize_quads(quads)


@requires_reference
@pytest.mark.parametrize("name", sorted(EXPAND_FIXTURES))
def test_tordf_matches_reference_on_expand_fixtures(name):
    doc, base = EXPAND_FIXTURES[name]
    ref = get_reference_jsonld()
    opts = {"format": "application/n-quads"}
    if base:
        opts["base"] = base
    expected = ref.to_rdf(doc, options=dict(opts))
    actual = my_nquads(doc, base=base)
    assert actual == expected, f"{name}:\nmine:\n{actual}\nref:\n{expected}"


@requires_reference
@pytest.mark.parametrize("name", sorted(TORDF_EXTRA))
def test_tordf_matches_reference_extra(name):
    doc = TORDF_EXTRA[name]
    ref = get_reference_jsonld()
    expected = ref.to_rdf(doc, options={"format": "application/n-quads"})
    actual = my_nquads(doc)
    assert actual == expected, f"{name}:\nmine:\n{actual}\nref:\n{expected}"


@requires_reference
def test_canonical_double_forms():
    ref = get_reference_jsonld()
    for v in [1.1, 0.000001, 1e21, -1e21, 123456789.123456789, 5.0, -0.0, 1.0 / 3.0]:
        expected = ref.to_rdf(
            {"@context": {"p": "http://e/p"}, "@id": "http://e/a",
             "p": {"@value": v, "@type": XSD + "double"}},
            options={"format": "application/n-quads"},
        )
        mine = canonical_double(v)
        assert f'"{mine}"' in expected, f"{v}: {mine} not in {expected}"


def test_nquads_roundtrip():
    doc = TORDF_EXTRA["escaping"]
    nq = my_nquads(doc)
    quads = parse_nquads(nq)
    assert serialize_quads(quads) == nq


@requires_reference
def test_transcript_docs_tordf_matches_reference(spark, sf_dir):
    """Flagship path parity: assembled conversation docs → triples must match
    the reference's to_rdf byte-for-byte (labels included)."""
    from pyld_spark.transcripts import assemble_documents, transcripts_from_events

    ref = get_reference_jsonld()
    docs = assemble_documents(transcripts_from_events(spark, sf_dir)).limit(8).collect()
    assert docs
    for row in docs:
        doc = json.loads(row.doc)
        expected = ref.to_rdf(doc, options={"format": "application/n-quads"})
        actual = my_nquads(doc)
        assert actual == expected, f"conv {row.conv_id} mismatch"


@requires_reference
def test_to_rdf_without_format_returns_dataset_dict():
    # no-format to_rdf returns the reference's RDF-dataset dict shape
    # ({graph: [{subject, predicate, object}]}), with the default graph
    # key always present even when empty — byte-comparable to the
    # reference and directly consumable by from_rdf
    import json as _json

    from pyld_spark.jsonld import api

    ref = get_reference_jsonld()
    for doc in (
        {"@id": "http://e/s", "http://e/p": ["v", {"@id": "http://e/o"}]},
        {"@graph": [{"@id": "http://e/a", "http://e/p": "x"}],
         "@id": "http://e/g"},
        {},
    ):
        r = ref.to_rdf(_json.loads(_json.dumps(doc)), {})
        m = api.to_rdf(_json.loads(_json.dumps(doc)), {})
        assert _json.dumps(m, sort_keys=True) == _json.dumps(r, sort_keys=True)
        assert "@default" in m
        # the dict round-trips through this engine's from_rdf
        assert api.from_rdf(m, {}) == ref.from_rdf(r, {})
