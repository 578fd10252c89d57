"""Differential tests: URDNA2015/URGNA2012 vs the reference normalize."""

from __future__ import annotations

import json

import pytest

from pyld_spark.jsonld.canon import canonize_quads
from pyld_spark.jsonld.context import initial_context
from pyld_spark.jsonld.expand import expand
from pyld_spark.jsonld.rdf import to_rdf

from tests.ref_oracle import get_reference_jsonld, requires_reference

pytestmark = requires_reference

EX = "http://example.org/"

CANON_FIXTURES = {
    "no_bnodes": {
        "@context": {"@vocab": EX}, "@id": EX + "a", "p": "v",
    },
    "simple_bnodes": {
        "@context": {"@vocab": EX}, "@id": EX + "a",
        "p": [{"q": "x"}, {"q": "y"}],
    },
    "list_chain": {
        "@context": {"p": {"@id": EX + "p", "@container": "@list"}},
        "@id": EX + "a", "p": ["1", "2", "3", "4"],
    },
    "symmetric_pair": {
        # two bnodes referencing each other with identical shape: needs
        # n-degree disambiguation
        "@context": {"@vocab": EX},
        "@graph": [
            {"@id": "_:a", "link": {"@id": "_:b"}},
            {"@id": "_:b", "link": {"@id": "_:a"}},
        ],
    },
    "symmetric_triple_cycle": {
        "@context": {"@vocab": EX},
        "@graph": [
            {"@id": "_:a", "link": {"@id": "_:b"}},
            {"@id": "_:b", "link": {"@id": "_:c"}},
            {"@id": "_:c", "link": {"@id": "_:a"}},
        ],
    },
    "two_disjoint_pairs": {
        "@context": {"@vocab": EX},
        "@graph": [
            {"@id": "_:a", "link": {"@id": "_:b"}},
            {"@id": "_:b", "link": {"@id": "_:a"}},
            {"@id": "_:c", "link": {"@id": "_:d"}},
            {"@id": "_:d", "link": {"@id": "_:c"}},
        ],
    },
    "grid_gadget": {
        "@context": {"@vocab": EX},
        "@graph": [
            {"@id": "_:a", "e": [{"@id": "_:b"}, {"@id": "_:c"}]},
            {"@id": "_:b", "e": [{"@id": "_:d"}]},
            {"@id": "_:c", "e": [{"@id": "_:d"}]},
            {"@id": "_:d", "e": [{"@id": "_:a"}]},
        ],
    },
    "bnode_graph_names": {
        "@context": {"@vocab": EX},
        "@graph": [
            {"@graph": [{"@id": EX + "s", "p": {"@id": "_:x"}}]},
            {"@id": "_:x", "p": "v"},
        ],
    },
    "mixed_literals": {
        "@context": {"@vocab": EX},
        "@id": EX + "a",
        "p": [{"q": 1}, {"q": 1.5}, {"q": True}, {"q": {"@value": "s", "@language": "en"}}],
    },
    "four_cycle_pendant": {
        # automorphic 4-cycle broken only by one pendant literal — URGNA2012's
        # sha1/position rules and URDNA2015's related-hash rules diverge
        # exactly here
        "@context": {"@vocab": EX},
        "@graph": [
            {"@id": "_:a", "n": {"@id": "_:b"}, "m": "x"},
            {"@id": "_:b", "n": {"@id": "_:c"}},
            {"@id": "_:c", "n": {"@id": "_:d"}},
            {"@id": "_:d", "n": {"@id": "_:a"}},
        ],
    },
    "twin_subtrees_depth2": {
        # identical first-degree hashes; only depth-2 leaves differ
        "@context": {"@vocab": EX},
        "@graph": [
            {"@id": "_:r", "c": [{"@id": "_:l"}, {"@id": "_:m"}]},
            {"@id": "_:l", "v": {"@id": "_:l2"}},
            {"@id": "_:m", "v": {"@id": "_:m2"}},
            {"@id": "_:l2", "x": "1"},
            {"@id": "_:m2", "x": "2"},
        ],
    },
    "shared_sink": {
        # two sources into one shared sink: r-position (URGNA2012) vs
        # reference-direction rules (URDNA2015) stress
        "@context": {"@vocab": EX},
        "@graph": [
            {"@id": "_:a", "p": {"@id": "_:c"}, "r": "only-a"},
            {"@id": "_:b", "p": {"@id": "_:c"}},
            {"@id": "_:c", "q": "leaf"},
        ],
    },
    "star_permutation_stress": {
        # one hub with 4 indistinguishable spokes: forces the permutation
        # loop in hash-n-degree
        "@context": {"@vocab": EX},
        "@graph": [
            {
                "@id": "_:hub",
                "s": [
                    {"@id": "_:s1"}, {"@id": "_:s2"},
                    {"@id": "_:s3"}, {"@id": "_:s4"},
                ],
            },
            {"@id": "_:s1", "b": {"@id": "_:hub"}},
            {"@id": "_:s2", "b": {"@id": "_:hub"}},
            {"@id": "_:s3", "b": {"@id": "_:hub"}},
            {"@id": "_:s4", "b": {"@id": "_:hub"}},
        ],
    },
    "deep_chain_10": {
        "@context": {"@vocab": EX},
        "@graph": [
            {"@id": f"_:n{i}", "next": {"@id": f"_:n{i + 1}"}}
            for i in range(10)
        ] + [{"@id": "_:n10", "end": "tail"}],
    },
}


def _my_normalize(doc, algorithm):
    ctx = initial_context()
    quads = to_rdf(expand(doc, context=ctx))
    return canonize_quads(quads, algorithm)


@pytest.mark.parametrize("algorithm", ["URDNA2015", "URGNA2012"])
@pytest.mark.parametrize("name", sorted(CANON_FIXTURES))
def test_normalize_matches_reference(name, algorithm):
    doc = CANON_FIXTURES[name]
    ref = get_reference_jsonld()
    expected = ref.normalize(
        doc, {"algorithm": algorithm, "format": "application/n-quads"}
    )
    actual = _my_normalize(doc, algorithm)
    assert actual == expected, f"{name}/{algorithm}:\nmine:\n{actual}\nref:\n{expected}"


def test_transcript_docs_normalize_matches_reference(spark, sf_dir):
    from pyld_spark.transcripts import assemble_documents, transcripts_from_events

    ref = get_reference_jsonld()
    docs = assemble_documents(transcripts_from_events(spark, sf_dir)).limit(4).collect()
    for row in docs:
        doc = json.loads(row.doc)
        expected = ref.normalize(
            doc, {"algorithm": "URDNA2015", "format": "application/n-quads"}
        )
        actual = _my_normalize(doc, "URDNA2015")
        assert actual == expected, f"conv {row.conv_id} mismatch"
