"""Advanced framing: @reverse in frames, named-graph subframes, @embed
@always, omitDefault — differential vs the reference."""

from __future__ import annotations

import pytest

from pyld_spark.jsonld import api

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered

EX = "http://example.org/"

FIXTURES = {
    "reverse_in_frame": (
        {"@context": {"@vocab": EX}, "@graph": [
            {"@id": EX + "parent1", "child": {"@id": EX + "c"}},
            {"@id": EX + "parent2", "child": {"@id": EX + "c"}},
            {"@id": EX + "c", "@type": "Child", "name": "the child"},
        ]},
        {"@context": {"@vocab": EX}, "@type": "Child",
         "@reverse": {"child": {}}},
        {},
    ),
    "named_graph_subframe": (
        {"@context": {"@vocab": EX}, "@graph": [
            {"@id": EX + "g1", "@type": "Graph",
             "@graph": [{"@id": EX + "s", "p": "inside"}]},
        ]},
        {"@context": {"@vocab": EX}, "@type": "Graph",
         "@graph": {"p": {}}},
        {},
    ),
    "embed_always": (
        {"@context": {"@vocab": EX}, "@graph": [
            {"@id": EX + "a", "@type": "T", "ref": {"@id": EX + "x"}},
            {"@id": EX + "b", "@type": "T", "ref": {"@id": EX + "x"}},
            {"@id": EX + "x", "name": "shared"},
        ]},
        {"@context": {"@vocab": EX}, "@type": "T",
         "ref": {"@embed": "@always"}},
        {},
    ),
    "omit_default_true": (
        {"@context": {"@vocab": EX}, "@id": EX + "a", "@type": "T", "p": "v"},
        {"@context": {"@vocab": EX}, "@type": "T", "missing": {}},
        {"omitDefault": True},
    ),
    "require_all_with_default": (
        {"@context": {"@vocab": EX}, "@graph": [
            {"@id": EX + "a", "@type": "T", "p": "1"},
            {"@id": EX + "b", "@type": "T"},
        ]},
        {"@context": {"@vocab": EX}, "@type": "T",
         "p": {"@default": "dflt"}},
        {"requireAll": True},
    ),
    "frame_id_array": (
        {"@context": {"@vocab": EX}, "@graph": [
            {"@id": EX + "a", "p": "1"},
            {"@id": EX + "b", "p": "2"},
            {"@id": EX + "c", "p": "3"},
        ]},
        {"@context": {"@vocab": EX}, "@id": [EX + "a", EX + "c"]},
        {},
    ),
}


@requires_reference
@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_advanced_frame_matches_reference(name):
    doc, frame_doc, opts = FIXTURES[name]
    ref = get_reference_jsonld()
    expected = ref.frame(doc, frame_doc, options=dict(opts))
    actual = api.frame(doc, frame_doc, dict(opts))
    assert equal_unordered(actual, expected), (
        f"{name}:\nmine={actual!r}\nref ={expected!r}"
    )


def test_omit_graph_false_keeps_empty_node_vs_zero_nodes():
    # soak-found (round-4 framing-options axis): the @graph wrap is
    # COMPACTION's graph option (reference forces graph = not omitGraph,
    # jsonld.py:832-837) — only inside compact can "one empty node"
    # ([{}]) be told apart from "zero nodes" ([]); a post-hoc wrap of the
    # already-simplified {} loses the distinction
    one_empty = api.frame({"ex:curie": ""}, {},
                          {"explicit": True, "omitGraph": False})
    assert one_empty == {"@graph": [{}]}
    zero = api.frame({"ex:curie": ""}, {"@id": "http://nomatch/"},
                     {"omitGraph": False})
    assert zero == {"@graph": []}
