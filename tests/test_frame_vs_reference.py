"""Differential tests: framing vs the reference processor."""

from __future__ import annotations

import pytest

from pyld_spark.jsonld import api

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered

pytestmark = requires_reference

EX = "http://example.org/"

LIBRARY_DOC = {
    "@context": {"@vocab": EX},
    "@graph": [
        {"@id": EX + "library", "@type": "Library",
         "contains": {"@id": EX + "book"}},
        {"@id": EX + "book", "@type": "Book", "title": "The Title",
         "contains": {"@id": EX + "chapter"}},
        {"@id": EX + "chapter", "@type": "Chapter", "title": "Chapter One"},
    ],
}

# name -> (input, frame, options)
FRAME_FIXTURES = {
    "by_type_embed": (
        LIBRARY_DOC,
        {"@context": {"@vocab": EX}, "@type": "Library"},
        {},
    ),
    "by_type_chain": (
        LIBRARY_DOC,
        {"@context": {"@vocab": EX}, "@type": "Library",
         "contains": {"@type": "Book", "contains": {"@type": "Chapter"}}},
        {},
    ),
    "by_id": (
        LIBRARY_DOC,
        {"@context": {"@vocab": EX}, "@id": EX + "book"},
        {},
    ),
    "wildcard": (
        {"@context": {"@vocab": EX},
         "@graph": [{"@id": EX + "a", "p": "1"}, {"@id": EX + "b", "q": "2"}]},
        {"@context": {"@vocab": EX}},
        {},
    ),
    "explicit_true": (
        LIBRARY_DOC,
        {"@context": {"@vocab": EX}, "@type": "Book", "title": {}},
        {"explicit": True},
    ),
    "embed_never": (
        LIBRARY_DOC,
        {"@context": {"@vocab": EX}, "@type": "Library",
         "contains": {"@embed": "@never"}},
        {},
    ),
    "default_value": (
        LIBRARY_DOC,
        {"@context": {"@vocab": EX}, "@type": "Book",
         "creator": {"@default": "Unknown"}},
        {},
    ),
    "match_none_property": (
        LIBRARY_DOC,
        {"@context": {"@vocab": EX}, "@type": "Chapter", "contains": []},
        {},
    ),
    "require_all": (
        {"@context": {"@vocab": EX}, "@graph": [
            {"@id": EX + "a", "@type": "T", "p": "1", "q": "2"},
            {"@id": EX + "b", "@type": "T", "p": "1"},
        ]},
        {"@context": {"@vocab": EX}, "@type": "T", "p": {}, "q": {}},
        {"requireAll": True},
    ),
    "value_pattern": (
        {"@context": {"@vocab": EX}, "@graph": [
            {"@id": EX + "a", "p": {"@value": "x", "@language": "en"}},
            {"@id": EX + "b", "p": {"@value": "y", "@language": "de"}},
        ]},
        {"@context": {"@vocab": EX}, "p": {"@value": {}, "@language": "en"}},
        {},
    ),
    "list_framing": (
        {"@context": {"@vocab": EX, "items": {"@id": EX + "items", "@container": "@list"}},
         "@id": EX + "a", "@type": "T",
         "items": [{"@id": EX + "x", "n": "1"}, {"@id": EX + "y", "n": "2"}]},
        {"@context": {"@vocab": EX, "items": {"@id": EX + "items", "@container": "@list"}},
         "@type": "T"},
        {},
    ),
    "bnode_prune": (
        {"@context": {"@vocab": EX},
         "@id": EX + "a", "p": {"q": "anonymous"}},
        {"@context": {"@vocab": EX}, "@id": EX + "a"},
        {},
    ),
}


@pytest.mark.parametrize("name", sorted(FRAME_FIXTURES))
def test_frame_matches_reference(name):
    doc, frame_doc, opts = FRAME_FIXTURES[name]
    ref = get_reference_jsonld()
    expected = ref.frame(doc, frame_doc, options=dict(opts))
    actual = api.frame(doc, frame_doc, dict(opts))
    assert equal_unordered(actual, expected), (
        f"{name}:\nmine={actual!r}\nref ={expected!r}"
    )
