"""Differential tests: compaction vs the reference — expand each fixture with
its own context, then compact back with the same context and compare with the
reference's compact output (strict equality: compaction output order is
deterministic in both implementations)."""

from __future__ import annotations

import pytest

from pyld_spark.jsonld import api

from tests.fixtures_expand import EXPAND_FIXTURES
from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered

pytestmark = requires_reference

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

COMPACT_EXTRA = {
    "term_shortest_tiebreak": (
        {"@id": EX + "a", EX + "p": [{"@value": "v"}]},
        {"zz": EX + "p", "aa": EX + "p"},
    ),
    "curie_vs_term": (
        {"@id": EX + "a", EX + "deep/path": [{"@value": "v"}]},
        {"ex": {"@id": EX, "@prefix": True}},
    ),
    "language_map_roundtrip": (
        {"@id": EX + "a", EX + "p": [
            {"@value": "hello", "@language": "en"},
            {"@value": "hallo", "@language": "de"},
        ]},
        {"p": {"@id": EX + "p", "@container": "@language"}},
    ),
    "index_map_roundtrip": (
        {"@id": EX + "a", EX + "p": [
            {"@value": "x", "@index": "i1"},
            {"@value": "y", "@index": "i2"},
        ]},
        {"p": {"@id": EX + "p", "@container": "@index"}},
    ),
    "id_map_roundtrip": (
        {"@id": EX + "a", EX + "p": [
            {"@id": EX + "b", EX + "label": [{"@value": "B"}]},
            {"@id": EX + "c", EX + "label": [{"@value": "C"}]},
        ]},
        {"@vocab": EX, "p": {"@id": EX + "p", "@container": "@id"}},
    ),
    "type_map_roundtrip": (
        {"@id": EX + "a", EX + "p": [
            {"@id": EX + "b", "@type": [EX + "T1"]},
            {"@id": EX + "c", "@type": [EX + "T2"]},
        ]},
        {"@vocab": EX, "p": {"@id": EX + "p", "@container": "@type"}},
    ),
    "list_roundtrip": (
        {"@id": EX + "a", EX + "p": [{"@list": [
            {"@value": "x"}, {"@value": "y"}]}]},
        {"p": {"@id": EX + "p", "@container": "@list"}},
    ),
    "typed_value_match": (
        {"@id": EX + "a", EX + "d": [
            {"@value": "2020-01-01", "@type": XSD + "date"}]},
        {"d": {"@id": EX + "d", "@type": XSD + "date"}},
    ),
    "id_coercion": (
        {"@id": EX + "a", EX + "p": [{"@id": EX + "b"}]},
        {"p": {"@id": EX + "p", "@type": "@id"}},
    ),
    "vocab_coercion": (
        {"@id": EX + "a", EX + "p": [{"@id": EX + "term"}]},
        {"@vocab": EX, "p": {"@id": EX + "p", "@type": "@vocab"}},
    ),
    "reverse_compact": (
        {"@id": EX + "a", "@reverse": {EX + "parent": [
            {"@id": EX + "b"}, {"@id": EX + "c"}]}},
        {"children": {"@reverse": EX + "parent"}},
    ),
    "set_container_keeps_array": (
        {"@id": EX + "a", EX + "p": [{"@value": "only"}]},
        {"p": {"@id": EX + "p", "@container": "@set"}},
    ),
    "default_language_match": (
        {"@id": EX + "a", EX + "p": [{"@value": "bonjour", "@language": "fr"}]},
        {"@language": "fr", "p": EX + "p"},
    ),
    "graph_container": (
        {"@id": EX + "a", EX + "p": [
            {"@graph": [{"@id": EX + "b", EX + "q": [{"@value": "v"}]}]}]},
        {"@vocab": EX, "p": {"@id": EX + "p", "@container": "@graph"}},
    ),
    "base_relativize": (
        {"@id": EX + "dir/doc", EX + "p": [{"@id": EX + "dir/other"}]},
        {"p": {"@id": EX + "p", "@type": "@id"}},
    ),
}


def _ref_compact(doc, ctx, base=None):
    ref = get_reference_jsonld()
    opts = {}
    if base:
        opts["base"] = base
    return ref.compact(doc, {"@context": ctx} if not isinstance(ctx, dict) or "@context" not in ctx else ctx, options=opts)


@pytest.mark.parametrize("name", sorted(COMPACT_EXTRA))
def test_compact_matches_reference(name):
    expanded, ctx = COMPACT_EXTRA[name]
    base = EX + "dir/doc" if name == "base_relativize" else None
    expected = _ref_compact(expanded, ctx, base)
    opts = {"base": base} if base else {}
    actual = api.compact(expanded, ctx, opts)
    assert equal_unordered(actual, expected), (
        f"{name}:\nmine={actual!r}\nref ={expected!r}"
    )


@pytest.mark.parametrize("name", sorted(EXPAND_FIXTURES))
def test_roundtrip_compact_matches_reference(name):
    """expand(doc) then compact with the doc's own context — compare against
    the reference doing the same."""
    doc, base = EXPAND_FIXTURES[name]
    ctx = doc.get("@context")
    if ctx is None:
        pytest.skip("no context to compact with")
    ref = get_reference_jsonld()
    opts = {"base": base} if base else {}
    expected = ref.compact(doc, {"@context": ctx}, options=dict(opts))
    actual = api.compact(doc, ctx, dict(opts))
    assert equal_unordered(actual, expected), (
        f"{name}:\nmine={actual!r}\nref ={expected!r}"
    )
