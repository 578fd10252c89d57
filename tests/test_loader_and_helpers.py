"""Remote-context loading (@context URLs, @import, cycles) and the record
helpers — differential against the reference where it exposes behavior."""

from __future__ import annotations

import pytest

from pyld_spark.jsonld import api
from pyld_spark.jsonld.context import DocumentLoader
from pyld_spark.jsonld.errors import JsonLdError

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered

EX = "http://example.org/"

REMOTE_DOCS = {
    "http://ctx.example/v1": {"@context": {"name": EX + "name", "@vocab": EX}},
    "http://ctx.example/chained": {"@context": ["http://ctx.example/v1",
                                                {"extra": EX + "extra"}]},
    "http://ctx.example/importbase": {"@context": {"base": EX + "fromImport"}},
    "http://ctx.example/withimport": {
        "@context": {"@import": "http://ctx.example/importbase",
                     "local": EX + "local"}
    },
    "http://ctx.example/cycle-a": {"@context": "http://ctx.example/cycle-b"},
    "http://ctx.example/cycle-b": {"@context": "http://ctx.example/cycle-a"},
}


def _ref_loader():
    import copy

    def loader(url, options=None):
        if url in REMOTE_DOCS:
            # deepcopy: the reference annotates loaded context dicts in
            # place (_uuid), which would pollute the shared fixture
            return {"document": copy.deepcopy(REMOTE_DOCS[url]),
                    "documentUrl": url, "contextUrl": None}
        raise Exception(f"not preloaded: {url}")

    return loader


def _opts():
    return {"documentLoader": DocumentLoader(REMOTE_DOCS)}


@requires_reference
def test_remote_context_url():
    doc = {"@context": "http://ctx.example/v1", "@id": EX + "a", "name": "X"}
    ref = get_reference_jsonld()
    expected = ref.expand(doc, options={"documentLoader": _ref_loader()})
    actual = api.expand(doc, _opts())
    assert equal_unordered(actual, expected)


@requires_reference
def test_chained_remote_contexts():
    doc = {"@context": "http://ctx.example/chained", "@id": EX + "a",
           "name": "X", "extra": "Y"}
    ref = get_reference_jsonld()
    expected = ref.expand(doc, options={"documentLoader": _ref_loader()})
    actual = api.expand(doc, _opts())
    assert equal_unordered(actual, expected)


@requires_reference
def test_context_import():
    doc = {"@context": "http://ctx.example/withimport", "@id": EX + "a",
           "base": "B", "local": "L"}
    ref = get_reference_jsonld()
    expected = ref.expand(doc, options={"documentLoader": _ref_loader()})
    actual = api.expand(doc, _opts())
    assert equal_unordered(actual, expected)


def test_cyclic_context_error():
    doc = {"@context": "http://ctx.example/cycle-a", "@id": EX + "a"}
    with pytest.raises(JsonLdError) as ei:
        api.expand(doc, _opts())
    # reference parity: modern pyld reports cyclic inclusion as overflow
    assert ei.value.code == "context overflow"


def test_unknown_url_fails():
    doc = {"@context": "http://ctx.example/nope", "@id": EX + "a"}
    with pytest.raises(JsonLdError) as ei:
        api.expand(doc, _opts())
    assert ei.value.code == "loading remote context failed"


def test_record_helpers():
    from pyld_spark.jsonld.nodemap import (
        add_value,
        get_values,
        has_property,
        has_value,
        remove_property,
        remove_value,
    )

    node = {"@id": EX + "a"}
    add_value(node, "p", {"@value": 1}, allow_duplicate=False)
    add_value(node, "p", {"@value": 1}, allow_duplicate=False)
    add_value(node, "p", {"@value": True}, allow_duplicate=False)  # bool != 1
    assert get_values(node, "p") == [{"@value": 1}, {"@value": True}]
    assert has_property(node, "p") and not has_property(node, "q")
    assert has_value(node, "p", {"@value": 1})
    assert not has_value(node, "p", {"@value": 2})
    remove_value(node, "p", {"@value": 1})
    assert node["p"] == {"@value": True}
    remove_property(node, "p")
    assert "p" not in node


REMOTE_JSONLD = {
    "http://x.example/doc": {
        "@context": {"@vocab": EX}, "@id": "rel", "@type": "T", "p": "v",
    },
    "http://x.example/frame": {"@context": {"@vocab": EX}, "@type": "T"},
}


@requires_reference
def test_string_inputs_are_remote_documents():
    """expand/to_rdf/compact/frame accept document (and frame) IRIs, fetched
    through the frozen loader with the base defaulting to the document URL
    (reference jsonld.py:690-725); without a loader they raise."""
    import copy

    ref = get_reference_jsonld()

    def ref_loader(url, options=None):
        if url not in REMOTE_JSONLD:
            raise Exception(f"nope: {url}")
        return {"contextUrl": None,
                "document": copy.deepcopy(REMOTE_JSONLD[url]),
                "documentUrl": url}

    mine = api.expand("http://x.example/doc", {"documentLoader": REMOTE_JSONLD})
    theirs = ref.expand("http://x.example/doc", options={"documentLoader": ref_loader})
    assert mine == theirs
    assert mine[0]["@id"] == "http://x.example/rel"  # base = document URL

    m2 = api.frame(
        copy.deepcopy(REMOTE_JSONLD["http://x.example/doc"]),
        "http://x.example/frame", {"documentLoader": REMOTE_JSONLD},
    )
    t2 = ref.frame(
        copy.deepcopy(REMOTE_JSONLD["http://x.example/doc"]),
        "http://x.example/frame", options={"documentLoader": ref_loader},
    )
    assert equal_unordered(m2, t2)

    with pytest.raises(JsonLdError) as ei:
        api.expand("http://x.example/doc")
    assert ei.value.code == "loading document failed"


def test_compact_null_context_raises():
    with pytest.raises(JsonLdError) as ei:
        api.compact({"@id": EX + "s"}, None)
    assert ei.value.code == "invalid local context"
