"""Differential test for api.get_context_value vs the reference's
JsonLdProcessor.get_context_value (jsonld.py:1271-1310): both process the
same local context, then every (key, type_) combination must return the
same value — the context-level @language/@direction default as fallback,
the term entry's value when present, None for nulled terms."""

import pytest

from tests.ref_oracle import get_reference_jsonld, requires_reference

from pyld_spark.jsonld import api

pytestmark = requires_reference

CTX = {
    "@language": "en",
    "@direction": "rtl",
    "plain": "http://e/plain",
    "typed": {"@id": "http://e/typed", "@type": "@id"},
    "lang": {"@id": "http://e/lang", "@language": "fr"},
    "nolang": {"@id": "http://e/nolang", "@language": None},
    "dir": {"@id": "http://e/dir", "@direction": "ltr"},
    "nodir": {"@id": "http://e/dir2", "@direction": None},
    "cont": {"@id": "http://e/cont", "@container": ["@set", "@index"]},
    "rev": {"@reverse": "http://e/rev"},
    "nested": {"@id": "http://e/nested", "@nest": "@nest"},
    "idx": {"@id": "http://e/idx", "@container": "@index",
            "@index": "http://e/prop"},
    "pfx": {"@id": "http://e/pfx#", "@prefix": True},
    "prot": {"@id": "http://e/prot", "@protected": True},
    "nulled": None,
}

KEYS = list(CTX) + ["missing", None]
TYPES = [None, "@id", "@type", "@language", "@direction", "@container",
         "@nest", "@index", "reverse", "protected", "_prefix", "@bogus"]


def _contexts():
    ref = get_reference_jsonld()
    proc = ref.JsonLdProcessor()
    resolver = ref.ContextResolver({}, ref.dummy_document_loader())
    opts = {"base": "http://e/doc", "contextResolver": resolver,
            "processingMode": "json-ld-1.1"}
    ref_ctx = proc.process_context(proc._get_initial_context(opts), CTX, opts)
    my_ctx = api.process_context(
        api.initial_context(base="http://e/doc"), CTX, "http://e/doc"
    )
    return ref, ref_ctx, my_ctx


@pytest.mark.parametrize("type_", TYPES)
def test_get_context_value_matches_reference(type_):
    ref, ref_ctx, my_ctx = _contexts()
    for key in KEYS:
        r = ref.JsonLdProcessor.get_context_value(ref_ctx, key, type_)
        m = api.get_context_value(my_ctx, key, type_)
        if type_ is None and isinstance(r, dict):
            # whole-entry lookups return engine-native structures (dict vs
            # TermDef) — compare the fields both engines expose; a NULLED
            # term is a full entry with @id None in both engines
            assert m is not None, key
            assert r.get("@id") == m.iri, key
            assert bool(r.get("reverse")) == m.reverse, key
            assert bool(r.get("protected")) == m.protected, key
        else:
            assert m == r, (key, type_, r, m)
