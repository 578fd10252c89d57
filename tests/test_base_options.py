"""Wave N+17 regressions: the API base-option surface and the resolver
ladder quirks it exposed (reference iri_resolver.py:129-233 and the
option plumbing at jsonld.py:486/632/6100-6119).

Every case here was found by the ``apiopts`` differential axis and
verified against the reference before pinning. The pinned literals are
the expected values; the reference legs run only where the reference is
installed (``REFERENCE_PRESENT``).
"""

from __future__ import annotations

import json

import pytest

from pyld_spark.jsonld import api
from pyld_spark.jsonld.iri import remove_dot_segments, resolve_iri
from tests.ref_oracle import REFERENCE_PRESENT, get_reference_jsonld

P = "http://e/p"


def test_keep_free_floating_keeps_empty_object():
    # reference jsonld.py:2246-2257: keepFreeFloatingNodes skips the WHOLE
    # drop block, so even the empty node object survives expansion
    assert api.expand({}, {"keepFreeFloatingNodes": True}) == [{}]
    assert api.expand({"@context": {}}, {"keepFreeFloatingNodes": True}) == [{}]
    # without the option the empty object still drops
    assert api.expand({}, {}) == []


def test_keep_free_floating_keeps_bare_id_and_values():
    out = api.expand({"@id": "http://e/n"}, {"keepFreeFloatingNodes": True})
    assert out == [{"@id": "http://e/n"}]
    out = api.expand({"@value": "v"}, {"keepFreeFloatingNodes": True})
    assert out == [{"@value": "v"}]


def test_explicit_base_none_disables_all_resolution():
    # the reference resolve ladder (jsonld.py:6100-6119) requires
    # `base is not None` even for the in-context @base branch, so an
    # explicit base=None keeps EVERYTHING relative — including when the
    # context carries an absolute @base
    doc = {"@context": {"@base": "http://abs/"}, "@id": "x", P: 1}
    out = api.expand(dict(doc), {"base": None})
    assert out == [{"@id": "x", P: [{"@value": 1}]}]
    # and relative @vocab stays relative → property drops
    out = api.expand({"@context": {"@vocab": "rel/"}, "t": 1}, {"base": None})
    assert out == []


def test_empty_base_equals_absent_base():
    # reference setdefault base='' (jsonld.py:632) then the `base == ''`
    # ladder branch falls back to DEFAULT_BASE_IRI (jsonld.py:6114-6115)
    for opts in ({}, {"base": ""}):
        out = api.expand({"@id": "x", P: 1}, dict(opts))
        assert out == [
            {"@id": "http://example.org/base/x", P: [{"@value": 1}]}
        ], opts


def test_truthy_base_resolves_relative_base_and_ids():
    doc = {"@context": {"@base": "rel/"}, "@id": "x", P: 1}
    out = api.expand(dict(doc), {"base": "http://h/a/"})
    assert out == [{"@id": "http://h/a/rel/x", P: [{"@value": 1}]}]


def test_compact_skip_expansion_scalar_value_is_graceful():
    # the reference crashes with an UNCODED JsonLdError on non-arrayified
    # property values under skipExpansion; this engine treats them as
    # singletons (matching the reference's [4] → 4 compaction)
    out = api.compact({P: 4}, {}, {"skipExpansion": True})
    assert out == {P: 4}
    out = api.compact({P: [4]}, {}, {"skipExpansion": True})
    assert out == {P: 4}


def test_compact_skip_expansion_malformed_value_object_is_graceful():
    # @type None inside a raw value object under skipExpansion: the
    # reference crashes uncoded (jsonld.py value compaction); this engine
    # passes the malformed @type through
    out = api.compact(
        {"t": {"@value": "", "@type": None, "@index": "vi"}},
        {},
        {"skipExpansion": True},
    )
    assert out == {"t": {"@value": "", "@type": None, "@index": "vi"}}


def test_resolver_no_path_base_keeps_dot_segments():
    # iri_resolver.py:193-200: authority-only base concatenates
    # base + '/' + rel with the rel's own dot segments preserved
    assert resolve_iri("http://e", "../up") == "http://e/../up"
    assert resolve_iri("http://e", "x") == "http://e/x"
    # empty-authority base drops to scheme + rel
    assert resolve_iri("http://", "x") == "http:x"
    # opaque base with no path slash: scheme + rel (the 'x' is dropped)
    assert resolve_iri("urn:x", "y") == "urn:y"


def test_resolver_leading_dot_quirk():
    # iri_resolver.py:221-228: '.foo' (not '..', not './') loses its
    # leading dot when merged onto a non-slash-terminated base path
    assert resolve_iri("http://e/a/b", ".hidden") == "http://e/a/hidden"
    # but stays intact against a slash-terminated base path
    assert resolve_iri("http://e/a/", ".hidden") == "http://e/a/.hidden"
    # '..x' is a regular segment either way
    assert resolve_iri("http://e/a/b", "..x") == "http://e/a/..x"


def test_resolver_dot_segment_stop_at_query():
    # the reference's remove_dot_segments halts at '#'/'?'
    # (iri_resolver.py:77-84): '/..' inside a query is NOT a path segment
    assert resolve_iri("http://e/a/", "x?y=/../z") == "http://e/a/x?y=/../z"
    assert remove_dot_segments("/a/b?q=/../z") == "/a/b?q=/../z"
    # trailing '.'/'..' before a query collapses without the slash
    assert remove_dot_segments("/a/.?q") == "/a?q"
    assert remove_dot_segments("/a/..?q") == "/?q"
    # without a query the trailing slash appears
    assert remove_dot_segments("/a/.") == "/a/"
    assert remove_dot_segments("/a/..") == "/"


def test_resolver_colon_rel_is_opaque():
    # iri_resolver.py:174-176: ANY colon makes the value opaque
    assert resolve_iri("http://e/a/", "0#:") == "0#:"
    assert resolve_iri("http://e/a/", "a:b") == "a:b"


def test_expand_type_resolves_document_relatively_with_base():
    out = api.expand({"@type": "t", P: 1}, {"base": "http://h/"})
    assert out == [{"@type": ["http://h/t"], P: [{"@value": 1}]}]
    out = api.expand({"@type": "t", P: 1}, {"base": None})
    assert out == [{"@type": ["t"], P: [{"@value": 1}]}]


def test_relative_context_base_lazily_anchored_on_api_base():
    # the reference stores a relative in-context @base RAW when the active
    # base is null (jsonld.py:3400-3407: the eager-resolve branch requires a
    # non-None active @base) and then resolves it against the API base at
    # EVERY document-relative resolution (jsonld.py:6105-6110:
    # resolved_base = resolve(ctx_base, base)). Found by wave N+23 probes.
    ref = get_reference_jsonld() if REFERENCE_PRESENT else None
    doc = {"@context": [{"@base": None}, {"@base": "rel/"}],
           "@id": "doc", "http://e/p": "v"}
    opts = {"base": "http://b/"}
    expected = [{"@id": "http://b/rel/doc",
                 "http://e/p": [{"@value": "v"}]}]
    if REFERENCE_PRESENT:
        assert ref.expand(json.loads(json.dumps(doc)), dict(opts)) == expected
    assert api.expand(doc, dict(opts)) == expected
    # type-coerced @id values route through the same lazy anchor
    doc2 = {"@context": [{"@base": None}, {"@base": "r/"},
                         {"k": {"@id": "http://e/k", "@type": "@id"}}],
            "k": "obj"}
    expected2 = [{"http://e/k": [{"@id": "http://b/r/obj"}]}]
    if REFERENCE_PRESENT:
        assert ref.expand(json.loads(json.dumps(doc2)), dict(opts)) == expected2
    assert api.expand(doc2, dict(opts)) == expected2
    # with an ABSENT API base the reference ValueErrors on the lazy resolve
    # (bare resolve against '') — this engine anchors on its synthetic
    # document base instead: graceful crash-class divergence
    if REFERENCE_PRESENT:
        with pytest.raises(ValueError):
            ref.expand(json.loads(json.dumps(doc)), {})
    out = api.expand(doc, {})
    assert out[0]["@id"].endswith("/rel/doc")


def test_relative_context_base_anchored_in_compaction():
    # compact-side twin of the lazy anchor: the reference relativizes
    # against resolve(ctx_base, api_base) on EVERY compaction
    # (jsonld.py:5381), so a RAW relative @base still shortens IRIs when
    # the API base makes it absolute
    ref = get_reference_jsonld() if REFERENCE_PRESENT else None
    doc = [{"@id": "http://b/rel/doc", "http://e/p": [{"@value": "v"}]}]
    ctx = [{"@base": None}, {"@base": "rel/"}]
    opts = {"base": "http://b/"}
    expected = {"@context": [{"@base": None}, {"@base": "rel/"}],
                "@id": "doc", "http://e/p": "v"}
    if REFERENCE_PRESENT:
        assert ref.compact(json.loads(json.dumps(doc)),
                           json.loads(json.dumps(ctx)), dict(opts)) == expected
    assert api.compact(doc, ctx, dict(opts)) == expected
    # reference ValueErrors when the API base is absent; graceful here
    if REFERENCE_PRESENT:
        with pytest.raises(ValueError):
            ref.compact(json.loads(json.dumps(doc)),
                        json.loads(json.dumps(ctx)), {})
    out = api.compact(doc, ctx, {})
    assert "@id" in out


def test_property_scoped_relative_base_graceful():
    # a PROPERTY-scoped context carrying a relative @base crashes the
    # reference with a bare ValueError (its scoped-context processing
    # resolves eagerly against an empty base), while the equivalent
    # TYPE-scoped shape succeeds and lazily anchors on the API base
    # ("tscope/" -> http://b/tscope/). This engine treats both shapes the
    # same way: graceful, anchored on the API base.
    ref = get_reference_jsonld() if REFERENCE_PRESENT else None
    opts = {"base": "http://b/"}
    tdoc = {"@context": {"T": {"@id": "http://e/T",
                               "@context": {"@base": "tscope/"}}},
            "@type": "T", "@id": "self", "http://e/p": "v"}
    expected_t = [{"@id": "http://b/tscope/self", "@type": ["http://e/T"],
                   "http://e/p": [{"@value": "v"}]}]
    if REFERENCE_PRESENT:
        assert ref.expand(json.loads(json.dumps(tdoc)), dict(opts)) == expected_t
    assert api.expand(tdoc, dict(opts)) == expected_t
    pdoc = {"@context": {"n": {"@id": "http://e/n",
                               "@context": {"@base": "scope/"}}},
            "n": {"@id": "child", "http://e/p": "v"}}
    if REFERENCE_PRESENT:
        with pytest.raises(ValueError):
            ref.expand(json.loads(json.dumps(pdoc)), dict(opts))
    out = api.expand(pdoc, dict(opts))
    assert out == [{"http://e/n": [{"@id": "http://b/scope/child",
                                    "http://e/p": [{"@value": "v"}]}]}]


def test_none_document_api_matrix_matches_reference():
    # None documents: every op raises the coded loading error via the
    # NullRemoteDocument wrap (jsonld.py:641-653 — non-string inputs also
    # pass through the remote-doc envelope), EXCEPT compact, whose module
    # wrapper validates the context first and whose processor method then
    # early-returns None (jsonld.py:480-482). Wave N+24 probes.
    ref = get_reference_jsonld() if REFERENCE_PRESENT else None

    def code(fn, *a):
        try:
            return ("ok", fn(*a))
        except Exception as e:  # noqa: BLE001
            c, cd = e, getattr(e, "code", None)
            for _ in range(5):
                if cd is not None or c is None:
                    break
                c = getattr(c, "cause", None) or getattr(c, "__cause__", None)
                cd = getattr(c, "code", None) if c else None
            return ("err", cd)

    for f in (ref, api) if REFERENCE_PRESENT else (api,):
        assert code(f.expand, None) == ("err", "loading document failed")
        assert code(f.flatten, None) == ("err", "loading document failed")
        assert code(f.frame, None, {}) == ("err", "loading document failed")
        assert code(f.to_rdf, None) == ("err", "loading document failed")
        assert code(f.normalize, None) == ("err", "loading document failed")
        assert code(f.compact, None, {}) == ("ok", None)
        assert code(f.compact, None, None) == ("err", "invalid local context")
    # non-dataset from_rdf inputs: the reference dies with a bare
    # AttributeError; this engine raises a coded error
    if REFERENCE_PRESENT:
        with pytest.raises(Exception):
            ref.from_rdf(42, {})
    try:
        api.from_rdf(42, {})
        raise AssertionError("expected coded error")
    except Exception as e:  # noqa: BLE001
        assert getattr(e, "code", None) == "invalid input"
