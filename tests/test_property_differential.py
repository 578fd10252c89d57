"""Property-based differential testing: random JSON-LD documents through
expand → toRDF → URDNA2015 must agree with the reference byte-for-byte
(or raise the same spec error code)."""

from __future__ import annotations

import json
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.ref_oracle import get_reference_jsonld, requires_reference

pytestmark = requires_reference

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

CONTEXT = {
    "@version": 1.1,
    "@vocab": EX,
    "ex": EX,
    "name": EX + "name",
    "knows": {"@id": EX + "knows", "@type": "@id"},
    "items": {"@id": EX + "items", "@container": "@list"},
    "tags": {"@id": EX + "tags", "@container": "@set"},
    "byLang": {"@id": EX + "byLang", "@container": "@language"},
    "byIdx": {"@id": EX + "byIdx", "@container": "@index"},
    "when": {"@id": EX + "when", "@type": XSD + "dateTime"},
    "blob": {"@id": EX + "blob", "@type": "@json"},
    "label": {"@id": EX + "label", "@language": "en"},
    "rev": {"@reverse": EX + "rev"},
    "sub": {"@id": EX + "sub", "@container": "@graph"},
    "meta": "@nest",
    "dirp": {"@id": EX + "dirp", "@direction": "rtl", "@language": "ar"},
    "T1": {"@id": EX + "T1", "@context": {"scoped": EX + "scoped"}},
}

scalars = st.one_of(
    st.text(max_size=12),
    st.integers(min_value=-10**12, max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
)

ids = st.one_of(
    st.sampled_from([
        EX + "a", EX + "b", EX + "c", "_:x", "_:y", "rel-iri",
        "0#:", "x:y", ":", "a#b:c",
    ]),
)

value_objects = st.fixed_dictionaries(
    {"@value": scalars},
    optional={
        "@language": st.sampled_from(["en", "FR", "de-DE"]),
        "@index": st.sampled_from(["i0", "i1"]),
        "@direction": st.sampled_from(["ltr", "rtl"]),
    },
)


def nodes(depth: int):
    if depth <= 0:
        leaf = st.one_of(scalars, value_objects)
        return leaf
    child = st.deferred(lambda: nodes(depth - 1))
    values = st.one_of(
        scalars,
        value_objects,
        child,
        st.lists(st.one_of(scalars, child), max_size=3),
    )
    return st.fixed_dictionaries(
        {},
        optional={
            "@id": ids,
            "@type": st.sampled_from(["T1", "T2", EX + "T3"]),
            "name": values,
            "knows": values,
            "items": st.lists(st.one_of(scalars, child), max_size=3),
            "tags": values,
            "byLang": st.dictionaries(
                st.sampled_from(["en", "de", "@none"]), st.text(max_size=6),
                max_size=2,
            ),
            "byIdx": st.dictionaries(
                st.sampled_from(["k1", "k2"]),
                st.one_of(scalars, st.lists(scalars, max_size=2)),
                max_size=2,
            ),
            "when": st.sampled_from(["2020-01-01T00:00:00Z", "bad date"]),
            "blob": st.recursive(
                st.one_of(st.none(), scalars),
                lambda c: st.one_of(
                    st.lists(c, max_size=3),
                    st.dictionaries(st.text(max_size=5), c, max_size=3),
                ),
                max_leaves=6,
            ),
            "label": st.text(max_size=8),
            "rev": st.fixed_dictionaries({"@id": ids}),
            "sub": child,
            "meta": st.fixed_dictionaries(
                {}, optional={"name": st.text(max_size=6), "tags": scalars}
            ),
            "dirp": st.text(max_size=8),
            "scoped": st.text(max_size=6),
        },
    )


documents = st.builds(
    lambda body, graphed: (
        {"@context": CONTEXT, "@graph": [body]} if graphed
        else {"@context": CONTEXT, **body}
    ),
    nodes(2),
    st.booleans(),
)


@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(documents)
def test_expand_tordf_normalize_match_reference(doc):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()

    def ref_error_code(e):
        # walk the cause chain like the reference harness does
        # (/root/reference/tests/runtests.py:582-595); to_rdf wraps expansion
        # errors in a code-less RdfError, so a None code means "some error".
        # A chain bottoming out in a plain Python error (TypeError etc.) is
        # an internal reference CRASH — e.g. a @list item whose relative-IRI
        # node drops to None and gets subscripted (jsonld.py:3905-3913) —
        # not a spec error; we don't reproduce crashes.
        cur = e
        is_crash = not isinstance(e, ref.JsonLdError)
        while cur is not None:
            code = getattr(cur, "code", None)
            if code:
                return code
            details = getattr(cur, "details", None)
            cur = details.get("cause") if isinstance(details, dict) else None
        return "crash" if is_crash else "error"

    ref_nq, ref_code = None, None
    try:
        ref_nq = ref.to_rdf(doc, options={"format": "application/n-quads"})
    except Exception as e:  # noqa: BLE001
        ref_code = ref_error_code(e)
    my_nq, my_code = None, None
    try:
        my_nq = api.to_rdf(doc, {"format": "application/n-quads"})
    except JsonLdError as e:
        my_code = e.code
    if ref_code == "crash":
        return  # reference-internal crash: deliberate divergence (we emit)
    if ref_code == "error":
        assert my_code is not None, "reference errored, mine did not"
    else:
        assert my_code == ref_code, f"error divergence: mine={my_code} ref={ref_code}"
        assert my_nq == ref_nq

    if ref_nq:
        for algorithm in ("URDNA2015", "URGNA2012"):
            ref_canon = ref.normalize(
                doc, {"algorithm": algorithm, "format": "application/n-quads"}
            )
            my_canon = api.normalize(
                doc, {"algorithm": algorithm, "format": "application/n-quads"}
            )
            assert my_canon == ref_canon, algorithm
        # and the N-Quads parse→serialize round-trip preserves the quad SET
        # (parsing dedups duplicate quads by design, like the reference, so
        # canonize's kept duplicates collapse). IRIs containing '>' or
        # control chars serialize unescaped in BOTH engines (the N-Quads
        # writers don't escape IRIs) and can't re-parse — skip those docs.
        from pyld_spark.jsonld.nquads import parse_nquads, serialize_quads

        try:
            parsed = parse_nquads(ref_canon)
        except ValueError:
            return
        roundtrip = serialize_quads(parsed)
        assert set(roundtrip.split("\n")) == set(ref_canon.split("\n"))


@settings(
    max_examples=75, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(documents)
def test_fromrdf_roundtrip_matches_reference(doc):
    from pyld_spark.jsonld import api

    from tests.test_expand_vs_reference import equal_unordered

    ref = get_reference_jsonld()
    try:
        nq = ref.to_rdf(doc, options={"format": "application/n-quads"})
    except Exception:  # noqa: BLE001
        return
    if not nq:
        return
    try:
        expected = ref.from_rdf(nq, {"format": "application/n-quads",
                                     "useNativeTypes": True})
    except Exception:  # noqa: BLE001
        # reference fails to round-trip its own output for raw control chars
        # in literals (its serializer doesn't escape them, its parser then
        # rejects the line) — not our divergence to chase
        return
    if re.search(r'\\\\[tnr"]', nq):
        # DELIBERATE divergence: for a literal containing backslash followed
        # by t/n/r/" (serialized '\\t' etc.) the reference parser's ordered
        # .replace unescape (reference nquads.py:18-25) turns the escaped
        # backslash + letter into backslash + control char; our parser is
        # N-Quads-spec single-pass (jsonld/nquads.py:30-47, shared grammar
        # with the Spark reader and its \uXXXX support).
        return
    actual = api.from_rdf(nq, {"useNativeTypes": True})
    assert equal_unordered(actual, expected)


_TORDF_OPTION_AXES = st.fixed_dictionaries({
    "rdfDirection": st.sampled_from([None, "i18n-datatype", "compound-literal"]),
    "produceGeneralizedRdf": st.booleans(),
})

_FROMRDF_OPTION_AXES = st.fixed_dictionaries({
    "rdfDirection": st.sampled_from([None, "i18n-datatype", "compound-literal"]),
    "useRdfType": st.booleans(),
    "useNativeTypes": st.booleans(),
})


@settings(
    max_examples=100, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(documents, _TORDF_OPTION_AXES, _FROMRDF_OPTION_AXES)
def test_rdf_option_axes_match_reference(doc, tordf_opts, fromrdf_opts):
    """Random documents through toRDF and fromRDF under every option
    combination: rdfDirection (None / i18n-datatype / compound-literal),
    produceGeneralizedRdf, useRdfType, useNativeTypes."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()

    t_opts = {"format": "application/n-quads", **{
        k: v for k, v in tordf_opts.items() if v is not None
    }}
    ref_nq, ref_err = None, None
    try:
        ref_nq = ref.to_rdf(json.loads(json.dumps(doc)), dict(t_opts))
    except Exception:  # noqa: BLE001
        ref_err = True
    my_nq, my_err = None, None
    try:
        my_nq = api.to_rdf(json.loads(json.dumps(doc)), dict(t_opts))
    except JsonLdError:
        my_err = True
    if ref_err:
        return  # upstream (expansion) errors are covered by the other fuzz
    assert not my_err, f"mine errored, ref did not: {t_opts}"
    assert set(my_nq.split("\n")) == set(ref_nq.split("\n")), (
        f"\ntordf_opts={t_opts}\nmine={my_nq!r}\nref ={ref_nq!r}"
    )

    if not ref_nq or re.search(r'\\\\[tnr"]', ref_nq):
        return  # reference parser mis-unescapes these (documented divergence)
    f_opts = {"format": "application/n-quads", **{
        k: v for k, v in fromrdf_opts.items() if v is not None
    }}
    try:
        expected = ref.from_rdf(ref_nq, dict(f_opts))
    except Exception:  # noqa: BLE001
        return
    actual = api.from_rdf(ref_nq, dict(f_opts))
    assert equal_unordered_top(actual, expected), (
        f"\nfromrdf_opts={f_opts}\nmine={actual!r}\nref ={expected!r}"
    )


def equal_unordered_top(a, b):
    from tests.test_expand_vs_reference import equal_unordered

    return equal_unordered(a, b)
