"""Property-based differential tests over RANDOM CONTEXT DEFINITIONS.

The other fuzz suites hold the context fixed and randomize documents; this
one randomizes the @context itself — term definitions with arbitrary
@id/@type/@container/@language/@direction/@prefix/@protected/@reverse
combinations, context arrays, @vocab/@base variants — and checks expansion
(output AND error codes) against the reference. create_term_definition's
validation ladder is the least-fuzzed surface otherwise.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered

pytestmark = requires_reference

EX = "http://e/"

iri_values = st.sampled_from([
    EX + "t", EX + "other", "ex:suf", "@id", "@type", "@nest", "@none",
    "_:b0", "rel", None, "", "term2",
])

type_values = st.sampled_from([
    "@id", "@vocab", "@json", "@none", EX + "dt", "xsd:int", "rel-dt",
    "_:b", None,
])

container_values = st.sampled_from([
    "@list", "@set", "@index", "@language", "@id", "@type", "@graph",
    ["@graph", "@id"], ["@graph", "@index"], ["@set", "@index"],
    ["@list", "@set"], ["@id", "@set"], ["@language", "@set"],
    "@nonsense", None,
    # wave N+20b: full three-part graph containers, @type+@set, and
    # invalid pairings (@id+@index, @graph+@list) for the error ladder
    ["@type", "@set"], ["@graph", "@id", "@set"],
    ["@graph", "@index", "@set"], ["@id", "@index"], ["@graph", "@list"],
    ["@id", "@id"], [],
])


scoped_contexts = st.sampled_from([
    None,
    {"inner": EX + "inner"},
    {"@vocab": EX + "scoped/"},
    {"t": {"@id": EX + "shadow", "@type": "@id"}},
    {"@language": "de"},
    [{"inner": EX + "i1"}, {"inner2": EX + "i2"}],
    {"@propagate": True, "inner": EX + "inner"},
    "not-an-object",
])


def _term_def():
    return st.one_of(
        iri_values,  # simple string mapping (or null)
        st.fixed_dictionaries(
            {},
            optional={
                "@id": iri_values,
                "@type": type_values,
                "@container": container_values,
                "@language": st.sampled_from(["en", "EN", None, 7]),
                "@direction": st.sampled_from(["ltr", "rtl", None, "up"]),
                "@prefix": st.sampled_from([True, False, "yes"]),
                "@protected": st.booleans(),
                "@reverse": st.sampled_from([EX + "r", "@id", None]),
                "@index": st.sampled_from([EX + "idx", "plain", None]),
                "@nest": st.sampled_from(["@nest", "meta", "@id"]),
                "@context": scoped_contexts,
            },
        ),
    )


term_names = st.sampled_from(["t", "term2", "ex", "xsd", "@reserved", "_t", ""])

contexts = st.one_of(
    st.fixed_dictionaries(
        {},
        optional={
            "@version": st.sampled_from([1.1, 1.0, "1.1"]),
            "@vocab": st.sampled_from([EX, "", "rel/", None, "_:b"]),
            # wave N+16: bases with path/query/fragment parts — resolution
            # against each exercises distinct RFC 3986 merge branches
            "@base": st.sampled_from([
                EX, "rel/", None, EX + "a/b/c?q=1#f", "//h/p/",
                EX + "a/./b/../c", "http://e", "http://e/a/b/",
            ]),
            "@language": st.sampled_from(["en", "EN", None, True]),
            "@direction": st.sampled_from(["ltr", "rtl", None, "x"]),
            "@propagate": st.booleans(),
            "t": _term_def(),
            "term2": _term_def(),
            "ex": st.sampled_from([EX, {"@id": EX, "@prefix": True}]),
            "xsd": st.just("http://www.w3.org/2001/XMLSchema#"),
            # wave N+13 grammar: terms whose NAME is an absolute IRI, a
            # compact IRI, or keyword-shaped — each walks a different
            # branch of create_term_definition's name validation
            EX + "t": st.sampled_from(
                [EX + "renamed", {"@type": "@id"}, {"@id": EX + "other"}]),
            "ex:suf": st.sampled_from(
                [EX + "cdef", {"@id": None}, {"@container": "@set"}]),
            "@reserved": st.sampled_from([EX + "resv", {"@id": EX + "r2"}]),
            # wave N+16 grammar: keyword ALIASES — terms whose value is a
            # keyword, then used as body keys (value objects, graphs,
            # lists, reverse maps spelled through the alias)
            "val": st.sampled_from(["@value", "@id"]),
            "lang": st.sampled_from(["@language", "@direction"]),
            "gr": st.sampled_from(["@graph", "@set", "@included"]),
            "ls": st.sampled_from(["@list", "@index"]),
            "rev": st.sampled_from(["@reverse", "@nest"]),
            # wave N+20 grammar: EXOTIC term names — leading-colon terms
            # (":suf" trips the `.*((:[^:])|/)` IRI-form gate at position
            # 0), whitespace terms ("te rm" maps via @vocab but the
            # expanded property fails _is_absolute_iri and is dropped),
            # newline terms ("x\n:y" — the reference's dot-star regexes
            # cannot cross the newline, so it escapes both the IRI-form
            # and the @prefix compact-IRI gates), and colon-only "::"
            # (find(':')==0 is NOT "has colon" in the no-@id ladder)
            ":suf": st.sampled_from(
                [EX + "x", {"@id": ":suf"}, {"@id": EX + "y", "@prefix": True},
                 "nope:z", None]),
            "te rm": st.sampled_from(
                [EX + "sp", {"@id": "te rm"}, {"@id": EX + "sp2"}, None]),
            "x\n:y": st.sampled_from(
                [EX + "nl", {"@id": "x\n:y"},
                 {"@id": EX + "nl2", "@prefix": True}]),
            "::": st.sampled_from([EX + "cc", {"@id": "::"}, None]),
        },
    ),
    st.lists(
        st.one_of(
            st.none(),
            st.fixed_dictionaries({}, optional={"t": _term_def(), "@vocab": st.just(EX)}),
        ),
        min_size=1,
        max_size=3,
    ),
)

# wave N+13: contexts embedded INSIDE body node objects — exercises the
# previous-context revert, @propagate=False restoration, protected-term
# redefinition, and term shadowing on the expansion recursion path (the
# top-level `contexts` strategy only ever feeds the document context)
nested_contexts = st.sampled_from([
    None,
    {"t": EX + "override"},
    {"t": None},
    {"@vocab": EX + "v2/"},
    {"@vocab": None},
    {"@language": "fr", "@direction": "rtl"},
    {"t": {"@id": EX + "deep", "@container": "@list"}},
    {"term2": {"@id": EX + "n2", "@protected": True}},
    {"@propagate": False, "t": EX + "noprop"},
    [None, {"t": EX + "after-null"}],
    {"@base": EX + "sub/"},
    # wave N+23: RAW relative @base storage + lazy per-resolution anchoring
    # (reference stores 'rel/' unresolved when the active base is null,
    # jsonld.py:3400-3407, then resolves it against the API base at every
    # document-relative resolution, jsonld.py:6105-6110)
    [{"@base": None}, {"@base": "rel/"}],
    [{"@base": None}, {"@base": "rel/sub/", "@vocab": "w"}],
    [{"@base": EX + "a/"}, {"@base": "sub/"}, {"@base": "../up/"}],
])

# wave N+14: full-body recursion — any body can appear as a child node of
# "t" (plain, in a list, or under @graph), driving the expansion recursion
# to arbitrary depth with fresh context interactions at every level
bodies = st.deferred(lambda: _bodies)

_bodies = st.fixed_dictionaries(
    {},
    optional={
        # wave N+16: relative-IRI resolution surface — dot segments,
        # query-only, fragment-only, net-path, and empty references each
        # walk a different branch of RFC 3986 merge/remove_dot_segments
        "@id": st.sampled_from([
            EX + "n", "rel-n", "../up", "./same", "?q2", "#f2", "/abs",
            "../../over", "", "g;x=1", "//other/p",
            # wave N+20: exotic @id VALUES — whitespace, empty scheme,
            # comma scheme — exercise the value-side _is_absolute_iri
            # gates (node map, toRdf emission) rather than the key side
            "te rm", ":frag", "a,b:x", "x\n:y",
        ]),
        "@type": st.sampled_from(["t", "term2", EX + "T",
                                  "ty pe", ":T", "a,b:T"]),
        "t": st.one_of(
            st.text(max_size=6),
            st.integers(min_value=-5, max_value=5),
            # wave N+16: non-string scalars — floats force the canonical
            # xsd:double path under coercion/toRDF; bools and null walk
            # their own _expand_value branches
            st.sampled_from([0.1, 1.5, -0.0, 1e21, 2.0, -3.7,
                             True, False, None]),
            st.fixed_dictionaries({"@value": st.text(max_size=4)}),
            # wave N+16: value object spelled entirely through aliases
            st.fixed_dictionaries(
                {"val": st.one_of(st.text(max_size=3), st.sampled_from(
                    [1.5, -0.0, True]))},
                optional={"lang": st.sampled_from(["en", "rtl", "ltr"]),
                          "ls": st.text(max_size=2)}),
            st.lists(st.text(max_size=4), max_size=2),
            st.fixed_dictionaries({}, optional={
                "t": st.text(max_size=4), "@id": st.just(EX + "c")}),
            st.dictionaries(
                st.sampled_from(["en", "k1", EX + "a", "@none"]),
                st.text(max_size=4), max_size=2),
            # structural shapes
            st.fixed_dictionaries({"@list": st.lists(
                st.one_of(st.text(max_size=3),
                          st.lists(st.text(max_size=2), max_size=2)),
                max_size=2)}),
            # deeper nesting + @index on the list object (round-4 nested-
            # list parity finds lived here)
            st.fixed_dictionaries(
                {"@list": st.lists(st.one_of(
                    st.text(max_size=2),
                    st.lists(st.lists(st.text(max_size=2), max_size=1),
                             max_size=1)),
                    max_size=2)},
                optional={"@index": st.just("ix")}),
            st.fixed_dictionaries({"@set": st.lists(
                st.text(max_size=3), max_size=2)}),
            st.fixed_dictionaries({"@graph": st.lists(
                st.fixed_dictionaries({}, optional={
                    "t": st.text(max_size=3), "@id": st.just(EX + "g")}),
                max_size=2)}),
            # wave N+14: recursive full-body children
            bodies,
            st.fixed_dictionaries({"@graph": st.lists(bodies, max_size=2)}),
            # wave N+13: child node with its OWN inline @context
            st.fixed_dictionaries(
                {"@context": nested_contexts},
                optional={
                    "t": st.text(max_size=3),
                    "term2": st.text(max_size=3),
                    "@id": st.just(EX + "c2"),
                    "@type": st.sampled_from(["t", "term2"]),
                }),
            # wave N+13: fuller value-object surface (@direction/@language/
            # @type interactions, @json values, indexed values)
            st.fixed_dictionaries(
                {"@value": st.one_of(
                    st.text(max_size=3), st.integers(-3, 3), st.booleans(),
                    st.fixed_dictionaries({"k": st.integers(0, 2)}),
                    st.lists(st.text(max_size=2), max_size=2))},
                optional={
                    "@language": st.sampled_from(["en", "EN", None]),
                    "@direction": st.sampled_from(["ltr", "rtl", None]),
                    "@type": st.sampled_from(
                        ["@json", EX + "dt", "xsd:int", None, "@none"]),
                    "@index": st.just("vi"),
                }),
        ),
        "term2": st.text(max_size=6),
        "ex:curie": st.text(max_size=4),
        "t:suffix": st.text(max_size=4),
        # wave N+16: keyword aliases used as BODY keys — a value object
        # spelled through aliases under "t", and aliased @graph/@list/
        # @reverse at the top level (free-floating list/value surface)
        "val": st.sampled_from(["plain", 4, 2.5, True]),
        "gr": st.one_of(
            st.lists(st.fixed_dictionaries({}, optional={
                "t": st.text(max_size=3), "@id": st.just(EX + "ag")}),
                max_size=2),
            st.text(max_size=3),
        ),
        "ls": st.lists(st.one_of(st.text(max_size=3),
                                 st.floats(min_value=-2.0, max_value=2.0,
                                           allow_nan=False)),
                       max_size=2),
        "rev": st.fixed_dictionaries({}, optional={
            "t": st.fixed_dictionaries({"@id": st.just(EX + "rv")}),
            "term2": st.text(max_size=3),
        }),
        "@reverse": st.one_of(
            st.fixed_dictionaries({"t": st.fixed_dictionaries(
                {"@id": st.just(EX + "rn")})}),
            st.fixed_dictionaries({"term2": st.text(max_size=3)}),
            st.text(max_size=3),
        ),
        "@included": st.one_of(
            st.fixed_dictionaries({"@id": st.just(EX + "inc"),
                                   "term2": st.text(max_size=3)}),
            st.fixed_dictionaries({"@value": st.text(max_size=3)}),
        ),
        "@index": st.sampled_from(["i0", 7]),
        # wave N+20: exotic term names as body keys — with or without a
        # context entry; "a,b:x" is undefined everywhere and exercises the
        # comma-in-scheme quirk of the reference's absolute-IRI regex
        # (char class `[A-Za-z0-9+-.]` spells the range 0x2B-0x2E)
        ":suf": st.text(max_size=3),
        "te rm": st.text(max_size=3),
        "x\n:y": st.text(max_size=3),
        "a,b:x": st.text(max_size=3),
        "@nest": st.one_of(
            st.fixed_dictionaries({"term2": st.text(max_size=3)}),
            st.text(max_size=3),
        ),
    },
)


def _code_of(e) -> str | None:
    code = getattr(e, "code", None)
    cause = e
    for _ in range(4):
        if code is not None or cause is None:
            return code
        cause = getattr(cause, "cause", None) or getattr(cause, "__cause__", None)
        code = getattr(cause, "code", None)
    return code


@settings(
    max_examples=300, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies)
def test_random_context_expansion_matches_reference(ctx, body):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.expand(json.loads(json.dumps(doc)))
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.expand(json.loads(json.dumps(doc)))
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        # reference crashed without a spec error code — we must not crash,
        # either a clean result or a coded error is acceptable
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert equal_unordered(my_out, ref_out), (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies)
def test_random_context_expansion_matches_reference_mode_10(ctx, body):
    """Same differential, forced json-ld-1.0 processing mode — exercises
    every mode-gated branch (term-definition valid keys, @included
    fallthrough, container restrictions, 'processing mode conflict')."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}
    opts = {"processingMode": "json-ld-1.0"}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.expand(json.loads(json.dumps(doc)), dict(opts))
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.expand(json.loads(json.dumps(doc)), dict(opts))
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert equal_unordered(my_out, ref_out), (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies)
def test_random_context_tordf_matches_reference(ctx, body):
    """Same randomized context space through toRDF — the engine's north-star
    output. Compared as N-Quads line sets (canonical serialization both
    sides); error codes must match."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}
    opts = {"format": "application/n-quads"}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.to_rdf(json.loads(json.dumps(doc)), dict(opts))
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.to_rdf(json.loads(json.dumps(doc)), dict(opts))
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        # BYTE equality, not line-set equality: both serializers emit the
        # same sorted canonical N-Quads with the same deterministic bnode
        # labels, so ordering and duplicate-dropping are part of parity
        assert my_out == ref_out, (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies)
def test_random_context_compaction_matches_reference(ctx, body):
    """Compact a fixed-context document WITH the random context — drives
    inverse-context construction and _compact_iri term selection over the
    same randomized term-definition space."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": {"@vocab": EX}, **body}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.compact(
            json.loads(json.dumps(doc)), json.loads(json.dumps(ctx))
        )
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.compact(
            json.loads(json.dumps(doc)), json.loads(json.dumps(ctx))
        )
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert my_out == ref_out, (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies, st.sampled_from([None, True, False]))
def test_random_context_flatten_matches_reference(ctx, body, omit_graph):
    """Flatten a fixed-context document with the random context as the
    flattening/compaction context, across omitGraph settings."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": {"@vocab": EX}, **body}
    opts = {} if omit_graph is None else {"omitGraph": omit_graph}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.flatten(
            json.loads(json.dumps(doc)), json.loads(json.dumps(ctx)), dict(opts)
        )
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.flatten(
            json.loads(json.dumps(doc)), json.loads(json.dumps(ctx)), dict(opts)
        )
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)} omitGraph={omit_graph}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert my_out == ref_out, (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)} omitGraph={omit_graph}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


frames = st.fixed_dictionaries(
    {},
    optional={
        # wave N+15: @id patterns, nested subframes, @reverse framing,
        # value patterns with @language, multi-pattern arrays
        "@id": st.sampled_from([EX + "n", [EX + "n", EX + "c"], [], {}]),
        "@type": st.sampled_from([EX + "T", [], {}, [EX + "T"]]),
        "t": st.sampled_from([
            {}, [], {"@value": "x"}, {"@default": "d"},
            {"@id": EX + "c"},
            {"term2": {}},
            {"term2": {}, "@embed": "@never"},
            {"@value": {}, "@language": "en"},
            [{"@value": "x"}, {"@value": "y"}],
        ]),
        "term2": st.sampled_from([{}, [], {"@default": []}]),
        "@reverse": st.sampled_from([{"t": {}}, {"term2": {"@explicit": True}}]),
        "@requireAll": st.booleans(),
        "@explicit": st.booleans(),
        "@embed": st.sampled_from(["@once", "@always", "@never"]),
    },
)


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies, frames)
def test_random_context_framing_matches_reference(ctx, body, frame_body):
    """Frame a random-context document with frames that reuse the SAME
    random context — term definitions (containers, @reverse, scoped
    contexts, aliases) interact with the matcher and the frame's own
    expansion."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}
    frame_doc = {"@context": json.loads(json.dumps(ctx)), **frame_body}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.frame(
            json.loads(json.dumps(doc)), json.loads(json.dumps(frame_doc))
        )
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.frame(
            json.loads(json.dumps(doc)), json.loads(json.dumps(frame_doc))
        )
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nframe={json.dumps(frame_body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert my_out == ref_out, (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nframe={json.dumps(frame_body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies)
def test_random_expand_context_option_matches_reference(ctx, body):
    """The expandContext OPTION (context applied before the document's own)
    over the random context space."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = dict(body)  # no inline @context: the option supplies it
    opts = {"expandContext": json.loads(json.dumps(ctx))}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.expand(json.loads(json.dumps(doc)), dict(opts))
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.expand(json.loads(json.dumps(doc)), dict(opts))
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert equal_unordered(my_out, ref_out), (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


URL_A = "http://ctx.example/a"
URL_B = "http://ctx.example/b"

remote_ctx_values = st.sampled_from([
    "chain-b",        # a → references b
    "cycle-a",        # a → references a (context overflow)
    "import-b",       # a imports b
    "plain",          # a is a plain term context
])


@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies, remote_ctx_values, st.booleans())
def test_remote_context_loader_matches_reference(ctx, body, shape, also_inline):
    """Remote contexts through the document loader: chains, cycles
    ('context overflow'), @import, mixed remote+inline context arrays."""
    import copy

    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.context import DocumentLoader
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()

    a_ctx = {
        "chain-b": [{"ra": EX + "ra"}, URL_B],
        "cycle-a": [URL_A],
        "import-b": {"@import": URL_B, "ra": EX + "ra"},
        "plain": {"ra": EX + "ra"},
    }[shape]
    docs = {
        URL_A: {"@context": a_ctx},
        URL_B: {"@context": json.loads(json.dumps(ctx))
                if isinstance(ctx, dict) else {"rb": EX + "rb"}},
    }
    doc_ctx = [URL_A, json.loads(json.dumps(ctx))] if also_inline else URL_A
    doc = {"@context": doc_ctx, **body, "ra": "x"}

    def ref_loader(url, options=None):
        if url not in docs:
            raise Exception(f"404 {url}")
        # the reference mutates loaded documents — serve copies
        return {
            "contextUrl": None, "documentUrl": url,
            "document": copy.deepcopy(docs[url]),
        }

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.expand(
            json.loads(json.dumps(doc)), {"documentLoader": ref_loader}
        )
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.expand(
            json.loads(json.dumps(doc)),
            {"documentLoader": DocumentLoader(copy.deepcopy(docs))},
        )
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nshape={shape} inline={also_inline} ctx={json.dumps(ctx)}"
        f"\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert equal_unordered(my_out, ref_out), (
            f"\nshape={shape} inline={also_inline} ctx={json.dumps(ctx)}"
            f"\nbody={json.dumps(body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies, st.sampled_from(["URDNA2015", "URGNA2012"]))
def test_random_context_normalize_matches_reference(ctx, body, algorithm):
    """Canonicalization over the random-context space — expansion quirks
    feeding URDNA2015/URGNA2012 must agree byte-for-byte."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}
    opts = {"algorithm": algorithm, "format": "application/n-quads"}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.normalize(json.loads(json.dumps(doc)), dict(opts))
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.normalize(json.loads(json.dumps(doc)), dict(opts))
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nalg={algorithm} ctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
    )
    if ref_code is None:
        assert my_out == ref_out, (
            f"\nalg={algorithm} ctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies)
def test_random_context_link_matches_reference(ctx, body):
    """link() (frame with a wildcard @link embed, reference
    jsonld.py:237-262) over the random-context space — axis 10 of the
    quirk soak (round-3 verdict item 8). The reference RecursionErrors on
    cyclic linked data (uncoded crash → skipped, like every crash-class
    divergence); on acyclic inputs output must match exactly."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}
    link_ctx = json.loads(json.dumps(ctx))

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.link(
            json.loads(json.dumps(doc)), json.loads(json.dumps(link_ctx))
        )
    except RecursionError:
        ref_crash = "RecursionError"
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.link(
            json.loads(json.dumps(doc)), json.loads(json.dumps(link_ctx))
        )
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        # ref succeeded → linked structure is acyclic; == terminates
        assert my_out == ref_out, (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies, st.booleans(), st.booleans())
def test_random_context_compaction_options_matches_reference(
    ctx, body, compact_arrays, graph
):
    """Compaction options axis (round-4 wave N+9): the document expands
    under the RANDOM context too (the base axis fixes the doc context),
    and compactArrays × graph vary — the two API options that change the
    output shape everywhere (singleton unwrapping, @graph wrapping)."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": json.loads(json.dumps(ctx)), **body}
    opts = {"compactArrays": compact_arrays, "graph": graph}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.compact(
            json.loads(json.dumps(doc)), json.loads(json.dumps(ctx)),
            dict(opts),
        )
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.compact(
            json.loads(json.dumps(doc)), json.loads(json.dumps(ctx)),
            dict(opts),
        )
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}\nopts={opts}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert my_out == ref_out, (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}\nopts={opts}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


frame_api_options = st.fixed_dictionaries(
    {},
    optional={
        "embed": st.sampled_from(["@once", "@always", "@never", "@link"]),
        "explicit": st.booleans(),
        "requireAll": st.booleans(),
        "omitDefault": st.booleans(),
        "omitGraph": st.booleans(),
        "pruneBlankNodeIdentifiers": st.booleans(),
    },
)


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies, frames, frame_api_options)
def test_random_context_framing_options_matches_reference(
    ctx, body, frame_body, opts
):
    """Framing API-options axis (round-4 wave N+10): embed/explicit/
    requireAll/omitDefault/omitGraph/pruneBlankNodeIdentifiers as API
    options (the base axis only varies in-frame keywords, which OVERRIDE
    these — the option defaults and the keyword-absent paths are a
    separate surface)."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}
    frame_doc = {"@context": json.loads(json.dumps(ctx)), **frame_body}

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.frame(
            json.loads(json.dumps(doc)), json.loads(json.dumps(frame_doc)),
            dict(opts),
        )
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.frame(
            json.loads(json.dumps(doc)), json.loads(json.dumps(frame_doc)),
            dict(opts),
        )
    except JsonLdError as e:
        my_code = e.code
    except RecursionError:
        my_code = "__recursion__"

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nframe={json.dumps(frame_body)}\nopts={opts}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert my_out == ref_out, (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nframe={json.dumps(frame_body)}\nopts={opts}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


# wave N+17: the remaining API-option surface — options['base'] (document
# base used when the context has no @base, plus compaction-side IRI
# relativization), keepFreeFloatingNodes, skipExpansion (compact over a
# RAW document treated as already-expanded), and flatten-with-base
base_option_values = st.sampled_from([
    "", EX, EX + "a/b/c?q=1#f", "http://e", "//h/p/", EX + "d/",
])

api_ops = st.sampled_from([
    "expand", "expand_kff", "compact", "compact_skip", "tordf", "frame",
    "flatten",
])


@settings(
    max_examples=250, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies, base_option_values, api_ops)
def test_random_api_base_options_matches_reference(ctx, body, base, op):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}
    opts = {"base": base}
    if op == "expand_kff":
        opts["keepFreeFloatingNodes"] = True
    if op == "compact_skip":
        opts["skipExpansion"] = True

    def run(impl):
        d = json.loads(json.dumps(doc))
        c = json.loads(json.dumps(ctx))
        o = dict(opts)
        if op in ("expand", "expand_kff"):
            return impl.expand(d, o)
        if op in ("compact", "compact_skip"):
            return impl.compact(d, c, o)
        if op == "tordf":
            return impl.to_rdf(d, {**o, "format": "application/n-quads"})
        if op == "frame":
            return impl.frame(d, {"@context": c}, o)
        return impl.flatten(d, None, o)

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = run(ref)
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = run(api)
    except JsonLdError as e:
        my_code = e.code
    except RecursionError:
        my_code = "__recursion__"

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nop={op} base={base!r}\nctx={json.dumps(ctx)}"
        f"\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        if op == "tordf":
            assert set(my_out.split("\n")) == set(ref_out.split("\n")), (
                f"\nop={op} base={base!r}\nctx={json.dumps(ctx)}"
                f"\nbody={json.dumps(body)}"
                f"\nmine={my_out!r}\nref ={ref_out!r}"
            )
        elif op in ("expand", "expand_kff"):
            assert equal_unordered(my_out, ref_out), (
                f"\nop={op} base={base!r}\nctx={json.dumps(ctx)}"
                f"\nbody={json.dumps(body)}"
                f"\nmine={my_out!r}\nref ={ref_out!r}"
            )
        else:
            assert my_out == ref_out, (
                f"\nop={op} base={base!r}\nctx={json.dumps(ctx)}"
                f"\nbody={json.dumps(body)}"
                f"\nmine={my_out!r}\nref ={ref_out!r}"
            )


# wave N+19: json-ld-1.0 processing mode across the NON-expansion ops.
# Only expansion had a 1.0 axis before; compaction term selection (1.1
# container features unavailable), flatten/framing's mode-gated defaults
# (omitGraph / pruneBlankNodeIdentifiers flip with the mode), and toRDF
# over 1.0-restricted contexts are fresh mode-gated surface.
mode10_ops = st.sampled_from(["compact", "flatten", "frame", "tordf"])


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies, mode10_ops)
def test_random_context_mode10_ops_matches_reference(ctx, body, op):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}
    opts = {"processingMode": "json-ld-1.0"}

    def run(impl):
        d = json.loads(json.dumps(doc))
        c = json.loads(json.dumps(ctx))
        o = dict(opts)
        if op == "compact":
            return impl.compact(d, c, o)
        if op == "tordf":
            return impl.to_rdf(d, {**o, "format": "application/n-quads"})
        if op == "frame":
            return impl.frame(d, {"@context": c}, o)
        return impl.flatten(d, None, o)

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = run(ref)
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = run(api)
    except JsonLdError as e:
        my_code = e.code
    except RecursionError:
        my_code = "__recursion__"

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nop={op}\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        if op == "tordf":
            assert set(my_out.split("\n")) == set(ref_out.split("\n")), (
                f"\nop={op}\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
                f"\nmine={my_out!r}\nref ={ref_out!r}"
            )
        else:
            assert my_out == ref_out, (
                f"\nop={op}\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
                f"\nmine={my_out!r}\nref ={ref_out!r}"
            )


# --- wave N+24: @import-heavy remote-context chains x protected terms -----
#
# @import (reference jsonld.py:3300-3343) has its own validation ladder —
# 1.1-only, string-valued, imported context must be an object and must not
# itself contain @import — and its merge ORDER (imported context is the
# base, importing context's own entries win) interacts with @protected
# propagation and later redefinition/nullification attempts. The remote
# axis above samples only a single fixed "import-b" shape; this axis
# randomizes the import topology AND what the document does afterwards.

URL_C = "http://ctx.example/c"

import_topologies = st.sampled_from([
    "plain-import",      # A imports B (B from the random context space)
    "import-protects",   # A imports B and sets @protected: true itself
    "imported-protects", # B carries @protected: true
    "both-protect",      # both sides set @protected
    "nested-import",     # B itself contains @import URL_C -> invalid context entry
    "import-cycle",      # B imports A (also the nested-@import error path)
    "import-array",      # B's @context is an ARRAY -> invalid remote context
    "import-string",     # B's @context is a bare remote URL string
    "import-missing",    # @import target 404s -> loading remote context failed
    "import-nonstring",  # @import value is not a string -> invalid @import value
    "no-version",        # A omits @version -> @import invalid in 1.0 mode
])

followup_ctxs = st.sampled_from([
    None,                                   # nothing after URL_A
    "null",                                 # null-context over protected terms
    {"t": "http://e/redef"},                # redefinition attempt
    {"@version": 1.1, "t": "http://e/redef"},
    {"@version": 1.1, "t": {"@id": "http://e/t", "@type": "@id"}},  # same-def repeat
    {"@version": 1.1, "@protected": True, "u": "http://e/u"},
    {"@version": 1.1, "t": None},           # null redefinition of protected term
])


@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies, import_topologies, followup_ctxs, st.booleans())
def test_import_protected_chain_matches_reference(
    ctx, body, topo, followup, protect_b_term
):
    import copy

    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.context import DocumentLoader
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()

    b_payload = json.loads(json.dumps(ctx)) if isinstance(ctx, dict) else {
        "rb": EX + "rb"}
    if protect_b_term:
        b_payload = {**b_payload, "t": {"@id": EX + "t", "@protected": True}}

    a_ctx = {"@version": 1.1, "@import": URL_B, "t": EX + "t"}
    b_ctx = b_payload
    if topo == "import-protects":
        a_ctx["@protected"] = True
    elif topo == "imported-protects":
        b_ctx = {**b_payload, "@protected": True}
    elif topo == "both-protect":
        a_ctx["@protected"] = True
        b_ctx = {**b_payload, "@protected": True}
    elif topo == "nested-import":
        b_ctx = {**b_payload, "@import": URL_C}
    elif topo == "import-cycle":
        b_ctx = {**b_payload, "@import": URL_A}
    elif topo == "import-array":
        b_ctx = [b_payload, {"u2": EX + "u2"}]
    elif topo == "import-string":
        b_ctx = URL_C
    elif topo == "import-missing":
        a_ctx["@import"] = "http://ctx.example/missing"
    elif topo == "import-nonstring":
        a_ctx["@import"] = {"bogus": True}
    elif topo == "no-version":
        del a_ctx["@version"]

    docs = {
        URL_A: {"@context": a_ctx},
        URL_B: {"@context": b_ctx},
        URL_C: {"@context": {"rc": EX + "rc"}},
    }
    doc_ctx = [URL_A]
    if followup is not None:
        doc_ctx.append(None if followup == "null" else
                       json.loads(json.dumps(followup)))
    doc = {"@context": doc_ctx, **body, "t": "x"}

    def ref_loader(url, options=None):
        if url not in docs:
            raise Exception(f"404 {url}")
        return {
            "contextUrl": None, "documentUrl": url,
            "document": copy.deepcopy(docs[url]),
        }

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.expand(
            json.loads(json.dumps(doc)), {"documentLoader": ref_loader}
        )
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.expand(
            json.loads(json.dumps(doc)),
            {"documentLoader": DocumentLoader(copy.deepcopy(docs))},
        )
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\ntopo={topo} followup={followup!r} protect_b={protect_b_term}"
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert equal_unordered(my_out, ref_out), (
            f"\ntopo={topo} followup={followup!r} protect_b={protect_b_term}"
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )
