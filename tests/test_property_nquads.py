"""Property-based N-Quads parser differential vs the reference
(pyld.nquads.parse_nquads): random grammar-driven quad lines (IRIs, bnode
labels, literals with datatypes/langtags, graph labels, comments, blank
lines, odd whitespace) plus malformed-line rejection parity.

Excluded by construction: literals containing a backslash followed by
t/n/r/" — the reference's ordered-replace unescape mis-parses those
(documented divergence, see jsonld/nquads.py)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.ref_oracle import get_reference_jsonld, requires_reference

from pyld_spark.jsonld.nquads import parse_nquads

pytestmark = requires_reference

iris = st.sampled_from([
    "http://e/a", "http://e/b#frag", "urn:x:y", "http://e/p?q=1",
    "tag:z", "http://e/%20x",
])
bnodes = st.sampled_from(["_:b0", "_:b1", "_:x.y", "_:A9-"])

# literal text avoiding the reference's unescape divergence and raw
# control characters (which neither writer escapes in IRIs/literals)
lit_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"), blacklist_characters='"\\'
    ),
    max_size=10,
)

langtags = st.sampled_from(["en", "en-US", "de-DE-1996", "zh-Hant"])
datatypes = st.sampled_from([
    "http://www.w3.org/2001/XMLSchema#integer",
    "http://www.w3.org/2001/XMLSchema#string",
    "http://e/dt",
])


def _subject(draw_iri, draw_bnode):
    return st.one_of(draw_iri, draw_bnode)


objects = st.one_of(
    iris.map(lambda i: f"<{i}>"),
    bnodes,
    lit_text.map(lambda t: f'"{t}"'),
    st.tuples(lit_text, langtags).map(lambda p: f'"{p[0]}"@{p[1]}'),
    st.tuples(lit_text, datatypes).map(lambda p: f'"{p[0]}"^^<{p[1]}>'),
)

quad_lines = st.builds(
    lambda s, p, o, g, ws: (
        f"{s}{ws}<{p}>{ws}{o}"
        + (f"{ws}{g}" if g else "")
        + f"{ws}."
    ),
    st.one_of(iris.map(lambda i: f"<{i}>"), bnodes),
    iris,
    objects,
    st.one_of(st.none(), iris.map(lambda i: f"<{i}>"), bnodes),
    st.sampled_from([" ", "  ", "\t", " \t "]),
)

noise_lines = st.sampled_from(["", "   ", "# a comment", "\t"])

documents = st.lists(
    st.one_of(quad_lines, noise_lines), min_size=0, max_size=8
).map(lambda ls: "\n".join(ls) + ("\n" if ls else ""))


def _norm(dataset) -> list:
    """Normalize either parser's dataset to a comparable sorted quad list.

    Reference shape: {graph: [{'subject': .., 'predicate': .., 'object': ..}]}
    Ours: [(s_term, p_term, o_term, graph_name)] with xsd:string explicit.
    """
    XSD_STR = "http://www.w3.org/2001/XMLSchema#string"

    def term(t):
        kind = "blank node" if t["type"] == "blank node" else t["type"]
        dt = t.get("datatype", "")
        if t["type"] == "literal" and not dt and not t.get("language"):
            dt = XSD_STR
        return (kind, t["value"], dt, t.get("language") or "")

    rows = []
    if isinstance(dataset, dict):
        for graph, quads in dataset.items():
            for q in quads:
                rows.append(
                    (graph, term(q["subject"]), term(q["predicate"]),
                     term(q["object"]))
                )
    else:
        for s, p, o, g in dataset:
            rows.append((g, term(s), term(p), term(o)))
    return sorted(rows)


@settings(
    max_examples=400, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(documents)
def test_parse_nquads_matches_reference(doc):
    ref = get_reference_jsonld()

    ref_ds, ref_err = None, False
    try:
        ref_ds = ref.JsonLdProcessor.parse_nquads(doc)
    except Exception:  # noqa: BLE001
        ref_err = True

    my_ds, my_err = None, False
    try:
        my_ds = parse_nquads(doc)
    except ValueError:
        my_err = True

    assert my_err == ref_err, (
        f"\ndoc={doc!r}\nref_err={ref_err} my_err={my_err}"
        f"\nref={ref_ds!r}\nmine={my_ds!r}"
    )
    if not ref_err:
        assert _norm(my_ds) == _norm(ref_ds), (
            f"\ndoc={doc!r}\nmine={_norm(my_ds)}\nref ={_norm(ref_ds)}"
        )


malformed = st.sampled_from([
    "<http://e/a> <http://e/p> .",          # missing object
    "<http://e/a> <http://e/p> \"x\"",      # missing dot
    "http://e/a <http://e/p> \"x\" .",      # unbracketed subject
    "<http://e/a> _:p \"x\" .",             # bnode predicate
    "<http://e/a> <http://e/p> \"x\"@ .",   # empty langtag
    "<http://e/a> <http://e/p> \"x\"^^ .",  # empty datatype
    "<e> <http://e/p> \"x\" .",             # no-colon IRI
    "<http://e/a> <http://e/p> \"x\" <g> extra .",
])


@settings(max_examples=50, deadline=None)
@given(malformed)
def test_malformed_lines_rejected_like_reference(line):
    ref = get_reference_jsonld()
    doc = line + "\n"

    ref_err = False
    try:
        ref.JsonLdProcessor.parse_nquads(doc)
    except Exception:  # noqa: BLE001
        ref_err = True

    my_err = False
    try:
        parse_nquads(doc)
    except ValueError:
        my_err = True

    assert my_err == ref_err, f"line={line!r} ref_err={ref_err} my_err={my_err}"


# --- relativization (compaction uses it for @id values) ---

_rel_parts = st.sampled_from(["a", "b", "dd", "@type", "x.y", ""])
_abs_iris = st.builds(
    lambda scheme, host, port, segs, q, f: (
        f"{scheme}://{host}{port}/" + "/".join(segs)
        + (f"?{q}" if q else "") + (f"#{f}" if f else "")
    ),
    st.sampled_from(["http", "https"]),
    st.sampled_from(["e", "other.example"]),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.lists(_rel_parts, max_size=4),
    st.sampled_from([None, "q=1", ""]),
    st.sampled_from([None, "frag", ""]),
)


@settings(
    max_examples=500, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(_abs_iris, _abs_iris)
def test_relativize_matches_reference_unresolve(base, iri):
    from tests.ref_oracle import get_reference_jsonld

    get_reference_jsonld()
    from pyld.iri_resolver import unresolve

    from pyld_spark.jsonld.iri import relativize_iri

    mine = relativize_iri(base, iri)
    try:
        ref = unresolve(iri, base)
    except Exception:  # noqa: BLE001 — reference crash (scheme-less base)
        return
    assert mine == ref, f"base={base!r} iri={iri!r} mine={mine!r} ref={ref!r}"
