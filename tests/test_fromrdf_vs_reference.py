"""Differential tests: fromRDF vs the reference processor."""

from __future__ import annotations

import json

import pytest

from pyld_spark.jsonld import api
from pyld_spark.jsonld.fromrdf import from_rdf
from pyld_spark.jsonld.nquads import parse_nquads

from tests.ref_oracle import (
    REFERENCE_PRESENT,
    get_reference_jsonld,
    requires_reference,
)
from tests.test_expand_vs_reference import equal_unordered

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"

FIXTURES = {
    "simple": '<http://e/a> <http://e/p> "v" .\n<http://e/a> <http://e/q> <http://e/b> .\n',
    "types": f'<http://e/a> <{RDF}type> <http://e/T> .\n',
    "typed_literals": (
        f'<http://e/a> <http://e/i> "42"^^<{XSD}integer> .\n'
        f'<http://e/a> <http://e/d> "2.5E0"^^<{XSD}double> .\n'
        f'<http://e/a> <http://e/b> "true"^^<{XSD}boolean> .\n'
        f'<http://e/a> <http://e/x> "zz"^^<http://e/custom> .\n'
    ),
    "lang": '<http://e/a> <http://e/p> "bonjour"@fr .\n',
    "well_formed_list": (
        f"<http://e/a> <http://e/p> _:c0 .\n"
        f'_:c0 <{RDF}first> "x" .\n'
        f"_:c0 <{RDF}rest> _:c1 .\n"
        f'_:c1 <{RDF}first> "y" .\n'
        f"_:c1 <{RDF}rest> <{RDF}nil> .\n"
    ),
    "empty_list": f"<http://e/a> <http://e/p> <{RDF}nil> .\n",
    "malformed_list_shared_cell": (
        f"<http://e/a> <http://e/p> _:c0 .\n"
        f"<http://e/b> <http://e/p> _:c0 .\n"
        f'_:c0 <{RDF}first> "x" .\n'
        f"_:c0 <{RDF}rest> <{RDF}nil> .\n"
    ),
    "malformed_list_two_firsts": (
        f"<http://e/a> <http://e/p> _:c0 .\n"
        f'_:c0 <{RDF}first> "x" .\n'
        f'_:c0 <{RDF}first> "y" .\n'
        f"_:c0 <{RDF}rest> <{RDF}nil> .\n"
    ),
    "list_with_extra_prop": (
        f"<http://e/a> <http://e/p> _:c0 .\n"
        f'_:c0 <{RDF}first> "x" .\n'
        f"_:c0 <{RDF}rest> <{RDF}nil> .\n"
        f'_:c0 <http://e/extra> "no" .\n'
    ),
    "named_graph": (
        '<http://e/s> <http://e/p> "top" .\n'
        '<http://e/s> <http://e/p> "in g" <http://e/g> .\n'
        '_:s <http://e/q> "bn graph" _:gn .\n'
    ),
    "bnode_props": (
        "_:x <http://e/p> _:y .\n"
        '_:y <http://e/q> "deep" .\n'
    ),
    "nested_list": (
        f"<http://e/a> <http://e/p> _:o0 .\n"
        f"_:o0 <{RDF}first> _:i0 .\n"
        f"_:o0 <{RDF}rest> <{RDF}nil> .\n"
        f'_:i0 <{RDF}first> "inner" .\n'
        f"_:i0 <{RDF}rest> <{RDF}nil> .\n"
    ),
    "nested_empty_list": (
        f"<http://e/a> <http://e/p> _:o0 .\n"
        f"_:o0 <{RDF}first> <{RDF}nil> .\n"
        f"_:o0 <{RDF}rest> <{RDF}nil> .\n"
    ),
    "json_literal": (
        f'<http://e/a> <http://e/p> "{{\\"a\\":1}}"^^<{RDF}JSON> .\n'
    ),
}


@requires_reference
@pytest.mark.parametrize("native", [False, True])
@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_fromrdf_matches_reference(name, native):
    nq = FIXTURES[name]
    ref = get_reference_jsonld()
    expected = ref.from_rdf(
        nq, {"format": "application/n-quads", "useNativeTypes": native}
    )
    actual = from_rdf(parse_nquads(nq), use_native_types=native)
    assert equal_unordered(actual, expected), (
        f"{name} native={native}:\nmine={actual!r}\nref ={expected!r}"
    )


def test_roundtrip_tordf_fromrdf():
    """to_rdf(from_rdf(x)) reproduces the same quads for list-shaped data."""
    from pyld_spark.jsonld.nquads import serialize_quads
    from pyld_spark.jsonld.rdf import to_rdf

    nq = FIXTURES["well_formed_list"]
    expanded = from_rdf(parse_nquads(nq))
    rt = serialize_quads(to_rdf(expanded))
    assert '"x"' in rt and '"y"' in rt and f"<{RDF}first>" in rt


def test_iri_named_list_cell_converts_cross_graph():
    # soak-found (round-4 fromRdf axis): the reference checks bnode-ness
    # only AFTER advancing up the chain (jsonld.py:3044-3046) and tracks
    # referenced_once GLOBALLY while nil usages are per-graph — so an
    # IRI-named list cell in a named graph converts, and its single
    # reference in the DEFAULT graph is rewritten into the @list head
    # while the cell disappears from the named graph.
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    nq = (
        "<http://e/s1> <http://e/p> <http://e/s1> .\n"
        f"<http://e/s1> <{RDF}first> <http://e/o> <http://e/g> .\n"
        f"<http://e/s1> <{RDF}rest> <{RDF}nil> <http://e/g> .\n"
    )
    opts = {"format": "application/n-quads", "useNativeTypes": False}
    out = api.from_rdf(nq, dict(opts))
    assert out == [
        {"@id": "http://e/g", "@graph": []},
        {"@id": "http://e/s1",
         "http://e/p": [{"@list": [{"@id": "http://e/o"}]}]},
    ]
    if REFERENCE_PRESENT:
        ref = get_reference_jsonld()
        assert out == ref.from_rdf(nq, dict(opts))


@requires_reference
def test_iri_named_list_cell_referenced_twice_does_not_convert():
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    nq = (
        "<http://e/a> <http://e/p> <http://e/l1> .\n"
        "<http://e/b> <http://e/p> <http://e/l1> .\n"
        f'<http://e/l1> <{RDF}first> "x" .\n'
        f"<http://e/l1> <{RDF}rest> <{RDF}nil> .\n"
    )
    opts = {"format": "application/n-quads", "useNativeTypes": False}
    out = api.from_rdf(nq, dict(opts))
    ref = get_reference_jsonld()
    assert out == ref.from_rdf(nq, dict(opts))
    # the cell survives as a node with explicit first/rest
    ids = {n["@id"] for n in out}
    assert "http://e/l1" in ids


@requires_reference
def test_iri_cell_mid_chain_breaks_walk_after_conversion():
    # bnode chain ending at an IRI cell: the IRI cell converts (it is the
    # first node of the backwards walk), the walk continues into the bnode
    # and stops only after advancing past a non-bnode parent
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    nq = (
        "<http://e/a> <http://e/p> _:b0 .\n"
        f'_:b0 <{RDF}first> "1" .\n'
        f"_:b0 <{RDF}rest> <http://e/l1> .\n"
        f'<http://e/l1> <{RDF}first> "2" .\n'
        f"<http://e/l1> <{RDF}rest> <{RDF}nil> .\n"
    )
    opts = {"format": "application/n-quads", "useNativeTypes": False}
    out = api.from_rdf(nq, dict(opts))
    ref = get_reference_jsonld()
    assert out == ref.from_rdf(nq, dict(opts))


@requires_reference
def test_i18n_datatype_decode_matches_reference_split_semantics():
    # the reference re.splits the WHOLE datatype IRI on [#_] and unpacks
    # exactly three parts (jsonld.py:4098-4103), then sets @direction
    # UNCONDITIONALLY — so 'i18n#ar_' decodes to @direction: "" and
    # 'i18n#_rtl' to direction-only; suffixes with zero or 2+ underscores
    # crash the reference with a bare ValueError, where this engine keeps
    # the plain typed literal (graceful divergence: a malformed datatype
    # must not kill a stage)
    I18N = "https://www.w3.org/ns/i18n#"
    opts = {"inputFormat": "application/n-quads", "rdfDirection": "i18n-datatype"}
    ref = get_reference_jsonld()

    def quad(dt):
        return f'<http://e/s> <http://e/p> "x"^^<{dt}> .\n'

    # reference-agreeing shapes (exactly one underscore)
    for suffix in ("ar_rtl", "ar_", "_rtl", "_"):
        nq = quad(I18N + suffix)
        assert api.from_rdf(nq, dict(opts)) == ref.from_rdf(nq, dict(opts)), suffix
    # explicit pin of the unconditional empty @direction
    out = api.from_rdf(quad(I18N + "ar_"), dict(opts))
    assert out[0]["http://e/p"][0] == {
        "@value": "x", "@language": "ar", "@direction": ""}
    # reference-crash shapes: graceful plain typed literal here
    for suffix in ("arrtl", "ar_rtl_x", ""):
        dt = I18N + suffix
        with pytest.raises(ValueError):
            ref.from_rdf(quad(dt), dict(opts))
        out = api.from_rdf(quad(dt), dict(opts))
        assert out[0]["http://e/p"][0] == {"@value": "x", "@type": dt}, suffix


@requires_reference
def test_from_rdf_accepts_parsed_dataset_dict():
    # the reference's from_rdf consumes the parsed RDF-dataset dict shape
    # ({graph: [{subject, predicate, object}]}) — what parse_nquads returns
    # and registered custom parsers produce — not just N-Quads strings
    ref = get_reference_jsonld()
    nq = ('_:a <http://e/p> "v" .\n'
          '<http://e/s> <http://e/q> _:a <http://e/g> .\n'
          '<http://e/s> <http://e/p> "1"^^'
          '<http://www.w3.org/2001/XMLSchema#integer> .\n')
    parsed = ref.parse_nquads(nq)
    for opts in ({}, {"useNativeTypes": True}, {"useRdfType": True}):
        r = ref.from_rdf(json.loads(json.dumps(parsed)), dict(opts))
        m = api.from_rdf(json.loads(json.dumps(parsed)), dict(opts))
        assert m == r, opts
