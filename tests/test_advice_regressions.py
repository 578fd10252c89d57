"""Differential regressions for the round-1 advisor findings (ADVICE.md):

1. toRDF of a non-numeric string typed xsd:double emits the literal as-is
   (reference jsonld.py:3948-3961), never raises.
2. compound-literal decode: bnodes with extra properties stay ordinary
   nodes; the full rdf:value value object is copied; language case kept.
3. useNativeTypes: isfinite guard on doubles; '1'/'0' booleans.
4. i18n-datatype literals stay typed strings when useNativeTypes=True
   (native-types branch wins, reference jsonld.py:4075-4106).
"""

from __future__ import annotations

import pytest

from pyld_spark.jsonld import api

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered

pytestmark = requires_reference

EX = "http://example.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def _both_tordf(doc, options=None):
    ref = get_reference_jsonld()
    opts = {"format": "application/n-quads", **(options or {})}
    expected = ref.to_rdf(doc, options=dict(opts))
    actual = api.to_rdf(doc, dict(opts))
    return actual, expected


def _both_fromrdf(nq, options=None):
    ref = get_reference_jsonld()
    opts = {"format": "application/n-quads", **(options or {})}
    expected = ref.from_rdf(nq, dict(opts))
    actual = api.from_rdf(nq, dict(opts))
    return actual, expected


@pytest.mark.parametrize(
    "value",
    ["not-a-number", "", "1.5e3", "NaN-ish", "  2.5  "],
)
def test_tordf_nonnumeric_double_literal(value):
    doc = {"@id": EX + "s", EX + "p": {"@value": value, "@type": XSD + "double"}}
    actual, expected = _both_tordf(doc)
    assert actual == expected, f"{value!r}: mine={actual!r} ref={expected!r}"


def test_tordf_double_typed_integer_value():
    # non-float value typed xsd:double that IS convertible → canonical form
    doc = {"@id": EX + "s", EX + "p": {"@value": "7", "@type": XSD + "double"}}
    actual, expected = _both_tordf(doc)
    assert actual == expected


COMPOUND_EXTRA_PROPS_NQ = (
    f'<{EX}a> <{EX}label> _:c1 .\n'
    f'_:c1 <{RDF}value> "v" .\n'
    f'_:c1 <{RDF}direction> "ltr" .\n'
    f'_:c1 <{EX}other> "keep-me" .\n'
)


def test_fromrdf_compound_literal_extra_props_kept_as_node():
    actual, expected = _both_fromrdf(
        COMPOUND_EXTRA_PROPS_NQ, {"rdfDirection": "compound-literal"}
    )
    assert equal_unordered(actual, expected), f"mine={actual!r}\nref ={expected!r}"
    # the node and its extra triple must survive
    flat = str(actual)
    assert "keep-me" in flat


def test_fromrdf_compound_literal_preserves_value_datatype_and_lang_case():
    nq = (
        f'<{EX}a> <{EX}label> _:c1 .\n'
        f'_:c1 <{RDF}value> "42"^^<{XSD}integer> .\n'
        f'_:c1 <{RDF}language> "en-US" .\n'
        f'_:c1 <{RDF}direction> "rtl" .\n'
    )
    actual, expected = _both_fromrdf(
        nq, {"rdfDirection": "compound-literal", "useNativeTypes": True}
    )
    assert equal_unordered(actual, expected), f"mine={actual!r}\nref ={expected!r}"


def test_fromrdf_compound_literal_shared_reference_not_rewritten():
    nq = (
        f'<{EX}a> <{EX}p> _:c1 .\n'
        f'<{EX}b> <{EX}p> _:c1 .\n'
        f'_:c1 <{RDF}value> "v" .\n'
        f'_:c1 <{RDF}direction> "ltr" .\n'
    )
    actual, expected = _both_fromrdf(nq, {"rdfDirection": "compound-literal"})
    assert equal_unordered(actual, expected), f"mine={actual!r}\nref ={expected!r}"


@pytest.mark.parametrize(
    ("lexical", "datatype"),
    [
        ("1e400", "double"),    # overflows to inf → typed string kept
        ("-1e400", "double"),
        ("NaN", "double"),      # float('NaN') not finite → typed string? (ref: isfinite False)
        ("2.5", "double"),
        ("1", "boolean"),
        ("0", "boolean"),
        ("true", "boolean"),
        ("yes", "boolean"),     # unconvertible → typed string
    ],
)
def test_fromrdf_native_types_guards(lexical, datatype):
    nq = f'<{EX}s> <{EX}p> "{lexical}"^^<{XSD}{datatype}> .\n'
    actual, expected = _both_fromrdf(nq, {"useNativeTypes": True})
    assert equal_unordered(actual, expected), (
        f"{lexical}^^{datatype}: mine={actual!r} ref={expected!r}"
    )


def test_fromrdf_i18n_with_native_types_stays_typed():
    nq = f'<{EX}s> <{EX}p> "hi"^^<https://www.w3.org/ns/i18n#en_ltr> .\n'
    for opts in (
        {"rdfDirection": "i18n-datatype", "useNativeTypes": True},
        {"rdfDirection": "i18n-datatype", "useNativeTypes": False},
    ):
        actual, expected = _both_fromrdf(nq, opts)
        assert equal_unordered(actual, expected), (
            f"{opts}: mine={actual!r} ref={expected!r}"
        )


def test_empty_named_graph_survives_dataset_dict_roundtrip():
    """Soak wave N+25 find: {'t': {'@graph': []}} expands to a named graph
    with NO triples. The reference's no-format to_rdf still seeds
    dataset['_:b1'] (jsonld.py:1040-1044) and its from_rdf seeds the graph
    node per dataset ENTRY (jsonld.py:2934-2937), so the empty graph
    round-trips as {'@id': '_:b1', '@graph': []}. Both halves were lost
    here before round 5 (quad-list-only plumbing)."""
    import json

    from pyld_spark.jsonld import api
    from tests.ref_oracle import get_reference_jsonld

    doc = {"@context": [{"t": "http://e/t"}], "t": {"@graph": []}}
    ds = api.to_rdf(api.expand(doc))
    assert "_:b1" in ds and ds["_:b1"] == []
    mine = api.from_rdf(ds)
    ref = get_reference_jsonld()
    want = ref.from_rdf(ref.to_rdf(ref.expand(doc, {}), {}), {})
    assert json.dumps(mine, sort_keys=True) == json.dumps(want, sort_keys=True)
