"""N-Quads properties of ``pyld_spark/jsonld/nquads.py`` that need no
reference implementation: the sibling of ``test_property_nquads.py``, which
compares the parser against the reference's and skips without it.

- Parsing a serialized dataset gives the dataset back:
  ``parse_nquads(serialize_quads(Q)) == Q`` as a set of quads, over
  literals whose text needs escaping, language-tagged and datatyped
  literals, and IRI and blank-node graph names.
- The serialization is one quad per line. N-Quads ends a statement at
  ``EOL ::= [#xD#xA]+`` and a string literal may not hold a raw CR or LF
  (https://www.w3.org/TR/n-quads/#grammar-production-STRING_LITERAL_QUOTE),
  so neither may appear anywhere but at a line end.
- The parser ends a line at any run of CR and LF, and rejects a raw CR or
  LF inside a string literal (literal cases).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyld_spark.jsonld.nquads import parse_nquads, serialize_quads
from pyld_spark.jsonld.rdf import RDF_LANGSTRING, XSD_STRING

iris = st.sampled_from([
    "http://e/a", "http://e/b#frag", "urn:x:y", "http://e/p?q=1",
    "tag:z", "http://e/%20x",
])
bnodes = st.sampled_from(["_:b0", "_:b1", "_:x.y", "_:A9-"])

# every character but surrogates, weighted toward the ones the writer
# must escape (backslash, quote, tab, LF, CR) and other control characters
lit_text = st.text(
    alphabet=st.one_of(
        st.sampled_from('\\"\t\n\r\b\f\x00\x7f\u2028'),
        st.characters(blacklist_categories=("Cs",)),
    ),
    max_size=10,
)
langtags = st.sampled_from(["en", "en-US", "de-DE-1996", "zh-Hant"])
datatypes = st.sampled_from([
    XSD_STRING,
    "http://www.w3.org/2001/XMLSchema#integer",
    "http://e/dt",
])


def _iri(v):
    return {"type": "IRI", "value": v}


def _bnode(v):
    return {"type": "blank node", "value": v}


literals = st.one_of(
    st.builds(lambda t, d: {"type": "literal", "value": t, "datatype": d},
              lit_text, datatypes),
    st.builds(lambda t, tag: {"type": "literal", "value": t,
                              "datatype": RDF_LANGSTRING, "language": tag},
              lit_text, langtags),
)
quads = st.tuples(
    st.one_of(iris.map(_iri), bnodes.map(_bnode)),
    iris.map(_iri),
    st.one_of(iris.map(_iri), bnodes.map(_bnode), literals),
    st.one_of(st.just("@default"), iris, bnodes),
)
datasets = st.lists(quads, max_size=8, unique_by=repr)

_CR_LITERAL = (_iri("http://e/a"), _iri("http://e/p"),
               {"type": "literal", "value": "a\rb", "datatype": XSD_STRING},
               "_:g")

_settings = settings(
    max_examples=400, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@_settings
@given(datasets)
@example([_CR_LITERAL])
def test_parse_inverts_serialize(dataset):
    text = serialize_quads(dataset)
    assert sorted(parse_nquads(text), key=repr) == sorted(dataset, key=repr), text


@_settings
@given(datasets)
@example([_CR_LITERAL])
def test_serialization_is_one_quad_per_line(dataset):
    text = serialize_quads(dataset)
    assert "\r" not in text, text
    assert text.count("\n") == len(dataset), text
    assert all(line.endswith(" .") for line in text.split("\n")[:-1]), text


_LF_DOC = ('<http://e/a> <http://e/p> "x" .\n'
           '_:b0 <http://e/p> "y"@en <http://e/g> .\n'
           '<http://e/a> <http://e/p> _:b0 _:g .\n')
_LF_QUADS = [
    (_iri("http://e/a"), _iri("http://e/p"),
     {"type": "literal", "value": "x", "datatype": XSD_STRING}, "@default"),
    (_bnode("_:b0"), _iri("http://e/p"),
     {"type": "literal", "value": "y", "datatype": RDF_LANGSTRING, "language": "en"},
     "http://e/g"),
    (_iri("http://e/a"), _iri("http://e/p"), _bnode("_:b0"), "_:g"),
]


@pytest.mark.parametrize("eol", ["\n", "\r\n", "\r", "\n\r", "\r\n\r\n"])
def test_every_eol_run_ends_a_line(eol):
    assert parse_nquads(_LF_DOC.replace("\n", eol)) == _LF_QUADS


@pytest.mark.parametrize("raw", ["\r", "\n"])
def test_raw_line_break_in_a_literal_is_rejected(raw):
    with pytest.raises(ValueError, match="invalid N-Quads line 1"):
        parse_nquads(f'<http://e/a> <http://e/p> "a{raw}b" .\n')
