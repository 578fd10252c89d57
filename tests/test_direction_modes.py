"""@direction rdfDirection modes: i18n-datatype and compound-literal,
differential vs the reference in both directions."""

from __future__ import annotations

import pytest

from pyld_spark.jsonld import api

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered

pytestmark = requires_reference

EX = "http://example.org/"

DOC = {
    "@context": {"@vocab": EX, "@language": "ar", "@direction": "rtl"},
    "@id": EX + "a",
    "title": "مرحبا",
    "alt": {"@value": "x", "@direction": "ltr", "@language": "en"},
    "nolang": {"@value": "y", "@direction": "rtl"},
}


@pytest.mark.parametrize("mode", ["i18n-datatype", "compound-literal"])
def test_tordf_direction_modes_match_reference(mode):
    ref = get_reference_jsonld()
    expected = ref.to_rdf(
        DOC, options={"format": "application/n-quads", "rdfDirection": mode}
    )
    actual = api.to_rdf(DOC, {"format": "application/n-quads", "rdfDirection": mode})
    assert actual == expected, f"{mode}:\nmine:\n{actual}\nref:\n{expected}"


@pytest.mark.parametrize("mode", ["i18n-datatype", "compound-literal"])
def test_fromrdf_direction_modes_match_reference(mode):
    ref = get_reference_jsonld()
    nq = ref.to_rdf(
        DOC, options={"format": "application/n-quads", "rdfDirection": mode}
    )
    expected = ref.from_rdf(
        nq, {"format": "application/n-quads", "rdfDirection": mode}
    )
    actual = api.from_rdf(nq, {"rdfDirection": mode})
    assert equal_unordered(actual, expected), (
        f"{mode}:\nmine={actual!r}\nref ={expected!r}"
    )
