"""parse_link_header differential tests vs the reference (jsonld.py:323-368),
including the unquoted-value quirk, plus context-link extraction."""

from __future__ import annotations

import pytest

from pyld_spark.jsonld.errors import JsonLdError
from pyld_spark.sources.link_header import (
    JSONLD_CONTEXT_REL,
    context_link_from_headers,
    parse_link_header,
)

from tests.ref_oracle import get_reference_jsonld, requires_reference

HEADERS = [
    '<http://a/ctx.jsonld>; rel="http://www.w3.org/ns/json-ld#context"; '
    'type="application/ld+json"',
    '<http://a/ctx.jsonld>; rel="http://www.w3.org/ns/json-ld#context", '
    '<http://b>; rel="alternate"; type=text/html',
    '<http://x>; rel="same", <http://y>; rel="same", <http://z>; rel="same"',
    '<http://c?a=1,2>; rel="next"',          # comma inside <>
    '<http://d>; title="a, b"; rel="prev"',  # comma inside quotes
    "",
    "garbage without a target",
]


@requires_reference
@pytest.mark.parametrize("header", HEADERS)
def test_parse_link_header_matches_reference(header):
    ref = get_reference_jsonld()
    assert parse_link_header(header) == ref.parse_link_header(header), header


def test_no_params_link_is_handled():
    """Deliberate divergence: the reference crashes with a TypeError on a
    Link entry without parameters (its params group is None,
    jsonld.py:358); we parse it as a bare target with rel ''."""
    assert parse_link_header("<http://no-params>") == {
        "": {"target": "http://no-params"}
    }


def test_context_link_extraction():
    one = {"Link": f'<http://a/c.jsonld>; rel="{JSONLD_CONTEXT_REL}"'}
    assert context_link_from_headers(one) == "http://a/c.jsonld"
    assert context_link_from_headers({}) is None
    assert context_link_from_headers({"Link": '<http://x>; rel="other"'}) is None
    two = {
        "Link": f'<http://a>; rel="{JSONLD_CONTEXT_REL}", '
                f'<http://b>; rel="{JSONLD_CONTEXT_REL}"'
    }
    with pytest.raises(JsonLdError) as ei:
        context_link_from_headers(two)
    assert ei.value.code == "multiple context link headers"
