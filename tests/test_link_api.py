"""link() API parity — frame with a wildcard @link embed (reference
jsonld.py:237-262). The reference hits RecursionError on CYCLIC linked
structures (its _compact recurses through the shared objects), so only
acyclic documents are comparable; our engine is exercised on the cyclic
shape too, to pin that it terminates."""

from __future__ import annotations

import json

from tests.ref_oracle import get_reference_jsonld, requires_reference

from pyld_spark.jsonld import api

EX = "http://e/"
CTX = {
    "ex": EX,
    "knows": {"@id": EX + "knows", "@type": "@id"},
    "name": EX + "name",
}


def _round(doc, ctx):
    return (
        get_reference_jsonld().link(
            json.loads(json.dumps(doc)), json.loads(json.dumps(ctx))
        ),
        api.link(json.loads(json.dumps(doc)), json.loads(json.dumps(ctx))),
    )


@requires_reference
def test_link_acyclic_matches_reference():
    doc = {
        "@context": CTX,
        "@graph": [
            {"@id": "ex:a", "knows": "ex:b", "name": "A"},
            {"@id": "ex:b", "name": "B"},
        ],
    }
    ref_out, my_out = _round(doc, CTX)
    assert json.dumps(my_out, sort_keys=True) == json.dumps(ref_out, sort_keys=True)


def test_link_shares_embedded_objects():
    doc = {
        "@context": CTX,
        "@graph": [
            {"@id": "ex:a", "knows": "ex:c", "name": "A"},
            {"@id": "ex:b", "knows": "ex:c", "name": "B"},
            {"@id": "ex:c", "name": "C"},
        ],
    }
    my_out = api.link(json.loads(json.dumps(doc)), json.loads(json.dumps(CTX)))
    nodes = {n["@id"]: n for n in my_out["@graph"]}
    # same linked payload through both references
    assert nodes["ex:a"]["knows"] == nodes["ex:b"]["knows"]


def test_link_terminates_on_cycles():
    # the REFERENCE RecursionErrors here (deliberate divergence: we
    # terminate); assert only our behavior
    doc = {
        "@context": CTX,
        "@graph": [
            {"@id": "ex:a", "knows": "ex:b"},
            {"@id": "ex:b", "knows": "ex:a"},
        ],
    }
    out = api.link(json.loads(json.dumps(doc)), dict(CTX))
    ids = sorted(n["@id"] for n in out["@graph"])
    assert ids == ["ex:a", "ex:b"]
