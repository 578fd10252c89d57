"""Differential fuzz over CHAINED decode paths the single-stage axes miss.

Every compaction/framing axis so far feeds documents produced by the
JSON-LD document grammar; the quad-side axis (test_property_fromrdf) stops
at fromRdf output. This axis composes them: random N-Quads datasets →
`from_rdf` → `compact`/`frame` with a random context — so compaction and
framing run over fromRdf-SHAPED inputs (native-typed numerics and booleans,
@list arrays reconstructed from rdf:first/rest tangles, named-graph @graph
nodes, compound-literal decode residue, rdf:type-as-@type), a distribution
the document grammar never generates. Reference parity targets:
jsonld.py `from_rdf` → `compact` (jsonld.py:412) / `frame` (jsonld.py:803).

A third test re-expands EXPANDED output (expand ∘ expand): expansion over
keyword-only node objects, top-level arrays, and @value objects as direct
input — the expanded-form idempotence surface (reference jsonld.py:566).
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_property_contexts import bodies, contexts, frames
from tests.test_property_fromrdf import _nquads, datasets, rdf_directions

pytestmark = requires_reference

EX = "http://e/"


def _code_of(e):
    code = getattr(e, "code", None)
    cause = e
    for _ in range(4):
        if code is not None or cause is None:
            return code
        cause = getattr(cause, "cause", None) or getattr(cause, "__cause__", None)
        code = getattr(cause, "code", None)
    return code


def _ref_chain(op, nq, fr_opts, *op_args):
    """Run from_rdf then `op` on the reference; (out, code, crash)."""
    ref = get_reference_jsonld()
    try:
        doc = ref.from_rdf(nq, dict(fr_opts))
        out = getattr(ref, op)(doc, *[json.loads(json.dumps(a)) for a in op_args])
        return out, None, None
    except Exception as e:  # noqa: BLE001
        code = _code_of(e)
        return None, code, (None if code is not None else type(e).__name__)


def _my_chain(op, nq, fr_opts, *op_args):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    try:
        doc = api.from_rdf(nq, dict(fr_opts))
        out = getattr(api, op)(doc, *[json.loads(json.dumps(a)) for a in op_args])
        return out, None
    except JsonLdError as e:
        return None, e.code


def _dumps(x):
    # string compare so NaN == NaN (useNativeTypes decodes "NaN"^^xsd:double)
    return json.dumps(x, sort_keys=True)


@settings(
    max_examples=300, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(ds=datasets, ctx=contexts, native=st.booleans(),
       direction=rdf_directions)
def test_random_quads_fromrdf_compact_matches_reference(ds, ctx, native,
                                                        direction):
    nq = _nquads(ds)
    opts = {"format": "application/n-quads", "useNativeTypes": native,
            "rdfDirection": direction}

    ref_out, ref_code, ref_crash = _ref_chain("compact", nq, opts, ctx)
    my_out, my_code = _my_chain("compact", nq, opts, ctx)

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nnq={nq!r}\nctx={json.dumps(ctx)}\nopts={opts}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert _dumps(my_out) == _dumps(ref_out), (
            f"\nnq={nq!r}\nctx={json.dumps(ctx)}\nopts={opts}"
            f"\nmine={_dumps(my_out)}\nref ={_dumps(ref_out)}"
        )


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(ds=datasets, ctx=contexts, frame_body=frames, native=st.booleans())
def test_random_quads_fromrdf_frame_matches_reference(ds, ctx, frame_body,
                                                      native):
    nq = _nquads(ds)
    opts = {"format": "application/n-quads", "useNativeTypes": native}
    frame_doc = {"@context": json.loads(json.dumps(ctx)), **frame_body}

    ref_out, ref_code, ref_crash = _ref_chain("frame", nq, opts, frame_doc)
    my_out, my_code = _my_chain("frame", nq, opts, frame_doc)

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nnq={nq!r}\nctx={json.dumps(ctx)}\nframe={json.dumps(frame_body)}"
        f"\nopts={opts}\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert _dumps(my_out) == _dumps(ref_out), (
            f"\nnq={nq!r}\nctx={json.dumps(ctx)}\nframe={json.dumps(frame_body)}"
            f"\nopts={opts}\nmine={_dumps(my_out)}\nref ={_dumps(ref_out)}"
        )


@settings(
    max_examples=300, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(contexts, bodies)
def test_double_expansion_matches_reference(ctx, body):
    """expand(expand(doc)) differentially — expansion whose INPUT is
    expanded form (keyword-only keys, top-level arrays, free-floating
    @value objects), plus the idempotence check on the reference's own
    output (a divergence there would mark a non-idempotent corner worth
    pinning either way)."""
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    doc = {"@context": ctx, **body}

    ref_e1, ref_code, ref_crash = None, None, None
    ref_e2 = None
    try:
        ref_e1 = ref.expand(json.loads(json.dumps(doc)))
        ref_e2 = ref.expand(json.loads(json.dumps(ref_e1)))
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_e2, my_code = None, None
    try:
        my_e1 = api.expand(json.loads(json.dumps(doc)))
        my_e2 = api.expand(json.loads(json.dumps(my_e1)))
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return
    assert my_code == ref_code, (
        f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
        f"\nref_code={ref_code} my_code={my_code}"
    )
    if ref_code is None:
        assert _dumps(my_e2) == _dumps(ref_e2), (
            f"\nctx={json.dumps(ctx)}\nbody={json.dumps(body)}"
            f"\ne1={_dumps(ref_e1)}"
            f"\nmine={_dumps(my_e2)}\nref ={_dumps(ref_e2)}"
        )
