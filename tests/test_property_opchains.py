"""Differential fuzz over chained DOCUMENT-side operation paths.

test_property_quadchains covers quad-origin chains (fromRdf → compact/frame)
and expand ∘ expand. This axis covers the remaining document-side
compositions, where one operation's output — a distribution the document
grammar never generates directly — becomes the next operation's input:

- compact → expand: re-expansion over COMPACTED form (term-compacted IRIs,
  value objects collapsed to scalars, language/index/id maps synthesized by
  compaction, @graph wrapping) under the compaction context.
  Reference parity target: jsonld.py compact (412) then expand (566).
- flatten → frame: framing over flattened-and-compacted output (@graph
  arrays of flat node objects, inverse-context term choices).
  Reference parity target: jsonld.py flatten (741) then frame (803).
- frame → compact: compaction over framed output (embedded trees, @graph
  wrap, omitted-default residue) under a SECOND independent context.
  Reference parity target: jsonld.py frame (803) then compact (412).

Each chain runs end-to-end on BOTH engines with each engine consuming its
OWN intermediate, so a silent intermediate divergence amplifies into a
final-output mismatch.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_property_contexts import bodies, contexts, frames

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


def _clone(x):
    return json.loads(json.dumps(x))


def _dumps(x):
    return json.dumps(x, sort_keys=True)


def _ref_steps(steps):
    """Run [(op, *args)] on the reference, feeding each output forward.

    Returns (out, code, crash_class).
    """
    ref = get_reference_jsonld()
    out = None
    try:
        for op, *args in steps:
            args = [_clone(a) if isinstance(a, (dict, list)) else a for a in args]
            if out is not None:
                args = [_clone(out)] + args
            out = getattr(ref, op)(*args)
        return out, None, None
    except Exception as e:  # noqa: BLE001
        code = _code_of(e)
        return None, code, (None if code is not None else type(e).__name__)


def _my_steps(steps):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    out = None
    try:
        for op, *args in steps:
            args = [_clone(a) if isinstance(a, (dict, list)) else a for a in args]
            if out is not None:
                args = [_clone(out)] + args
            out = getattr(api, op)(*args)
        return out, None
    except JsonLdError as e:
        return None, e.code


def _assert_chain(steps, label):
    ref_out, ref_code, ref_crash = _ref_steps(steps)
    my_out, my_code = _my_steps(steps)
    if ref_crash is not None:
        return  # documented crash-divergence class: reference raises uncoded
    assert my_code == ref_code, (
        f"\n{label}\nsteps={json.dumps([s[0] for s in steps])}"
        f"\nargs={_dumps([s[1:] for s in steps])}"
        f"\nref_code={ref_code} my_code={my_code}"
        f"\nref_out={ref_out!r}\nmy_out={my_out!r}"
    )
    if ref_code is None:
        assert _dumps(my_out) == _dumps(ref_out), (
            f"\n{label}\nargs={_dumps([s[1:] for s in steps])}"
            f"\nmine={_dumps(my_out)}\nref ={_dumps(ref_out)}"
        )


@settings(
    max_examples=300, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(ctx=contexts, body=bodies, ctx2=contexts)
def test_compact_then_expand_matches_reference(ctx, body, ctx2):
    doc = {"@context": ctx, **body}
    _assert_chain(
        [("compact", doc, ctx2), ("expand",)],
        f"compact->expand\nctx={_dumps(ctx)}\nbody={_dumps(body)}\nctx2={_dumps(ctx2)}",
    )


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(ctx=contexts, body=bodies, ctx2=contexts, frame_body=frames)
def test_flatten_then_frame_matches_reference(ctx, body, ctx2, frame_body):
    doc = {"@context": ctx, **body}
    frame_doc = {"@context": _clone(ctx2), **frame_body}
    _assert_chain(
        [("flatten", doc, ctx2), ("frame", frame_doc)],
        f"flatten->frame\nctx={_dumps(ctx)}\nbody={_dumps(body)}"
        f"\nctx2={_dumps(ctx2)}\nframe={_dumps(frame_body)}",
    )


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(ctx=contexts, body=bodies, frame_body=frames, ctx2=contexts)
def test_frame_then_compact_matches_reference(ctx, body, frame_body, ctx2):
    doc = {"@context": ctx, **body}
    frame_doc = {"@context": _clone(ctx), **frame_body}
    _assert_chain(
        [("frame", doc, frame_doc), ("compact", ctx2)],
        f"frame->compact\nctx={_dumps(ctx)}\nbody={_dumps(body)}"
        f"\nframe={_dumps(frame_body)}\nctx2={_dumps(ctx2)}",
    )


# --- wave N+25: 4-stage expand -> toRdf -> fromRdf -> compact chains ------
#
# The full round-trip through the RDF layer and back to compact form, with
# each engine consuming its OWN intermediates (expanded form, dataset dict
# or serialized N-Quads, fromRdf output). Exercises the to_rdf no-format
# dataset-dict dialect, the n-quads serializer/parser pair, rdfDirection
# round-trips, and useNativeTypes re-compaction in one amplifying chain.
# Reference parity target: jsonld.py expand (566) -> to_rdf (996) ->
# from_rdf (945) -> compact (412).

import hypothesis.strategies as st  # noqa: E402


@settings(
    max_examples=300, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(
    ctx=contexts, body=bodies, ctx2=contexts,
    serialize=st.booleans(),
    native=st.booleans(),
    direction=st.sampled_from([None, "i18n-datatype", "compound-literal"]),
)
def test_expand_tordf_fromrdf_compact_matches_reference(
    ctx, body, ctx2, serialize, native, direction
):
    doc = {"@context": ctx, **body}
    tordf_opts = {"rdfDirection": direction}
    fromrdf_opts = {"useNativeTypes": native, "rdfDirection": direction}
    if serialize:
        tordf_opts["format"] = "application/n-quads"
        fromrdf_opts["format"] = "application/n-quads"
    _assert_chain(
        [
            ("expand", doc),
            ("to_rdf", tordf_opts),
            ("from_rdf", fromrdf_opts),
            ("compact", ctx2),
        ],
        f"expand->tordf->fromrdf->compact serialize={serialize} "
        f"native={native} direction={direction}"
        f"\nctx={_dumps(ctx)}\nbody={_dumps(body)}\nctx2={_dumps(ctx2)}",
    )
