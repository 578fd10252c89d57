"""Property-based differential tests for compaction round-trips and
flattening: expand(doc) then compact with the same context must match the
reference; flatten must match the reference."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered
from tests.test_property_differential import CONTEXT, documents

pytestmark = requires_reference


@settings(
    max_examples=100, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(documents)
def test_compact_roundtrip_matches_reference(doc):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    ref_out, ref_err = None, False
    try:
        ref_out = ref.compact(doc, {"@context": CONTEXT})
    except Exception:  # noqa: BLE001
        ref_err = True
    my_out, my_err = None, False
    try:
        my_out = api.compact(doc, CONTEXT)
    except JsonLdError:
        my_err = True
    assert my_err == ref_err
    if not ref_err:
        assert equal_unordered(my_out, ref_out), (
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


@settings(
    max_examples=100, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(documents)
def test_flatten_matches_reference(doc):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    ref_out, ref_err = None, False
    try:
        ref_out = ref.flatten(doc)
    except Exception:  # noqa: BLE001
        ref_err = True
    my_out, my_err = None, False
    try:
        my_out = api.flatten(doc)
    except JsonLdError:
        my_err = True
    assert my_err == ref_err
    if not ref_err:
        assert equal_unordered(my_out, ref_out), (
            f"\nmine={my_out!r}\nref ={ref_out!r}"
        )


# --- composite-frame fuzz (round-3: the requireAll early-return bug survived
# two rounds of green suites because no fuzz generated @type+property-pattern
# combos; this one generates 0-2 of {@id, @type} plus 0-2 property patterns
# per frame, both requireAll settings, over random documents) ---

_frame_bodies = st.fixed_dictionaries(
    {},
    optional={
        "@id": st.sampled_from(
            ["http://example.org/a", "http://example.org/zz",
             ["http://example.org/a", "http://example.org/b"], {}]
        ),
        "@type": st.sampled_from(
            ["T1", "T2", [], {}, {"@default": "T2"}, ["T1", "T2"]]
        ),
        "name": st.sampled_from(
            [{"@value": "x"}, {}, [], {"@default": "d"},
             {"@value": "x", "@language": "en"}, {"@value": {}}]
        ),
        "knows": st.sampled_from(
            [{"@id": "http://example.org/a"}, {}, {"@type": "T2"},
             {"@id": "http://example.org/a", "@embed": "@never"}]
        ),
        "items": st.sampled_from(
            [{"@list": [{}]}, {"@list": []},
             {"@list": [{"@value": "x"}]}, {}]
        ),
        "@requireAll": st.booleans(),
        "@explicit": st.booleans(),
        # @link excluded: it can emit shared/circular structures that
        # json.dumps cannot serialize on either side
        "@embed": st.sampled_from(["@once", "@always", "@never"]),
        "@omitDefault": st.booleans(),
    },
)
composite_frames = st.builds(
    lambda b: {"@context": CONTEXT, **b}, _frame_bodies
)


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(documents, composite_frames)
def test_composite_frame_matches_reference(doc, frame):
    import json

    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()

    def run(framer, err_type):
        try:
            return "ok", json.dumps(framer(), sort_keys=True)
        except err_type as e:
            code = getattr(e, "code", None)
            cause = getattr(e, "cause", None) or getattr(e, "__cause__", None)
            for _ in range(4):
                if code is not None or cause is None:
                    break
                code, cause = getattr(cause, "code", None), (
                    getattr(cause, "cause", None)
                    or getattr(cause, "__cause__", None)
                )
            return "err", code
        except Exception as e:  # noqa: BLE001 — processor crash (no code)
            return "crash", type(e).__name__

    r_kind, r_val = run(lambda: ref.frame(doc, frame), Exception)
    if r_kind == "err" and r_val is None:
        r_kind, r_val = "crash", "uncoded"
    m_kind, m_val = run(lambda: api.frame(doc, frame), JsonLdError)

    if r_kind == "crash":
        # reference-processor bug (e.g. IndexError on match-none patterns
        # admitted by an early-return @type): we must handle gracefully —
        # either succeed OR raise a CODED JsonLdError. A coded error is
        # legitimate here because the reference can crash on one subject
        # before reaching another where it would itself raise the coded
        # error (e.g. an empty-array subframe: IndexError at the value
        # match on subject A at jsonld.py:4550, but 'invalid frame' from
        # the recursion's _validate_frame on subject B at jsonld.py:4350).
        # The invariant is: this engine never crashes uncoded.
        assert m_kind in ("ok", "err"), (m_kind, m_val)
        if m_kind == "err":
            assert m_val is not None, "uncoded error where reference crashed"
    else:
        assert (m_kind, m_val) == (r_kind, r_val), (
            f"\nframe={json.dumps(frame)}\ndoc={json.dumps(doc)[:400]}"
            f"\nref =({r_kind}, {str(r_val)[:300]})"
            f"\nmine=({m_kind}, {str(m_val)[:300]})"
        )


# --- cross-context compaction fuzz (round-3): the roundtrip fuzz above
# compacts with the SAME context the document used; real engines compact
# into a DIFFERENT target context — term selection, container packing,
# @vocab-vs-CURIE preference and keyword aliasing all only trigger there ---

EX = "http://example.org/"

TARGET_CONTEXTS = [
    {},  # no terms: absolute IRIs everywhere
    {"@vocab": EX},
    {"ex": EX},  # CURIE compaction
    {"@vocab": EX, "nm": EX + "name", "kn": {"@id": EX + "knows", "@type": "@id"}},
    {"items": {"@id": EX + "items", "@container": "@list"},
     "byLang": {"@id": EX + "byLang", "@container": "@language"}},
    {"id": "@id", "type": "@type", "@vocab": EX},  # keyword aliases
    {"@vocab": EX, "label": {"@id": EX + "label", "@language": "en"},
     "label_de": {"@id": EX + "label", "@language": "de"}},  # term selection
    {"@vocab": EX, "graph": "@graph"},
    {"@version": 1.1, "@vocab": EX,
     "byIdx": {"@id": EX + "byIdx", "@container": "@index"}},
    {"@version": 1.1, "@vocab": EX,
     "T1": {"@id": EX + "T1", "@context": {"scoped": EX + "scoped"}}},
]


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(documents, st.sampled_from(TARGET_CONTEXTS))
def test_cross_context_compact_matches_reference(doc, target_ctx):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    ref_out, ref_err = None, False
    try:
        ref_out = ref.compact(doc, {"@context": target_ctx})
    except Exception:  # noqa: BLE001
        ref_err = True
    my_out, my_err = None, False
    try:
        my_out = api.compact(doc, target_ctx)
    except JsonLdError:
        my_err = True
    assert my_err == ref_err, f"err mismatch mine={my_err} ref={ref_err}"
    if not ref_err:
        assert equal_unordered(my_out, ref_out), (
            f"\nctx={target_ctx}\nmine={my_out!r}\nref ={ref_out!r}"
        )
