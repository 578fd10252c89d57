"""Differential tests for the JsonLdProcessor record helpers
(has_property/has_value/add_value/get_values/remove_property/remove_value/
compare_values — reference jsonld.py:1116-1330) against our
pyld_spark.jsonld.nodemap equivalents, over randomized subjects/values."""

from __future__ import annotations

import copy
import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.ref_oracle import get_reference_jsonld, requires_reference

from pyld_spark.jsonld import nodemap

pytestmark = requires_reference

EX = "http://e/"

values = st.one_of(
    st.text(max_size=5),
    st.integers(min_value=-3, max_value=3),
    st.booleans(),
    st.fixed_dictionaries({"@value": st.text(max_size=3)}),
    st.fixed_dictionaries(
        {"@value": st.text(max_size=3)},
        optional={"@language": st.sampled_from(["en", "de"])},
    ),
    st.fixed_dictionaries({"@id": st.sampled_from([EX + "a", EX + "b"])}),
    st.fixed_dictionaries({"@list": st.lists(st.integers(0, 2), max_size=2)}),
)

subjects = st.dictionaries(
    st.sampled_from([EX + "p", EX + "q"]),
    st.one_of(values, st.lists(values, max_size=3)),
    max_size=2,
)

props = st.sampled_from([EX + "p", EX + "q", EX + "absent"])

add_options = st.fixed_dictionaries({
    "propertyIsArray": st.booleans(),
    "allowDuplicate": st.booleans(),
})


def _ref():
    return get_reference_jsonld().JsonLdProcessor


S = settings(
    max_examples=300, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)


@S
@given(subjects, props, values)
def test_has_property_and_value(subject, prop, value):
    P = _ref()
    assert nodemap.has_property(copy.deepcopy(subject), prop) == P.has_property(
        copy.deepcopy(subject), prop
    )
    assert nodemap.has_value(copy.deepcopy(subject), prop, value) == P.has_value(
        copy.deepcopy(subject), prop, copy.deepcopy(value)
    )


@S
@given(subjects, props)
def test_get_values(subject, prop):
    P = _ref()
    assert nodemap.get_values(copy.deepcopy(subject), prop) == P.get_values(
        copy.deepcopy(subject), prop
    )


array_subjects = st.dictionaries(
    st.sampled_from([EX + "p", EX + "q"]),
    st.lists(values, max_size=3),
    max_size=2,
)


@S
@given(array_subjects, props, values, st.booleans())
def test_add_value(subject, prop, value, allow_duplicate):
    """Our add_value keeps the ALWAYS-ARRAY internal contract (node-map
    subjects store arrays), equivalent to the reference under
    propertyIsArray=True with scalar values."""
    P = _ref()
    mine = copy.deepcopy(subject)
    ref = copy.deepcopy(subject)
    nodemap.add_value(mine, prop, copy.deepcopy(value),
                      allow_duplicate=allow_duplicate)
    P.add_value(ref, prop, copy.deepcopy(value),
                {"propertyIsArray": True, "allowDuplicate": allow_duplicate})
    assert mine == ref, f"\nmine={mine}\nref ={ref}"


@S
@given(subjects, props, values, st.booleans())
def test_remove_value_and_property(subject, prop, value, prop_is_array):
    P = _ref()
    mine = copy.deepcopy(subject)
    ref = copy.deepcopy(subject)
    nodemap.remove_value(mine, prop, value, property_is_array=prop_is_array)
    try:
        P.remove_value(ref, prop, copy.deepcopy(value),
                       {"propertyIsArray": prop_is_array})
    except KeyError:
        # the reference's remove_property is a bare `del` that raises
        # KeyError on an absent property (jsonld.py:1240-1249) — a crash,
        # not a spec behavior; ours is tolerant (documented divergence)
        return
    assert mine == ref, f"\nmine={mine}\nref ={ref}"
    m2, r2 = copy.deepcopy(subject), copy.deepcopy(subject)
    nodemap.remove_property(m2, prop)
    try:
        P.remove_property(r2, prop)
    except KeyError:
        return
    assert m2 == r2


@S
@given(values, values)
def test_compare_values(v1, v2):
    P = _ref()
    assert nodemap.compare_values(
        copy.deepcopy(v1), copy.deepcopy(v2)
    ) == P.compare_values(copy.deepcopy(v1), copy.deepcopy(v2))
