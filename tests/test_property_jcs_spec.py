"""RFC 8785 (JCS) properties of ``pyld_spark/jsonld/jcs.py`` that need no
reference implementation: the sibling of ``test_property_jcs.py``, which
compares against the reference's vendored module and skips without it.

- The output is JSON that parses back to the input. JSON numbers are
  I-JSON doubles (RFC 8785 §3.2.2.3), so integers are read back as floats.
- Object members are ordered by the UTF-16 code units of their names
  (§3.2.3), at every depth. The expected order is computed here from the
  UTF-16BE encoding, whose byte order is the code-unit order.
- A finite double serializes to a number that reads back as the same
  double (§3.2.2.3, ECMAScript ``Number::toString``).
"""

from __future__ import annotations

import json
import math
import struct

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyld_spark.jsonld.jcs import canonicalize

# around the two orders that disagree: astral characters (UTF-16 surrogate
# pairs, 0xD800-0xDBFF lead units) sort before U+E000-U+FFFF by code unit
# and after them by code point
_EDGE_CHARS = ["a", "\x7f", "\u00e9", "\ud7ff", "\ue000", "\uffee", "\uffff",
               "\U00010000", "\U0001f600", "\U0010ffff"]
_chars = st.one_of(
    st.sampled_from(_EDGE_CHARS),
    st.characters(blacklist_categories=("Cs",)),
)
keys = st.text(alphabet=_chars, max_size=4)


def _any_double():
    return st.one_of(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.integers(min_value=0, max_value=2**64 - 1)
        .map(lambda b: struct.unpack("<d", struct.pack("<Q", b))[0])
        .filter(math.isfinite),
    )


json_values = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**53), max_value=2**53),
        _any_double(),
        st.text(alphabet=st.one_of(_chars, st.sampled_from("\"\\\b\f\n\r\t\x00\x1f")),
                max_size=8),
    ),
    lambda c: st.one_of(
        st.lists(c, max_size=4),
        st.dictionaries(keys, c, max_size=4),
    ),
    max_leaves=12,
)

SETTINGS = settings(
    max_examples=400, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)


def _same(a, b) -> bool:
    """JSON-value equality that keeps ``true``, ``1`` and ``1.0`` apart where
    JSON does: booleans and null are not numbers."""
    if a is None or isinstance(a, bool) or b is None or isinstance(b, bool):
        return a is b
    if isinstance(a, (int, float)):
        return isinstance(b, (int, float)) and a == b
    if isinstance(a, list):
        return isinstance(b, list) and len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, dict):
        return (isinstance(b, dict) and a.keys() == b.keys()
                and all(_same(a[k], b[k]) for k in a))
    return type(a) is type(b) and a == b


@SETTINGS
@given(json_values)
@example({"k": "\b\x00\x1f\"\\"})
def test_output_parses_back_to_the_input(value):
    text = canonicalize(value)
    assert _same(json.loads(text, parse_int=float), value), text


@SETTINGS
@given(json_values)
@example({"\ue000": 1, "\U0001f600": 2})
def test_members_sort_by_utf16_code_units(value):
    orders = []

    def members(pairs):
        orders.append([k for k, _ in pairs])
        return dict(pairs)

    json.loads(canonicalize(value), object_pairs_hook=members)
    for names in orders:
        assert names == sorted(names, key=lambda k: k.encode("utf-16-be")), names


@SETTINGS
@given(_any_double())
@example(0.1 + 0.2)
def test_finite_numbers_round_trip_through_float(x):
    text = canonicalize(x)
    assert float(text) == x, text
    assert isinstance(json.loads(text), (int, float)), text
