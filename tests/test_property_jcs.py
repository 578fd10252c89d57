"""JCS (RFC 8785) canonicalization fuzz vs the reference's vendored
c14n.Canonicalize — used by both engines for @json literal values
(reference jsonld.py:3936; ours jsonld/jcs.py). Numbers use ES6
serialization, the riskiest corner."""

from __future__ import annotations

import json
import math
import struct
import sys

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.ref_oracle import REFERENCE_LIB

from pyld_spark.jsonld.jcs import canonicalize as my_canonicalize

if REFERENCE_LIB not in sys.path:
    sys.path.insert(0, REFERENCE_LIB)
try:
    from c14n.Canonicalize import canonicalize as ref_canonicalize  # noqa: E402
except ImportError:
    ref_canonicalize = None

pytestmark = pytest.mark.skipif(
    ref_canonicalize is None,
    reason="oracle: the reference's vendored JCS module c14n.Canonicalize "
    "(under /root/reference/lib) does not import",
)


def _interesting_floats():
    # bit-pattern-driven doubles plus RFC 8785 appendix-B style cases
    fixed = [
        0.0, -0.0, 1.0, -1.5, 1e21, 1e-21, 5e-324, 1.7976931348623157e308,
        9007199254740992.0, -9007199254740994.0, 333333333.3333333,
        0.1, 2.0 ** 52, 10.0 / 3.0, 1e23,
    ]
    return st.one_of(
        st.sampled_from(fixed),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.integers(min_value=0, max_value=2**64 - 1).map(
            lambda b: struct.unpack("<d", struct.pack("<Q", b))[0]
        ).filter(lambda f: math.isfinite(f)),
    )


json_values = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**53), max_value=2**53),
        _interesting_floats(),
        st.text(max_size=8),
    ),
    lambda c: st.one_of(
        st.lists(c, max_size=4),
        st.dictionaries(st.text(max_size=6), c, max_size=4),
    ),
    max_leaves=12,
)


@settings(
    max_examples=500, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(json_values)
def test_jcs_matches_reference(value):
    value = json.loads(json.dumps(value))  # normalize to JSON-clean input
    mine = my_canonicalize(value)
    ref = ref_canonicalize(value)
    if isinstance(ref, bytes):
        ref = ref.decode("utf-8")
    if isinstance(mine, bytes):
        mine = mine.decode("utf-8")
    assert mine == ref, f"\nvalue={value!r}\nmine={mine!r}\nref ={ref!r}"


def test_api_canonicalize_matches_reference_module_function():
    # api.canonicalize mirrors the reference's module-level canonicalize
    # (vendored c14n): UTF-8 bytes by default, text with utf8=False
    from pyld_spark.jsonld import api
    from tests.ref_oracle import get_reference_jsonld

    ref = get_reference_jsonld()
    for obj in ({"b": 1.5, "a": [True, None, "xé"]}, [], {"k": 1e21},
                "plain", 42, {"nested": {"deep": [0.1, -0.0]}}):
        assert api.canonicalize(obj) == ref.canonicalize(obj)
        assert api.canonicalize(obj, utf8=False) == ref.canonicalize(
            obj, utf8=False)
