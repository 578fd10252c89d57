"""Differential tests: pyld_spark.jsonld.expand vs the reference processor.

Comparison is order-insensitive for arrays, mirroring the reference harness's
equal_unordered (/root/reference/tests/runtests.py:533-548)."""

from __future__ import annotations

import pytest

from pyld_spark.jsonld.context import initial_context, process_context
from pyld_spark.jsonld.errors import JsonLdError
from pyld_spark.jsonld.expand import expand

from tests.fixtures_expand import EXPAND_ERROR_FIXTURES, EXPAND_FIXTURES
from tests.ref_oracle import (
    REFERENCE_PRESENT,
    get_reference_jsonld,
    requires_reference,
)


def equal_unordered(a, b) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        return set(a) == set(b) and all(equal_unordered(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            return False
        unmatched = list(b)
        for x in a:
            for i, y in enumerate(unmatched):
                if equal_unordered(x, y):
                    unmatched.pop(i)
                    break
            else:
                return False
        return True
    return a == b and type(a) == type(b)  # noqa: E721 (bool vs int matters)


def my_expand(doc, base_url=None):
    ctx = initial_context(base=base_url)
    return expand(doc, context=ctx, base_url=base_url)


@requires_reference
@pytest.mark.parametrize("name", sorted(EXPAND_FIXTURES))
def test_expand_matches_reference(name):
    doc, base = EXPAND_FIXTURES[name]
    ref = get_reference_jsonld()
    expected = ref.expand(doc, options={"base": base} if base else {})
    actual = my_expand(doc, base_url=base)
    assert equal_unordered(actual, expected), (
        f"{name}:\n mine={actual!r}\n ref ={expected!r}"
    )


@pytest.mark.parametrize("name", sorted(EXPAND_ERROR_FIXTURES))
def test_expand_error_codes_match_reference(name):
    # the expected code is the fixture's JSON-LD 1.1 API error code; the
    # reference confirms it only where it is installed
    doc, code = EXPAND_ERROR_FIXTURES[name]
    if REFERENCE_PRESENT:
        ref = get_reference_jsonld()
        ref_code = None
        try:
            ref.expand(doc)
        except Exception as e:  # noqa: BLE001
            ref_code = getattr(e, "code", None)
        assert ref_code == code, f"fixture {name}: reference raised {ref_code}, expected {code}"
    with pytest.raises(JsonLdError) as exc_info:
        my_expand(doc)
    assert exc_info.value.code == code


def test_context_processing_transcript_vocab():
    from pyld_spark.transcripts import TRANSCRIPT_CONTEXT, VOCAB

    ctx = process_context(initial_context(), TRANSCRIPT_CONTEXT)
    assert ctx.vocab == VOCAB
    assert ctx.terms["turns"].container == ("@list",)
    assert ctx.terms["turnIndex"].type.endswith("integer")
