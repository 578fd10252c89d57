"""Link-header parser fuzz vs the reference parse_link_header
(jsonld.py:323-368). The reference CRASHES (IndexError) on param-less
links; we return gracefully — those inputs are skipped as documented
divergence (sources/link_header.py)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.ref_oracle import get_reference_jsonld, requires_reference

from pyld_spark.sources.link_header import parse_link_header

pytestmark = requires_reference

targets = st.sampled_from([
    "http://e/ctx.jsonld", "http://e/a,b", "urn:x", "", "http://e/<odd",
])
rels = st.sampled_from([
    "http://www.w3.org/ns/json-ld#context", "alternate", "next", "",
    'quo"ted',
])
params = st.sampled_from([
    ('type', 'application/ld+json'),
    ('type', 'text/html'),
    ('title', 'a, title'),      # comma inside quotes
    ('anchor', '#x'),
    ('x', ''),
])


def _entry(target, rel, extra):
    parts = [f"<{target}>", f'rel="{rel}"']
    if extra:
        parts.append(f'{extra[0]}="{extra[1]}"')
    return "; ".join(parts)


entries = st.builds(
    _entry, targets, rels, st.one_of(st.none(), params)
)

headers = st.lists(entries, min_size=1, max_size=3).map(", ".join)


@settings(
    max_examples=300, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(headers)
def test_parse_link_header_matches_reference(header):
    ref = get_reference_jsonld()
    try:
        expected = ref.parse_link_header(header)
    except Exception:  # noqa: BLE001 — reference crash (param-less links)
        return
    actual = parse_link_header(header)
    assert actual == expected, (
        f"\nheader={header!r}\nmine={actual!r}\nref ={expected!r}"
    )
