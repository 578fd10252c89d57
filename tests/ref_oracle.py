"""Import the reference pyld processor (read-only at /root/reference) as a
*test oracle only* — its missing third-party deps (lxml, cachetools,
frozendict) are stubbed since we exercise none of the HTML/caching paths.

Nothing from the reference is shipped in pyld_spark; tests compare our
output against its behavior (SURVEY.md §5: the reference's own equality
oracle for triples is canonicalized-N-Quads comparison,
/root/reference/tests/runtests.py:455-476).

When ``/root/reference/lib`` is absent, the differential suites skip with
an ``oracle:`` reason through ``requires_reference``: their only expected
value is the reference's live output. Tests whose expected values are
written in this repository still run; they check the reference leg only
when ``REFERENCE_PRESENT``. Those are the error codes of
``fixtures_expand.EXPAND_ERROR_FIXTURES``, the literals pinned in
``test_base_options`` and ``test_fromrdf_vs_reference``, and the
shared-embed check in ``test_link_api``.
``get_reference_jsonld()`` itself does not skip, so a reference that is
present but broken still fails loudly.
"""

from __future__ import annotations

import os
import sys
import types

import pytest

REFERENCE_LIB = "/root/reference/lib"
REFERENCE_PRESENT = os.path.isdir(REFERENCE_LIB)

requires_reference = pytest.mark.skipif(
    not REFERENCE_PRESENT,
    reason="oracle: reference pyld at /root/reference/lib is not on this machine",
)


def _stub_modules() -> None:
    if "lxml" not in sys.modules:
        lxml = types.ModuleType("lxml")
        lxml_html = types.ModuleType("lxml.html")
        lxml.html = lxml_html
        sys.modules["lxml"] = lxml
        sys.modules["lxml.html"] = lxml_html
    if "cachetools" not in sys.modules:
        ct = types.ModuleType("cachetools")

        class LRUCache(dict):
            def __init__(self, maxsize=128, **kw):
                super().__init__()
                self.maxsize = maxsize

            def __setitem__(self, k, v):
                if len(self) >= self.maxsize and k not in self:
                    self.pop(next(iter(self)))
                super().__setitem__(k, v)

        ct.LRUCache = LRUCache
        sys.modules["cachetools"] = ct
    if "frozendict" not in sys.modules:
        fd = types.ModuleType("frozendict")

        class frozendict(dict):
            def __hash__(self):
                return hash(frozenset((k, id(v)) for k, v in self.items()))

            def _blocked(self, *a, **k):
                raise TypeError("frozendict is immutable")

            __setitem__ = __delitem__ = _blocked
            clear = pop = popitem = setdefault = update = _blocked

        fd.frozendict = frozendict
        sys.modules["frozendict"] = fd


def get_reference_jsonld(fresh_caches: bool = True):
    """Return the reference ``pyld.jsonld`` module (oracle).

    ``fresh_caches``: clear the reference's module-level resolved/inverse
    context caches. The resolved-context cache keys ignore processing
    options (base, processingMode), so entries populated by an earlier test
    can poison a later differential comparison — real reference behavior,
    but an order-dependent flake for parity tests."""
    _stub_modules()
    if REFERENCE_LIB not in sys.path:
        sys.path.insert(0, REFERENCE_LIB)
    from pyld import jsonld  # type: ignore

    if fresh_caches:
        try:
            jsonld._resolved_context_cache.clear()
            jsonld._inverse_context_cache.clear()
        except Exception:  # noqa: BLE001 — cache internals may change
            pass
    return jsonld
