"""Conformance sweep (BASELINE.md primary correctness metric): P/R ≥ 0.95
vs the reference processor over the reconstructed manifests, using the
reference harness's own comparison semantics (URGNA2012-normalized quad sets
for toRdf/normalize, order-independent JSON otherwise, error-code matches
for negatives). See tests/conformance_harness.py for the methodology note.
"""

from __future__ import annotations

import pytest

from tests.conformance_harness import MANIFESTS, run_manifest
from tests.ref_oracle import requires_reference

pytestmark = requires_reference


@pytest.mark.parametrize(("name", "fn"), MANIFESTS)
def test_conformance_manifest(name, fn):
    score = run_manifest(name, fn)
    detail = "\n".join(f"  {i}: {d}" for i, d in score.disagreements)
    assert score.pass_rate >= 0.95, (
        f"{name}: pass {score.tests_agree}/{score.tests_total}\n{detail}"
    )
    if fn in ("to_rdf", "normalize"):
        assert score.precision >= 0.95 and score.recall >= 0.95, (
            f"{name}: P={score.precision:.3f} R={score.recall:.3f}\n{detail}"
        )
