"""The benchmark's own test: its output checks fail on corrupted output.

    python3 -m pytest perfbench/test_perfbench.py -q     (from the repo root)

No Spark: the expected rows come from the oracle, the corruption is applied
to a copy, and the check is the same digest comparison the runs make.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import oracle  # noqa: E402
from workloads import MixedJsonld, Workload  # noqa: E402


class _Check(Workload):
    name = "mixed_jsonld"

    def __init__(self):  # no session: only the comparison is exercised
        self.mismatches = []


def _canonical():
    docs, planted = gen.mixed_docs(7, transcript_docs=3, turns=4, context_docs=3,
                                   context_pool=5, automorphic_docs=2, invalid_docs=2)
    canonical, quarantine = oracle.kg_expected(docs)
    return canonical, quarantine, planted


def test_intact_output_passes():
    canonical, _, _ = _canonical()
    check = _Check()
    assert check.compare("canonical", oracle.digest(list(reversed(canonical))),
                         oracle.digest(canonical))
    assert check.mismatches == []


def test_dropped_triple_is_caught():
    canonical, _, _ = _canonical()
    check = _Check()
    assert not check.compare("canonical", oracle.digest(canonical[1:]),
                             oracle.digest(canonical))
    assert check.mismatches


def test_changed_c14n_label_is_caught():
    canonical, _, _ = _canonical()
    i = next(i for i, r in enumerate(canonical) if "_c14n0" in r[1])
    row = list(canonical[i])
    row[1] = row[1].replace("_c14n0", "_c14n1")
    corrupted = canonical[:i] + [tuple(row)] + canonical[i + 1:]
    check = _Check()
    assert not check.compare("canonical", oracle.digest(corrupted), oracle.digest(canonical))


def test_planted_quarantine_codes():
    _, quarantine, planted = _canonical()
    assert sorted(quarantine) == planted["quarantine"]


def test_changed_pair_score_is_caught():
    groups = [["d1", "d2", "d3"]]
    want = oracle.digest(oracle.pair_rows(groups, 10000))
    assert oracle.digest(oracle.pair_rows(groups, 9999)) != want


def test_spark_xxhash64_of_ints():
    # values read from Spark: SELECT xxhash64(3, 5), xxhash64(7, 63)
    assert oracle.xxhash64_int(5, oracle.xxhash64_int(3, 42)) == 6029640364193765476
    assert oracle.xxhash64_int(63, oracle.xxhash64_int(7, 42)) == -6989539107237480900


def test_inputs_follow_the_seed():
    a = gen.text_docs(3, 20, 2, 3)
    assert a == gen.text_docs(3, 20, 2, 3)
    assert a != gen.text_docs(4, 20, 2, 3)


def test_committed_values_match_the_oracle():
    w = MixedJsonld(None, None, 1, None)
    w.inputs()
    assert w.expected()["want"] == {k: tuple(v) for k, v in
                                    oracle.committed("mixed_jsonld", 1)["want"].items()}


def test_dropped_triple_is_caught_against_committed_values():
    w = MixedJsonld(None, None, 1, None)
    w.inputs()
    w.expect()
    assert w.notes == []
    canonical, _ = oracle.kg_expected(w.docs)
    assert w.compare("canonical", oracle.digest(canonical), w.want["canonical"])
    assert not w.compare("canonical", oracle.digest(canonical[:-1]), w.want["canonical"])
