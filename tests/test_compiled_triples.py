"""Differential pin: the compiled JVM path for transcript-shaped docs
(`_compiled_transcript_triples`) emits exactly the same triple multiset as the
general Python kernel, on the real corpus and on adversarial synthesized
transcripts (nulls, unicode, JSON-escapable characters, single-turn convs)."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from pyld_spark.operators.expand_stage import (
    _compiled_transcript_triples,
    docs_to_triples,
    split_quarantine,
)
from pyld_spark.transcripts import (
    DOC_SHAPE_META_KEY,
    TRANSCRIPT_SHAPE_V1,
    assemble_documents,
    transcripts_from_events,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _strip_tag(docs):
    """Remove the shape tag so docs_to_triples takes the general kernel."""
    return docs.select("conv_id", F.col("doc").alias("doc", metadata={}))


def test_tag_routes_to_compiled_plan(spark, sf_dir):
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    assert docs.schema["doc"].metadata.get(DOC_SHAPE_META_KEY) == TRANSCRIPT_SHAPE_V1
    plan = docs_to_triples(docs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInArrow" not in plan
    assert "PythonMapInArrow" not in plan
    # untagged input still uses the general kernel
    plan_general = (
        docs_to_triples(_strip_tag(docs))._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInArrow" in plan_general or "ArrowEvalPython" in plan_general


def test_compiled_matches_kernel_on_corpus(spark, sf_dir):
    docs = assemble_documents(transcripts_from_events(spark, sf_dir)).cache()
    try:
        compiled, cq = split_quarantine(docs_to_triples(docs))
        general, gq = split_quarantine(docs_to_triples(_strip_tag(docs)))
        assert cq.count() == 0 and gq.count() == 0
        assert _rows(compiled) == _rows(general)
    finally:
        docs.unpersist()


@pytest.mark.parametrize(
    "case", ["nulls", "unicode", "single", "hot", "duplicate_id", "null_turn_idx"]
)
def test_compiled_matches_kernel_adversarial(spark, case):
    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    if case == "nulls":
        rows = [
            ("c-1", 0, "user", None, None, ts0),  # null text → no text triple
            ("c-1", 1, "tool", "x", None, ts0),
            ("c-2", 0, "assistant", "y", "checkout", ts0),
        ]
    elif case == "unicode":
        rows = [
            ("c-u", 0, "user", 'caf\u00e9 "q" \\slash\n\ttab \u4f60\u597d \u2028ls', None, ts0),
            ("c-u", 1, "user", "\x01ctl <p> & 'sq'", "debugger", ts0),
        ]
    elif case == "single":
        rows = [("c-s", 0, "system", "only turn", None, ts0)]
    elif case == "duplicate_id":
        # one turn @id twice: the kernel merges the two nodes (a graph is a
        # set), the second pair also differs in role/text/tool
        rows = [
            ("c-d", 0, "user", "a", None, ts0),
            ("c-d", 1, "user", "b", None, ts0),
            ("c-d", 1, "user", "b", None, ts0),
            ("c-d", 2, "user", "x", None, ts0),
            ("c-d", 2, "tool", "y", "search", ts0),
        ]
    elif case == "null_turn_idx":
        # turns without an @id are blank nodes, numbered before the cells
        rows = [
            ("c-n", None, "user", "p", None, ts0),
            ("c-n", 0, "assistant", "q", None, ts0),
            ("c-n", None, "tool", "r", "python", ts0),
            ("c-n", 1, "user", "s", None, ts0),
            ("c-n", None, "system", "t", None, ts0),
        ]
    else:  # hot: enough turns to exercise multi-digit cons-cell labels
        rows = [("c-h", i, "user", f"t{i}", None, ts0) for i in range(25)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    docs = assemble_documents(t).cache()
    try:
        compiled, cq = split_quarantine(docs_to_triples(docs))
        general, gq = split_quarantine(docs_to_triples(_strip_tag(docs)))
        assert cq.count() == 0 and gq.count() == 0
        assert _rows(compiled) == _rows(general)
        # and the compiled builder agrees when invoked directly
        direct = _compiled_transcript_triples(docs, "conv_id", "doc")
        assert _rows(direct.where(F.col("error_code").isNull()).drop("error_code")) == _rows(general)
    finally:
        docs.unpersist()


def test_null_doc_quarantines_on_both_routes(spark):
    """A null conv_id assembles to a null (still tagged) doc. Both routes
    must turn it into the same single quarantine row — never into triples
    with null subjects, and never into a failed task."""
    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    t = spark.createDataFrame(
        [(None, 0, "user", "x", None, ts0), ("c-1", 0, "user", "y", None, ts0)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    docs = assemble_documents(t).cache()
    try:
        assert docs.schema["doc"].metadata.get(DOC_SHAPE_META_KEY) == TRANSCRIPT_SHAPE_V1
        assert docs.where(F.col("doc").isNull()).count() == 1
        compiled, cq = split_quarantine(docs_to_triples(docs))
        general, gq = split_quarantine(docs_to_triples(_strip_tag(docs)))
        assert _rows(cq) == _rows(gq) == [(None, "internal error: TypeError")]
        assert compiled.where(F.col("subj").isNull()).count() == 0
        assert _rows(compiled) == _rows(general)
    finally:
        docs.unpersist()
