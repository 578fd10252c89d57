"""In-row canonical labels for tagged transcript docs
(``canonicalize_documents``) against the general DataFrame canonicalization
(``canonicalize_triples``), on fixed corpora and on random transcript
shapes, and the plan shape of the in-row route: no exchange and no Python
node between the scan and the canonical triples."""

from __future__ import annotations

import datetime
import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from pyld_spark.operators.canonicalize import canonicalize_documents, canonicalize_triples
from pyld_spark.operators.expand_stage import (
    _compiled_transcript_triples,
    _transcript_fallback_ids,
    docs_to_triples,
    split_quarantine,
)
from pyld_spark.transcripts import (
    CONV_BASE,
    DOC_SHAPE_META_KEY,
    TRANSCRIPT_CONTEXT,
    TRANSCRIPT_SHAPE_V1,
    assemble_documents,
    synthesize_transcripts,
    transcripts_from_events,
)

def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _adversarial(spark):
    """The adversarial cases of tests/test_compiled_triples.py, a null
    conv_id and one 2,000-turn conversation."""
    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("c-1", 0, "user", None, None, ts0),
        ("c-1", 1, "tool", "x", None, ts0),
        ("c-2", 0, "assistant", "y", "checkout", ts0),
        ("c-u", 0, "user", 'caf\u00e9 "q" \\slash\n\ttab \u4f60\u597d \u2028ls', None, ts0),
        ("c-u", 1, "user", "\x01ctl <p> & 'sq'", "debugger", ts0),
        ("c-s", 0, "system", "only turn", None, ts0),
        (None, 0, "user", "null conv", None, ts0),
    ]
    rows += [("c-h", i, "user", f"t{i}", None, ts0) for i in range(25)]
    rows += [("c-big", i, "assistant", f"b{i}", None, ts0) for i in range(2000)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


@pytest.fixture(scope="module")
def corpus(spark, sf_dir, odd_convs):
    """sf_dir transcripts + adversarial cases, then the two conversations
    the in-row route cannot serve."""
    t = (
        transcripts_from_events(spark, sf_dir).select(*odd_convs.columns)
        .unionByName(_adversarial(spark))
        .unionByName(odd_convs)
    )
    docs = assemble_documents(t).cache()
    triples = split_quarantine(docs_to_triples(docs))[0].cache()
    yield docs, triples
    docs.unpersist()
    triples.unpersist()


def test_in_row_labels_equal_general_canonicalization(corpus):
    docs, triples = corpus
    want = canonicalize_triples(triples)
    assert _rows(canonicalize_documents(docs, triples)) == _rows(want)
    # the in-row route alone serves every doc but the fallback ones
    in_row = _compiled_transcript_triples(docs, "conv_id", "doc", canonical=True)
    odd = F.col("doc_id").isin("a-dup", "zz-anon")
    assert _rows(in_row) == _rows(want.where(~odd).drop("error_code"))
    assert in_row.where(odd).count() == 0


def test_fallback_ids_are_the_null_and_repeated_id_convs(corpus):
    docs, _ = corpus
    ids = [r.doc_id for r in _transcript_fallback_ids(docs, "conv_id", "doc").collect()]
    assert sorted(ids) == ["a-dup", "zz-anon"]


def test_untagged_docs_take_the_general_canonicalization(spark):
    docs = assemble_documents(synthesize_transcripts(spark, n_convs=6, turns_per_conv=3))
    untagged = docs.select("conv_id", F.col("doc").alias("doc", metadata={}))
    triples = split_quarantine(docs_to_triples(untagged))[0]
    got = canonicalize_documents(untagged, triples)
    assert "FlatMapGroupsInArrow" in got._jdf.queryExecution().executedPlan().toString()
    assert _rows(got) == _rows(canonicalize_triples(triples))


def test_tagged_plan_has_no_exchange_and_no_python(spark, tmp_path):
    """Docs and triples round-tripped through parquet — the shape of the
    pipeline's stage boundary."""
    docs = assemble_documents(synthesize_transcripts(spark, n_convs=20, turns_per_conv=5))
    docs.write.parquet(str(tmp_path / "docs"))
    split_quarantine(docs_to_triples(docs))[0].write.parquet(str(tmp_path / "triples"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    triples = spark.read.parquet(str(tmp_path / "triples"))
    assert docs.schema["doc"].metadata.get(DOC_SHAPE_META_KEY) == TRANSCRIPT_SHAPE_V1
    out = canonicalize_documents(docs, triples)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for node in ("MapInArrow", "ArrowEvalPython", "FlatMapGroupsInArrow"):
        assert node not in plan, node
    assert _rows(out) == _rows(canonicalize_triples(triples))


_TRANSCRIPT_DDL = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
# a literal field: absent (null) or any text, unicode and control characters included
_field = st.one_of(st.none(), st.text(st.characters(blacklist_categories=("Cs",)), max_size=6))
_ts = st.one_of(st.none(), st.datetimes(datetime.datetime(1970, 1, 2), datetime.datetime(2100, 1, 1)))
# 0-40 turns, each turn index (hence each turn @id) distinct within its conversation
_conversation = st.lists(st.integers(0, 10_000), max_size=40, unique=True).flatmap(
    lambda idx: st.tuples(*(st.tuples(st.just(i), _field, _field, _field, _ts) for i in idx)))


def _tagged_docs(spark, conversations):
    """Assembled docs of ``conversations``. A conversation without turns has
    no transcript row, so its doc is the one ``assemble_documents`` would
    build, written out here with the same shape tag."""
    rows = [(f"h-{c}", *turn) for c, turns in enumerate(conversations) for turn in turns]
    docs = assemble_documents(spark.createDataFrame(rows, _TRANSCRIPT_DDL))
    empty = [(f"h-{c}", '{"@context":' + json.dumps(TRANSCRIPT_CONTEXT, sort_keys=True)
              + f',"@id":"{CONV_BASE}h-{c}","@type":"Conversation","turns":{{"@list":[]}}}}')
             for c, turns in enumerate(conversations) if not turns]
    if empty:
        docs = docs.unionByName(spark.createDataFrame(empty, "conv_id string, doc string"))
    return docs.select("conv_id", F.col("doc").alias(
        "doc", metadata={DOC_SHAPE_META_KEY: TRANSCRIPT_SHAPE_V1}))


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(st.lists(_conversation, min_size=1, max_size=4))
def test_in_row_labels_equal_general_canonicalization_on_random_shapes(spark, conversations):
    docs = _tagged_docs(spark, conversations)
    triples, bad = split_quarantine(docs_to_triples(docs))
    assert bad.count() == 0
    want = canonicalize_triples(triples)
    assert _rows(canonicalize_documents(docs, triples)) == _rows(want)
    assert want.where(F.col("error_code").isNotNull()).count() == 0
