"""Corpus-level frame and fromRDF stages."""

from __future__ import annotations

import json

from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
from pyld_spark.operators.frame_stage import frame_corpus, frame_subject_filter
from pyld_spark.operators.fromrdf_stage import list_chain_lengths, triples_to_documents
from pyld_spark.transcripts import VOCAB, assemble_documents, transcripts_from_events

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered


def _triples(spark, sf_dir):
    docs = assemble_documents(transcripts_from_events(spark, sf_dir)).cache()
    triples, _ = split_quarantine(docs_to_triples(docs))
    return docs, triples.cache()


def test_frame_subject_filter_prunes(spark, sf_dir):
    from pyld_spark.jsonld import api

    docs, triples = _triples(spark, sf_dir)
    frame = {"@context": {"@vocab": VOCAB}, "@type": "Turn", "tool": {}}
    expanded = api.expand(frame, {"isFrame": True, "keepFreeFloatingNodes": True})
    typed_subjects = {
        (r.doc_id, r.subj)
        for r in triples.filter(
            f"pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' "
            f"and obj_value = '{VOCAB}Turn'"
        ).collect()
    }
    tool_subjects = {
        (r.doc_id, r.subj)
        for r in triples.filter(f"pred = '{VOCAB}tool'").collect()
    }
    # requireAll=False (default): a specific @type is DECISIVE (reference
    # early return, jsonld.py:4790-4791) — every Turn is a candidate even
    # without a tool triple
    rows = {
        (r.doc_id, r.subj)
        for r in frame_subject_filter(triples, expanded).collect()
    }
    assert rows == typed_subjects
    # requireAll=True: intersective — Turn AND has tool
    rows_all = {
        (r.doc_id, r.subj)
        for r in frame_subject_filter(
            triples, expanded, {"requireAll": True}
        ).collect()
    }
    assert rows_all == typed_subjects & tool_subjects
    assert rows_all < rows  # the tool constraint actually prunes


@requires_reference
def test_frame_corpus_matches_reference(spark, sf_dir):
    docs, triples = _triples(spark, sf_dir)
    frame = {"@context": {"@vocab": VOCAB}, "@type": "Conversation"}
    out = frame_corpus(docs.limit(3), triples, frame).collect()
    ref = get_reference_jsonld()
    by_id = {r.doc_id: r for r in out}
    for row in docs.limit(3).collect():
        r = by_id[row.conv_id]
        assert r.error_code is None
        expected = ref.frame(json.loads(row.doc), frame)
        assert equal_unordered(json.loads(r.framed), expected), row.conv_id


def test_triples_to_documents_roundtrip(spark, sf_dir):
    """fromRDF over the corpus triples reconstructs each conversation's
    @list of turns with the right length and text values."""
    docs, triples = _triples(spark, sf_dir)
    recon = {r.doc_id: r for r in triples_to_documents(triples).collect()}
    source = transcripts_from_events(spark, sf_dir).collect()
    by_conv: dict = {}
    for r in source:
        by_conv.setdefault(r.conv_id, []).append(r)
    assert set(recon) == set(by_conv)
    sample = sorted(by_conv)[:5]
    for conv_id in sample:
        row = recon[conv_id]
        assert row.error_code is None
        nodes = json.loads(row.expanded)
        conv_node = next(
            n for n in nodes if n.get("@id", "").endswith(conv_id)
        )
        lists = conv_node[VOCAB + "turns"]
        assert len(lists) == 1 and "@list" in lists[0]
        assert len(lists[0]["@list"]) == len(by_conv[conv_id])


def test_list_chain_lengths(spark, sf_dir):
    docs, triples = _triples(spark, sf_dir)
    lengths = {r.doc_id: r.length for r in list_chain_lengths(triples).collect()}
    from pyspark.sql import functions as F

    expected = {
        r.conv_id: r.n
        for r in transcripts_from_events(spark, sf_dir)
        .groupBy("conv_id").agg(F.count("*").alias("n")).collect()
    }
    assert lengths == expected
