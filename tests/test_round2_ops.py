"""Round-2 operators: portable (md5-basis) dedup variants, two-phase top-k
equivalence, selective frame pre-filter plan shape, corpus compaction stage.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import functions as F

from tests.ref_oracle import requires_reference


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_md5_detects_near_dups(spark):
    from pyld_spark.operators.dedup import minhash_dedup_pairs_md5

    base = "the quick brown fox jumps over the lazy dog " * 5
    df = _docs(spark, [
        (1, base),
        (2, base),                      # exact dup → n_agree = num_hashes
        (3, base + " extra tail"),      # near dup
        (4, "completely different content about spark engines"),
    ])
    pairs = {
        (r.doc_a, r.doc_b): r.n_agree
        for r in minhash_dedup_pairs_md5(df, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 32
    assert (1, 3) in pairs or (2, 3) in pairs
    assert all(4 not in p for p in pairs)


def test_simhash_md5_identical_docs_hamming_zero(spark):
    from pyld_spark.operators.dedup import (
        simhash_near_pairs_md5,
        simhash_signatures_md5,
    )

    df = _docs(spark, [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "alpha beta gamma delta zeta"),
    ])
    sigs = simhash_signatures_md5(df)
    rows = sigs.collect()
    assert all(len(r.simbits) == 64 and set(r.simbits) <= {"0", "1"} for r in rows)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs_md5(sigs, max_hamming=20).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs.get((1, 3), 99) > 0


def test_two_phase_topk_matches_naive_window(spark):
    from pyspark.sql import Window

    from pyld_spark.operators.similarity import brute_force_topk

    rows = []
    for i in range(200):
        a = i * 0.37
        rows.append((i, [math.cos(a), math.sin(a), 0.3, -0.1]))
    embs = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(8)
    queries = embs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id)
        for r in brute_force_topk(embs, queries, k=7).collect()
    )
    # naive single-window reference implementation
    c = embs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
    )
    q = queries.select(
        "query_id", F.transform("embedding", lambda x: x.cast("double")).alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("cv", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, v: a + v
    )
    nrm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda a, v: a + v * v)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    naive = (
        c.crossJoin(F.broadcast(q))
        .withColumn("cosine", dot / (nrm(F.col("cv")) * nrm(F.col("qv"))))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7)
    )
    expected = sorted(
        (r.query_id, r.rank, r.neighbor_id) for r in naive.collect()
    )
    assert got == expected


def test_two_phase_topk_plan_has_partial_group_limit(spark):
    """The ranking plan must show the partition-local bounded top-k
    (WindowGroupLimit Partial, O(k) heap state per query — round-4 JVM-side
    replacement for the mapInPandas fold, which paid an Arrow transfer of
    every candidate row) BEFORE the per-query window's exchange — no
    single-reducer full-candidate window, no Python in the ranking path."""
    from pyld_spark.operators.similarity import quantized_dot_topk

    embs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)], ["vec_id", "embedding"]
    )
    queries = embs.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    plan = quantized_dot_topk(embs, queries, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "WindowGroupLimit" in plan
    # the partial group limit runs map-side: below the window's exchange
    pre_shuffle = plan.split("Exchange", 1)[-1]
    assert "WindowGroupLimit" in pre_shuffle and "Partial" in pre_shuffle


def test_frame_type_prefilter_avoids_full_distinct(spark):
    """A @type-constrained frame seeds candidates from the filtered type scan
    — the plan must not contain the semi-join against a full-corpus distinct
    that a wildcard frame needs."""
    from pyld_spark.operators.frame_stage import RDF_TYPE, frame_subject_filter

    triples = spark.createDataFrame(
        [
            ("d1", "s1", RDF_TYPE, "T", "IRI"),
            ("d1", "s1", "p", "v", "literal"),
            ("d1", "s2", "p", "v", "literal"),
            ("d2", "s3", RDF_TYPE, "T", "IRI"),
        ],
        ["doc_id", "subj", "pred", "obj_value", "obj_kind"],
    )
    typed = frame_subject_filter(triples, [{"@type": ["T"]}])
    assert {(r.doc_id, r.subj) for r in typed.collect()} == {("d1", "s1"), ("d2", "s3")}
    plan = typed._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan  # pure filtered scan + distinct, no semi-join
    wild = frame_subject_filter(triples, [{}])
    assert {(r.doc_id, r.subj) for r in wild.collect()} == {
        ("d1", "s1"), ("d1", "s2"), ("d2", "s3")
    }
    # property-constrained frame: seed from the property scan, same set as
    # wildcard ∩ has-property
    prop = frame_subject_filter(triples, [{"p": [{}]}])
    assert {(r.doc_id, r.subj) for r in prop.collect()} == {
        ("d1", "s1"), ("d1", "s2")
    }


@requires_reference
def test_compact_corpus_matches_reference(spark):
    """compact_documents output equals the reference processor's compact()
    on the same documents and target context."""
    from pyld_spark.operators.compact_stage import compact_documents
    from pyld_spark.transcripts import (
        VOCAB,
        XSD,
        assemble_documents,
        synthesize_transcripts,
    )
    from tests.ref_oracle import get_reference_jsonld

    t = synthesize_transcripts(spark, n_convs=3, turns_per_conv=4, hot_convs=0)
    docs = assemble_documents(t)
    ctx = {
        "@vocab": VOCAB,
        "turns": {"@id": VOCAB + "turns", "@container": "@list"},
        "idx": {"@id": VOCAB + "turnIndex", "@type": XSD + "integer"},
        "who": {"@id": VOCAB + "role"},
    }
    got = {
        r.doc_id: json.loads(r.compacted)
        for r in compact_documents(docs, ctx).collect()
    }
    ref = get_reference_jsonld()
    for row in docs.collect():
        expected = ref.compact(json.loads(row.doc), json.loads(json.dumps(ctx)))
        assert got[row.conv_id] == expected, row.conv_id


def test_fixedpoint_cosine_topk_self_nearest(spark):
    from pyld_spark.operators.similarity import (
        fixedpoint_cosine_topk,
        lsh_bucketed_topk_fixedpoint,
    )

    rows = []
    for i in range(40):
        a = i * 0.2
        rows.append((i, [math.cos(a), math.sin(a), 0.5, 0.25]))
    embs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = embs.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    fp = fixedpoint_cosine_topk(embs, queries, k=5).collect()
    assert fp[0].neighbor_id == 7 and fp[0].rank == 1
    assert fp[0].cos_q6 in (999999, 1000000)  # self-cosine ≈ 1
    lsh = lsh_bucketed_topk_fixedpoint(embs, queries, dim=4, k=5, n_planes=4).collect()
    assert lsh and lsh[0].neighbor_id == 7  # self always shares its bucket
