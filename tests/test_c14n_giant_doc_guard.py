"""Giant-document guard for the exact-c14n fallback (round-3 verdict item 5).

A symmetric bnode cycle makes EVERY first-degree hash collide, so the whole
doc is "ambiguous". Pre-guard, it entered the exact URDNA2015 fallback as one
``applyInPandas`` group, where hash-n-degree explores permutations — a 10^6
node cycle would never return. The guard routes docs over ``max_exact_quads``
to the distributed WL-refinement path, which completes in bounded time/memory
with deterministic labels.
"""

import time

from pyspark.sql import functions as F

from pyld_spark.operators.canonicalize import (
    canonical_labels,
    canonicalize_triples,
)
from pyld_spark.operators.doc_runner import doc_bnode_namespace

PRED = "http://example.org/next"


def _cycle_triples(spark, n, doc_id="giant"):
    """n-node symmetric bnode cycle _:b0 → _:b1 → … → _:b0 (no driver loop)."""
    return (
        spark.range(n)
        .select(
            F.lit(doc_id).alias("doc_id"),
            F.concat(F.lit("_:b"), F.col("id").cast("string")).alias("subj"),
            F.lit(PRED).alias("pred"),
            F.lit("blank node").alias("obj_kind"),
            F.concat(F.lit("_:b"), ((F.col("id") + 1) % n).cast("string")).alias("obj_value"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_language"),
            F.lit("@default").alias("graph"),
        )
    )


def test_giant_automorphic_doc_completes(spark):
    # Fully ambiguous bnode cycle: every fd hash identical → whole doc is one
    # collision class. Must route to WL, not the exact single-group UDF (which
    # explores permutations and would hang). 250k nodes over a 50k threshold
    # exercises the identical routing as the original 1M/100k shape (verified
    # once at 1M: completes in ~470 s) while keeping the suite fast and the
    # wall bound safe under full-suite contention.
    n = 250_000
    t0 = time.time()
    labels = canonical_labels(_cycle_triples(spark, n), max_exact_quads=50_000)
    got = labels.agg(
        F.count("*").alias("n"),
        F.count_distinct("label").alias("nd"),
    ).collect()[0]
    wall = time.time() - t0
    assert got["n"] == n
    assert got["nd"] == n  # every bnode gets its own deterministic label
    # generous bound: the point is "completes", not speed — pre-guard this hung
    assert wall < 900


def test_wl_labels_are_deterministic(spark):
    a = {
        (r["bnode"], r["label"])
        for r in canonical_labels(_cycle_triples(spark, 5_000), max_exact_quads=100).collect()
    }
    b = {
        (r["bnode"], r["label"])
        for r in canonical_labels(_cycle_triples(spark, 5_000), max_exact_quads=100).collect()
    }
    assert a == b


def test_small_ambiguous_docs_still_exact(spark):
    """Docs under the bound keep the byte-exact URDNA2015 fallback."""
    from pyld_spark.jsonld.canon import URDNA2015

    n = 6
    labels = {
        r["bnode"]: r["label"]
        for r in canonical_labels(_cycle_triples(spark, n), max_exact_quads=100_000).collect()
    }
    quads = []
    for i in range(n):
        quads.append((
            {"type": "blank node", "value": f"_:b{i}"},
            {"type": "IRI", "value": PRED},
            {"type": "blank node", "value": f"_:b{(i + 1) % n}"},
            "@default",
        ))
    expected = URDNA2015().main(quads)
    assert labels == expected


def _path_triples(spark, n, doc_id="easy"):
    """n-quad bnode PATH _:b0 → … → _:bn. Not automorphic, but its interior
    nodes share one first-degree hash, so URDNA2015 needs hash-n-degree."""
    return (
        spark.range(n)
        .select(
            F.lit(doc_id).alias("doc_id"),
            F.concat(F.lit("_:b"), F.col("id").cast("string")).alias("subj"),
            F.lit(PRED).alias("pred"),
            F.lit("blank node").alias("obj_kind"),
            F.concat(F.lit("_:b"), (F.col("id") + 1).cast("string")).alias("obj_value"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_language"),
            F.lit("@default").alias("graph"),
        )
    )


def _anchored_path_quads(n):
    """:func:`_path_triples` plus one distinct IRI object per path node, so
    every first-degree hash is distinct (2n quads, as URDNA2015 input)."""
    def bnode(i):
        return {"type": "blank node", "value": f"_:b{i}"}

    pred = {"type": "IRI", "value": PRED}
    quads = [(bnode(i), pred, bnode(i + 1), "@default") for i in range(n)]
    quads += [(bnode(i), pred, {"type": "IRI", "value": f"http://example.org/o{i}"},
               "@default") for i in range(n)]
    return quads


def test_guard_split_keeps_all_docs(spark):
    """Small docs (exact per-doc URDNA2015) and big docs (WL refinement) in
    ONE table: both routes are non-empty in a single canonicalize_triples
    plan, and every doc comes out fully labeled. The big doc whose
    first-degree hashes are all distinct gets URDNA2015's labels."""
    from pyld_spark.jsonld.canon import URDNA2015

    quads = _anchored_path_quads(60)
    distinct = spark.createDataFrame(
        [("distinct", s["value"], p["value"], o["type"], o["value"], None, None, g)
         for s, p, o, g in quads],
        _cycle_triples(spark, 1).schema,
    )
    t = (
        _cycle_triples(spark, 4, doc_id="small")
        .unionByName(_cycle_triples(spark, 2_000, doc_id="big"))
        .unionByName(_path_triples(spark, 5, doc_id="easy"))
        .unionByName(distinct)
    )
    # bound of 100: "small" (4 quads) and "easy" (5) stay exact, "big"
    # (2000) and "distinct" (120) route to WL
    relabeled = canonicalize_triples(t, max_exact_quads=100).cache()
    rows = (
        relabeled.filter(F.col("subj").startswith("_:d"))
        .groupBy("doc_id").agg(F.count_distinct("subj").alias("n")).collect()
    )
    # path docs: n quads → subjects _:b0.._:b{n-1} (_:bn is object-only)
    assert {r["doc_id"]: r["n"] for r in rows} == {
        "small": 4, "big": 2_000, "easy": 5, "distinct": 60}

    def local(v):  # _:d{doc hash}_c14nN → _:c14nN
        return "_:" + v.split("_", 2)[2] if v.startswith("_:d") else v

    got = {
        (local(r["subj"]), local(r["obj_value"]))
        for r in relabeled.filter(F.col("doc_id") == "distinct").collect()
    }
    mapping = URDNA2015().main(quads)
    assert got == {(mapping[s["value"]], mapping.get(o["value"], o["value"]))
                   for s, _, o, _ in quads}


def test_long_bnode_path_canonicalizes(spark):
    """A 1,200-quad blank-node path, far under ``max_exact_quads``, takes
    the exact route. Its hash-n-degree calls nest once per path node, which
    used to end the job with ``RecursionError`` in the Python worker."""
    n = 1_200
    ns = doc_bnode_namespace("long-path") + "_"
    rows = canonicalize_triples(_path_triples(spark, n, doc_id="long-path")).collect()
    assert len(rows) == n
    labels = {v for r in rows for v in (r["subj"], r["obj_value"])}
    assert labels == {f"{ns}c14n{i}" for i in range(n + 1)}
