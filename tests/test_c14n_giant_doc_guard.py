"""Giant-document guard of the canonicalization (round-3 verdict item 5).

A symmetric bnode cycle makes EVERY first-degree hash collide, so
URDNA2015's hash-n-degree walks the whole cycle from every node, holding an
issuer copy per nested call: a 10^6 node cycle would never return, and its
memory grows with the square of the walk's depth. The work budget of
``pyld_spark/jsonld/canon.py`` turns such a doc into exactly one quarantine
row; every document, of any size, takes the exact per-document route.
"""

import time

from pyspark.sql import functions as F

from pyld_spark.jsonld.canon import BUDGET_EXCEEDED
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
    # Fully ambiguous bnode cycle: every fd hash identical, so the whole doc
    # is one collision class and the first hash-n-degree call walks the
    # cycle. The budget stops that walk: the doc is one quarantine row.
    n = 250_000
    t0 = time.time()
    rows = canonicalize_triples(_cycle_triples(spark, n)).collect()
    wall = time.time() - t0
    assert [(r.doc_id, r.subj, r.error_code) for r in rows] == [
        ("giant", None, BUDGET_EXCEEDED)]
    # generous bound under full-suite contention: the point is "ends", not
    # speed — without the budget this walk hung or ran out of memory
    assert wall < 300


def test_small_ambiguous_docs_still_exact(spark):
    """A small automorphic doc gets the byte-exact URDNA2015 labels."""
    from pyld_spark.jsonld.canon import URDNA2015

    n = 6
    labels = {
        r["bnode"]: r["label"]
        for r in canonical_labels(_cycle_triples(spark, n)).collect()
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
    """Small docs, an anchored path and a 2,000-node cycle in ONE table, one
    canonicalize_triples plan: each doc comes out with URDNA2015's labels,
    except that the cycle may instead be exactly one quarantine row."""
    from pyld_spark.jsonld.canon import URDNA2015

    def bnode(i):
        return {"type": "blank node", "value": f"_:b{i}"}

    pred = {"type": "IRI", "value": PRED}
    quads = {
        "small": [(bnode(i), pred, bnode((i + 1) % 4), "@default") for i in range(4)],
        "big": [(bnode(i), pred, bnode((i + 1) % 2_000), "@default") for i in range(2_000)],
        "easy": [(bnode(i), pred, bnode(i + 1), "@default") for i in range(5)],
        "distinct": _anchored_path_quads(60),
    }
    t = spark.createDataFrame(
        [(d, s["value"], p["value"], o["type"], o["value"], None, None, g)
         for d, qs in quads.items() for s, p, o, g in qs],
        _cycle_triples(spark, 1).schema,
    )
    relabeled = canonicalize_triples(t).collect()

    def local(v):  # _:d{doc hash}_c14nN → _:c14nN
        return "_:" + v.split("_", 2)[2] if v.startswith("_:d") else v

    got: dict = {}
    for r in relabeled:
        got.setdefault(r.doc_id, []).append(
            (r.error_code,) if r.error_code else (local(r.subj), local(r.obj_value)))
    assert set(got) == set(quads)
    for doc_id, qs in quads.items():
        if doc_id == "big" and got[doc_id] == [(BUDGET_EXCEEDED,)]:
            continue
        mapping = URDNA2015().main(qs)
        want = sorted((mapping[s["value"]], mapping.get(o["value"], o["value"]))
                      for s, _, o, _ in qs)
        assert sorted(got[doc_id]) == want, doc_id


def test_long_bnode_path_canonicalizes(spark):
    """A 1,200-quad blank-node path, within the work budget, takes
    the exact route. Its hash-n-degree calls nest once per path node, which
    used to end the job with ``RecursionError`` in the Python worker."""
    n = 1_200
    ns = doc_bnode_namespace("long-path") + "_"
    rows = canonicalize_triples(_path_triples(spark, n, doc_id="long-path")).collect()
    assert len(rows) == n
    labels = {v for r in rows for v in (r["subj"], r["obj_value"])}
    assert labels == {f"{ns}c14n{i}" for i in range(n + 1)}
