"""The canonicalization work budget (``pyld_spark/jsonld/canon.py``).

Small valid documents used to crash or hang the exact URDNA2015 route: a
1,200-quad blank-node path ended the job with ``RecursionError``, 900-quad
paths and cycles held a task for minutes, and a blank-node clique multiplies
hash-n-degree's work by about ten per node. Under the budget each of them
either finishes within a stated wall bound or becomes exactly one quarantine
row, and the rest of the corpus is untouched. Building the canonicalization
plan runs no Spark job, and ``Pipeline.run`` writes an over-budget
conversation to ``canonicalize_quarantine``.
"""

from __future__ import annotations

import datetime
import os
import time

from pyspark.sql import functions as F

from pyld_spark.jsonld.canon import BUDGET_EXCEEDED, URDNA2015
from pyld_spark.operators.canonicalize import canonical_labels, canonicalize_triples
from pyld_spark.operators.doc_runner import doc_bnode_namespace
from pyld_spark.operators.expand_stage import split_quarantine
from tests.test_c14n_giant_doc_guard import _anchored_path_quads

PRED = {"type": "IRI", "value": "http://example.org/next"}
TRIPLES_DDL = ("doc_id string, subj string, pred string, obj_kind string, obj_value string, "
               "obj_datatype string, obj_language string, graph string")


def _bnode(i):
    return {"type": "blank node", "value": f"_:b{i}"}


def _path(n):
    return [(_bnode(i), PRED, _bnode(i + 1), "@default") for i in range(n)]


def _cycle(n):
    return [(_bnode(i), PRED, _bnode((i + 1) % n), "@default") for i in range(n)]


def _clique(k):
    return [(_bnode(i), PRED, _bnode(j), "@default")
            for i in range(k) for j in range(k) if i != j]


def _triples(spark, docs):
    """``{doc_id: quads}`` → a triples table."""
    return spark.createDataFrame(
        [(d, s["value"], p["value"], o["type"], o["value"], o.get("datatype"),
          o.get("language"), g) for d, quads in docs.items() for s, p, o, g in quads],
        TRIPLES_DDL)


def _canonicalized(spark, docs):
    """``{doc_id: rows}`` of :func:`canonicalize_triples` over ``docs``, and
    the wall time of the one job that computes them."""
    t0 = time.time()
    rows = canonicalize_triples(_triples(spark, docs)).collect()
    wall = time.time() - t0
    out: dict = {}
    for r in rows:
        out.setdefault(r.doc_id, []).append(r)
    return out, wall


def _assert_labeled(doc_id, rows, quads):
    """Every row is good, and the doc's blank nodes are exactly its
    ``{ns}_c14n0 .. {ns}_c14n{n-1}``."""
    assert len(rows) == len(quads), doc_id
    assert all(r.error_code is None for r in rows), doc_id
    n = len({t["value"] for s, _, o, _ in quads for t in (s, o) if t["type"] == "blank node"})
    ns = doc_bnode_namespace(doc_id) + "_"
    labels = {v for r in rows for v in (r.subj, r.obj_value) if v.startswith("_:")}
    assert labels == {f"{ns}c14n{i}" for i in range(n)}, doc_id


def _assert_quarantined(doc_id, rows):
    assert [(r.subj, r.error_code) for r in rows] == [(None, BUDGET_EXCEEDED)], doc_id


def test_seven_node_clique_finishes(spark):
    """A 42-quad clique, 0.98 s on one quiet thread: URDNA2015's labels."""
    quads = _clique(7)
    got, wall = _canonicalized(spark, {"clique7": quads})
    _assert_labeled("clique7", got["clique7"], quads)
    mapping = URDNA2015().main(quads)
    ns = doc_bnode_namespace("clique7") + "_"
    assert sorted((r.subj, r.obj_value) for r in got["clique7"]) == sorted(
        (ns + mapping[s["value"]][2:], ns + mapping[o["value"]][2:]) for s, _, o, _ in quads)
    assert wall < 120


def test_anchored_70k_quad_path_finishes(spark):
    """A 35,000-node path with one IRI anchor per node (70,000 quads): every
    first-degree hash is distinct, so there is no hash-n-degree work. The
    relabel used to take 24.1 s in linear map lookups alone."""
    quads = _anchored_path_quads(35_000)
    got, wall = _canonicalized(spark, {"anchored": quads})
    rows = got["anchored"]
    _assert_labeled("anchored", rows, quads)
    mapping = URDNA2015().main(quads)
    ns = doc_bnode_namespace("anchored") + "_"

    def local(v):
        return "_:" + v[len(ns):] if v.startswith(ns) else v

    assert sorted((local(r.subj), local(r.obj_value)) for r in rows) == sorted(
        (mapping[s["value"]], mapping.get(o["value"], o["value"])) for s, _, o, _ in quads)
    assert wall < 300


def test_slow_table_inputs_finish_or_quarantine(spark):
    """The slow inputs of the table, in one job: the 1,200- and 900-quad
    paths, the 900-quad cycle and the 8-node clique (56 quads) fit the budget
    and are labeled; the 9-node clique (72 quads), which ran for minutes, is
    one quarantine row. Untouched neighbours in the same job still come out."""
    docs = {
        "path1200": _path(1_200),
        "path900": _path(900),
        "cycle900": _cycle(900),
        "clique8": _clique(8),
        "clique9": _clique(9),
        "small": _cycle(3),
    }
    got, wall = _canonicalized(spark, docs)
    assert set(got) == set(docs)
    for doc_id, quads in docs.items():
        if doc_id == "clique9":
            _assert_quarantined(doc_id, got[doc_id])
        else:
            _assert_labeled(doc_id, got[doc_id], quads)
    # the slowest doc takes about 35 s on one quiet thread
    assert wall < 900


def test_labels_carry_the_quarantine_row(spark):
    """``canonical_labels`` quarantines an over-budget doc the same way."""
    rows = canonical_labels(_triples(spark, {"cycle": _cycle(2_000), "pair": _cycle(2)}))
    got = sorted((r.doc_id, r.bnode, r.label, r.error_code) for r in rows.collect())
    assert got == [
        ("cycle", None, None, BUDGET_EXCEEDED),
        ("pair", "_:b0", "_:c14n0", None),
        ("pair", "_:b1", "_:c14n1", None),
    ]


def test_building_the_plan_runs_no_job(spark, tmp_path):
    """Neither operator probes its input on the driver: no job runs until
    an action does."""
    path = str(tmp_path / "triples")
    _triples(spark, {"a": _cycle(3), "b": _path(4)}).write.parquet(path)
    triples = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("c14n-build", "c14n-build")
    try:
        canonicalize_triples(triples)
        canonical_labels(triples)
        jobs = sc.statusTracker().getJobIdsForGroup("c14n-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []


def test_pipeline_quarantines_an_over_budget_conversation(spark, tmp_path):
    """1,503 anonymous turns (null ``turn_idx``, so the list cells share one
    first-degree hash) are the fewest that trip the budget at once: the walk
    along the cells nests past its depth bound. The run writes that one
    conversation to ``canonicalize_quarantine``, counts it in the lineage,
    and every other conversation's canonical triples are those of a run
    without it."""
    from pyld_spark.plans.pipeline import Pipeline
    from pyld_spark.transcripts import synthesize_transcripts

    normal = synthesize_transcripts(spark, n_convs=6, turns_per_conv=4, hot_convs=0)
    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    anon = spark.createDataFrame(
        [("anon", None, "user", f"turn {i}", None, ts0) for i in range(1_503)], normal.schema)

    wd = str(tmp_path / "with-anon")
    p = Pipeline(spark, wd, run_id="q")
    out = p.run(normal.unionByName(anon))
    quarantine = spark.read.parquet(os.path.join(wd, "canonicalize_quarantine"))
    assert [tuple(r) for r in quarantine.collect()] == [("anon", BUDGET_EXCEEDED)]
    lineage = {r.stage: r for r in p.lineage().collect()}
    assert lineage["canonicalize"].error_rows == 1
    assert lineage["canonicalize"].rows_out == out["canonicalize"].count()
    assert out["canonicalize"].where(F.col("doc_id") == "anon").count() == 0

    base = Pipeline(spark, str(tmp_path / "without"), run_id="b").run(normal)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(out["canonicalize"]) == rows(base["canonicalize"])
    assert rows(base["canonicalize"]) == rows(
        split_quarantine(canonicalize_triples(base["triples"]))[0])
