"""Differential fuzz for the Spark canonicalization OPERATOR on random
graphs: operators/canonicalize.py must reproduce the per-document URDNA2015
canonical document for arbitrary small bnode graphs, not just the
transcript ontology and the hand-built automorphic gadgets.

300 seeded random docs run as ONE batched Spark job (per-example Spark
jobs would be ~1000x slower than the assertion deserves). Comparison is
the canonical *document* (label-applied quad set) — automorphic orbits
admit several equally-canonical mappings, but the rendered document is
unique (same criterion as the reference runner, runtests.py:455-476).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pyld_spark.jsonld.canon import URDNA2015
from pyld_spark.jsonld.nodemap import IdentifierIssuer
from pyld_spark.jsonld.nquads import parse_nquads
from pyld_spark.operators.canonicalize import canonical_labels, canonicalize_triples
from pyld_spark.operators.doc_runner import doc_bnode_namespace
from tests.recursive_canon import RecursiveURDNA2015

PREDS = ["http://ex.org/p", "http://ex.org/q"]
_SCHEMA = StructType([
    StructField("doc_id", StringType(), False),
    StructField("subj", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj_kind", StringType(), False),
    StructField("obj_value", StringType(), False),
    StructField("obj_datatype", StringType(), True),
    StructField("obj_language", StringType(), True),
    StructField("graph", StringType(), False),
])


def _random_doc(rng: random.Random):
    """Random quads over ≤6 bnodes: directed bnode edges (symmetric shapes
    collide fd hashes → hash-n-degree), IRI anchors and literals (asymmetry
    → distinct fd hashes), occasional bnode graph names and exact duplicate
    quads (URDNA2015 must NOT dedup)."""
    n = rng.randint(1, 6)
    nodes = [f"_:b{i}" for i in range(n)]
    quads = []
    for i in range(n):
        for j in range(n):
            if i != j and rng.random() < 0.35:
                quads.append((nodes[i], rng.choice(PREDS), "blank node",
                              nodes[j], None, None, "@default"))
    if rng.random() < 0.4:
        k = rng.randrange(n)
        quads.append((nodes[k], PREDS[0], "IRI", "http://ex.org/anchor",
                      None, None, "@default"))
    if rng.random() < 0.4:
        k = rng.randrange(n)
        # include degenerate literal shapes a hand-fed table can contain:
        # langString WITHOUT a language, and a null datatype (≡ xsd:string)
        dt, lang = rng.choice([
            ("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", "en"),
            ("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", None),
            ("http://www.w3.org/2001/XMLSchema#string", None),
            (None, None),
        ])
        quads.append((nodes[k], PREDS[1], "literal", f"v{rng.randrange(3)}",
                      dt, lang, "@default"))
    if n > 1 and rng.random() < 0.25:
        k = rng.randrange(n)
        quads.append((nodes[k], PREDS[0], "blank node", nodes[k],
                      None, None, "@default"))  # self-loop: multi-position bnode
    if rng.random() < 0.25:
        k = rng.randrange(n)
        quads.append((nodes[k], PREDS[0], "IRI", "http://ex.org/in-graph",
                      None, None, nodes[rng.randrange(n)]))
    if not quads:
        quads.append((nodes[0], PREDS[0], "IRI", "http://ex.org/lonely",
                      None, None, "@default"))
    if rng.random() < 0.3:
        quads.append(quads[rng.randrange(len(quads))])  # exact duplicate
    return quads


def _term(kind, value, dt, lang):
    if kind == "literal":
        t = {"type": "literal", "value": value, "datatype": dt}
        if lang is not None:
            t["language"] = lang
        return t
    return {"type": kind, "value": value}


def _canonical_doc(quads, mapping):
    """Render the label-applied quad multiset (sorted tuple, dup-preserving)."""
    out = []
    for s, p, ok, ov, dt, lang, g in quads:
        out.append((
            mapping.get(s, s), p, ok,
            mapping.get(ov, ov) if ok == "blank node" else ov,
            dt, lang, mapping.get(g, g),
        ))
    return tuple(sorted(out))


def _corpus(spark, seed: int, n_docs: int):
    rng = random.Random(seed)
    docs = {f"doc{i}": _random_doc(rng) for i in range(n_docs)}
    rows = [(d, *q) for d, quads in docs.items() for q in quads]
    return docs, spark.createDataFrame(rows, _SCHEMA)


def _quads(quads):
    return [
        (_term("blank node" if s.startswith("_:") else "IRI", s, None, None),
         {"type": "IRI", "value": p}, _term(ok, ov, dt, lang), g)
        for s, p, ok, ov, dt, lang, g in quads
    ]


def _urdna2015_mapping(quads):
    return URDNA2015().main(_quads(quads))


def _label_mismatches(docs, df):
    labels: dict = {}
    for r in canonical_labels(df).collect():
        labels.setdefault(r.doc_id, {})[r.bnode] = r.label
    mismatches = []
    for doc_id, quads in docs.items():
        got = _canonical_doc(quads, labels.get(doc_id, {}))
        want = _canonical_doc(quads, _urdna2015_mapping(quads))
        if got != want:
            mismatches.append((doc_id, got, want))
    return mismatches


def test_random_graphs_match_exact_urdna2015(spark):
    docs, df = _corpus(spark, 0xC14, 300)
    mismatches = _label_mismatches(docs, df)
    assert not mismatches, f"{len(mismatches)} docs diverge; first: {mismatches[0]}"


def _renamed(quads, rng: random.Random):
    """The same graph under a seeded bnode renaming, quads shuffled."""
    ids = sorted({t for s, _, ok, ov, _, _, g in quads
                  for t in (s, ov if ok == "blank node" else "", g) if t.startswith("_:")})
    new = [f"_:b{i}" for i in range(len(ids))]
    rng.shuffle(new)
    ren = dict(zip(ids, new))
    out = [(ren.get(s, s), p, ok, ren.get(ov, ov) if ok == "blank node" else ov, dt, lang,
            ren.get(g, g)) for s, p, ok, ov, dt, lang, g in quads]
    rng.shuffle(out)
    return out


def _canonical_rows(df):
    out: dict = {}
    for r in canonicalize_triples(df).collect():
        out.setdefault(r.doc_id, []).append(tuple(r))
    return {d: sorted(rows) for d, rows in out.items()}


def test_canonical_output_invariant_under_bnode_renaming(spark):
    """Reference-free: renaming a doc's blank nodes and shuffling its quads
    leaves the canonicalize_triples output unchanged (the canonical document
    depends on the graph, not on its input labels or quad order)."""
    docs, df = _corpus(spark, 0xC14, 300)
    rng = random.Random(0xC14 + 2)
    renamed = {d: _renamed(q, rng) for d, q in docs.items()}
    assert renamed != docs
    df2 = spark.createDataFrame(
        [(d, *q) for d, quads in renamed.items() for q in quads], _SCHEMA)
    want, got = _canonical_rows(df), _canonical_rows(df2)
    diverged = sorted(d for d in docs if got.get(d) != want.get(d))
    assert not diverged, f"{len(diverged)} docs change under renaming; first: {diverged[0]}"


def test_random_graphs_relabel_is_complete(spark):
    """canonicalize_triples leaves no un-relabeled _: ids and preserves the
    per-doc quad count (duplicates included) on the same random corpus."""
    docs, df = _corpus(spark, 0xC14 + 1, 150)
    out = canonicalize_triples(df)
    stray = out.filter(
        F.col("subj").rlike("^_:b[0-9]+$")
        | ((F.col("obj_kind") == "blank node") & F.col("obj_value").rlike("^_:b[0-9]+$"))
        | F.col("graph").rlike("^_:b[0-9]+$")
    ).count()
    assert stray == 0
    counts = {r.doc_id: r.n for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {d: len(q) for d, q in docs.items()}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _relabeled_through_labels(df):
    """``df``'s rows relabeled, on the driver, from the label rows of
    :func:`canonical_labels`: the output ``canonicalize_triples`` owes."""
    labels = {(r.doc_id, r.bnode): r.label for r in canonical_labels(df).collect()}

    def new(doc_id, v, is_bnode):
        label = labels.get((doc_id, v)) if is_bnode else None
        return v if label is None else f"{doc_bnode_namespace(doc_id)}_{label[2:]}"

    return sorted(
        (r.doc_id, new(r.doc_id, r.subj, r.subj.startswith("_:")), r.pred, r.obj_kind,
         new(r.doc_id, r.obj_value, r.obj_kind == "blank node"),
         r.obj_datatype, r.obj_language, new(r.doc_id, r.graph, r.graph.startswith("_:")),
         None)
        for r in df.collect()
    )


def test_canonicalize_triples_equals_relabel_through_labels(spark):
    """The in-group relabel writes the labels ``canonical_labels`` issues,
    prefixed with the doc namespace, and quarantines nothing."""
    _, df = _corpus(spark, 0xC14, 300)
    assert _rows(canonicalize_triples(df)) == _relabeled_through_labels(df)


def _canonize(quads):
    """URDNA2015's canonical N-Quads of ``quads``, as a dataset: N-Quads
    parsing drops a repeated quad, so the input is deduplicated too."""
    return URDNA2015().canonize(list({repr(q): q for q in quads}.values()))


def _spelled_fresh(quads):
    """``quads`` with every ``_:c14nN`` spelled ``_:bN``: ``canonize`` leaves
    a label already spelled ``_:c14n`` as it is (reference parity), which
    would make re-canonizing canonical output pass whatever labels it gave."""
    def fresh(v):
        return "_:b" + v[6:] if v.startswith("_:c14n") else v

    return [({**s, "value": fresh(s["value"])}, p,
             {**o, "value": fresh(o["value"])} if o["type"] == "blank node" else o,
             fresh(g)) for s, p, o, g in quads]


def test_canonical_form_is_a_fixpoint():
    """Reference-free: canonizing the parsed canonical form of a graph
    gives the same canonical form, ``canonize(parse(canonize(Q))) ==
    canonize(Q)``, on the 300-doc random-graph corpus."""
    rng = random.Random(0xC14)
    diverged = []
    for i in range(300):
        q = _quads(_random_doc(rng))
        canonical = _canonize(q)
        if _canonize(_spelled_fresh(parse_nquads(canonical))) != canonical:
            diverged.append(i)
    assert not diverged, f"{len(diverged)} docs are not a fixpoint; first: doc{diverged[0]}"


def _n_degree_results(cls, quads):
    """Hash N-Degree Quads of every bnode of ``quads``, each from a fresh
    temporary issuer and no canonical ids, so each call recurses as far as
    the graph allows: ``(hash, issued order)`` per bnode."""
    algo = cls()
    algo.main(quads)
    algo.canonical_issuer = IdentifierIssuer("_:c14n")
    out = {}
    for bnode in sorted(algo.bnode_to_quads):
        issuer = IdentifierIssuer("_:b")
        issuer.get_id(bnode)
        result = algo.hash_n_degree(bnode, issuer)
        out[bnode] = (result.hash, result.issuer.order)
    return out


def test_hash_n_degree_matches_recursive_oracle():
    """The explicit-stack ``hash_n_degree`` gives the recursive
    formulation's hashes and issuers, bit for bit, on the random-graph
    corpus and on a blank-node path and cycle."""
    rng = random.Random(0xC14)
    docs = [_random_doc(rng) for _ in range(300)]
    for shape in ("path", "cycle"):
        n = 40
        docs.append([(f"_:b{i}", PREDS[0], "blank node",
                      f"_:b{(i + 1) % n if shape == 'cycle' else i + 1}",
                      None, None, "@default") for i in range(n)])
    for quads in docs:
        q = _quads(quads)
        assert _n_degree_results(URDNA2015, q) == _n_degree_results(RecursiveURDNA2015, q)
        assert URDNA2015().main(q) == RecursiveURDNA2015().main(q)
