"""Property-based differential fuzz over RANDOM RDF DATASETS → fromRdf.

The other fuzz axes start from JSON-LD documents; this one starts from the
quad side: random N-Quads (list-vocabulary chains and tangles, compound
direction literals, i18n datatypes, JSON literals, native-type edge
lexical forms, bnode graph names) through the full fromRdf option grid
(useNativeTypes × useRdfType × rdfDirection), checked against the
reference processor (reference jsonld.py `from_rdf`/`_from_rdf`). This is
the decode direction the 230k-example round-4 soak did not cover.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.ref_oracle import get_reference_jsonld, requires_reference
from tests.test_expand_vs_reference import equal_unordered

pytestmark = requires_reference

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
I18N = "https://www.w3.org/ns/i18n#"

subjects = st.sampled_from(["<http://e/s1>", "<http://e/s2>", "_:b0", "_:b1"])

predicates = st.sampled_from([
    "<http://e/p>",
    "<http://e/q>",
    f"<{RDF}type>",
    # list vocabulary — random tangles exercise the usages/list-conversion
    # walk (reference jsonld.py _from_rdf list reconstruction)
    f"<{RDF}first>",
    f"<{RDF}rest>",
    # compound-literal vocabulary (rdfDirection='compound-literal' decode)
    f"<{RDF}value>",
    f"<{RDF}language>",
    f"<{RDF}direction>",
])

# literal pool: canonical + non-canonical + invalid lexical forms for the
# native-type guards, language tags with case, i18n datatypes (well-formed,
# underscore-only, bare), JSON literals (valid and broken), custom datatype
literals = st.sampled_from([
    '"abc"',
    '""',
    f'"1"^^<{XSD}integer>',
    f'"01"^^<{XSD}integer>',
    f'"abc"^^<{XSD}integer>',
    f'"1.5E0"^^<{XSD}double>',
    f'"1.5"^^<{XSD}double>',
    f'"NaN"^^<{XSD}double>',
    f'"true"^^<{XSD}boolean>',
    f'"True"^^<{XSD}boolean>',
    '"x"@en',
    '"x"@en-US',
    f'"x"^^<{I18N}en_ltr>',
    f'"x"^^<{I18N}_ltr>',
    f'"x"^^<{I18N}en_>',  # empty DIRECTION part — reference decodes @direction ""
    f'"x"^^<{I18N}_>',
    f'"x"^^<{I18N}>',
    f'"x"^^<{I18N}en>',
    f'"x"^^<{I18N}en_ltr_x>',  # 2+ underscores — reference ValueError
    '"{\\"a\\": 1}"^^<' + RDF + 'JSON>',
    '"not json"^^<' + RDF + 'JSON>',
    '"v"^^<http://e/custom>',
    '"ltr"',  # plain-literal rdf:direction value (must NOT decode compound)
    '"en"',
])

objects = st.one_of(
    st.sampled_from([
        "<http://e/o>", "<http://e/s1>", f"<{RDF}nil>", f"<{RDF}List>",
        "_:b0", "_:b1", "_:b2",
    ]),
    literals,
)

graphs = st.sampled_from([None, "<http://e/g>", "_:b0", "_:b2"])

quads = st.tuples(subjects, predicates, objects, graphs)

datasets = st.lists(quads, min_size=0, max_size=8)

rdf_directions = st.sampled_from([None, "i18n-datatype", "compound-literal"])


def _nquads(ds) -> str:
    lines = []
    for s, p, o, g in ds:
        lines.append(f"{s} {p} {o} .\n" if g is None else f"{s} {p} {o} {g} .\n")
    return "".join(lines)


def _code_of(e):
    return getattr(e, "code", None) or (
        getattr(getattr(e, "cause", None), "code", None)
    )


@settings(
    max_examples=400, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(ds=datasets, native=st.booleans(), rdf_type=st.booleans(),
       direction=rdf_directions)
def test_random_quads_fromrdf_matches_reference(ds, native, rdf_type, direction):
    from pyld_spark.jsonld import api
    from pyld_spark.jsonld.errors import JsonLdError

    ref = get_reference_jsonld()
    nq = _nquads(ds)
    opts = {
        "format": "application/n-quads",
        "useNativeTypes": native,
        "useRdfType": rdf_type,
        "rdfDirection": direction,
    }

    ref_out, ref_code, ref_crash = None, None, None
    try:
        ref_out = ref.from_rdf(nq, dict(opts))
    except Exception as e:  # noqa: BLE001
        ref_code = _code_of(e)
        if ref_code is None:
            ref_crash = type(e).__name__

    my_out, my_code = None, None
    try:
        my_out = api.from_rdf(nq, dict(opts))
    except JsonLdError as e:
        my_code = e.code

    if ref_crash is not None:
        return  # reference raised a non-spec crash; nothing to mirror
    assert my_code == ref_code, (
        f"\nnq={nq!r}\nopts={opts}\nref_code={ref_code} my_code={my_code}"
    )
    if ref_code is None:
        assert equal_unordered(my_out, ref_out), (
            f"\nnq={nq!r}\nopts={opts}"
            f"\nmine={json.dumps(my_out, sort_keys=True)}"
            f"\nref ={json.dumps(ref_out, sort_keys=True)}"
        )


@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(ds=datasets, direction=rdf_directions)
def test_random_quads_roundtrip_through_tordf(ds, direction):
    """from_rdf → to_rdf must reproduce the reference's round-trip exactly
    (quad recall can legitimately be lossy — e.g. malformed list chains
    decode to nodes that re-serialize differently — but OUR loss must be
    the REFERENCE's loss, byte for byte)."""
    from pyld_spark.jsonld import api

    ref = get_reference_jsonld()
    nq = _nquads(ds)
    opts = {"format": "application/n-quads", "rdfDirection": direction}
    try:
        ref_doc = ref.from_rdf(nq, dict(opts))
        ref_rt = ref.to_rdf(
            ref_doc, {"format": "application/n-quads", "rdfDirection": direction}
        )
    except Exception:  # noqa: BLE001 — crash/code paths covered above
        return
    my_doc = api.from_rdf(nq, dict(opts))
    my_rt = api.to_rdf(
        my_doc, {"format": "application/n-quads", "rdfDirection": direction}
    )
    assert sorted(my_rt.splitlines()) == sorted(ref_rt.splitlines()), (
        f"\nnq={nq!r}\ndirection={direction}\nmine={my_rt!r}\nref ={ref_rt!r}"
    )


@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(ds=datasets, alg=st.sampled_from(["URDNA2015", "URGNA2012"]))
def test_random_quads_normalize_matches_reference(ds, alg):
    """Quad-side canonicalization differential (wave N+21): random datasets
    (list tangles, bnode graph names, exotic literals from the shared
    `datasets` strategy) through BOTH c14n algorithms. The doc-side
    `normalize` axis only reaches quad-sets expressible by the context
    grammar; this one feeds the hash-first-degree / n-degree machinery
    arbitrary bnode topologies directly (reference jsonld.py normalize +
    c14n URDNA2015/URGNA2012 classes)."""
    from pyld_spark.jsonld import api

    ref = get_reference_jsonld()
    nq = _nquads(ds)
    opts = {
        "algorithm": alg,
        "inputFormat": "application/n-quads",
        "format": "application/n-quads",
    }
    try:
        ref_out = ref.normalize(nq, dict(opts))
    except Exception:  # noqa: BLE001 — crash/code paths covered by fromrdf axis
        return
    my_out = api.normalize(nq, dict(opts))
    assert my_out == ref_out, (
        f"\nnq={nq!r}\nalg={alg}\nmine={my_out!r}\nref ={ref_out!r}"
    )


# pure-bnode digraphs: the adversarial c14n surface — every subject/object
# blank, few predicates, so first-degree hashes collide and the n-degree
# permutation walk does the work
_bn = st.integers(min_value=0, max_value=7)
bnode_edges = st.lists(
    st.tuples(_bn, st.sampled_from(["p", "q"]), _bn),
    min_size=1, max_size=14,
)


@settings(
    max_examples=150, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(edges=bnode_edges, alg=st.sampled_from(["URDNA2015", "URGNA2012"]),
       decorate=st.booleans())
def test_random_bnode_graph_normalize_matches_reference(edges, alg, decorate):
    """Wave N+21b: random pure-bnode digraphs through both c14n algorithms.
    `decorate` optionally gives every node an identical literal, which keeps
    first-degree hashes colliding while changing quad counts."""
    from pyld_spark.jsonld import api

    ref = get_reference_jsonld()
    lines = [f"_:b{s} <http://e/{p}> _:b{o} .\n" for s, p, o in edges]
    if decorate:
        nodes = {s for s, _, _ in edges} | {o for _, _, o in edges}
        lines += [f"_:b{n} <http://e/v> \"x\" .\n" for n in sorted(nodes)]
    nq = "".join(lines)
    opts = {
        "algorithm": alg,
        "inputFormat": "application/n-quads",
        "format": "application/n-quads",
    }
    ref_out = ref.normalize(nq, dict(opts))
    my_out = api.normalize(nq, dict(opts))
    assert my_out == ref_out, (
        f"\nnq={nq!r}\nalg={alg}\nmine={my_out!r}\nref ={ref_out!r}"
    )


# --- wave N+25b: f4cafdb-class random graphs through BOTH algorithms ------
#
# The round-4 distributed-c14n bug (multi-position bnode quads deduped ->
# wrong first-degree hash, commit f4cafdb) was found by a seeded random-
# graph axis running URDNA2015 only. This axis drives the same structural
# class — self-loops (multi-position bnodes), EXACT duplicate quads,
# bnode graph NAMES, IRI anchors and literals breaking symmetry — through
# both URDNA2015 and URGNA2012 as a hypothesis grammar, so the analogous
# bug class in the URGNA2012 overrides (sha1, _:g graph masking, p/r
# positions, subject-xor-object related set; reference canon.py:438-509)
# gets the same detector.

_gnode = st.integers(min_value=0, max_value=5)
_rich_quad = st.one_of(
    # bnode -> bnode edge (self-loops allowed: multi-position bnodes)
    st.tuples(st.just("edge"), _gnode, st.sampled_from(["p", "q"]), _gnode),
    # bnode -> IRI anchor / literal (symmetry breakers)
    st.tuples(st.just("anchor"), _gnode, st.sampled_from(["p", "q"]),
              st.sampled_from(["a", "b"])),
    st.tuples(st.just("lit"), _gnode, st.sampled_from(["p", "q"]),
              st.sampled_from(["x", "y"])),
    # quad with a bnode GRAPH NAME (graph masking differs across algorithms)
    st.tuples(st.just("graphed"), _gnode, st.sampled_from(["p", "q"]), _gnode,
              _gnode),
    # IRI-subject quad whose object is a bnode (r-position in URGNA2012)
    st.tuples(st.just("inbound"), st.sampled_from(["s1", "s2"]),
              st.sampled_from(["p", "q"]), _gnode),
)
rich_graphs = st.tuples(
    st.lists(_rich_quad, min_size=1, max_size=14),
    st.booleans(),  # append an exact duplicate of the first line
)


def _rich_nquads(spec) -> str:
    quads, dup = spec
    lines = []
    for q in quads:
        kind = q[0]
        if kind == "edge":
            _, s, p, o = q
            lines.append(f"_:b{s} <http://e/{p}> _:b{o} .\n")
        elif kind == "anchor":
            _, s, p, o = q
            lines.append(f"_:b{s} <http://e/{p}> <http://e/{o}> .\n")
        elif kind == "lit":
            _, s, p, v = q
            lines.append(f"_:b{s} <http://e/{p}> \"{v}\" .\n")
        elif kind == "graphed":
            _, s, p, o, g = q
            lines.append(f"_:b{s} <http://e/{p}> _:b{o} _:b{g} .\n")
        else:  # inbound
            _, s, p, o = q
            lines.append(f"<http://e/{s}> <http://e/{p}> _:b{o} .\n")
    if dup:
        lines.append(lines[0])
    return "".join(lines)


def _relabel_equivalent(a: str, b: str) -> bool:
    """True if a bijection over _:c14nN labels maps a's quad multiset to
    b's — the acceptance criterion for URGNA2012 tie orbits (see below)."""
    import re
    from itertools import permutations as _perms

    la = sorted(set(re.findall(r"_:c14n\d+", a)))
    lb = sorted(set(re.findall(r"_:c14n\d+", b)))
    if len(la) != len(lb) or len(la) > 8:
        return False
    lines_b = sorted(b.splitlines())
    for p in _perms(lb):
        m = dict(zip(la, p))
        relabeled = sorted(
            re.sub(r"_:c14n\d+", lambda mt: m[mt.group(0)], ln)
            for ln in a.splitlines()
        )
        if relabeled == lines_b:
            return True
    return False


@settings(
    max_examples=200, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)
@given(spec=rich_graphs, alg=st.sampled_from(["URDNA2015", "URGNA2012"]))
def test_rich_random_graph_normalize_matches_reference(spec, alg):
    """Byte-exact, OR a documented tie orbit (either algorithm): when
    distinct bnodes end with EQUAL first-degree AND n-degree hashes, both
    engines issue canonical ids in group order — this engine from its
    deterministic sorted list, the reference from a Python SET, so the
    reference output is PYTHONHASHSEED-dependent. Verified on the
    reference itself (this axis's finds):
    - URGNA2012 (graph position never examined — '_:g' masking,
      canon.py:447-456,462-505): '_:b0 <p> _:b0 _:b1 . / _:b0 <p> _:b2
      _:b3 .' differs between seeds 0/1/42 and 2.
    - URDNA2015: non-automorphic pairs can STILL tie on the n-degree
      hash when their tied paths traverse graph-position relations
      ('_:b0 <p> _:b0 . / _:b1 <p> _:b0 _:b2 . / _:b2 <p> _:b3 _:b1 .'
      — b1/b2 n-degree hashes equal, verified identical in both engines;
      reference output differs between seeds 0/1/3/42 and 2).
    On a mismatch we therefore accept label-bijection equivalence and
    additionally require idempotency (re-normalizing our output is a
    fixed point); our sorted-order tie-break makes the mapping
    run-to-run deterministic where the reference's is not."""
    from pyld_spark.jsonld import api

    ref = get_reference_jsonld()
    nq = _rich_nquads(spec)
    opts = {
        "algorithm": alg,
        "inputFormat": "application/n-quads",
        "format": "application/n-quads",
    }
    ref_out = ref.normalize(nq, dict(opts))
    my_out = api.normalize(nq, dict(opts))
    if my_out == ref_out:
        return
    assert _relabel_equivalent(my_out, ref_out), (
        f"\nnq={nq!r}\nalg={alg}\nmine={my_out!r}\nref ={ref_out!r}"
    )
    again = api.normalize(my_out, dict(opts))
    assert again == my_out, (
        f"not idempotent\nnq={nq!r}\nmine={my_out!r}\nagain={again!r}"
    )
