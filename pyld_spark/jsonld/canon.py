"""URDNA2015 / URGNA2012 blank-node canonicalization (RDF Dataset
Canonicalization), exact per-dataset implementation.

Behavioral parity: /root/reference/lib/pyld/canon.py:21-424 (fresh
implementation from the RDF-canon spec).

Spark role (SURVEY.md §2.9): transcript-derived graphs have *document-local*
blank nodes, so canonicalization components never span conversations — this
exact algorithm runs per document, for every document, through the
per-document runner (pyld_spark.operators.canonicalize).

Work budget (RDFC-1.0, "Dataset Poisoning"): Hash N-Degree Quads can take
time exponential in a hash class (every permutation of a clique), time
cubic in a blank-node path and memory quadratic in the depth its calls
nest to. Each dataset may spend at most :data:`WORK_BUDGET` units of that
work, with calls nested at most :data:`MAX_DEPTH` deep; past either,
:meth:`URDNA2015.main` raises ``JsonLdError`` coded :data:`BUDGET_EXCEEDED`,
which the per-document runner turns into the document's one quarantine row.
"""

from __future__ import annotations

import hashlib
from itertools import permutations

from pyld_spark.jsonld.errors import JsonLdError
from pyld_spark.jsonld.nodemap import IdentifierIssuer
from pyld_spark.jsonld.nquads import serialize_quad

#: The Hash N-Degree Quads work one dataset may take, in units of one issued
#: id copied: each call spends ``_STEP`` per quad whose related blank nodes
#: it hashes, and each permutation ``_STEP`` plus the ids its issuer copy
#: holds. A step costs about what copying ``_STEP`` ids does, so the units
#: track one thread's time on cliques (permutation-bound) and on paths
#: (copy-bound) alike, at 25-45 ns each on a 4-core host under load. A
#: 1,200-quad blank-node path takes 2.63·10⁹; a 9-node clique would take
#: about 10¹⁰.
WORK_BUDGET = 3_000_000_000
_STEP = 100
#: The deepest the calls may nest. Each call in progress holds an issuer
#: copy about as large as the depth, so the memory held grows with the
#: square of the depth: about 55 MB at this one (a cycle of 250,000 blank
#: nodes would need tens of GB long before it spent the work budget).
MAX_DEPTH = 1_500
BUDGET_EXCEEDED = "canonicalization budget exceeded"


class _NDegreeResult:
    __slots__ = ("hash", "issuer")

    def __init__(self, hash_: str, issuer: IdentifierIssuer):
        self.hash = hash_
        self.issuer = issuer


class URDNA2015:
    """Canonicalize a list of quads ``(subj, pred, obj, graph_name)`` where
    terms are the dicts produced by pyld_spark.jsonld.rdf."""

    hash_algorithm = "sha256"
    bnode_prefix = "_:b"

    def __init__(self):
        self.bnode_to_quads: dict[str, list] = {}
        self.canonical_issuer = IdentifierIssuer("_:c14n")
        self._fd_cache: dict[str, str] = {}
        self.work = 0

    # -- public ------------------------------------------------------------

    def main(self, quads: list) -> dict[str, str]:
        """Return the mapping {original bnode id -> canonical id}."""
        for quad in quads:
            for term in self._quad_bnode_terms(quad):
                self.bnode_to_quads.setdefault(term["value"], []).append(quad)

        # sorted, not set-ordered: the reference iterates a set here
        # (canon.py:58,73), which makes its *mapping* on automorphic graphs
        # PYTHONHASHSEED-dependent (the canonical N-Quads string is invariant
        # either way). We sort so the mapping is run-to-run deterministic —
        # required for idempotent resume of the relabel stage at scale.
        non_normalized = sorted(self.bnode_to_quads)
        # first-degree hashes are label-independent: one grouping pass
        hash_to_bnodes: dict[str, list] = {}
        for bnode in non_normalized:
            h = self.hash_first_degree(bnode)
            hash_to_bnodes.setdefault(h, []).append(bnode)
        for h in sorted(hash_to_bnodes):
            nodes = hash_to_bnodes[h]
            if len(nodes) > 1:
                continue
            self.canonical_issuer.get_id(nodes[0])

        for h in sorted(hash_to_bnodes):
            nodes = hash_to_bnodes[h]
            if len(nodes) <= 1:
                continue
            results = []
            for bnode in nodes:
                if self.canonical_issuer.has_id(bnode):
                    continue
                temp = IdentifierIssuer(self.bnode_prefix)
                temp.get_id(bnode)
                results.append(self.hash_n_degree(bnode, temp))
            for result in sorted(results, key=lambda r: r.hash):
                for old in result.issuer.order:
                    self.canonical_issuer.get_id(old)
        return dict(self.canonical_issuer.issued)

    def canonize(self, quads: list) -> str:
        """Canonical sorted N-Quads string with ``_:c14nN`` labels."""
        mapping = self.main(quads)
        lines = []
        for quad in quads:
            lines.append(serialize_quad(self._relabel_quad(quad, mapping)))
        # no dedup: reference parity — duplicate triples from the toRDF path
        # are serialized as-is (dedup happens only on N-Quads *parse*)
        return "".join(sorted(lines))

    # -- internals ---------------------------------------------------------

    @staticmethod
    def _quad_bnode_terms(quad):
        subj, _pred, obj, graph = quad
        terms = []
        if subj["type"] == "blank node":
            terms.append(subj)
        if obj["type"] == "blank node":
            terms.append(obj)
        if isinstance(graph, str) and graph.startswith("_:"):
            terms.append({"type": "blank node", "value": graph})
        return terms

    @classmethod
    def _relabel_quad(cls, quad, mapping: dict):
        # reference parity (canon.py:153-166 step 7.1): labels already
        # carrying the canonical prefix are left unchanged — re-normalizing
        # an already-canonical dataset is label-stable
        def relabel(v: str) -> str:
            if v.startswith("_:c14n"):
                return v
            return mapping.get(v, v)

        subj, pred, obj, graph = quad
        if subj["type"] == "blank node":
            subj = {"type": "blank node", "value": relabel(subj["value"])}
        if obj["type"] == "blank node":
            obj = dict(obj, value=relabel(obj["value"]))
        if isinstance(graph, str) and graph.startswith("_:"):
            graph = relabel(graph)
        return subj, pred, obj, graph

    def _hash(self, data: str) -> str:
        return hashlib.new(self.hash_algorithm, data.encode("utf-8")).hexdigest()

    def _mask_quad(self, quad, identifier: str):
        """Serialize quad with this bnode → _:a, other bnodes → _:z."""

        def mask(v: str) -> str:
            return "_:a" if v == identifier else "_:z"

        subj, pred, obj, graph = quad
        if subj["type"] == "blank node":
            subj = {"type": "blank node", "value": mask(subj["value"])}
        if obj["type"] == "blank node":
            obj = dict(obj, value=mask(obj["value"]))
        if isinstance(graph, str) and graph.startswith("_:"):
            graph = self._mask_graph_name(graph, identifier)
        return serialize_quad((subj, pred, obj, graph))

    def _mask_graph_name(self, graph: str, identifier: str) -> str:
        return "_:a" if graph == identifier else "_:z"

    def hash_first_degree(self, identifier: str) -> str:
        cached = self._fd_cache.get(identifier)
        if cached is not None:
            return cached
        nquads = sorted(
            self._mask_quad(q, identifier) for q in self.bnode_to_quads[identifier]
        )
        h = self._hash("".join(nquads))
        self._fd_cache[identifier] = h
        return h

    def hash_related(self, related: str, quad, issuer: IdentifierIssuer, position: str) -> str:
        data = position
        if position != "g":
            data += "<" + quad[1]["value"] + ">"
        if self.canonical_issuer.has_id(related):
            data += self.canonical_issuer.get_id(related)
        elif issuer.has_id(related):
            data += issuer.get_id(related)
        else:
            data += self.hash_first_degree(related)
        return self._hash(data)

    def _related_bnodes(self, identifier: str, quad):
        """Yield (related_bnode, position) pairs for one quad."""
        subj, _pred, obj, graph = quad
        if subj["type"] == "blank node" and subj["value"] != identifier:
            yield subj["value"], "s"
        if obj["type"] == "blank node" and obj["value"] != identifier:
            yield obj["value"], "o"
        if isinstance(graph, str) and graph.startswith("_:") and graph != identifier:
            yield graph, "g"

    def hash_n_degree(self, identifier: str, issuer: IdentifierIssuer) -> _NDegreeResult:
        """Hash N-Degree Quads. It recurses once per node of a chain of
        colliding blank nodes, so its calls run as :meth:`_hash_n_degree_steps`
        generators on an explicit stack, not on the Python stack: each yields
        ``(related, issuer)`` to recurse and is sent back that call's result."""
        stack, result = [self._hash_n_degree_steps(identifier, issuer)], None
        while True:
            try:
                stack.append(self._hash_n_degree_steps(*stack[-1].send(result)))
                result = None
                if len(stack) > MAX_DEPTH:
                    raise JsonLdError(f"hash n-degree calls nested over {MAX_DEPTH:,} deep",
                                      BUDGET_EXCEEDED)
            except StopIteration as done:
                stack.pop()
                if not stack:
                    return done.value
                result = done.value

    def _spend(self, units: int):
        self.work += units
        if self.work > WORK_BUDGET:
            raise JsonLdError(f"hash n-degree work over {WORK_BUDGET:,} units",
                              BUDGET_EXCEEDED)

    def _hash_n_degree_steps(self, identifier: str, issuer: IdentifierIssuer):
        self._spend(_STEP * len(self.bnode_to_quads[identifier]))
        hash_to_related: dict[str, list] = {}
        for quad in self.bnode_to_quads[identifier]:
            for related, position in self._related_bnodes(identifier, quad):
                h = self.hash_related(related, quad, issuer, position)
                hash_to_related.setdefault(h, []).append(related)

        data_to_hash = ""
        for related_hash in sorted(hash_to_related):
            data_to_hash += related_hash
            chosen_path = ""
            chosen_issuer = None
            for perm in permutations(hash_to_related[related_hash]):
                self._spend(_STEP + len(issuer.order))
                issuer_copy = issuer.clone()
                path = ""
                recursion_list = []
                skip = False
                for related in perm:
                    if self.canonical_issuer.has_id(related):
                        path += self.canonical_issuer.get_id(related)
                    else:
                        if not issuer_copy.has_id(related):
                            recursion_list.append(related)
                        path += issuer_copy.get_id(related)
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                for related in recursion_list:
                    result = yield related, issuer_copy
                    path += issuer_copy.get_id(related)
                    path += "<" + result.hash + ">"
                    issuer_copy = result.issuer
                    if chosen_path and len(path) >= len(chosen_path) and path > chosen_path:
                        skip = True
                        break
                if skip:
                    continue
                if not chosen_path or path < chosen_path:
                    chosen_path = path
                    chosen_issuer = issuer_copy
            data_to_hash += chosen_path
            issuer = chosen_issuer if chosen_issuer is not None else issuer
        return _NDegreeResult(self._hash(data_to_hash), issuer)


class URGNA2012(URDNA2015):
    """Legacy variant: SHA-1; graph names masked as ``_:g``; related bnodes
    from subject/object positions only with ``p``/``r`` position codes and no
    angle-bracketed predicate."""

    hash_algorithm = "sha1"

    def _mask_graph_name(self, graph: str, identifier: str) -> str:
        return "_:g"

    def _related_bnodes(self, identifier: str, quad):
        subj, _pred, obj, _graph = quad
        if subj["type"] == "blank node" and subj["value"] != identifier:
            yield subj["value"], "p"
        elif obj["type"] == "blank node" and obj["value"] != identifier:
            yield obj["value"], "r"

    def hash_related(self, related: str, quad, issuer: IdentifierIssuer, position: str) -> str:
        data = position
        data += quad[1]["value"]
        if self.canonical_issuer.has_id(related):
            data += self.canonical_issuer.get_id(related)
        elif issuer.has_id(related):
            data += issuer.get_id(related)
        else:
            data += self.hash_first_degree(related)
        return self._hash(data)


def canonize_quads(quads: list, algorithm: str = "URDNA2015") -> str:
    cls = URDNA2015 if algorithm == "URDNA2015" else URGNA2012
    return cls().canonize(quads)
