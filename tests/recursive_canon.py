"""The recursive Hash N-Degree Quads, kept as a differential oracle.

``pyld_spark.jsonld.canon.URDNA2015.hash_n_degree`` runs on an explicit
stack; this is the recursive formulation it replaced, line for line, so a
test can require both to give bit-identical hashes and issuers. It nests
one Python frame per recursive call and so fails with ``RecursionError``
on a long blank-node path: use it only on small graphs.
"""

from __future__ import annotations

from itertools import permutations

from pyld_spark.jsonld.canon import URDNA2015, _NDegreeResult
from pyld_spark.jsonld.nodemap import IdentifierIssuer


class RecursiveURDNA2015(URDNA2015):
    def hash_n_degree(self, identifier: str, issuer: IdentifierIssuer) -> _NDegreeResult:
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
                    result = self.hash_n_degree(related, issuer_copy)
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
