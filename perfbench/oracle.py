"""Expected outputs, computed without Spark, and the order-independent digest
they are compared by.

- KG workloads: each document goes through the pure-Python JSON-LD kernel
  (``process_context`` → ``expand`` → ``to_rdf`` → ``canonize_quads``) one at
  a time. That is a different route from the Spark stages under test (the
  compiled JVM projection, the ``mapInArrow`` kernel, and the DataFrame
  canonicalization fixpoint), so a wrong triple or a wrong ``_:c14n`` label
  on either side shows as a digest mismatch.
- dedup/ANN: the exact integer operators (IVF top-k, semantic dedup) and the
  hyperplane-LSH top-k are replayed in numpy with the same arithmetic; the
  pair operators must return exactly the planted duplicates (unrelated
  inputs sit far below every threshold).

A digest is ``(row count, Σ first 40 bits of sha256(row))``; rows are
serialized as their string fields joined by U+001F, NULL as U+0000.

The runs do not compute these values: they read ``EXPECTED.json``, written
once by this module for a range of seeds, so that a later change to the
JSON-LD kernel cannot move the oracle and the output together. To rewrite
it (only when a workload's inputs change), from the repository root:

    python3 perfbench/oracle.py --seeds 0-255
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import time
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from gen import VOCAB, XSD

SEP, NULL = "\x1f", "\x00"
TRIPLE_COLS = ["doc_id", "subj", "pred", "obj_kind", "obj_value",
               "obj_datatype", "obj_language", "graph"]


def row_hash(row) -> int:
    s = SEP.join(NULL if v is None else str(v) for v in row)
    return int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:10], 16)


def digest(rows) -> tuple[int, int]:
    n = total = 0
    for row in rows:
        n += 1
        total += row_hash(row)
    return n, total


def round4(x: float) -> int:
    """A double rounded to 4 decimals half-up (Spark's ``round(x, 4)``),
    as the integer x·10⁴ the digest carries."""
    return int(Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP) * 10000)


EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "EXPECTED.json")
_expected: dict | None = None


def committed(workload: str, seed: int) -> dict | None:
    """The committed expected values of one workload and seed, or None."""
    global _expected
    if _expected is None:
        with open(EXPECTED_PATH) as fh:
            _expected = json.load(fh)
    return _expected["workloads"].get(workload, {}).get(str(seed))


# -- JSON-LD kernel oracle ------------------------------------------------------


class KernelTimer:
    """Per-call time of the jsonld layer, accumulated over documents."""

    def __init__(self):
        self.secs = Counter()
        self.docs = 0
        self.quads = 0


def doc_namespace(doc_id: str) -> str:
    return "_:d" + hashlib.sha256(doc_id.encode("utf-8")).hexdigest()[:16]


def kg_expected(docs, timer: KernelTimer | None = None):
    """(doc_id, json) pairs → (canonical triple rows, quarantine rows)."""
    from pyld_spark.jsonld.canon import canonize_quads
    from pyld_spark.jsonld.context import DEFAULT_BASE_IRI, initial_context, process_context
    from pyld_spark.jsonld.errors import JsonLdError
    from pyld_spark.jsonld.expand import expand
    from pyld_spark.jsonld.nquads import parse_nquads
    from pyld_spark.jsonld.rdf import to_rdf

    timer = timer or KernelTimer()
    clock = time.perf_counter
    canonical, quarantine = [], []
    for doc_id, doc_json in docs:
        try:
            doc = json.loads(doc_json)
            t0 = clock()
            preapplied = isinstance(doc, dict) and "@context" in doc
            if preapplied:
                ctx = process_context(initial_context(base=DEFAULT_BASE_IRI),
                                      doc["@context"], None)
                doc = {k: v for k, v in doc.items() if k != "@context"}
            else:
                ctx = initial_context(base=None)
            t1 = clock()
            expanded = expand(doc, context=ctx, base_url=None, context_preapplied=preapplied)
            t2 = clock()
            quads = to_rdf(expanded)
            t3 = clock()
            nq = canonize_quads(quads)
            t4 = clock()
        except JsonLdError as e:
            quarantine.append((doc_id, e.code))
            continue
        except Exception as e:  # noqa: BLE001 — the kernel quarantines these too
            quarantine.append((doc_id, f"internal error: {type(e).__name__}"))
            continue
        timer.secs.update({"context": t1 - t0, "expand": t2 - t1, "to_rdf": t3 - t2,
                           "canon": t4 - t3})
        timer.docs += 1
        timer.quads += len(quads)
        ns = doc_namespace(doc_id) + "_"

        def label(v: str) -> str:
            return ns + v[2:] if v.startswith("_:") else v

        for subj, pred, obj, graph in parse_nquads(nq):
            lit = obj["type"] == "literal"
            canonical.append((
                doc_id, label(subj["value"]), pred["value"], obj["type"],
                obj["value"] if lit else label(obj["value"]),
                obj.get("datatype") if lit else None,
                obj.get("language") if lit else None,
                graph if graph == "@default" else label(graph),
            ))
    return canonical, quarantine


_HANDLE_RE = re.compile(r"@[A-Za-z0-9_]+")
_URL_RE = re.compile(r"https?://[^\s]+")
_CONV_BASE = "https://pyld-spark.example/conv/"


def link_rows(transcript_rows):
    """The entity-link triples the pipeline's materialize stage appends."""
    edges, labels = [], set()
    for conv_id, turn_idx, _role, text, tool, _ts in transcript_rows:
        mentions = _HANDLE_RE.findall(text) + _URL_RE.findall(text)
        if tool is not None:
            mentions.append(tool)
        turn = f"{_CONV_BASE}{conv_id}/turn/{turn_idx}"
        for m in mentions:
            norm = m.lower()
            ent = VOCAB + "entity/" + hashlib.md5(norm.encode("utf-8")).hexdigest()
            edges.append((turn.split("/turn/")[0], turn, VOCAB + "mentions", "IRI",
                          ent, None, None, "@default"))
            labels.add((ent, ent, VOCAB + "label", "literal", norm,
                        XSD + "string", None, "@default"))
    return edges + sorted(labels)


# -- dedup / ANN oracle ---------------------------------------------------------

_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F,
                      0x165667B19E3779F9, 0x27D4EB2F165667C5)


def _signed(x: int) -> int:
    return x - (1 << 64) if x >> 63 else x


def xxhash64_int(value: int, seed: int) -> int:
    """Spark's ``xxhash64`` of one 32-bit int column (XXH64.hashInt)."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M64
    h = ((((h << 23) | (h >> 41)) & _M64) * _P2 + _P3) & _M64
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return _signed(h)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise left-fold Σ a·b (the order Spark's ``aggregate`` sums in)."""
    return np.cumsum(a * b, axis=-1)[..., -1]


def shingles(text: str, k: int = 5) -> set:
    return {text[i:i + k] for i in range(max(len(text) - (k - 1), 1))}


def pair_rows(groups, value):
    return [(a, b, value) for g in groups for i, a in enumerate(g) for b in g[i + 1:]]


def ngram_expected(docs, groups, max_shingle_df: int = 1000, threshold: float = 0.5):
    """(ngram pair rows, candidate pairs) for exact-duplicate groups. The
    candidates are what the inverted-index self-join emits: every pair of
    documents sharing a kept shingle, once per shingle, Σ df·(df−1)/2."""
    sh = {d: shingles(t) for d, t in docs}
    df = Counter(s for ss in sh.values() for s in ss)
    kept = {s for s, c in df.items() if c <= max_shingle_df}
    rows = []
    for g in groups:
        for i, a in enumerate(g):
            for b in g[i + 1:]:
                inter = len(sh[a] & sh[b] & kept)
                sa, sb = len(sh[a]), len(sh[b])
                jac = round4(inter / (sa + sb - inter))
                if jac >= threshold * 10000:
                    rows.append((a, b, inter, sa, sb, jac))
    return rows, sum(c * (c - 1) // 2 for s, c in df.items() if s in kept)


def _quantized(vecs) -> tuple[np.ndarray, np.ndarray]:
    ids = np.array([i for i, _ in vecs], dtype=np.int64)
    q = np.rint(np.array([v for _, v in vecs], dtype=np.float64) * 1000).astype(np.int64)
    order = np.argsort(ids)
    return ids[order], q[order]


def _ivf_assign(q: np.ndarray, nlist: int):
    cent = q[:nlist]
    cdot = q @ cent.T
    return cent, np.argmax(cdot, axis=1), cdot.max(axis=1)


def ivf_expected(vecs, n_queries: int, k: int = 10, nlist: int = 16, nprobe: int = 4):
    ids, q = _quantized(vecs)
    cent, cell, _ = _ivf_assign(q, nlist)
    rows = []
    for qi in range(n_queries):
        qdot = cent @ q[qi]
        probes = np.lexsort((np.arange(nlist), -qdot))[:nprobe]
        cand = np.nonzero(np.isin(cell, probes))[0]
        dots = q[cand] @ q[qi]
        top = cand[np.lexsort((ids[cand], -dots))][:k]
        rows += [(int(ids[qi]), int(ids[j]), r + 1, int(q[j] @ q[qi]))
                 for r, j in enumerate(top)]
    return rows


def semantic_dedup_expected(vecs, nlist: int = 16, threshold_q6: int = 990000):
    ids, q = _quantized(vecs)
    _, cell, cdot = _ivf_assign(q, nlist)
    nrm = (q * q).sum(axis=1).astype(np.float64)
    rows = []
    for c in range(nlist):
        members = np.nonzero(cell == c)[0]
        members = members[np.lexsort((ids[members], cdot[members]))]
        dots = (q[members] @ q[members].T).astype(np.float64)
        cos = np.floor(dots / np.sqrt(np.outer(nrm[members], nrm[members])) * 1000000)
        hit = np.triu(cos >= threshold_q6, k=1).any(axis=0)
        rows += [(int(ids[j]), c, rank + 1, "false" if hit[rank] else "true")
                 for rank, j in enumerate(members)]
    return rows


def lsh_topk_expected(vecs, n_queries: int, dim: int, k: int = 10, n_planes: int = 8):
    ids = np.array([i for i, _ in vecs], dtype=np.int64)
    x = np.array([v for _, v in vecs], dtype=np.float64)
    order = np.argsort(ids)
    ids, x = ids[order], x[order]
    planes = np.array([[float(xxhash64_int(j, xxhash64_int(i, 42)) % 2001 - 1000)
                        for j in range(dim)] for i in range(n_planes)])
    bucket = np.zeros(len(ids), dtype=np.int64)
    for i in range(n_planes):
        bucket = bucket * 2 + (_fold_dot(x, planes[i]) >= 0)
    norm = np.sqrt(_fold_dot(x, x))
    rows = []
    for qi in range(n_queries):
        cand = np.nonzero(bucket == bucket[qi])[0]
        cos = _fold_dot(x[cand], x[qi]) / (norm[cand] * norm[qi])
        top = np.lexsort((ids[cand], -cos))[:k]
        rows += [(int(ids[qi]), int(ids[cand[j]]), r + 1, round4(cos[j]))
                 for r, j in enumerate(top)]
    return rows


# -- EXPECTED.json --------------------------------------------------------------


def main() -> int:
    """Compute the expected values of every workload for a range of seeds
    and write them to EXPECTED.json."""
    import argparse

    ap = argparse.ArgumentParser(description=main.__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="0-255", help="inclusive range, as in 0-255")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    root = os.getcwd()
    sys.path[:0] = [root, os.path.dirname(EXPECTED_PATH)]
    from workloads import DedupAnn, MixedJsonld, TranscriptPipeline

    commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                            cwd=root).stdout.strip()
    out = {"about": "Expected outputs per workload and seed, computed by perfbench/oracle.py "
                    "without Spark: digests are [row count, sum of row hashes].",
           "commit": commit, "seeds": [lo, hi], "workloads": {}}
    for cls in (TranscriptPipeline, MixedJsonld, DedupAnn):
        per_seed = out["workloads"][cls.name] = {}
        for seed in range(lo, hi + 1):
            w = cls(None, None, seed, None)
            w.inputs()
            per_seed[str(seed)] = w.expected()
            if w.mismatches:
                print(f"error: {cls.name} seed {seed}: {w.mismatches}", file=sys.stderr)
                return 1
        print(f"{cls.name}: seeds {lo}-{hi}", file=sys.stderr)
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, separators=(",", ":"))
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
