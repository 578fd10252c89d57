"""Seeded input generators owned by the benchmark.

Every workload input is a pure function of ``--seed`` and of the sizes in
``SIZES``; nothing here imports program code, so an edit to ``pyld_spark/``
or ``tools/`` cannot change a workload. The shapes are ported from the
program's own generators:

- transcripts: ``pyld_spark.transcripts.synthesize_transcripts`` (roles,
  tools, escapable text, @handles and URLs, a few hot conversations);
- JSON-LD transcript documents: ``tools/bench_kernel_scaling.make_doc``;
- text documents and vectors: ``tools/bench_dataops.synth_docs`` /
  ``synth_vecs`` (60-word docs, every 10th sharing a 20-word block;
  64-dim vectors with components k/1000, k in [-1000, 1000]).

The planted structure (hot conversations, context pool, automorphic and
invalid documents, duplicate groups) is what the output checks and the
route/plant checks count against.
"""

from __future__ import annotations

import json
import random
import string
from datetime import datetime, timedelta, timezone

SIZES = {
    "transcript_pipeline": {"convs": 400, "turns": 20, "hot_convs": 2, "hot_turns": 2000},
    "mixed_jsonld": {
        "transcript_docs": 300, "turns": 20, "context_docs": 200,
        "context_pool": 160, "automorphic_docs": 24, "invalid_docs": 30,
    },
    "dedup_ann": {
        "docs": 400, "dup_groups": 40, "dup_size": 3, "vecs": 1200,
        "vec_dup_groups": 30, "dim": 64, "queries": 16,
    },
}

VOCAB = "https://pyld-spark.example/vocab#"
XSD = "http://www.w3.org/2001/XMLSchema#"
CONV_BASE = "https://pyld-spark.example/conv/"
# the transcript ontology context (same terms as the program's
# TRANSCRIPT_CONTEXT; copied so the workload cannot drift with it)
TRANSCRIPT_CONTEXT = {
    "@vocab": VOCAB,
    "conv": VOCAB,
    "turns": {"@id": VOCAB + "turns", "@container": "@list"},
    "turnIndex": {"@id": VOCAB + "turnIndex", "@type": XSD + "integer"},
    "ts": {"@id": VOCAB + "ts", "@type": XSD + "dateTime"},
}
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}:{stream}")


# -- transcripts --------------------------------------------------------------


def transcript_rows(seed: int, convs: int, turns: int, hot_convs: int,
                    hot_turns: int, stream: str = "transcripts") -> list[tuple]:
    """(conv_id, turn_idx, role, text, tool, ts) rows; ``hot_convs``
    conversations carry ``hot_turns`` turns, the rest ``turns``."""
    r = _rng(seed, stream)
    prefix = f"c{seed % 1000:03d}"
    rows = []
    for c in range(convs + hot_convs):
        n = turns if c < convs else hot_turns
        conv_id = f"conv-{prefix}-{c}"
        start = _EPOCH + timedelta(seconds=c * 3600 + r.randrange(600))
        for i in range(n):
            h = r.getrandbits(30)
            text = (f'turn {i} says "hello"\t@agent{h % 50} visit '
                    f"https://ex.org/p/{h % 97}")
            if h % 11 == 0:
                text += " \\slash\nnewline"
            if h % 13 == 0:
                text += " caf\u00e9 \u4f60\u597d"
            tool = "search" if h % 7 == 0 else "python" if h % 7 == 1 else None
            role = ("user", "assistant", "system", "tool")[h % 4]
            ts = start + timedelta(seconds=i * 7 + h % 3)
            rows.append((conv_id, i, role, text, tool, ts))
    return rows


def _ts_literal(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def transcript_doc(conv_id: str, turns: list[tuple]) -> str:
    """One conversation as the JSON-LD document assembly builds (turns in
    turn order, null fields omitted)."""
    nodes = []
    for _c, i, role, text, tool, ts in sorted(turns, key=lambda t: t[1]):
        node = {"@id": f"{CONV_BASE}{conv_id}/turn/{i}", "@type": "Turn",
                "turnIndex": i, "role": role, "text": text}
        if tool is not None:
            node["tool"] = tool
        node["ts"] = _ts_literal(ts)
        nodes.append(node)
    return json.dumps({
        "@context": TRANSCRIPT_CONTEXT, "@id": CONV_BASE + conv_id,
        "@type": "Conversation", "turns": {"@list": nodes},
    })


def docs_by_conv(rows: list[tuple]) -> dict[str, str]:
    groups: dict[str, list] = {}
    for row in rows:
        groups.setdefault(row[0], []).append(row)
    return {cid: transcript_doc(cid, ts) for cid, ts in groups.items()}


# -- mixed JSON-LD documents ---------------------------------------------------

#: invalid documents and the quarantine error code each must produce
INVALID_SHAPES = [
    ('{"@context": {"@vocab": 5}, "@id": "https://ex.org/bad/%d", "a": 1}',
     "invalid vocab mapping"),
    ('{"@id": "https://ex.org/bad/%d", "@type": 5}', "invalid type value"),
    ('{"@context": {"x": {"@id": 5}}, "@id": "https://ex.org/bad/%d", "x": 1}',
     "invalid IRI mapping"),
    ('{"@id": "https://ex.org/bad/%d", "http://ex.org/p": '
     '{"@value": "a", "@language": 5}}', "invalid language-tagged string"),
    ('{"@context": {"@base": 5}, "@id": "https://ex.org/bad/%d"}', "invalid base IRI"),
]


def _context(j: int) -> dict:
    base = f"https://ex.org/ctx{j}/"
    return {
        "@vocab": base,
        "name": "http://schema.org/name",
        "knows": {"@id": "http://schema.org/knows", "@type": "@id"},
        "age": {"@id": base + "age", "@type": XSD + "integer"},
        "tags": {"@id": base + "tags", "@container": "@set"},
        "label": {"@id": base + "label", "@language": "en"},
        "steps": {"@id": base + "steps", "@container": "@list"},
    }


def mixed_docs(seed: int, transcript_docs: int, turns: int, context_docs: int,
               context_pool: int, automorphic_docs: int,
               invalid_docs: int) -> tuple[list[tuple[str, str]], dict]:
    """(doc_id, doc json) rows, shuffled, plus the planted counts.

    - transcript documents in the ``make_doc`` shape, carried as plain
      strings (no ``transcript-v1`` tag), so they take the general kernel;
    - documents whose inline context is drawn from a pool larger than the
      kernel's 64-entry processed-context cache;
    - documents with automorphic blank nodes (two identical anonymous
      nodes), whose first-degree hashes collide;
    - invalid documents with a known quarantine error code each.
    """
    r = _rng(seed, "mixed")
    rows = transcript_rows(seed, transcript_docs, turns, 0, 0, stream="mixed-transcripts")
    docs = [(f"t-{cid}", d) for cid, d in docs_by_conv(rows).items()]
    for i in range(context_docs):
        j = r.randrange(context_pool)
        doc_id = f"x-{seed}-{i}"
        friend = {"name": f"friend {r.randrange(10**6)}", "age": r.randrange(90)}
        doc = {
            "@context": _context(j), "@id": f"https://ex.org/people/{doc_id}",
            "name": "".join(r.choices(string.ascii_lowercase, k=8)),
            "age": r.randrange(90),
            "knows": [f"https://ex.org/people/p{r.randrange(1000)}" for _ in range(3)],
            "tags": [f"t{r.randrange(50)}" for _ in range(4)],
            "label": f"label {i}",
            "steps": [f"s{k}-{r.randrange(99)}" for k in range(r.randrange(1, 5))],
            "friend": friend,
        }
        docs.append((doc_id, json.dumps(doc)))
    for i in range(automorphic_docs):
        doc_id = f"a-{seed}-{i}"
        twin = {"http://ex.org/q": f"twin {r.randrange(10**6)}"}
        doc = {"@id": f"https://ex.org/auto/{doc_id}",
               "http://ex.org/p": [dict(twin), dict(twin)],
               "http://ex.org/n": i}
        docs.append((doc_id, json.dumps(doc)))
    quarantine = []
    for i in range(invalid_docs):
        shape, code = INVALID_SHAPES[r.randrange(len(INVALID_SHAPES))]
        doc_id = f"q-{seed}-{i}"
        docs.append((doc_id, shape % i))
        quarantine.append((doc_id, code))
    r.shuffle(docs)
    planted = {"quarantine": sorted(quarantine), "automorphic_docs": automorphic_docs,
               "context_pool": context_pool}
    return docs, planted


# -- dedup / ANN inputs --------------------------------------------------------


def text_docs(seed: int, docs: int, dup_groups: int, dup_size: int) -> tuple[list, list]:
    """(doc_id, text) rows in the ``synth_docs`` shape: 60 words per doc,
    a newline every 9 words, every 10th doc prefixed by one shared 20-word
    block. Words come from a seeded 20000-word vocabulary, so unrelated
    documents share few 5-character shingles. ``dup_groups`` documents are
    copied ``dup_size - 1`` times; returns (rows, planted groups)."""
    r = _rng(seed, "text")
    vocab = ["".join(r.choices(string.ascii_lowercase, k=r.randrange(4, 9)))
             for _ in range(20000)]
    shared = " ".join(r.choices(vocab, k=20))
    rows = []
    for i in range(docs):
        words = r.choices(vocab, k=60)
        text = "\n".join(" ".join(words[k:k + 9]) for k in range(0, 60, 9))
        if i % 10 == 0:
            text = shared + " " + text
        rows.append((f"d{i:05d}", text))
    groups = []
    for g, src in enumerate(r.sample(range(docs), dup_groups)):
        ids = [rows[src][0]] + [f"d{docs + g * dup_size + k:05d}" for k in range(dup_size - 1)]
        rows.extend((i, rows[src][1]) for i in ids[1:])
        groups.append(sorted(ids))
    r.shuffle(rows)
    return rows, groups


def vectors(seed: int, vecs: int, vec_dup_groups: int, dim: int) -> tuple[list, list]:
    """(vec_id, embedding) rows in the ``synth_vecs`` shape: components are
    k/1000 for k uniform in [-1000, 1000]. ``vec_dup_groups`` vectors get one
    exact copy each; returns (rows, planted pairs)."""
    r = _rng(seed, "vectors")
    ks = [[r.randint(-1000, 1000) for _ in range(dim)] for _ in range(vecs)]
    pairs = []
    for g, src in enumerate(r.sample(range(vecs), vec_dup_groups)):
        ks.append(list(ks[src]))
        pairs.append((src, vecs + g))
    rows = [(i, [k / 1000.0 for k in comps]) for i, comps in enumerate(ks)]
    return rows, pairs
