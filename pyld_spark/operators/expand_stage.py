"""Spark stages: JSON-LD documents → expanded form → RDF triples / canonical
N-Quads.

Scale design (SURVEY.md §3.1):
- expansion/toRDF/canonicalization run per document in the ``mapInArrow``
  runner of :mod:`pyld_spark.operators.doc_runner`, after one exchange that
  hash-partitions batch docs on their id to one task per slot (no pandas
  round-trip); transcript-tagged docs take a compiled JVM projection
  instead, with no exchange;
- contexts: static pipeline contexts are processed once per *executor process*
  (module-level cache keyed by canonical JSON of the inline @context), not per
  document;
- blank nodes are doc-local (``_:b0``) and namespaced with a doc-id hash so
  the corpus-global triples table needs no global counter;
- spec errors never kill executors: they become quarantine rows
  (``error_code`` non-null), split off with :func:`split_quarantine`.
"""

from __future__ import annotations

import json
from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from pyld_spark.operators.doc_runner import (
    NULL_DOC_CODE,
    TRIPLE_COLUMNS,
    doc_bnode_namespace,
    doc_schema,
    map_docs,
    quads_to_rows,
)
from pyld_spark.transcripts import DOC_SHAPE_META_KEY, TRANSCRIPT_SHAPE_V1, VOCAB

TRIPLE_SCHEMA = doc_schema(*(StructField(c, StringType(), True) for c in TRIPLE_COLUMNS))

NQUADS_SCHEMA = doc_schema(StructField("nquads", StringType(), True))

# executor-process-level LRU cache of processed contexts (keyed by canonical
# JSON); OrderedDict move-to-end on hit, evict oldest single entry at capacity
# so a pipeline cycling >64 distinct per-doc contexts keeps its working set
_CTX_CACHE: OrderedDict = OrderedDict()
_CTX_CACHE_MAX = 64


def _processed_context(ctx_value, base_url):
    from pyld_spark.jsonld.context import (
        DEFAULT_BASE_IRI, initial_context, process_context,
    )

    key = (json.dumps(ctx_value, sort_keys=True, default=str), base_url)
    cached = _CTX_CACHE.get(key)
    if cached is not None:
        _CTX_CACHE.move_to_end(key)
    if cached is None:
        while len(_CTX_CACHE) >= _CTX_CACHE_MAX:
            _CTX_CACHE.popitem(last=False)
        # the default base must be present BEFORE context processing — a
        # non-propagating context snapshots `previous` then (api.expand
        # applies the same rule)
        cached = process_context(
            initial_context(base=base_url or DEFAULT_BASE_IRI),
            ctx_value, base_url,
        )
        _CTX_CACHE[key] = cached
    return cached


def _doc_to_quads(doc_json: str, base_url: str | None):
    """Parse → expand (context-cached) → node map → quads. Pure function."""
    from pyld_spark.jsonld.context import initial_context
    from pyld_spark.jsonld.expand import expand
    from pyld_spark.jsonld.rdf import to_rdf

    doc = json.loads(doc_json)
    preapplied = False
    if isinstance(doc, dict) and "@context" in doc:
        ctx = _processed_context(doc["@context"], base_url)
        doc = {k: v for k, v in doc.items() if k != "@context"}
        preapplied = True
    else:
        ctx = initial_context(base=base_url)
    expanded = expand(doc, context=ctx, base_url=base_url,
                      context_preapplied=preapplied)
    return to_rdf(expanded)


def is_transcript_tagged(docs: DataFrame, doc_col: str) -> bool:
    """True when ``doc_col`` carries the ``transcript-v1`` shape tag."""
    try:
        meta = docs.schema[doc_col].metadata
    except Exception:  # noqa: BLE001 — missing column surfaces later
        return False
    return meta.get(DOC_SHAPE_META_KEY) == TRANSCRIPT_SHAPE_V1


_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XSD = "http://www.w3.org/2001/XMLSchema#"
_TURN_SCHEMA = StructType(
    [
        StructField("@id", StringType()),
        StructField("turnIndex", LongType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", StringType()),
    ]
)
_PARSED_SCHEMA = StructType(
    [
        StructField("@id", StringType()),
        StructField(
            "turns",
            StructType([StructField("@list", ArrayType(_TURN_SCHEMA))]),
        ),
    ]
)


def _parsed_transcripts(docs: DataFrame, id_col: str, doc_col: str) -> DataFrame:
    """One row per tagged doc: ``doc_id``, ``_null`` (the doc is null),
    ``_conv``, ``_turns``, ``_ns`` (the doc's blank-node namespace), ``_n``
    (turns), ``_k`` (turns without an ``@id``) and ``_exact`` (every turn
    ``@id`` is non-null and distinct).

    The parsed doc is materialized ONCE per row as an attribute: from_json
    is referenced from every emitted term, and expression-level references
    inside a transform() lambda would otherwise re-parse the document per
    list element (measured 4x slowdown). Aliasing through a projection makes
    every later use an attribute read; CollapseProject keeps non-cheap
    multi-referenced aliases un-inlined. For the same reason no caller may
    filter on these columns: the filter would be pushed below the
    projection.
    """
    parsed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.from_json(F.col(doc_col), _PARSED_SCHEMA).alias("_p"),
        F.col(doc_col).isNull().alias("_null"),
    ).select(
        "doc_id",
        "_null",
        F.col("_p")["@id"].alias("_conv"),
        F.col("_p")["turns"]["@list"].alias("_turns"),
        # doc-namespaced labels: identical bytes to doc_bnode_namespace(doc_id)
        F.concat(
            F.lit("_:d"), F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 16)
        ).alias("_ns"),
    )
    named = F.array_compact(F.col("_turns")["@id"])
    return parsed.select(
        "doc_id", "_null", "_conv", "_turns", "_ns",
        F.size("_turns").alias("_n"),
        (F.size("_turns") - F.size(named)).alias("_k"),
        (F.size(F.array_distinct(named)) == F.size("_turns")).alias("_exact"),
    )


def _ranks(keys):
    """Each element's position in ``keys`` sorted ascending, ties by index.

    Sorting ``(key, index)`` gives the order and sorting that order back by
    index gives its inverse: two sorts, no map (``element_at`` on a map
    scans its keys)."""
    order = F.array_sort(F.transform(keys, lambda k, i: F.struct(k.alias("k"), i.alias("i"))))
    back = F.array_sort(
        F.transform(order, lambda s, r: F.struct(s["i"].alias("i"), r.alias("r")))
    )
    return F.transform(back, lambda s: s["r"])


def _cell_hash(turn_iri, i, n, conv):
    """URDNA2015 first-degree hash of cons cell ``i`` of ``n``: its three
    quads, masked and serialized exactly as ``canonicalize._masked_quad_expr``
    does (self ``_:a``, other blank nodes ``_:z``), sorted and joined."""
    first = F.concat(F.lit(f"_:a <{_RDF}first> <"), turn_iri, F.lit("> .\n"))
    rest = F.when(i < n - 1, F.lit(f"_:a <{_RDF}rest> _:z .\n")).otherwise(
        F.lit(f"_:a <{_RDF}rest> <{_RDF}nil> .\n"))
    into = F.when(i > 0, F.lit(f"_:z <{_RDF}rest> _:a .\n")).otherwise(
        F.concat(F.lit("<"), conv, F.lit(f"> <{VOCAB}turns> _:a .\n")))
    return F.sha2(F.array_join(F.array_sort(F.array(first, rest, into)), ""), 256)


def _transcript_fallback_ids(docs: DataFrame, id_col: str, doc_col: str) -> DataFrame:
    """``doc_id`` of every non-null tagged doc that ``canonical=True`` of
    :func:`_compiled_transcript_triples` skips: a turn ``@id`` is null or
    repeats, so cell hashes may collide and the general canonicalization
    must label the doc."""
    p = _parsed_transcripts(docs, id_col, doc_col)
    fallback = ~F.col("_null") & ~F.col("_exact")
    return p.select(F.explode(F.when(fallback, F.array("doc_id"))).alias("doc_id"))


def _compiled_transcript_triples(
    docs: DataFrame, id_col: str, doc_col: str, canonical: bool = False
) -> DataFrame:
    """Pure-JVM toRDF for documents carrying the ``transcript-v1`` shape tag.

    :func:`pyld_spark.transcripts.assemble_documents` guarantees (by
    construction — it builds the JSON itself) that every tagged doc is::

        {"@context": TRANSCRIPT_CONTEXT, "@id": <absolute IRI>,
         "@type": "Conversation",
         "turns": {"@list": [ {"@id": <absolute IRI>?, "@type": "Turn",
                               "turnIndex": int?, "role": str?, "text": str?,
                               "tool": str?, "ts": str?}, ... ]}}

    For that shape the full expand → node-map → toRDF pipeline reduces to a
    fixed relational projection (the context is static, so term → IRI and
    type-coercion decisions are compile-time constants). Emitting it as
    ``from_json`` + ``transform``/``flatten`` + ``explode`` keeps the whole
    triples stage in the JVM — no JVM↔Python boundary, no Arrow transport of
    ~200 bytes/quad (optimization guide §4.1: built-ins over UDFs).

    The output is the kernel's, as a set:
    - a turn without an ``@id`` (null ``turn_idx``) is a blank node; the
      ``k`` anonymous turns are labeled ``_bN`` in list order before the
      cons cells, which are ``_bk`` … in list order — the kernel's node-map
      then toRDF issue order;
    - a repeated turn ``@id`` is one node, so a doc whose ``@id`` values repeat
      has its triple array deduplicated (an RDF graph is a set).

    ``canonical=True`` labels the cons cells with their URDNA2015 labels
    instead, all in the same row: each cell's first-degree hash
    (:func:`_cell_hash`), its rank in sorted-hash order (:func:`_ranks`),
    and the label ``{ns}_c14n{rank}`` — the bytes
    :func:`~pyld_spark.operators.canonicalize.canonicalize_triples` writes.
    Distinct non-null turn ``@id`` values make every cell hash distinct, so the
    labels are exact; every other doc emits nothing on this route (its ids
    are :func:`_transcript_fallback_ids`) and null docs are dropped, so
    the output has no ``error_code`` column.

    Byte-equivalence with the Python kernel on this shape is pinned by
    tests/test_spark_pipeline.py (reference differential) and
    tests/test_compiled_triples.py (path differential incl. null/unicode
    edges, duplicate and anonymous turns); the canonical labels by
    tests/test_compiled_canonical.py. Any untagged or differently-shaped
    input takes the general ``mapInArrow`` kernel below.
    """
    def t(subj, pred: str, okind, oval, odt: str | None = None):
        return F.struct(
            subj.alias("subj"),
            F.lit(pred).alias("pred"),
            (F.lit(okind) if isinstance(okind, str) else okind).alias("obj_kind"),
            oval.alias("obj_value"),
            F.lit(odt).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_language"),
        )

    def lit_t(subj, pred: str, val, dtype: str):
        # a null JSON field means the key was omitted by to_json → the
        # Python path sees no entry and emits no triple; mirror with when()
        return F.when(val.isNotNull(), t(subj, pred, "literal", val, dtype))

    p = _parsed_transcripts(docs, id_col, doc_col)
    conv = F.col("_conv")
    turns = F.col("_turns")
    n = F.col("_n")
    k = F.col("_k")
    ns = F.col("_ns")

    if canonical:
        p = p.withColumn("_rank", F.when(F.col("_exact"), _ranks(
            F.transform(turns, lambda x, i: _cell_hash(x["@id"], i, n, conv)))))

        def cell(i):
            return F.concat(ns, F.lit("_c14n"), F.get(F.col("_rank"), i).cast("string"))

        def turn_node(x, i):
            return x["@id"]
    else:
        # anonymous turns rank first (false < true), in list order
        p = p.withColumn("_anon", F.when(k > 0, _ranks(
            F.transform(turns, lambda x: x["@id"].isNotNull()))))

        def cell(i):
            return F.concat(ns, F.lit("_b"), (k + i).cast("string"))

        def turn_node(x, i):
            anon = F.concat(ns, F.lit("_b"), F.get(F.col("_anon"), i).cast("string"))
            return F.coalesce(x["@id"], anon)

    def per_turn(x, i):
        s = turn_node(x, i)
        return F.array(
            t(cell(i), _RDF + "first",
              F.when(x["@id"].isNull(), F.lit("blank node")).otherwise(F.lit("IRI")), s),
            t(
                cell(i),
                _RDF + "rest",
                F.when(i < n - 1, F.lit("blank node")).otherwise(F.lit("IRI")),
                F.when(i < n - 1, cell(i + 1)).otherwise(F.lit(_RDF + "nil")),
            ),
            t(s, _RDF + "type", "IRI", F.lit(VOCAB + "Turn")),
            lit_t(s, VOCAB + "turnIndex", x["turnIndex"].cast("string"),
                  _XSD + "integer"),
            lit_t(s, VOCAB + "role", x["role"], _XSD + "string"),
            lit_t(s, VOCAB + "text", x["text"], _XSD + "string"),
            lit_t(s, VOCAB + "tool", x["tool"], _XSD + "string"),
            lit_t(s, VOCAB + "ts", x["ts"], _XSD + "dateTime"),
        )

    conv_triples = F.array(
        t(conv, _RDF + "type", "IRI", F.lit(VOCAB + "Conversation")),
        F.when(n > 0, t(conv, VOCAB + "turns", "blank node", cell(F.lit(0))))
        .otherwise(t(conv, VOCAB + "turns", "IRI", F.lit(_RDF + "nil"))),
    )
    triples = F.concat(conv_triples, F.coalesce(F.flatten(F.transform(turns, per_turn)), F.array()))
    is_null = F.col("_null")
    exact = F.col("_exact")
    cols = ["doc_id", "t.subj", "t.pred", "t.obj_kind", "t.obj_value",
            "t.obj_datatype", "t.obj_language"]

    if canonical:
        # the per-doc skip stays inside the explode: a filter here would be
        # pushed below the projection (see _parsed_transcripts)
        return (
            p.select("doc_id", F.explode(F.when(~is_null & exact, triples)).alias("t"))
            .where(F.col("t").isNotNull())
            .select(*cols, F.lit("@default").alias("graph"))
        )

    # a null doc (null conv_id upstream) is one quarantine row, with the
    # code the kernel gives it
    quarantine = F.array(F.struct(*(
        F.lit(None).cast("string").alias(c) for c in TRIPLE_COLUMNS[:-1]
    )))
    all_triples = F.when(is_null, quarantine).when(exact, triples).otherwise(
        F.array_distinct(triples))

    return (
        p.select("doc_id", "_null", F.explode(all_triples).alias("t"))
        .where(F.col("t").isNotNull())
        .select(
            *cols,
            F.when(~is_null, F.lit("@default")).alias("graph"),
            F.when(is_null, F.lit(NULL_DOC_CODE)).alias("error_code"),
        )
    )


def docs_to_triples(
    docs: DataFrame,
    id_col: str = "conv_id",
    doc_col: str = "doc",
    base_url: str | None = None,
    base_col: str | None = None,
) -> DataFrame:
    """(doc_id, doc json) → flat triples table (+ quarantine rows).

    Runs the expand → toRDF kernel once per document in the
    :func:`~pyld_spark.operators.doc_runner.map_docs` runner
    (``mapInArrow``, no pandas round-trip — on the 2M-turn scaling corpus
    the pandas conversion both ways was the largest non-kernel cost of this
    stage).

    ``base_col`` names an optional per-document base-IRI column (e.g. the
    ``<base href>`` extracted by the HTML ingestion source); it overrides
    ``base_url`` row-wise when non-null.

    Docs whose ``doc_col`` carries the ``transcript-v1`` shape tag (set only
    by :func:`pyld_spark.transcripts.assemble_documents`, which constructs
    the JSON itself) compile to an equivalent pure-JVM projection instead —
    see :func:`_compiled_transcript_triples`.
    """
    if base_url is None and base_col is None and is_transcript_tagged(docs, doc_col):
        return _compiled_transcript_triples(docs, id_col, doc_col)

    def triples(doc_id, doc_json, base=None):
        quads = _doc_to_quads(doc_json, base_url if base is None else base)
        return quads_to_rows(quads, doc_bnode_namespace(doc_id))

    extra = (base_col,) if base_col is not None else ()
    return map_docs(docs, triples, TRIPLE_SCHEMA, id_col, doc_col, extra)


def docs_to_canonical_nquads(
    docs: DataFrame,
    id_col: str = "conv_id",
    doc_col: str = "doc",
    base_url: str | None = None,
    algorithm: str = "URDNA2015",
) -> DataFrame:
    """(doc_id, doc json) → per-document canonical N-Quads (``_:c14nN``).

    Valid because transcript bnodes are doc-local: canonicalization components
    never span documents (SURVEY.md §2.9); each doc canonicalizes
    independently and in parallel.
    """

    def nquads(_doc_id, doc_json):
        from pyld_spark.jsonld.canon import canonize_quads

        return [(canonize_quads(_doc_to_quads(doc_json, base_url), algorithm),)]

    return map_docs(docs, nquads, NQUADS_SCHEMA, id_col, doc_col)


def canonical_nquads_stats(canonical: DataFrame) -> DataFrame:
    """(doc_id, nquads) → (doc_id, n_lines, n_labels, nquads_sha256).

    Pure JVM projection over the canonicalization output. The emitted
    columns are SQL-reconstructable: for the transcript ontology every doc's
    blank nodes are an rdf:first/rest chain whose URDNA2015 labels finish in
    the first-degree-hash pass, so a SQL oracle can recompute the per-cell
    sha256 hashes, the sorted-hash label assignment, and the full sorted
    canonical N-Quads text — certifying the c14n engine end to end.
    """
    n_lines = (
        F.length("nquads")
        - F.length(F.replace(F.col("nquads"), F.lit("\n"), F.lit("")))
    ).cast("bigint")
    n_labels = F.size(
        F.array_distinct(F.expr("regexp_extract_all(nquads, '_:c14n[0-9]+', 0)"))
    ).cast("bigint")
    return canonical.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_labels.alias("n_labels"),
        F.sha2(F.col("nquads"), 256).alias("nquads_sha256"),
    )


def split_quarantine(combined: DataFrame):
    """Combined stage output → (good rows without error_code, quarantine)."""
    good = combined.filter(F.col("error_code").isNull()).drop("error_code")
    bad = combined.filter(F.col("error_code").isNotNull()).select("doc_id", "error_code")
    return good, bad
