"""Spark stages: JSON-LD documents → expanded form → RDF triples / canonical
N-Quads.

Scale design (SURVEY.md §3.1):
- the only shuffle in the whole doc path is the assembly ``groupBy(conv_id)``;
  expansion/toRDF/canonicalization run per document in the narrow
  ``mapInArrow`` runner of :mod:`pyld_spark.operators.doc_runner` (no
  exchange, pipelined with the scan, no pandas round-trip);
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
from pyspark.sql.types import StringType, StructField, StructType

from pyld_spark.operators.doc_runner import (
    NULL_DOC_CODE,
    TRIPLE_COLUMNS,
    doc_bnode_namespace,
    doc_schema,
    map_docs,
    quads_to_rows,
)
from pyld_spark.transcripts import DOC_SHAPE_META_KEY, TRANSCRIPT_SHAPE_V1

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


def _compiled_transcript_triples(
    docs: DataFrame, id_col: str, doc_col: str
) -> DataFrame:
    """Pure-JVM toRDF for documents carrying the ``transcript-v1`` shape tag.

    :func:`pyld_spark.transcripts.assemble_documents` guarantees (by
    construction — it builds the JSON itself) that every tagged doc is::

        {"@context": TRANSCRIPT_CONTEXT, "@id": <absolute IRI>,
         "@type": "Conversation",
         "turns": {"@list": [ {"@id": <absolute IRI>, "@type": "Turn",
                               "turnIndex": int?, "role": str?, "text": str?,
                               "tool": str?, "ts": str?}, ... ]}}

    For that shape the full expand → node-map → toRDF pipeline reduces to a
    fixed relational projection (the context is static, so term → IRI and
    type-coercion decisions are compile-time constants; every blank node is a
    @list cons cell labeled ``_:bN`` in list order). Emitting it as
    ``from_json`` + ``transform``/``flatten`` + ``explode`` keeps the whole
    triples stage in whole-stage codegen — no JVM↔Python boundary, no Arrow
    transport of ~200 bytes/quad (optimization guide §4.1: built-ins over
    UDFs). Byte-equivalence with the Python kernel on this shape is pinned by
    tests/test_spark_pipeline.py (reference differential) and
    tests/test_compiled_triples.py (path differential incl. null/unicode
    edges); any untagged or differently-shaped input takes the general
    ``mapInArrow`` kernel below.
    """
    from pyspark.sql.types import ArrayType, LongType

    from pyld_spark.transcripts import VOCAB

    rdf_ns = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    xsd = "http://www.w3.org/2001/XMLSchema#"
    turn_schema = StructType(
        [
            StructField("@id", StringType()),
            StructField("turnIndex", LongType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", StringType()),
        ]
    )
    parsed_schema = StructType(
        [
            StructField("@id", StringType()),
            StructField(
                "turns",
                StructType([StructField("@list", ArrayType(turn_schema))]),
            ),
        ]
    )

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

    # Materialize the parsed doc ONCE per row as an attribute: from_json is
    # referenced from every emitted term, and expression-level references
    # inside the transform() lambda would otherwise re-parse the document per
    # list element (measured 4x slowdown). Aliasing through a projection makes
    # every later use an attribute read; CollapseProject keeps non-cheap
    # multi-referenced aliases un-inlined.
    parsed_docs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.from_json(F.col(doc_col), parsed_schema).alias("_p"),
        F.col(doc_col).isNull().alias("_null"),
    ).select(
        "doc_id",
        "_null",
        F.col("_p")["@id"].alias("_conv"),
        F.col("_p")["turns"]["@list"].alias("_turns"),
        # doc-namespaced cons-cell labels: identical bytes to
        # doc_bnode_namespace(doc_id) + "_b" + list position
        F.concat(
            F.lit("_:d"), F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 16)
        ).alias("_ns"),
    ).select(
        "doc_id", "_null", "_conv", "_turns", "_ns",
        F.size(F.col("_turns")).alias("_n"),
    )
    conv = F.col("_conv")
    turns = F.col("_turns")
    n = F.col("_n")
    ns = F.col("_ns")

    def cell(idx):
        return F.concat(ns, F.lit("_b"), idx.cast("string"))

    per_turn = F.transform(
        turns,
        lambda x, i: F.array(
            t(cell(i), rdf_ns + "first", "IRI", x["@id"]),
            t(
                cell(i),
                rdf_ns + "rest",
                F.when(i < n - 1, F.lit("blank node")).otherwise(F.lit("IRI")),
                F.when(i < n - 1, cell(i + 1)).otherwise(F.lit(rdf_ns + "nil")),
            ),
            t(x["@id"], rdf_ns + "type", "IRI", F.lit(VOCAB + "Turn")),
            lit_t(x["@id"], VOCAB + "turnIndex", x["turnIndex"].cast("string"),
                  xsd + "integer"),
            lit_t(x["@id"], VOCAB + "role", x["role"], xsd + "string"),
            lit_t(x["@id"], VOCAB + "text", x["text"], xsd + "string"),
            lit_t(x["@id"], VOCAB + "tool", x["tool"], xsd + "string"),
            lit_t(x["@id"], VOCAB + "ts", x["ts"], xsd + "dateTime"),
        ),
    )
    conv_triples = F.array(
        t(conv, rdf_ns + "type", "IRI", F.lit(VOCAB + "Conversation")),
        F.when(n > 0, t(conv, VOCAB + "turns", "blank node", cell(F.lit(0))))
        .otherwise(t(conv, VOCAB + "turns", "IRI", F.lit(rdf_ns + "nil"))),
    )
    # a null doc (null conv_id upstream) is one quarantine row, with the
    # code the kernel gives it
    is_null = F.col("_null")
    quarantine = F.array(F.struct(*(
        F.lit(None).cast("string").alias(c) for c in TRIPLE_COLUMNS[:-1]
    )))
    all_triples = F.when(is_null, quarantine).otherwise(
        F.concat(conv_triples, F.coalesce(F.flatten(per_turn), F.array()))
    )

    return (
        parsed_docs.select("doc_id", "_null", F.explode(all_triples).alias("t"))
        .where(F.col("t").isNotNull())
        .select(
            "doc_id",
            "t.subj", "t.pred", "t.obj_kind", "t.obj_value",
            "t.obj_datatype", "t.obj_language",
            F.when(~is_null, F.lit("@default")).alias("graph"),
            F.when(is_null, F.lit(NULL_DOC_CODE)).alias("error_code"),
        )
    )


def docs_to_triples(
    docs: DataFrame,
    id_col: str = "conv_id",
    doc_col: str = "doc",
    base_url: str | None = None,
    namespace_bnodes: bool = True,
    base_col: str | None = None,
) -> DataFrame:
    """(doc_id, doc json) → flat triples table (+ quarantine rows).

    Runs the expand → toRDF kernel once per document in the
    :func:`~pyld_spark.operators.doc_runner.map_docs` runner (narrow
    ``mapInArrow``, no pandas round-trip — on the 2M-turn scaling corpus
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
    if base_url is None and base_col is None and namespace_bnodes:
        try:
            meta = docs.schema[doc_col].metadata
        except Exception:  # noqa: BLE001 — missing column surfaces later
            meta = None
        if meta and meta.get(DOC_SHAPE_META_KEY) == TRANSCRIPT_SHAPE_V1:
            return _compiled_transcript_triples(docs, id_col, doc_col)

    def triples(doc_id, doc_json, base=None):
        quads = _doc_to_quads(doc_json, base_url if base is None else base)
        return quads_to_rows(
            quads, doc_bnode_namespace(doc_id) if namespace_bnodes else None
        )

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
