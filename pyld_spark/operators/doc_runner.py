"""The one per-document runner behind every JSON-LD stage.

Every document stage (expand → triples, canonical N-Quads, compact, flatten,
frame, HTML extraction, fromRDF) runs a pure Python kernel once per
document. This module owns the three decisions they share, so each stage is
just the kernel call:

1. **Quarantine policy** — :func:`error_code`. A document whose kernel raises
   becomes ONE row with a non-null ``error_code`` and null payload columns;
   it never fails the task (SURVEY.md §3.1). ``JsonLdError`` keeps its spec
   code; any other exception is coded by its type name.
2. **The Arrow loop** — :func:`map_docs` (``mapInArrow`` over a document
   column) and :func:`map_doc_groups` (``groupBy(doc_id).applyInArrow`` over
   a triples table), each input hash-partitioned on the id to one task per
   slot. Input columns come straight off the Arrow batch
   (``to_pylist``) and the output batch is built once per input batch from
   the declared schema — no pandas round-trip either way.
3. **The triple-row codec** — :func:`quads_to_rows` (quads → flat triple
   rows with doc-namespaced blank nodes) and :func:`rows_to_quads` (one
   document's triple rows → quads, in a fixed sort order).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from pyld_spark.session import repartition_per_slot

#: payload columns of a flat triple row, in schema order
TRIPLE_COLUMNS = ("subj", "pred", "obj_kind", "obj_value",
                  "obj_datatype", "obj_language", "graph")
# rows_to_quads reads the columns in this order and sorts on the first five:
# partition arrival order must never influence the result (fromRDF node
# order, URDNA2015 tie-breaks between automorphic blank nodes)
_DECODE_COLUMNS = ("graph", "subj", "pred", "obj_kind", "obj_value",
                   "obj_datatype", "obj_language")


def error_code(exc: BaseException) -> str:
    """The quarantine code for a document whose kernel raised ``exc``."""
    from pyld_spark.jsonld.errors import JsonLdError

    if isinstance(exc, JsonLdError):
        return exc.code
    return f"internal error: {type(exc).__name__}"


#: what every kernel stage quarantines a null document under
#: (``json.loads(None)`` raises ``TypeError``)
NULL_DOC_CODE = error_code(TypeError())


def doc_schema(*payload: StructField) -> StructType:
    """``doc_id``, the payload columns, ``error_code``. ``doc_id`` is
    nullable: a row with a null id is a bad document to quarantine, not a
    reason to fail the task."""
    return StructType([
        StructField("doc_id", StringType(), True),
        *payload,
        StructField("error_code", StringType(), True),
    ])


def _record_batch(rows: list, arrow_schema):
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def _run_doc(doc_id, kernel: Callable[[], Iterable[tuple]], width: int) -> list:
    """``kernel()``'s payload rows framed with doc_id/error_code, or the
    document's one quarantine row."""
    try:
        return [(doc_id, *p, None) for p in kernel()]
    except Exception as e:  # noqa: BLE001 — quarantine, never crash
        return [(doc_id, *(None,) * width, error_code(e))]


def map_docs(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: StructType,
    id_col: str = "conv_id",
    doc_col: str = "doc",
    extra_cols: tuple = (),
) -> DataFrame:
    """Run ``fn(doc_id, doc, *extras)`` once per row of ``df``.

    ``fn`` returns zero or more payload tuples (the ``schema`` columns
    between ``doc_id`` and ``error_code``); each becomes one output row.
    Non-string ids are passed and emitted as ``str(id)``.

    A batch input is hash-partitioned on ``id_col`` to one partition per
    task slot (:func:`~pyld_spark.session.repartition_per_slot`) before the
    ``mapInArrow``. So the kernel keeps every slot busy even when its input
    is one file split, and it runs no more Python tasks than there are
    slots: each Python task has a fixed cost. A streaming input keeps the
    partitioning of its micro-batches: Spark's shuffle writer cannot take
    the rows ``applyInPandasWithState`` emits (a ``ClassCastException`` to
    ``UnsafeRow``), and the stateful assembly of
    :mod:`pyld_spark.streaming.stream` feeds this map.
    """
    arrow_schema = to_arrow_schema(schema)
    width = len(schema.fields) - 2
    cols = (id_col, doc_col, *extra_cols)

    def run(batches):
        for batch in batches:
            rows: list = []
            for doc_id, *args in zip(*(batch.column(c).to_pylist() for c in cols)):
                if doc_id is not None and not isinstance(doc_id, str):
                    doc_id = str(doc_id)
                rows += _run_doc(doc_id, lambda: fn(doc_id, *args), width)
            yield _record_batch(rows, arrow_schema)

    docs = df.select(*cols)
    if not df.isStreaming:
        docs = repartition_per_slot(docs, id_col)
    return docs.mapInArrow(run, schema)


def map_doc_groups(
    triples: DataFrame,
    fn: Callable[[str, list], Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """Run ``fn(doc_id, quads)`` once per document of a triples table.

    ``groupBy(doc_id).applyInArrow``: each call sees one whole document,
    decoded by :func:`rows_to_quads`. Decoding errors quarantine like
    kernel errors. The triples are hash-partitioned on ``doc_id`` to one
    partition per task slot first, as in :func:`map_docs`: the group
    exchange at the session width would run more Python tasks than slots,
    or, coalesced by AQE, fewer."""
    arrow_schema = to_arrow_schema(schema)
    width = len(schema.fields) - 2

    def run(key, table):
        import pyarrow as pa

        doc_id = key[0].as_py()
        rows = _run_doc(doc_id, lambda: fn(doc_id, rows_to_quads(table)), width)
        return pa.Table.from_batches([_record_batch(rows, arrow_schema)])

    return repartition_per_slot(triples, "doc_id").groupBy("doc_id").applyInArrow(run, schema)


def doc_bnode_namespace(doc_id: str) -> str:
    # sha256 (not sha1): reproducible in both Spark SQL (sha2(x,256)) and
    # DuckDB (sha256(x)), so the oracle can reconstruct namespaced bnode ids
    return "_:d" + hashlib.sha256(doc_id.encode("utf-8")).hexdigest()[:16]


def quads_to_rows(quads: list, ns: str) -> list:
    """Quads → ``TRIPLE_COLUMNS`` rows. Every doc-local blank node ``_:x``
    becomes ``{ns}_x`` (``ns`` is :func:`doc_bnode_namespace`) so the
    corpus-global triples table needs no global counter."""

    def fix(v: str) -> str:
        return ns + "_" + v[2:] if v.startswith("_:") else v

    rows = []
    for subj, pred, obj, graph in quads:
        sv = subj["value"]
        if subj["type"] == "blank node":
            sv = fix(sv)
        pv = pred["value"]
        if pred["type"] == "blank node":
            pv = fix(pv)
        ok = obj["type"]
        if ok == "literal":
            tail = (obj["value"], obj.get("datatype"), obj.get("language"))
        else:
            tail = (fix(obj["value"]) if ok == "blank node" else obj["value"],
                    None, None)
        rows.append((sv, pv, ok, *tail,
                     graph if graph == "@default" else fix(graph)))
    return rows


def _null_last(v):
    return (v is None, "" if v is None else v)


def rows_to_quads(table) -> list:
    """One document's triple rows (an Arrow table) → quads, sorted stably
    by (graph, subj, pred, obj_kind, obj_value) with nulls last."""
    rows = sorted(
        zip(*(table.column(c).to_pylist() for c in _DECODE_COLUMNS)),
        key=lambda r: tuple(map(_null_last, r[:5])),
    )
    quads = []
    for graph, subj, pred, kind, value, datatype, language in rows:
        s = {"type": "blank node" if subj.startswith("_:") else "IRI",
             "value": subj}
        if kind == "literal":
            obj = {"type": "literal", "value": value, "datatype": datatype}
            if isinstance(language, str):
                obj["language"] = language
        else:
            obj = {"type": kind, "value": value}
        quads.append((s, {"type": "IRI", "value": pred}, obj, graph))
    return quads
