"""Corpus-scale compaction (SURVEY.md §2.7): the ``compact`` API
(reference semantics: /root/reference/lib/pyld/jsonld.py:577-670 API entry,
1414-1982 algorithm) applied per document — the distributed path a user
compacting a whole corpus takes.

Like the other document stages each function here is one kernel call run by
:func:`pyld_spark.operators.doc_runner.map_docs` (``mapInArrow``, one task
per slot); spec errors become quarantine rows instead of task failures.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField

from pyld_spark.operators.doc_runner import doc_schema, map_docs

COMPACTED_SCHEMA = doc_schema(StructField("compacted", StringType(), True))


def _md5(values) -> str:
    return hashlib.md5(",".join(values).encode("utf-8")).hexdigest()


def compact_documents(docs: DataFrame, target_ctx: dict,
                      id_col: str = "conv_id", doc_col: str = "doc") -> DataFrame:
    """(doc_id, doc json) → (doc_id, compacted json, error_code)."""

    def compacted(_doc_id, doc_json):
        from pyld_spark.jsonld import api

        return [(json.dumps(api.compact(json.loads(doc_json), target_ctx),
                            sort_keys=True),)]

    return map_docs(docs, compacted, COMPACTED_SCHEMA, id_col, doc_col)


def flatten_corpus_stats(
    docs: DataFrame,
    id_col: str = "conv_id",
    doc_col: str = "doc",
) -> DataFrame:
    """Corpus flattening with SQL-reconstructable output: per document the
    number of flattened top-level nodes and an md5 over the sorted node
    @ids (IRIs and the deterministic ``_:bN`` relabeled blank nodes) —
    certifying node-map construction and bnode issuance order relationally.
    Returns (doc_id, n_nodes, ids_md5, error_code)."""
    schema = doc_schema(
        StructField("n_nodes", LongType(), True),
        StructField("ids_md5", StringType(), True),
    )

    def stats(_doc_id, doc_json):
        from pyld_spark.jsonld import api

        ids = sorted(
            n.get("@id", "")
            for n in api.flatten(json.loads(doc_json))
            if isinstance(n, dict)
        )
        return [(len(ids), _md5(ids))]

    return map_docs(docs, stats, schema, id_col, doc_col)


def compact_corpus_stats(
    docs: DataFrame,
    target_ctx: dict,
    list_term: str,
    item_keys: list[str],
    id_col: str = "conv_id",
    doc_col: str = "doc",
) -> DataFrame:
    """Corpus compaction with SQL-reconstructable output.

    Runs the full expand→compact algorithm per document, then reduces the
    compacted ``list_term`` array to verifiable columns: item count plus an
    md5 over the ordered comma-joined values of each ``item_keys`` entry —
    certifying term selection, container compaction, and list order against
    a relational oracle. Returns (doc_id, n_items, <key>_md5 ..., error_code).
    """
    schema = doc_schema(
        StructField("n_items", LongType(), True),
        *[StructField(f"{k}_md5", StringType(), True) for k in item_keys],
    )

    def stats(_doc_id, doc_json):
        from pyld_spark.jsonld import api

        items = api.compact(json.loads(doc_json), target_ctx).get(list_term)
        if isinstance(items, dict):
            items = items.get("@list", [])
        if not isinstance(items, list):
            items = []
        return [(len(items), *(
            _md5(str(it.get(key)) for it in items if isinstance(it, dict))
            for key in item_keys
        ))]

    return map_docs(docs, stats, schema, id_col, doc_col)
