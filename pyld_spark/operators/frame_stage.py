"""Corpus-scale framing (SURVEY.md §2.8): a JSON-LD frame is the engine's
"query by example". The frame's top-level constraints become *relational
predicates on the triples table* (filter/semi-join — Catalyst prunes and
pushes them down) to select matching documents; full recursive embedding
then runs per document in the :mod:`pyld_spark.operators.doc_runner` runner.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField

from pyld_spark.operators.doc_runner import doc_schema, map_docs

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def frame_subject_filter(
    triples: DataFrame, expanded_frame: list, options: dict | None = None
) -> DataFrame:
    """Subjects matching the frame's top-level @type / @id / property
    constraints, as pure relational ops over (doc_id, subj, ...).

    Returns distinct (doc_id, subj) — a SUPERSET of the subjects the exact
    matcher (jsonld.frame.filter_subject) admits, never a subset: the full
    algorithm re-runs per candidate document, so over-selection costs time
    while under-selection silently drops matches.

    Mirrors the reference's requireAll semantics (jsonld.py:4737-4861):

    - requireAll=False (default): @id, if present, is DECISIVE (early
      return) — all other constraints are ignored. Otherwise a specific
      @type is decisive. Otherwise matching is matches-SOME over property
      patterns: the candidate set is the UNION of subjects carrying any
      frame property (one filtered scan, pred IN (...)), and a match-none
      ([]) or @default pattern admits absent-property subjects, so those
      degrade to all-subjects.
    - requireAll=True: every constraint must hold — @id filter, @type
      semi/anti join, per-property presence semi-joins and match-none
      anti-joins, exactly the intersective shape.

    This is the scale path: at 10^12 triples the frame prunes the corpus
    *before* any per-document work, seeded from a filtered scan Catalyst
    pushes down. Only a wildcard-ish frame pays the distinct-all shuffle.
    """
    frame = expanded_frame[0] if expanded_frame else {}
    require_all = bool((options or {}).get("requireAll", False))
    ra = frame.get("@requireAll")
    if isinstance(ra, list) and ra:
        ra = ra[0]
    if isinstance(ra, dict) and "@value" in ra:
        ra = ra["@value"]
    if ra is not None:
        require_all = bool(ra)

    types = frame.get("@type")
    ids = frame.get("@id")
    has_id_constraint = (
        isinstance(ids, list) and bool(ids) and not isinstance(ids[0], dict)
    )
    # a @type list containing a {"@default": ...} object always matches
    type_has_default = isinstance(types, list) and any(
        isinstance(t, dict) and "@default" in t for t in types
    )
    specific_types = (
        [t for t in types if isinstance(t, str)]
        if isinstance(types, list)
        else []
    )
    has_specific_type = bool(specific_types) and not type_has_default
    type_match_none = types == []
    type_wildcard = isinstance(types, list) and types == [{}]

    props = [p for p in frame if not p.startswith("@")]
    required = [p for p in props if frame[p] != []]
    forbidden = [p for p in props if frame[p] == []]
    # a property pattern with @default matches whether or not the property
    # is present — it constrains nothing relationally
    defaulted = {
        p
        for p in required
        if isinstance(frame[p], list)
        and frame[p]
        and isinstance(frame[p][0], dict)
        and "@default" in frame[p][0]
    }
    required = [p for p in required if p not in defaulted]

    def subjects_where(cond) -> DataFrame:
        """Node-map subjects whose IRI satisfies ``cond`` — the node map
        includes referenced-only stubs (nodes occurring solely as IRI/bnode
        objects or as named-graph names), so the universe is
        subj ∪ non-literal non-rdf:type obj ∪ graph names (a node's @type
        IRIs do NOT become node-map subjects). All filters push down into
        the scan."""
        subj_side = triples.filter(cond(F.col("subj"))).select("doc_id", "subj")
        obj_side = triples.filter(
            (F.col("obj_kind") != "literal")
            & (F.col("pred") != RDF_TYPE)
            & cond(F.col("obj_value"))
        ).select("doc_id", F.col("obj_value").alias("subj"))
        sides = [subj_side, obj_side]
        if "graph" in triples.columns:
            sides.append(
                triples.filter(
                    (F.col("graph") != "@default") & cond(F.col("graph"))
                ).select("doc_id", F.col("graph").alias("subj"))
            )
        out = sides[0]
        for s in sides[1:]:
            out = out.unionByName(s)
        return out.distinct()

    def all_subjects() -> DataFrame:
        return subjects_where(lambda c: F.lit(True))

    def typed_subjects(type_list: list) -> DataFrame:
        return (
            triples.filter(
                (F.col("pred") == RDF_TYPE) & F.col("obj_value").isin(type_list)
            )
            .select("doc_id", "subj")
            .distinct()
        )

    if not require_all:
        if "@id" in frame:
            # early return on @id (reference jsonld.py:4771-4772)
            if has_id_constraint:
                return subjects_where(lambda c: c.isin(ids))
            return all_subjects()  # wildcard @id matches everything
        if has_specific_type:
            # early return on specific @type (reference jsonld.py:4790-4791)
            return typed_subjects(specific_types)
        if type_has_default:
            return all_subjects()
        if forbidden or defaulted:
            # an absent property satisfies a [] / @default pattern, so any
            # subject can match — no relational pruning possible
            return all_subjects()
        if type_wildcard:
            # has-a-type OR any property pattern could contribute matches_some
            if required:
                return all_subjects()
            return (
                triples.filter(F.col("pred") == RDF_TYPE)
                .select("doc_id", "subj")
                .distinct()
            )
        if type_match_none:
            # nodes carrying a type are rejected outright
            out = all_subjects().join(
                triples.filter(F.col("pred") == RDF_TYPE)
                .select("doc_id", "subj")
                .distinct(),
                ["doc_id", "subj"],
                "left_anti",
            )
            return out
        if required:
            # matches-some: union of subjects carrying ANY frame property —
            # a single scan with pred IN (...), not one join per property
            return (
                triples.filter(F.col("pred").isin(required))
                .select("doc_id", "subj")
                .distinct()
            )
        return all_subjects()

    # requireAll=True: intersective
    if has_specific_type:
        out = typed_subjects(specific_types)
    elif required:
        out = (
            triples.filter(F.col("pred") == required[0])
            .select("doc_id", "subj")
            .distinct()
        )
        required = required[1:]
    else:
        out = all_subjects()
    if has_id_constraint:
        out = out.filter(F.col("subj").isin(ids))
    if type_wildcard:
        out = out.join(
            triples.filter(F.col("pred") == RDF_TYPE)
            .select("doc_id", "subj")
            .distinct(),
            ["doc_id", "subj"],
            "left_semi",
        )
    elif type_match_none:
        out = out.join(
            triples.filter(F.col("pred") == RDF_TYPE)
            .select("doc_id", "subj")
            .distinct(),
            ["doc_id", "subj"],
            "left_anti",
        )
    for prop in required:
        has = triples.filter(F.col("pred") == prop).select(
            "doc_id", "subj"
        ).distinct()
        out = out.join(has, ["doc_id", "subj"], "left_semi")
    for prop in forbidden:
        # match-none: subject must NOT have the property
        has = triples.filter(F.col("pred") == prop).select(
            "doc_id", "subj"
        ).distinct()
        out = out.join(has, ["doc_id", "subj"], "left_anti")
    return out


FRAMED_SCHEMA = doc_schema(StructField("framed", StringType(), True))


def _md5(values) -> str:
    return hashlib.md5(",".join(values).encode("utf-8")).hexdigest()


def frame_documents(docs: DataFrame, frame_doc: dict,
                    id_col: str = "conv_id", doc_col: str = "doc") -> DataFrame:
    """Apply the full framing algorithm per document.

    Returns (doc_id, framed json, error_code)."""

    def framed(_doc_id, doc_json):
        from pyld_spark.jsonld import api

        return [(json.dumps(api.frame(json.loads(doc_json), frame_doc),
                            sort_keys=True),)]

    return map_docs(docs, framed, FRAMED_SCHEMA, id_col, doc_col)


def frame_corpus(docs: DataFrame, triples: DataFrame, frame_doc: dict,
                 id_col: str = "conv_id",
                 options: dict | None = None) -> DataFrame:
    """End-to-end corpus framing: relational pre-filter on the triples table
    selects candidate documents, then per-document framing embeds them."""
    candidate_docs = _frame_candidates(docs, triples, frame_doc, id_col, options)
    return frame_documents(candidate_docs, frame_doc, id_col=id_col)


def _frame_candidates(docs: DataFrame, triples: DataFrame, frame_doc: dict,
                      id_col: str, options: dict | None = None) -> DataFrame:
    from pyld_spark.jsonld import api

    expanded_frame = api.expand(
        frame_doc, {"isFrame": True, "keepFreeFloatingNodes": True}
    )
    subjects = frame_subject_filter(triples, expanded_frame, options)
    return docs.join(
        subjects.select("doc_id").distinct(),
        docs[id_col] == F.col("doc_id"), "left_semi",
    )


def _frame_each_candidate(docs, triples, frame_doc, id_col, options, reduce,
                          schema) -> DataFrame:
    """Frame every candidate document and ``reduce(framed)`` it to payload
    rows."""
    frame_opts = options or {}

    def run(_doc_id, doc_json):
        from pyld_spark.jsonld import api

        return reduce(api.frame(json.loads(doc_json), frame_doc, dict(frame_opts)))

    candidate_docs = _frame_candidates(docs, triples, frame_doc, id_col, options)
    return map_docs(candidate_docs, run, schema, id_col, "doc")


FRAME_MATCH_SCHEMA = doc_schema(
    StructField("n_matched", LongType(), True),
    StructField("ids_md5", StringType(), True),
    StructField("vals_md5", StringType(), True),
)


def frame_match_stats(docs: DataFrame, triples: DataFrame, frame_doc: dict,
                      id_col: str = "conv_id", value_prop: str = "tool",
                      options: dict | None = None) -> DataFrame:
    """Corpus framing with SQL-reconstructable per-document MATCH stats: the
    number of top-level matched nodes, md5 over their @ids in framed (sorted)
    order, and md5 over each matched node's ``value_prop`` literal in the
    same order. Documents with zero matches emit no row — so the oracle
    certifies the relational pre-filter's document pruning AND the exact
    matcher's per-node decisions (reference _filter_subject semantics,
    jsonld.py:4737-4861) in one query."""

    def reduce(framed):
        nodes = framed.get("@graph")
        if nodes is None:
            nodes = [framed]
        matched = [
            n for n in nodes
            if isinstance(n, dict) and isinstance(n.get("@id"), str)
        ]
        if not matched:
            return []
        vals = []
        for n in matched:
            v = n.get(value_prop)
            if isinstance(v, list):
                v = v[0] if v else None
            if isinstance(v, dict):
                v = v.get("@value")
            vals.append("" if v is None else str(v))
        return [(len(matched), _md5(n["@id"] for n in matched), _md5(vals))]

    return _frame_each_candidate(docs, triples, frame_doc, id_col, options,
                                 reduce, FRAME_MATCH_SCHEMA)


FRAMED_STATS_SCHEMA = doc_schema(
    StructField("matched_type", StringType(), True),
    StructField("n_embedded_turns", LongType(), True),
    StructField("turns_md5", StringType(), True),
)


def frame_corpus_stats(docs: DataFrame, triples: DataFrame, frame_doc: dict,
                       id_col: str = "conv_id", list_prop: str = "turns",
                       options: dict | None = None) -> DataFrame:
    """Corpus framing with SQL-reconstructable output: for each matched
    document, the matched node's @type, the number of embedded ``list_prop``
    nodes, and md5 over the comma-joined embedded @ids *in list order* — so
    the DuckDB oracle certifies both the frame match set and the embedding
    order (the full framing algorithm runs; only the emitted columns are
    reduced to verifiable form)."""

    def reduce(framed):
        nodes = framed.get("@graph", [framed])
        node = nodes[0] if nodes else {}
        t = node.get("@type")
        matched_type = t[0] if isinstance(t, list) and t else t
        items = node.get(list_prop)
        if isinstance(items, dict):
            items = items.get("@list", [])
        if not isinstance(items, list):
            items = []
        ids = [it.get("@id", "") for it in items if isinstance(it, dict)]
        return [(
            matched_type if isinstance(matched_type, str) else None,
            len(ids),
            _md5(ids),
        )]

    return _frame_each_candidate(docs, triples, frame_doc, id_col, options,
                                 reduce, FRAMED_STATS_SCHEMA)
