"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship transcript→triples pipeline at
sf0.001; ``queries()``/``oracle_sql()`` expose each implemented operator with
a DuckDB-checkable ANSI-SQL oracle (run at sf0.01 by the driver).

The transcripts table is synthesized deterministically from the driver's
``events`` parquet via a shared transformation (see
pyld_spark.transcripts.TRANSCRIPTS_FROM_EVENTS_SQL) so the oracle can verify
transcript-shaped queries too.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyld_spark.transcripts import (  # noqa: E402
    TRANSCRIPTS_FROM_EVENTS_SQL,
    assemble_documents,
    transcripts_from_events,
)
from pyld_spark.operators.expand_stage import (  # noqa: E402
    docs_to_canonical_nquads,
    docs_to_triples,
    split_quarantine,
)
from pyld_spark.operators.linking import (  # noqa: E402
    entity_mention_counts,
    extract_mentions,
    link_entities,
    mention_triples,
)
from pyld_spark.operators.textstats import EN_STOPWORDS  # noqa: E402
from pyld_spark.operators.triples import turn_literal_triples  # noqa: E402
from pyld_spark.session import ensure_workers_can_import  # noqa: E402

_SF0001 = "/root/testdata/sf0.001"

# --- shared SQL fragments for oracles -------------------------------------

_T_CTE = f"WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})"

_VOCAB = "https://pyld-spark.example/vocab#"
_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_CONV = "https://pyld-spark.example/conv/"
_OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def _IDOT(a: str, b: str) -> str:
    """DuckDB integer dot product of two 64-dim quantized list columns."""
    return f"list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction path at sf0.001 — transcripts →
    window-ordered assembly → JSON-LD expansion → node map → RDF triples
    (Arrow-batched mapInPandas, no Python in the relational stages)."""
    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, _SF0001)
    docs = assemble_documents(t)
    triples, _quarantine = split_quarantine(docs_to_triples(docs))
    return triples


# --- queries ---------------------------------------------------------------


def _q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transcripts_from_events(spark, sf_dir).drop("ts")


def _q_assembly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    t = transcripts_from_events(spark, sf_dir)
    return t.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.min("turn_idx").cast("int").alias("min_turn"),
        F.max("turn_idx").cast("int").alias("max_turn"),
        F.sum(F.length("text")).cast("bigint").alias("text_chars"),
        F.count("tool").cast("bigint").alias("n_tool_turns"),
    )


def _q_turn_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return turn_literal_triples(transcripts_from_events(spark, sf_dir))


def _q_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers_can_import(spark)
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    triples, _ = split_quarantine(docs_to_triples(docs))
    return triples


def _q_triple_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-materialize delta: toRDF snapshot of the corpus minus
    every conversation's last turn vs the full corpus — one hash-agg set
    difference (operators/snapshot.py), no join. Covers rdf:rest rewiring
    (removed + added rows for the second-to-last cons cell) and whole
    conversations appearing when their only turn is the "new" one."""
    from pyspark.sql import Window

    from pyld_spark.operators.snapshot import triple_diff

    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    old_t = (
        t.withColumn("_mx", F.max("turn_idx").over(Window.partitionBy("conv_id")))
        .filter(F.col("turn_idx") < F.col("_mx"))
        .drop("_mx")
    )
    old_triples, _ = split_quarantine(docs_to_triples(assemble_documents(old_t)))
    new_triples, _ = split_quarantine(docs_to_triples(assemble_documents(t)))
    return triple_diff(old_triples, new_triples)


def _q_void_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID-style per-predicate dataset description of the full toRDF
    snapshot (void:triples / distinctSubjects / distinctObjects + object
    kind split) — the post-refresh sanity check for incremental applies."""
    from pyld_spark.operators.snapshot import void_summary

    ensure_workers_can_import(spark)
    triples, _ = split_quarantine(
        docs_to_triples(assemble_documents(transcripts_from_events(spark, sf_dir)))
    )
    return void_summary(triples)


def _q_streamed_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_triples through Structured Streaming file-source REPLAY:
    transcripts → applyInPandasWithState assembly → in-stream mapInArrow
    docs_to_triples → parquet sink, availableNow trigger. Gate-certifies the
    streaming path (round-3 verdict item 3): same oracle as pipeline_triples.

    The window in transcripts_from_events can't run in-stream (row_number
    over event order), so transcripts materialize first — the streamed
    stages are assembly (the custom stateful operator) and triple emission.
    Watermark 1440h covers the 30-day event span (file replay is unordered);
    two far-future sentinel files in separate tail microbatches commit the
    final watermark then fire all timers (a replay ends; a stream doesn't).
    """
    import datetime as _dt
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    ensure_workers_can_import(spark)
    from pyld_spark.streaming.stream import (
        assemble_documents_stream_stateful,
        read_transcript_stream,
    )

    work = _tempfile.mkdtemp(prefix="gate_stream_")
    inp, ckpt, out = f"{work}/in", f"{work}/ckpt", f"{work}/out"
    transcripts_from_events(spark, sf_dir).coalesce(4).write.parquet(inp)
    sentinel_schema = ("conv_id string, turn_idx int, role string, "
                       "text string, tool string, ts timestamp")
    for year in (2030, 2031):
        spark.createDataFrame(
            [(f"conv-sentinel-{year}", 0, "user", "late", None,
              _dt.datetime(year, 1, 1, tzinfo=_dt.timezone.utc))],
            sentinel_schema,
        ).coalesce(1).write.mode("append").parquet(inp)
        # FileStreamSource orders the replay by mtime: sentinels must be the
        # two NEWEST files (strictly increasing) to land in tail microbatches
        newest = max(_glob.glob(f"{inp}/*.parquet"), key=_os.path.getmtime)
        bump = 100 if year == 2030 else 200
        _os.utime(newest, (_os.path.getmtime(newest) + bump,) * 2)

    stream = read_transcript_stream(spark, inp, max_files_per_trigger=1)
    docs = assemble_documents_stream_stateful(
        stream, watermark="1440 hours", gap_seconds=1800
    )
    triples, _ = split_quarantine(docs_to_triples(docs))
    q = (
        triples.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True)
        .format("parquet").option("path", out).start()
    )
    q.awaitTermination(600)
    result = (
        spark.read.parquet(out)
        .filter(~F.col("doc_id").contains("sentinel"))
        .cache()
    )
    result.count()  # materialize before the temp files can be removed
    _shutil.rmtree(f"{work}/in", ignore_errors=True)
    return result


def _q_canonical_nquads(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.expand_stage import canonical_nquads_stats

    ensure_workers_can_import(spark)
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    out, _ = split_quarantine(docs_to_canonical_nquads(docs))
    return canonical_nquads_stats(out)


def _q_linked_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    return link_entities(extract_mentions(t))


def _q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-style association (exact lift ratio — log is engine-dependent,
    the ratio is bit-replayable and rank-equivalent) for entity pairs
    co-mentioned in the same conversation (operators/linking.py
    pmi_pairs)."""
    from pyld_spark.operators.linking import pmi_pairs

    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    return pmi_pairs(link_entities(extract_mentions(t)), min_pair_count=1)


def _q_mention_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    return mention_triples(link_entities(extract_mentions(t)))


def _q_entity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    return entity_mention_counts(link_entities(extract_mentions(t)))


def _q_entity_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical entity dimension table — the 'entities' pipeline stage."""
    from pyld_spark.operators.linking import entity_table

    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    return entity_table(link_entities(extract_mentions(t)))


def _q_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the entity co-mention graph (exact integer
    arithmetic — deterministic across partitionings, hash-exact vs SQL)."""
    from pyld_spark.operators.graph_stats import (
        comention_edges,
        pagerank_fixed_point,
    )

    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    linked = link_entities(extract_mentions(t))
    ranks = pagerank_fixed_point(comention_edges(linked), iters=3)
    return ranks.select(F.col("node").alias("entity_iri"), "rank_fp")


def _q_entity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the co-mention graph
    (fixed 3 iterations, min-label tie-break — deterministic, SQL-replayable)."""
    from pyld_spark.operators.communities import label_propagation
    from pyld_spark.operators.graph_stats import comention_edges

    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    linked = link_entities(extract_mentions(t))
    labels = label_propagation(comention_edges(linked), iters=3)
    return labels.select(F.col("node").alias("entity_iri"), "community")


def _q_entity_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LCG random walks (length 4) over the co-mention graph —
    node2vec-style corpus generation as pure dataflow."""
    from pyld_spark.operators.graph_stats import comention_edges
    from pyld_spark.operators.walks import random_walks

    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    linked = link_entities(extract_mentions(t))
    return random_walks(comention_edges(linked), length=4, walks_per_node=1)


def _q_bgp_optional_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with a SPARQL OPTIONAL block: every turn's role, plus the tool
    it invoked where there is one (NULL otherwise)."""
    from pyld_spark.operators.kg_query import bgp_match

    trips = turn_literal_triples(transcripts_from_events(spark, sf_dir))
    return bgp_match(
        trips,
        [("?turn", _VOCAB + "role", "?role")],
        optional=[("?turn", _VOCAB + "tool", "?tool")],
    )


def _mention_triple_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    return mention_triples(link_entities(extract_mentions(t)))


def _q_kg_comention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP over the constructed mention graph: pairs of distinct entities
    mentioned by the same turn, with the first entity's label joined in."""
    from pyld_spark.operators.kg_query import bgp_match

    return bgp_match(
        _mention_triple_table(spark, sf_dir),
        [
            ("?turn", _VOCAB + "mentions", "?e1"),
            ("?turn", _VOCAB + "mentions", "?e2"),
            ("?e1", _VOCAB + "label", "?label1"),
        ],
        filters=("e1 < e2",),
    )


def _q_kg_entity_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop undirected neighborhood of the 'checkout' entity over the
    turn→entity mention edges: the turns that mention it (hop 1) and every
    entity co-mentioned by those turns (hop 2)."""
    from pyld_spark.operators.kg_query import bgp_match, khop_neighborhood

    triples = _mention_triple_table(spark, sf_dir)
    seeds = bgp_match(
        triples, [("?node", _VOCAB + "label", "checkout")]
    ).distinct()
    return khop_neighborhood(triples, seeds, k=2)


def _q_sameas_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs entity resolution end-to-end: handle entities '@userN'
    are asserted sameAs the url entities 'https://ex.org/e/N' (external-id
    alignment), the assertions are unioned into the mention triple table,
    and the graph is rewritten onto canonical ids (components over the
    entity-sized edge set; the corpus-sized quad table sees two broadcast
    left joins + one distinct)."""
    from pyld_spark.operators.entity_resolution import (
        OWL_SAMEAS,
        resolve_sameas,
    )

    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    linked = link_entities(extract_mentions(t))
    ent = linked.select(
        "entity_iri", F.lower("mention").alias("label"), "mention_kind"
    ).distinct()
    handles = ent.where(F.col("mention_kind") == "handle").select(
        F.regexp_extract("label", r"^@user(\d+)$", 1).alias("k"),
        F.col("entity_iri").alias("src"),
    ).where(F.col("k") != "")
    urls = ent.where(F.col("mention_kind") == "url").select(
        F.regexp_extract("label", r"/e/(\d+)$", 1).alias("k"),
        F.col("entity_iri").alias("dst"),
    ).where(F.col("k") != "")
    sameas = handles.join(urls, "k").select(
        "src",
        F.lit(OWL_SAMEAS).alias("pred"),
        F.lit("IRI").alias("obj_kind"),
        F.col("dst").alias("obj_value"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_language"),
    ).withColumnRenamed("src", "subj")
    triples = mention_triples(linked).unionByName(sameas)
    return resolve_sameas(triples)


# Small constant ontology for the RDFS-entailment gate query: subclass
# edges over the three mention kinds (local names; both the Spark query and
# the DuckDB oracle prefix them with _VOCAB).
_ONTOLOGY = [
    ("Handle", "Agent"),
    ("Tool", "Agent"),
    ("Url", "Resource"),
    ("Agent", "Entity"),
    ("Resource", "Entity"),
]


def _q_entailed_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS subclass entailment over the linked-entity type facts: each
    entity is asserted its per-kind class (handle→Handle, url→Url,
    tool→Tool), then the constant ontology's subclass closure is broadcast-
    joined to add every superclass, flagging asserted vs inferred rows."""
    from pyld_spark.operators.inference import entailed_types

    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    linked = link_entities(extract_mentions(t))
    facts = linked.select(
        F.col("entity_iri").alias("instance"),
        F.concat(F.lit(_VOCAB), F.initcap("mention_kind")).alias("cls"),
    ).distinct()
    onto = spark.createDataFrame(_ONTOLOGY, "sub string, sup string").select(
        F.concat(F.lit(_VOCAB), "sub").alias("sub"),
        F.concat(F.lit(_VOCAB), "sup").alias("sup"),
    )
    return entailed_types(facts, onto)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al exact duplicate substring spans (k=10 words, corpus-wide
    count >= 2), merged per document."""
    from pyld_spark.operators.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), k=10)


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition signals + pass/fail flag."""
    from pyld_spark.operators.repetition import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=5, threshold=0.2)


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.dedup import minhash_dedup_pairs_md5

    return minhash_dedup_pairs_md5(_docs(spark, sf_dir), threshold=0.2)


def _q_doc_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment per document."""
    from pyld_spark.operators.sampling import hash_split

    return hash_split(
        _docs(spark, sf_dir),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    ).select("doc_id", "split")


def _q_lang_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic downsampling of the document corpus."""
    from pyld_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        "doc_id",
        "lang",
        {"en": 1.0, "es": 0.5, "zh": 0.1},
        default_fraction=0.25,
    ).select("doc_id", "lang")


def _q_streamed_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """event_rollup's finest grain through Structured Streaming REPLAY
    (streaming/stream.py stream_event_rollup): watermarked tumbling-window
    aggregate in append mode over a file-source replay of the events
    table. Two far-future sentinel files (filtered from the output) land
    in tail microbatches so the final watermark passes every real bucket —
    the gate then demands EVERY minute bucket, hash-exact vs the same flat
    DuckDB aggregation that checks the batch rollup."""
    import datetime as _dt
    import glob as _glob
    import os as _os
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from pyld_spark.streaming.stream import stream_event_rollup

    work = _tempfile.mkdtemp(prefix="gate_rollup_stream_")
    inp, ckpt = f"{work}/in", f"{work}/ckpt"
    spark.read.parquet(f"{sf_dir}/events.parquet").coalesce(4).write.parquet(inp)
    sentinel_schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    for year in (2030, 2031):
        spark.createDataFrame(
            [(0, _dt.datetime(year, 1, 1, tzinfo=_dt.timezone.utc), 0,
              "__sentinel__", 0.0, None)],
            sentinel_schema,
        ).coalesce(1).write.mode("append").parquet(inp)
        # FileStreamSource orders the replay by mtime: sentinels must be
        # the two NEWEST files so they land in tail microbatches and
        # commit the final watermark before firing
        newest = max(_glob.glob(f"{inp}/*.parquet"), key=_os.path.getmtime)
        _os.utime(newest, (_os.path.getmtime(newest) + (year - 2029) * 10,) * 2)
    name = f"gate_rollup_{abs(hash(work)) % 100000}"
    q = stream_event_rollup(
        spark, inp, ckpt, grain="minute", watermark="1 hour",
        query_name=name,
    )
    q.awaitTermination(600)
    return (
        spark.table(name)
        .where(F.col("event_type") != "__sentinel__")
        .select("bucket", "event_type", "n_events", "sum_value",
                "min_value", "max_value")
    )


def _q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain cap: at most 5 documents per (lang, source) bucket, chosen
    by key hash (operators/sampling.py cap_per_group) — bounds any one
    host's share of the corpus; stable across runs and partitionings."""
    from pyld_spark.operators.sampling import cap_per_group

    return cap_per_group(
        _docs(spark, sf_dir), "doc_id", ("lang", "source"), k=5
    ).select("lang", "source", "doc_id")


def _q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted document sample per language via priority sampling
    (operators/sampling.py priority_sample) with Horvitz-Thompson
    weight_est — sum(weight_est) over any slice of the sample estimates
    the slice's true char total. Bit-replayable: u is an exactly-
    representable power-of-two scale of a 48-bit md5 integer and w/u is
    one IEEE division, so the DuckDB oracle reproduces every double."""
    from pyld_spark.operators.sampling import priority_sample

    return priority_sample(
        _docs(spark, sf_dir), "doc_id", "n_chars", k=20, by=("lang",)
    ).select("lang", "doc_id", "priority", "weight_est")


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: flag train docs sharing any word 3-gram
    with the held-out test split (GPT-3/Gopher-style check)."""
    from pyld_spark.operators.sampling import hash_split
    from pyld_spark.operators.textprep import ngram_decontaminate

    docs = hash_split(
        _docs(spark, sf_dir),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return ngram_decontaminate(
        docs.where(F.col("split") == "train"),
        docs.where(F.col("split") == "test"),
        n=3,
    )


def _q_curation_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation keep-list: language → quality → exact dedup →
    holdout → decontamination, first failing stage recorded as the drop
    reason (operators/curation.py). One ledger row per document."""
    from pyld_spark.operators.curation import curate_documents

    return curate_documents(
        _docs(spark, sf_dir), lang="en", min_quality=0.5, decontaminate_n=3
    )


def _q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time attribution: each purchase event gets the most recent
    error event by the same user at-or-before it, nulled if staler than
    one hour — exercises the union+window as-of join (backward, tie on
    event_id, tolerance) end to end. The oracle is an implementation-
    independent replay (candidate theta-join + row_number pick)."""
    from pyld_spark.operators.temporal import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value")
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value")
    return asof_join(
        purchases, errors, by=("user_id",), tie_col="event_id",
        suffix="_err", tolerance_seconds=3600.0,
    )


def _q_purchases_in_error_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchases that fall inside an error-burst session
    (gap-30min sessionization of error events, then a bin-bucketed
    point-in-interval join — no theta join in the plan). The oracle
    replays sessionization + a plain BETWEEN join."""
    from pyld_spark.operators.intervals import interval_join
    from pyld_spark.operators.sessions import session_stats

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value")
    # pad each error session by ±1 h ("blast radius") so the interval side
    # has real extent — raw error sessions are mostly single events
    error_sessions = session_stats(
        events.filter(F.col("event_type") == "error"), gap_seconds=1800
    ).select(
        "user_id", "session_seq",
        (F.col("started") - F.expr("INTERVAL 3600 SECONDS")).alias("started"),
        (F.col("ended") + F.expr("INTERVAL 3600 SECONDS")).alias("ended"),
    )
    return interval_join(
        purchases, error_sessions, bin_seconds=1800,
        interval_cols=("session_seq", "started", "ended"),
    )


def _q_entity_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle counts over the co-mention graph (canonical
    a<b<c two-join enumeration — each triangle produced once)."""
    from pyld_spark.operators.graph_stats import comention_edges, triangle_counts

    ensure_workers_can_import(spark)
    t = transcripts_from_events(spark, sf_dir)
    linked = link_entities(extract_mentions(t))
    return triangle_counts(comention_edges(linked)).select(
        F.col("node").alias("entity_iri"), "n_triangles")


def _q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: minute/hour/day rollups per
    event_type, each coarser grain re-aggregated from the finer one (one
    raw scan). The oracle aggregates every grain flat from raw events."""
    from pyld_spark.operators.rollup import time_rollup

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return time_rollup(events, grains=("minute", "hour", "day"))


def _q_distinct_users_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (k=64) of users per event_type — exact
    when a group has <64 distinct users (sf0.001: 15), estimated from the
    64th-minimum hash when it has more (sf0.01: 150), so both sketch
    regimes are gate-certified."""
    from pyld_spark.operators.sketches import kmv_distinct

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_distinct(events, "user_id", by=("event_type",), k=64)


def _q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length quantiles via the two-pass binning
    selection (operators/quantiles.py) — no sort, no sketch; the oracle is
    the definition itself (value at rank ceil(q*n)) as one DuckDB window."""
    from pyld_spark.operators.quantiles import exact_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_quantiles(
        docs, "n_chars", qs=(0.25, 0.5, 0.75, 0.9, 0.99), by=("lang",), n_bins=64
    )


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) of the raw event stream, one row
    per session with exact integer-microsecond boundary arithmetic."""
    from pyld_spark.operators.sessions import session_stats

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(events, gap_seconds=1800)


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget sequence packing per (lang, shard) group."""
    from pyld_spark.operators.textprep import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=512, by=("lang",))


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.components import dedup_clusters
    from pyld_spark.operators.dedup import minhash_dedup_pairs_md5

    docs = _docs(spark, sf_dir)
    pairs = minhash_dedup_pairs_md5(docs, threshold=0.2)
    return dedup_clusters(docs, pairs)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.dedup import (
        simhash_near_pairs_md5,
        simhash_signatures_md5,
    )

    return simhash_near_pairs_md5(
        simhash_signatures_md5(_docs(spark, sf_dir)), max_hamming=16
    )


def _q_flatten_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.compact_stage import flatten_corpus_stats

    ensure_workers_can_import(spark)
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    return split_quarantine(flatten_corpus_stats(docs))[0]


def _q_html_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end HTML ingestion: deterministic pages (ld+json script +
    per-page <base href> + a decoy non-JSON-LD script) → extraction →
    base-aware expansion → triples. Certifies the full load_html path."""
    from pyspark.sql import functions as F

    from pyld_spark.sources.html_ingest import html_to_documents

    ensure_workers_can_import(spark)
    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><head><base href="https://pages.example/root'),
        (F.col("doc_id") % 3).cast("string"),
        F.lit('/"><script type="application/ld+json">{"@id":"doc/'),
        F.col("doc_id").cast("string"),
        F.lit('","@type":"https://pages.example/v#Page",'
              '"https://pages.example/v#len":'),
        F.col("n_chars").cast("string"),
        F.lit('}</script></head><body>'
              '<script type="text/javascript">var x = 1;</script>'
              "</body></html>"),
    )
    pages = docs.select(
        F.col("doc_id").cast("string").alias("page_id"), html.alias("html")
    )
    extracted = html_to_documents(pages, extract_all_scripts=True)
    good = extracted.filter(F.col("error_code").isNull())
    triples, _ = split_quarantine(
        docs_to_triples(good, id_col="doc_id", doc_col="doc", base_col="base")
    )
    return triples


def _q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.dedup import embedding_cosine_pairs

    # the synthetic embeddings have no true near-dups (max pairwise cosine
    # ≈ 0.48), so the gate exercises the operator at a looser threshold
    return embedding_cosine_pairs(
        _embs(spark, sf_dir), dim=64, threshold_q6=250000, n_planes=4
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.dedup import semantic_dedup

    # loose threshold for the same reason as embedding_cosine_pairs: the
    # synthetic embeddings top out near cosine 0.48, and the gate should
    # exercise both kept=true and kept=false outcomes
    return semantic_dedup(_embs(spark, sf_dir), nlist=16, threshold_q6=250000)


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.textstats import text_stats

    return text_stats(_docs(spark, sf_dir))


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.textstats import doc_fingerprint

    return doc_fingerprint(_docs(spark, sf_dir), k=8)


#: BM25 gate query: one rare term (`dup` appears in ~5% of synthetic docs)
#: plus two common ones, so the idf spread is actually exercised
_BM25_GATE_TERMS = ["dup", "spark", "window"]


def _q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.keywords import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=5)


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.keywords import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), _BM25_GATE_TERMS)


def _pii_injected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus is PII-free word soup, so the gate query
    deterministically appends PII-shaped spans derived from ``doc_id``
    (email + phone + SSN + IPv4 always; a card number on even ids) before
    scrubbing — the oracle replays the identical injection, so the
    scrubber is exercised on text that actually contains matches."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@ex"), (F.col("doc_id") % 10).cast("string"), F.lit(".com"),
            F.lit(" tel 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ssn 123-45-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" card 4111-1111-1111-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.textprep import pii_scrub

    return pii_scrub(_pii_injected_docs(spark, sf_dir))


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.textprep import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_size=64, stride=48)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from pyld_spark.operators.similarity import quantized_dot_topk

    embs = _embs(spark, sf_dir)
    queries_df = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return quantized_dot_topk(embs, queries_df, k=10)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (nlist=16, nprobe=4) with a brute-force agreement flag:
    ``in_brute`` marks IVF hits that the exact quantized top-k also
    contains, so per-query recall = sum(in_brute)/k is oracle-replayable."""
    from pyld_spark.operators.similarity import (
        ivf_topk_quantized,
        quantized_dot_topk,
    )

    embs = _embs(spark, sf_dir)
    queries_df = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk_quantized(embs, queries_df, k=10, nlist=16, nprobe=4)
    brute = quantized_dot_topk(embs, queries_df, k=10).select(
        "query_id", F.col("neighbor_id").alias("_bf_neighbor")
    )
    return (
        ivf.join(
            brute,
            (ivf["query_id"] == brute["query_id"])
            & (ivf["neighbor_id"] == brute["_bf_neighbor"]),
            "left",
        )
        .select(
            ivf["query_id"], ivf["neighbor_id"], ivf["rank"], ivf["dot"],
            F.col("_bf_neighbor").isNotNull().alias("in_brute"),
        )
    )


def _q_ann_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from pyld_spark.operators.similarity import fixedpoint_cosine_topk

    embs = _embs(spark, sf_dir)
    queries_df = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return fixedpoint_cosine_topk(embs, queries_df, k=10)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path) with a brute-force agreement flag: for
    each LSH hit, ``in_brute`` says whether the exact top-k also contains it
    — per-query recall is sum(in_brute)/k, fully oracle-replayable."""
    from pyspark.sql import functions as F

    from pyld_spark.operators.similarity import (
        fixedpoint_cosine_topk,
        lsh_bucketed_topk_fixedpoint,
    )

    embs = _embs(spark, sf_dir)
    queries_df = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = lsh_bucketed_topk_fixedpoint(embs, queries_df, dim=64, k=10, n_planes=6)
    brute = fixedpoint_cosine_topk(embs, queries_df, k=10).select(
        "query_id", F.col("neighbor_id").alias("_bf_neighbor")
    )
    return (
        lsh.join(
            brute,
            (lsh["query_id"] == brute["query_id"])
            & (lsh["neighbor_id"] == brute["_bf_neighbor"]),
            "left",
        )
        .select(
            lsh["query_id"], lsh["neighbor_id"], lsh["rank"], lsh["cos_q6"],
            F.col("_bf_neighbor").isNotNull().alias("in_brute"),
        )
    )


def _q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from pyld_spark.operators.multimodal import attach_fake_payload

    media = attach_fake_payload(_docs(spark, sf_dir))
    return media.select(
        "doc_id", "media_type",
        F.length("payload").cast("bigint").alias("n_bytes"),
        "width", "height",
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_workers_can_import(spark)
    from pyld_spark.operators.multimodal import (
        attach_fake_payload,
        extract_binary_features,
    )

    return extract_binary_features(attach_fake_payload(_docs(spark, sf_dir)))


def _q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out (1 row in → N frame rows out) through
    the deterministic fake decode — the multimodal batch shape, gate-checked."""
    ensure_workers_can_import(spark)
    from pyld_spark.operators.multimodal import attach_fake_payload, sample_frames_stub

    return sample_frames_stub(attach_fake_payload(_docs(spark, sf_dir)), fake=True)


def _q_media_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode kernel through the deterministic fake path (the real
    PCM-16 WAV parser behind the same mapInPandas signature is certified by
    tests/test_codecs.py — fake payloads here are text bytes, not RIFF)."""
    ensure_workers_can_import(spark)
    from pyld_spark.operators.multimodal import attach_fake_payload, decode_audio_stub

    return decode_audio_stub(attach_fake_payload(_docs(spark, sf_dir)), fake=True)


def _q_compact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.compact_stage import compact_corpus_stats
    from pyld_spark.transcripts import VOCAB as _V, XSD as _X

    ensure_workers_can_import(spark)
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    target_ctx = {
        "@vocab": _V,
        "turns": {"@id": _V + "turns", "@container": "@list"},
        "idx": {"@id": _V + "turnIndex", "@type": _X + "integer"},
        "who": {"@id": _V + "role"},
    }
    return split_quarantine(
        compact_corpus_stats(docs, target_ctx, "turns", ["idx", "who"])
    )[0]


def _q_list_chain_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.fromrdf_stage import list_chain_lengths

    ensure_workers_can_import(spark)
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    triples, _ = split_quarantine(docs_to_triples(docs))
    return list_chain_lengths(triples)


def _q_fromrdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """triples → fromRDF per doc → count of reconstructed @list entries:
    the full inverse direction exercised at corpus level."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pyld_spark.operators.fromrdf_stage import triples_to_documents

    ensure_workers_can_import(spark)
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    triples, _ = split_quarantine(docs_to_triples(docs))
    recon = triples_to_documents(triples)

    schema = StructType([
        StructField("doc_id", StringType(), False),
        StructField("n_list_items", LongType(), False),
    ])

    def count_lists(batches):
        import json as _json

        import pandas as pd

        def count(doc_json):
            if doc_json is None:
                return 0
            total = 0
            for node in _json.loads(doc_json):
                for v in node.values():
                    if isinstance(v, list):
                        for item in v:
                            if isinstance(item, dict) and "@list" in item:
                                total += len(item["@list"])
            return total

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_list_items": pdf["expanded"].map(count).astype("int64"),
            })

    return recon.mapInPandas(count_lists, schema)


def _q_framed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyld_spark.operators.frame_stage import frame_corpus_stats
    from pyld_spark.transcripts import VOCAB as _V

    ensure_workers_can_import(spark)
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    triples, _ = split_quarantine(docs_to_triples(docs))
    frame_doc = {
        "@context": {"@vocab": _V},
        "@type": "Conversation",
    }
    return split_quarantine(frame_corpus_stats(docs, triples, frame_doc))[0]


def _q_framed_tool_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-constrained frame under requireAll=True: Turn nodes that
    carry a tool property. Exercises the relational pre-filter's
    type-semi-join ∩ property-semi-join path (frame_subject_filter,
    requireAll branch) — gate-invisible before round 3 — plus per-node
    embedding order and literal content."""
    from pyld_spark.operators.frame_stage import frame_match_stats
    from pyld_spark.transcripts import VOCAB as _V

    ensure_workers_can_import(spark)
    docs = assemble_documents(transcripts_from_events(spark, sf_dir))
    triples, _ = split_quarantine(docs_to_triples(docs))
    frame_doc = {"@context": {"@vocab": _V}, "@type": "Turn", "tool": {}}
    return split_quarantine(frame_match_stats(
        docs, triples, frame_doc, value_prop="tool",
        options={"requireAll": True},
    ))[0]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Driver checks the first 50 entries. Round-5 rotation: the 18
        # entries that lacked a round-4 driver CORRECTNESS row now sit
        # inside the checked window; 18 round-4-certified data-ops
        # queries moved to the tail (their r04 rows stay authoritative).
        "list_chain_lengths": _q_list_chain_lengths,
        "fromrdf_roundtrip": _q_fromrdf_roundtrip,
        "framed_conversations": _q_framed,
        "framed_tool_turns": _q_framed_tool_turns,
        "transcripts_from_events": _q_transcripts,
        "assembly_stats": _q_assembly_stats,
        "turn_literal_triples": _q_turn_triples,
        "pipeline_triples": _q_pipeline_triples,
        "streamed_pipeline_triples": _q_streamed_pipeline_triples,
        "triple_diff_last_turn": _q_triple_diff,
        "void_predicate_summary": _q_void_summary,
        "canonical_nquads": _q_canonical_nquads,
        "linked_mentions": _q_linked_mentions,
        "mention_triples": _q_mention_triples,
        "entity_mention_counts": _q_entity_counts,
        "entity_table": _q_entity_table,
        "entity_pagerank": _q_entity_pagerank,
        "entity_communities": _q_entity_communities,
        "entity_walks": _q_entity_walks,
        "kg_comention_pairs": _q_kg_comention,
        "pmi_entity_pairs": _q_pmi_pairs,
        "bgp_optional_tool": _q_bgp_optional_tool,
        "kg_entity_khop": _q_kg_entity_khop,
        "entailed_entity_types": _q_entailed_types,
        "sameas_canonical_triples": _q_sameas_triples,
        "curation_ledger": _q_curation_ledger,
        "entity_triangles": _q_entity_triangles,
        "streamed_event_rollup": _q_streamed_event_rollup,
        "simhash_near_pairs": _q_simhash_pairs,
        "embedding_cosine_pairs": _q_embedding_dedup,
        "semantic_dedup_keep": _q_semantic_dedup,
        "html_page_triples": _q_html_triples,
        "flatten_corpus": _q_flatten_corpus,
        "text_stats": _q_text_stats,
        "quality_score": _q_quality,
        "language_id": _q_langid,
        "doc_fingerprint": _q_fingerprint,
        "tfidf_top_terms": _q_tfidf_terms,
        "bm25_scores": _q_bm25,
        "pii_scrub": _q_pii_scrub,
        "doc_chunks": _q_doc_chunks,
        "ann_topk_quantized": _q_ann_topk,
        "ann_topk_cosine": _q_ann_brute_cosine,
        "ann_topk_lsh": _q_ann_lsh,
        "ann_topk_ivf": _q_ann_ivf,
        "media_meta": _q_media_meta,
        "media_features": _q_media_features,
        "media_frames": _q_media_frames,
        "media_audio": _q_media_audio,
        "compact_corpus": _q_compact_corpus,
        # ---- beyond the driver 50-query window (r04-certified) ----
        "exact_dedup": _q_exact_dedup,
        "repetition_stats": _q_repetition,
        "duplicate_spans": _q_duplicate_spans,
        "ngram_jaccard_pairs": _q_jaccard_pairs,
        "minhash_dedup_pairs": _q_minhash_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "doc_splits": _q_doc_splits,
        "train_decontaminate": _q_decontaminate,
        "pack_sequences": _q_pack_sequences,
        "event_sessions": _q_event_sessions,
        "asof_attribution": _q_asof_attribution,
        "purchases_in_error_sessions": _q_purchases_in_error_sessions,
        "event_rollup": _q_event_rollup,
        "distinct_users_kmv": _q_distinct_users_kmv,
        "doc_length_quantiles": _q_doc_length_quantiles,
        "lang_stratified_sample": _q_lang_stratified,
        "priority_sample_docs": _q_priority_sample,
        "source_capped_docs": _q_source_cap,
    }


def _repetition_oracle() -> str:
    """DuckDB replay of operators/repetition.py: lines/paragraphs/word
    n-grams exploded with list lambdas, duplicate-occurrence fractions and
    per-n coverage aggregates, thresholds generated from the module's own
    constants so the oracle can't drift from the operator."""
    from pyld_spark.operators.repetition import DUP_NS, THRESHOLDS, TOP_NS

    ns_values = ", ".join(f"({n})" for n in (*TOP_NS, *DUP_NS))
    frac_exprs = []
    for n in TOP_NS:
        frac_exprs.append(
            f"round(max(CASE WHEN n = {n} THEN top_cover END)"
            f" / max(n_chars), 6) AS top_{n}gram_char_frac"
        )
    for n in DUP_NS:
        frac_exprs.append(
            f"round(max(CASE WHEN n = {n} THEN dup_cover END)"
            f" / max(n_chars), 6) AS dup_{n}gram_char_frac"
        )
    metric_cols = [
        "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac",
        *[f"top_{n}gram_char_frac" for n in TOP_NS],
        *[f"dup_{n}gram_char_frac" for n in DUP_NS],
    ]
    coalesced = ",\n                   ".join(
        f"coalesce({c}, 0.0) AS {c}" for c in metric_cols
    )
    flag = " OR ".join(f"{c} > {THRESHOLDS[c]}" for c in metric_cols)

    def unit_stats(src: str, prefix: str) -> str:
        return f"""{prefix}_units AS (
              SELECT doc_id, unnest({src}) AS unit FROM base),
            {prefix}_counts AS (
              SELECT doc_id, unit, count(*) AS cnt
              FROM {prefix}_units GROUP BY doc_id, unit),
            {prefix}_stats AS (
              SELECT doc_id,
                     round(sum(cnt - 1) / sum(cnt), 6) AS dup_{prefix}_frac,
                     round(sum(length(unit) * (cnt - 1))
                           / sum(length(unit) * cnt), 6)
                       AS dup_{prefix}_char_frac
              FROM {prefix}_counts GROUP BY doc_id)"""

    return f"""
        WITH base AS (
          SELECT doc_id, length(text) AS n_chars,
                 list_filter(string_split_regex(text, '\n'),
                             x -> length(x) > 0) AS lines,
                 list_filter(string_split_regex(text, '\n{{2,}}'),
                             x -> length(x) > 0) AS paras,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS words
          FROM documents),
        {unit_stats("lines", "line")},
        {unit_stats("paras", "para")},
        grams AS (
          SELECT doc_id, n_chars, ns.n AS n,
                 unnest(list_transform(
                   range(1, greatest(len(words) - ns.n + 2, 1)),
                   i -> array_to_string(words[i:i + ns.n - 1], ' '))) AS gram
          FROM base CROSS JOIN (VALUES {ns_values}) ns(n)),
        gram_counts AS (
          SELECT doc_id, n_chars, n, gram, count(*) AS cnt
          FROM grams GROUP BY doc_id, n_chars, n, gram),
        per_n AS (
          SELECT doc_id, n_chars, n,
                 max(cnt * length(gram)) AS top_cover,
                 sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END)
                   AS dup_cover
          FROM gram_counts GROUP BY doc_id, n_chars, n),
        gram_stats AS (
          SELECT doc_id, {", ".join(frac_exprs)}
          FROM per_n GROUP BY doc_id),
        joined AS (
          SELECT b.doc_id,
                   {coalesced}
          FROM base b
          LEFT JOIN line_stats USING (doc_id)
          LEFT JOIN para_stats USING (doc_id)
          LEFT JOIN gram_stats USING (doc_id))
        SELECT *, ({flag}) AS repetition_flag FROM joined"""


def oracle_sql() -> dict[str, str]:
    turn_subj = f"concat('{_CONV}', conv_id, '/turn/', CAST(turn_idx AS STRING))"
    # Full-pipeline oracle: reconstructs the complete toRDF output (including
    # namespaced rdf:first/rest cons-cell bnodes) in portable SQL.
    # Parameterized by (source transcripts CTE, CTE-name suffix) so the
    # snapshot-diff / VoID oracles can instantiate it per snapshot.
    def _pipe_ctes(src: str, sfx: str) -> str:
        return f"""stats{sfx} AS (
          SELECT conv_id, count(*) AS n_turns FROM {src} GROUP BY conv_id
        ),
        base{sfx} AS (
          SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool,
                 concat('{_CONV}', t.conv_id) AS conv_iri,
                 {turn_subj.replace('conv_id', 't.conv_id').replace('turn_idx', 't.turn_idx')} AS turn_iri,
                 concat('_:d', substr(sha256(t.conv_id), 1, 16), '_b',
                        CAST(t.turn_idx AS STRING)) AS cell,
                 concat('_:d', substr(sha256(t.conv_id), 1, 16), '_b',
                        CAST(t.turn_idx + 1 AS STRING)) AS next_cell,
                 strftime(t.ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS ts_str,
                 s.n_turns
          FROM {src} t JOIN stats{sfx} s ON t.conv_id = s.conv_id
        ),
        convs{sfx} AS (SELECT DISTINCT conv_id, conv_iri,
                         concat('_:d', substr(sha256(conv_id), 1, 16), '_b0') AS head
                  FROM base{sfx}),
        triples{sfx} AS (
        SELECT conv_id AS doc_id, conv_iri AS subj, '{_RDF}type' AS pred,
               'IRI' AS obj_kind, '{_VOCAB}Conversation' AS obj_value,
               CAST(NULL AS STRING) AS obj_datatype, CAST(NULL AS STRING) AS obj_language,
               '@default' AS graph
        FROM convs{sfx}
        UNION ALL
        SELECT conv_id, conv_iri, '{_VOCAB}turns', 'blank node', head,
               CAST(NULL AS STRING), CAST(NULL AS STRING), '@default' FROM convs{sfx}
        UNION ALL
        SELECT conv_id, cell, '{_RDF}first', 'IRI', turn_iri,
               CAST(NULL AS STRING), CAST(NULL AS STRING), '@default' FROM base{sfx}
        UNION ALL
        SELECT conv_id, cell, '{_RDF}rest',
               CASE WHEN turn_idx = n_turns - 1 THEN 'IRI' ELSE 'blank node' END,
               CASE WHEN turn_idx = n_turns - 1 THEN '{_RDF}nil' ELSE next_cell END,
               CAST(NULL AS STRING), CAST(NULL AS STRING), '@default' FROM base{sfx}
        UNION ALL
        SELECT conv_id, turn_iri, '{_RDF}type', 'IRI', '{_VOCAB}Turn',
               CAST(NULL AS STRING), CAST(NULL AS STRING), '@default' FROM base{sfx}
        UNION ALL
        SELECT conv_id, turn_iri, '{_VOCAB}turnIndex', 'literal',
               CAST(turn_idx AS STRING), '{_XSD}integer', CAST(NULL AS STRING),
               '@default' FROM base{sfx}
        UNION ALL
        SELECT conv_id, turn_iri, '{_VOCAB}role', 'literal', role,
               '{_XSD}string', CAST(NULL AS STRING), '@default' FROM base{sfx}
        UNION ALL
        SELECT conv_id, turn_iri, '{_VOCAB}text', 'literal', text,
               '{_XSD}string', CAST(NULL AS STRING), '@default' FROM base{sfx}
        UNION ALL
        SELECT conv_id, turn_iri, '{_VOCAB}tool', 'literal', tool,
               '{_XSD}string', CAST(NULL AS STRING), '@default' FROM base{sfx}
        WHERE tool IS NOT NULL
        UNION ALL
        SELECT conv_id, turn_iri, '{_VOCAB}ts', 'literal', ts_str,
               '{_XSD}dateTime', CAST(NULL AS STRING), '@default' FROM base{sfx})"""

    pipeline_oracle = f"""{_T_CTE},
        {_pipe_ctes('transcripts', '')}
        SELECT * FROM triples"""
    # snapshot diff: old = every conversation minus its last turn (so the
    # rdf:rest rewiring, the vanished tail cell, and one-turn conversations
    # disappearing entirely all show up); new = the full corpus.
    diff_oracle = f"""{_T_CTE},
        nmax AS (SELECT conv_id, max(turn_idx) AS mx
                 FROM transcripts GROUP BY conv_id),
        transcripts_old AS (
          SELECT t.* FROM transcripts t JOIN nmax n ON t.conv_id = n.conv_id
          WHERE t.turn_idx < n.mx),
        {_pipe_ctes('transcripts_old', '_o')},
        {_pipe_ctes('transcripts', '_n')},
        tagged AS (
          SELECT *, 0 AS _side FROM triples_o
          UNION ALL
          SELECT *, 1 AS _side FROM triples_n),
        flagged AS (
          SELECT doc_id, subj, pred, obj_kind, obj_value, obj_datatype,
                 obj_language, graph,
                 max(CASE WHEN _side = 0 THEN 1 ELSE 0 END) AS in_old,
                 max(CASE WHEN _side = 1 THEN 1 ELSE 0 END) AS in_new
          FROM tagged
          GROUP BY doc_id, subj, pred, obj_kind, obj_value, obj_datatype,
                   obj_language, graph)
        SELECT doc_id, subj, pred, obj_kind, obj_value, obj_datatype,
               obj_language, graph,
               CASE WHEN in_new = 1 THEN 'added' ELSE 'removed' END AS change
        FROM flagged WHERE in_old <> in_new"""
    void_oracle = f"""{_T_CTE},
        {_pipe_ctes('transcripts', '')}
        SELECT pred,
               count(*) AS n_triples,
               count(DISTINCT subj) AS n_subjects,
               count(DISTINCT obj_value) AS n_objects,
               count(CASE WHEN obj_kind = 'IRI' THEN 1 END) AS n_iri_objs,
               count(CASE WHEN obj_kind = 'literal' THEN 1 END) AS n_literal_objs,
               count(CASE WHEN obj_kind = 'blank node' THEN 1 END) AS n_bnode_objs
        FROM triples GROUP BY pred"""
    mentions_cte = f"""m AS (
          SELECT conv_id, turn_idx, 'handle' AS mention_kind,
                 unnest(regexp_extract_all(text, '@[A-Za-z0-9_]+')) AS mention
          FROM transcripts
          UNION ALL
          SELECT conv_id, turn_idx, 'url',
                 unnest(regexp_extract_all(text, 'https?://[^\\s]+'))
          FROM transcripts
          UNION ALL
          SELECT conv_id, turn_idx, 'tool', tool FROM transcripts
          WHERE tool IS NOT NULL
        ),
        linked AS (
          SELECT conv_id, turn_idx, mention_kind, mention,
                 concat('{_VOCAB}entity/', md5(lower(mention))) AS entity_iri,
                 round(1.0 - 1.0 / (2.0 + length(lower(mention))), 4) AS score
          FROM m
        )"""
    onto_values = ", ".join(f"('{s}', '{p}')" for s, p in _ONTOLOGY)
    shingles5 = (
        "list_distinct(list_transform(range(1, greatest(length(text)-4,1)+1),"
        " i -> text[i:i+4]))"
    )
    # md5-MinHash signature (mirrors dedup.minhash_signatures_md5 exactly:
    # entry h = lexicographic min over shingles of md5('h:' || shingle))
    minhash_sig = (
        f"list_transform(range(0, 32), h -> list_min(list_transform({shingles5},"
        " s -> md5(concat(h, ':', s)))))"
    )
    from pyld_spark.operators.dedup import _hamming_block_offsets

    simhash_blocks = ", ".join(
        f"({i}, {o + 1}, {ln})"
        for i, (o, ln) in enumerate(_hamming_block_offsets(64, 17))
    )

    def esc_nq(col: str) -> str:
        # N-Quads literal escaping, same order as jsonld.nquads.escape:
        # backslash first, then tab/newline/cr/quote
        return (
            "replace(replace(replace(replace(replace(" + col +
            ", '\\', '\\\\'), chr(9), '\\t'), chr(10), '\\n'),"
            " chr(13), '\\r'), '\"', '\\\"')"
        )

    quant = (
        "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0)"
        " AS BIGINT))"
    )
    fixed_cos = (
        "CAST(list_sum(list_transform(range(1, 65), i -> cq[i] * qq[i])) AS DOUBLE)"
        " / sqrt(CAST(list_sum(list_transform(cq, x -> x * x)) AS DOUBLE)"
        " * CAST(list_sum(list_transform(qq, x -> x * x)) AS DOUBLE))"
    )
    shingles8 = (
        "list_distinct(list_transform(range(1, greatest(length(text)-7,1)+1),"
        " i -> text[i:i+7]))"
    )
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '')"

    def lang_hits(lang: str) -> str:
        from pyld_spark.operators.textstats import LANG_MARKERS

        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        return (
            f"CAST(len(list_filter({toks}, x -> list_contains([{markers}], x)))"
            f" AS BIGINT)"
        )

    extras = {
        # Gopher repetition signals: same unit/gram explosion + two-level
        # aggregation replayed with DuckDB list lambdas (see
        # operators/repetition.py for the documented fraction definitions)
        "repetition_stats": _repetition_oracle(),
        # duplicate-span replay: same shingle explosion, HAVING-count dup
        # filter, and gaps-and-islands window merge (k=10)
        "duplicate_spans": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS words
              FROM documents),
            sh AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(words) - 10 + 2, 1)),
                       i -> struct_pack(pos := i,
                              h := md5(array_to_string(words[i:i + 9], ' '))
                            ))) AS s
              FROM base),
            sh2 AS (SELECT doc_id, CAST(s.pos AS INT) AS pos, s.h AS h FROM sh),
            dup AS (SELECT h FROM sh2 GROUP BY h HAVING count(*) >= 2),
            hits AS (SELECT doc_id, pos FROM sh2 JOIN dup USING (h)),
            isl AS (
              SELECT doc_id, pos,
                     CASE WHEN max(pos) OVER w IS NULL
                            OR pos > max(pos) OVER w + 10 THEN 1
                          ELSE 0 END AS new_span
              FROM hits
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
            spans AS (
              SELECT doc_id, pos,
                     sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS span_no
              FROM isl)
            SELECT doc_id, min(pos) AS start_word,
                   max(pos) + 9 AS end_word,
                   max(pos) - min(pos) + 10 AS n_words,
                   CAST(count(*) AS BIGINT) AS n_grams
            FROM spans GROUP BY doc_id, span_no""",
        "exact_dedup": """
            WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
            s AS (SELECT content_hash, min(doc_id) AS survivor_id FROM h GROUP BY 1)
            SELECT h.doc_id, h.content_hash, s.survivor_id,
                   h.doc_id != s.survivor_id AS is_duplicate
            FROM h JOIN s USING (content_hash)""",
        "ngram_jaccard_pairs": f"""
            WITH sh AS (SELECT doc_id AS doc, unnest({shingles5}) AS sh FROM documents),
            sizes AS (SELECT doc, CAST(count(*) AS BIGINT) AS size FROM sh GROUP BY doc),
            df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
            shf AS (SELECT s.doc, s.sh FROM sh s JOIN df USING (sh) WHERE df <= 1000),
            inter AS (
              SELECT a.doc AS doc_a, b.doc AS doc_b, CAST(count(*) AS BIGINT) AS inter
              FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc < b.doc GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, inter, sa.size AS size_a, sb.size AS size_b,
                   round(inter / (sa.size + sb.size - inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc = doc_a JOIN sizes sb ON sb.doc = doc_b
            WHERE round(inter / (sa.size + sb.size - inter), 4) >= 0.2""",
        "text_stats": f"""
            SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars,
              CAST(len({toks}) AS BIGINT) AS n_tokens,
              CAST(len(regexp_extract_all(text, '[a-zA-Z]+'))
                 + len(regexp_extract_all(text, '[0-9]+'))
                 + len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT)
                AS n_bpe_tokens,
              round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                    / greatest(length(text), 1), 4) AS punct_ratio,
              round(len(list_filter({toks}, x -> list_contains(
                    {list(EN_STOPWORDS)!r}, x)))
                    / greatest(len({toks}), 1), 4) AS stopword_ratio,
              CASE WHEN len({toks}) > 0
                   THEN round(list_sum(list_transform({toks}, t -> length(t)))
                              / CAST(len({toks}) AS DOUBLE), 4)
                   ELSE 0.0 END AS mean_word_len
            FROM documents""",
        "quality_score": f"""
            WITH st AS (
              SELECT doc_id,
                CAST(len({toks}) AS BIGINT) AS n_tokens,
                round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                      / greatest(length(text), 1), 4) AS punct_ratio,
                CASE WHEN len({toks}) > 0
                     THEN round(list_sum(list_transform({toks}, t -> length(t)))
                                / CAST(len({toks}) AS DOUBLE), 4)
                     ELSE 0.0 END AS mean_word_len
              FROM documents)
            SELECT doc_id,
              round(least(n_tokens / 50.0, 1.0) * 0.4
                    + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
                            THEN 1.0 ELSE 0.5 END) * 0.3
                    + greatest(0.0, 1.0 - punct_ratio * 4) * 0.3, 4) AS quality
            FROM st""",
        "language_id": f"""
            WITH h AS (
              SELECT doc_id,
                {lang_hits('de')} AS h_de, {lang_hits('en')} AS h_en,
                {lang_hits('es')} AS h_es, {lang_hits('fr')} AS h_fr
              FROM documents),
            m AS (SELECT doc_id, h_de, h_en, h_es, h_fr,
                         greatest(h_de, h_en, h_es, h_fr) AS mx FROM h)
            SELECT doc_id,
              CASE WHEN mx = 0 THEN 'und'
                   WHEN h_fr = mx THEN 'fr'
                   WHEN h_es = mx THEN 'es'
                   WHEN h_en = mx THEN 'en'
                   ELSE 'de' END AS pred_lang,
              mx AS marker_hits
            FROM m""",
        "doc_fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string(list_sort({shingles8}), chr(0))) AS fingerprint
            FROM documents""",
        # smoothed tf-idf: tf/doclen * (ln((N+1)/(df+1)) + 1), rounded to 6
        # decimals BEFORE ranking so rank ties break identically in both
        # engines (operators/keywords.py contract)
        "tfidf_top_terms": f"""
            WITH tfc AS (
              SELECT doc_id, term, count(*) AS tf
              FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
              GROUP BY doc_id, term),
            dl AS (SELECT doc_id, sum(tf) AS doclen FROM tfc GROUP BY doc_id),
            dft AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT t.doc_id, t.term,
                     round((t.tf / CAST(d.doclen AS DOUBLE))
                           * (ln((n.n_docs + 1.0) / (f.df + 1.0)) + 1.0), 6)
                       AS tfidf_r6
              FROM tfc t JOIN dl d USING (doc_id) JOIN dft f USING (term)
              CROSS JOIN n),
            ranked AS (
              SELECT doc_id,
                     CAST(row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY tfidf_r6 DESC, term ASC) AS INT) AS rank,
                     term, tfidf_r6
              FROM scored)
            SELECT doc_id, rank, term, tfidf_r6 FROM ranked WHERE rank <= 5""",
        # BM25 (k1=1.2, b=0.75) of the fixed _BM25_GATE_TERMS bag; docs with
        # no query term are omitted (inner semantics, keywords.py)
        "bm25_scores": f"""
            WITH q(term) AS (VALUES {", ".join(
                f"('{t}')" for t in sorted(_BM25_GATE_TERMS))}),
            len AS (SELECT doc_id, len({toks}) AS doclen FROM documents),
            a AS (SELECT avg(doclen) AS avgdl FROM len),
            n AS (SELECT count(*) AS n_docs FROM documents),
            tfc AS (
              SELECT doc_id, term, count(*) AS tf
              FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
              WHERE term IN (SELECT term FROM q)
              GROUP BY doc_id, term),
            dft AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
            scored AS (
              SELECT t.doc_id,
                     ln(1.0 + (n.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * t.tf * (1.2 + 1.0)
                       / (t.tf + 1.2 * ((1.0 - 0.75)
                          + 0.75 * l.doclen / a.avgdl)) AS contrib
              FROM tfc t JOIN dft f USING (term) JOIN len l USING (doc_id)
              CROSS JOIN n CROSS JOIN a)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
                   round(sum(contrib), 6) AS bm25_r6
            FROM scored GROUP BY doc_id""",
        # sequential scrub: each count is measured on the text as already
        # scrubbed by the earlier (more specific) patterns — mirrors the
        # PII_PATTERNS order contract in operators/textprep.py
        "pii_scrub": r"""
            WITH inj AS (
              SELECT doc_id,
                text || ' contact u' || CAST(doc_id AS VARCHAR)
                     || '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.com'
                     || ' tel 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                     || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                     || CASE WHEN doc_id % 2 = 0
                             THEN ' card 4111-1111-1111-'
                                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                             ELSE '' END AS t
              FROM documents),
            s1 AS (SELECT doc_id,
                     CAST(len(regexp_extract_all(t, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS BIGINT) AS n_card,
                     regexp_replace(t, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '[CARD]', 'g') AS t
                   FROM inj),
            s2 AS (SELECT doc_id, n_card,
                     CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
                     regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS t
                   FROM s1),
            s3 AS (SELECT doc_id, n_card, n_ssn,
                     CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
                     regexp_replace(t, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS t
                   FROM s2),
            s4 AS (SELECT doc_id, n_card, n_ssn, n_phone,
                     CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
                     regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t
                   FROM s3),
            s5 AS (SELECT doc_id, n_card, n_ssn, n_phone, n_ip,
                     CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                     regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t
                   FROM s4)
            SELECT doc_id, n_card, n_ssn, n_phone, n_ip, n_email,
                   n_card + n_ssn + n_phone + n_ip + n_email AS n_pii,
                   t AS scrubbed_text
            FROM s5""",
        "doc_chunks": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\s+'), t -> t != '') AS tk
              FROM documents),
            nz AS (SELECT * FROM toks WHERE len(tk) > 0),
            ch AS (SELECT doc_id, tk,
                          unnest(range(0, CAST(greatest(ceil((len(tk) - 64) / 48.0), 0) + 1 AS BIGINT))) AS chunk_idx
                   FROM nz)
            SELECT doc_id, chunk_idx,
                   CAST(len(tk[chunk_idx*48+1 : chunk_idx*48+64]) AS BIGINT) AS n_chunk_tokens,
                   array_to_string(tk[chunk_idx*48+1 : chunk_idx*48+64], ' ') AS chunk_text
            FROM ch""",
        "minhash_dedup_pairs": f"""
            WITH sigs AS (SELECT doc_id, {minhash_sig} AS sig FROM documents),
            banded AS (
              SELECT s.doc_id AS doc, t.b AS band,
                     md5(concat_ws('|', s.sig[4*t.b+1], s.sig[4*t.b+2],
                                        s.sig[4*t.b+3], s.sig[4*t.b+4])) AS bucket
              FROM sigs s, range(0, 8) t(b)),
            cand AS (
              SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc),
            verified AS (
              SELECT doc_a, doc_b,
                     CAST(list_sum(list_transform(range(1, 33),
                          i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
                       AS BIGINT) AS n_agree
              FROM cand JOIN sigs sa ON sa.doc_id = cand.doc_a
                        JOIN sigs sb ON sb.doc_id = cand.doc_b)
            SELECT doc_a, doc_b, n_agree FROM verified WHERE n_agree >= 0.2 * 32""",
        # Transitive closure (WITH RECURSIVE) over the same MinHash pair
        # table; cluster_id = min doc_id reachable — identical semantics to
        # the large-star/small-star fixpoint in operators/components.py.
        # MATERIALIZED is load-bearing: without it DuckDB inlines the whole
        # MinHash pipeline into `edges` and re-evaluates it on EVERY
        # recursion step (minutes instead of seconds).
        "dedup_clusters": f"""
            WITH RECURSIVE sigs AS MATERIALIZED (SELECT doc_id, {minhash_sig} AS sig FROM documents),
            banded AS MATERIALIZED (
              SELECT s.doc_id AS doc, t.b AS band,
                     md5(concat_ws('|', s.sig[4*t.b+1], s.sig[4*t.b+2],
                                        s.sig[4*t.b+3], s.sig[4*t.b+4])) AS bucket
              FROM sigs s, range(0, 8) t(b)),
            cand AS (
              SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc),
            verified AS MATERIALIZED (
              SELECT doc_a, doc_b,
                     CAST(list_sum(list_transform(range(1, 33),
                          i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
                       AS BIGINT) AS n_agree
              FROM cand JOIN sigs sa ON sa.doc_id = cand.doc_a
                        JOIN sigs sb ON sb.doc_id = cand.doc_b),
            edges AS MATERIALIZED (
              -- VARCHAR casts match the operator's documented semantics:
              -- cluster_id is the LEXICOGRAPHICALLY smallest node id.
              SELECT CAST(doc_a AS VARCHAR) AS u, CAST(doc_b AS VARCHAR) AS v
              FROM verified WHERE n_agree >= 0.2 * 32
              UNION
              SELECT CAST(doc_b AS VARCHAR), CAST(doc_a AS VARCHAR)
              FROM verified WHERE n_agree >= 0.2 * 32),
            reach(a, b) AS (
              SELECT u, v FROM edges
              UNION
              SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u),
            lbl AS (
              SELECT a AS doc_id, least(a, min(b)) AS cluster_id
              FROM reach GROUP BY a),
            tagged AS (
              SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
                     coalesce(l.cluster_id, CAST(d.doc_id AS VARCHAR)) AS cluster_id
              FROM documents d LEFT JOIN lbl l ON CAST(d.doc_id AS VARCHAR) = l.doc_id),
            sizes AS (
              SELECT cluster_id, count(*) AS cluster_size
              FROM tagged GROUP BY cluster_id)
            SELECT t.doc_id, t.cluster_id, s.cluster_size,
                   t.doc_id <> t.cluster_id AS is_duplicate
            FROM tagged t JOIN sizes s ON t.cluster_id = s.cluster_id""",
        "simhash_near_pairs": f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '') AS tk
              FROM documents),
            sigs AS (
              SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
                CASE WHEN coalesce(list_sum(list_transform(tk, t ->
                  CASE WHEN (CAST(concat('0x', substr(md5(t), (j // 4) + 1, 1)) AS BIGINT)
                             >> (j % 4)) % 2 = 1
                       THEN 1 ELSE -1 END)), 0) > 0 THEN '1' ELSE '0' END), '') AS simbits
              FROM toks),
            blk(block_idx, start, len) AS (VALUES {simhash_blocks}),
            blocked AS (
              SELECT doc_id AS doc, simbits, block_idx,
                     substr(simbits, start, len) AS block_val
              FROM sigs, blk),
            pairs AS (
              SELECT DISTINCT a.doc AS doc_a, a.simbits AS sa,
                              b.doc AS doc_b, b.simbits AS sb
              FROM blocked a JOIN blocked b
                ON a.block_idx = b.block_idx AND a.block_val = b.block_val
               AND a.doc < b.doc),
            ham AS (
              SELECT doc_a, doc_b,
                     CAST(list_sum(list_transform(range(1, 65),
                          i -> CASE WHEN substr(sa, i, 1) = substr(sb, i, 1)
                               THEN 0 ELSE 1 END)) AS BIGINT) AS hamming
              FROM pairs)
            SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 16""",
        "ann_topk_cosine": f"""
            WITH q AS (SELECT vec_id AS query_id, {quant} AS qq
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, {quant} AS cq FROM embeddings),
            d AS (SELECT query_id, neighbor_id, {fixed_cos} AS cos FROM c, q),
            r AS (SELECT query_id, neighbor_id,
                         CAST(row_number() OVER (
                           PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                         ) AS INT) AS rank,
                         CAST(floor(cos * 1000000) AS BIGINT) AS cos_q6
                  FROM d)
            SELECT query_id, neighbor_id, rank, cos_q6 FROM r WHERE rank <= 10""",
        # IVF-flat replay: deterministic centroid prefix, argmax cell
        # assignment + nprobe probe via windows, in-cell integer ranking
        "ann_topk_ivf": f"""
            WITH qv AS (SELECT vec_id, {quant} AS v FROM embeddings),
            cent AS (SELECT vec_id AS cell_id, v AS cent FROM qv
                     ORDER BY vec_id LIMIT 16),
            assign AS (
              SELECT neighbor_id, cq, cell_id FROM (
                SELECT qv.vec_id AS neighbor_id, qv.v AS cq, c.cell_id,
                       row_number() OVER (PARTITION BY qv.vec_id
                         ORDER BY {_IDOT("qv.v", "c.cent")} DESC, c.cell_id
                       ) AS rn
                FROM qv CROSS JOIN cent c)
              WHERE rn = 1),
            q AS (SELECT vec_id AS query_id, v AS qq FROM qv
                  WHERE vec_id < 5),
            probes AS (
              SELECT query_id, qq, cell_id FROM (
                SELECT q.query_id, q.qq, c.cell_id,
                       row_number() OVER (PARTITION BY q.query_id
                         ORDER BY {_IDOT("q.qq", "c.cent")} DESC, c.cell_id
                       ) AS rn
                FROM q CROSS JOIN cent c)
              WHERE rn <= 4),
            d AS (SELECT query_id, neighbor_id,
                         CAST({_IDOT("cq", "qq")} AS BIGINT) AS dot
                  FROM assign JOIN probes USING (cell_id)),
            ivfr AS (SELECT query_id, neighbor_id,
                            CAST(row_number() OVER (
                              PARTITION BY query_id ORDER BY dot DESC, neighbor_id
                            ) AS INT) AS rank, dot
                     FROM d),
            dall AS (SELECT q.query_id, a.vec_id AS neighbor_id,
                            CAST({_IDOT("a.v", "q.qq")} AS BIGINT) AS dot
                     FROM qv a CROSS JOIN q),
            bf AS (SELECT query_id, neighbor_id
                   FROM (SELECT query_id, neighbor_id,
                                row_number() OVER (
                                  PARTITION BY query_id ORDER BY dot DESC, neighbor_id
                                ) AS rnk
                         FROM dall)
                   WHERE rnk <= 10)
            SELECT i.query_id, i.neighbor_id, i.rank, i.dot,
                   (bf.neighbor_id IS NOT NULL) AS in_brute
            FROM ivfr i LEFT JOIN bf
              ON i.query_id = bf.query_id AND i.neighbor_id = bf.neighbor_id
            WHERE i.rank <= 10""",
        "ann_topk_lsh": f"""
            WITH planes AS (
              SELECT i, list_transform(range(0, 64), j ->
                (CAST(concat('0x', substr(md5(concat(i, ':', j)), 1, 8)) AS BIGINT)
                 % 2001) - 1000) AS p
              FROM range(0, 6) t(i)),
            qv AS (SELECT vec_id, {quant} AS v FROM embeddings),
            sig AS (
              SELECT vec_id,
                     string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END,
                                '' ORDER BY i) AS bucket
              FROM (SELECT qv.vec_id, pl.i,
                           list_sum(list_transform(range(1, 65), x -> v[x] * p[x])) AS dot
                    FROM qv, planes pl) dots
              GROUP BY vec_id),
            q AS (SELECT qv.vec_id AS query_id, v AS qq, bucket
                  FROM qv JOIN sig ON qv.vec_id = sig.vec_id WHERE qv.vec_id < 5),
            c AS (SELECT qv.vec_id AS neighbor_id, v AS cq, bucket
                  FROM qv JOIN sig ON qv.vec_id = sig.vec_id),
            d AS (SELECT query_id, neighbor_id, {fixed_cos} AS cos
                  FROM c JOIN q ON c.bucket = q.bucket),
            lshr AS (SELECT query_id, neighbor_id,
                            CAST(row_number() OVER (
                              PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                            ) AS INT) AS rank,
                            CAST(floor(cos * 1000000) AS BIGINT) AS cos_q6
                     FROM d),
            dall AS (SELECT query_id, neighbor_id, {fixed_cos} AS cos FROM c, q),
            bf AS (SELECT query_id, neighbor_id
                   FROM (SELECT query_id, neighbor_id,
                                row_number() OVER (
                                  PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                                ) AS rnk
                         FROM dall)
                   WHERE rnk <= 10)
            SELECT l.query_id, l.neighbor_id, l.rank, l.cos_q6,
                   (bf.neighbor_id IS NOT NULL) AS in_brute
            FROM lshr l LEFT JOIN bf
              ON l.query_id = bf.query_id AND l.neighbor_id = bf.neighbor_id
            WHERE l.rank <= 10""",
        "embedding_cosine_pairs": f"""
            WITH planes AS (
              SELECT i, list_transform(range(0, 64), j ->
                (CAST(concat('0x', substr(md5(concat(i, ':', j)), 1, 8)) AS BIGINT)
                 % 2001) - 1000) AS p
              FROM range(0, 4) t(i)),
            qv AS (SELECT vec_id, {quant} AS v FROM embeddings),
            sig AS (
              SELECT vec_id,
                     string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END,
                                '' ORDER BY i) AS bucket
              FROM (SELECT qv.vec_id, pl.i,
                           list_sum(list_transform(range(1, 65), x -> v[x] * p[x])) AS dot
                    FROM qv, planes pl) dots
              GROUP BY vec_id),
            joined AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     a.v AS cq, b.v AS qq
              FROM (SELECT * FROM qv JOIN sig USING (vec_id)) a
              JOIN (SELECT * FROM qv JOIN sig USING (vec_id)) b
                ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
            scored AS (
              SELECT id_a, id_b,
                     CAST(floor({fixed_cos} * 1000000) AS BIGINT) AS cos_q6
              FROM joined)
            SELECT DISTINCT id_a, id_b, cos_q6 FROM scored
            WHERE cos_q6 >= 250000""",
        # SemDeDup replay: deterministic centroid prefix, argmax cell
        # assignment, within-cell rank by (centroid-dot ASC, id ASC), drop
        # on any earlier-ranked in-threshold neighbor
        "semantic_dedup_keep": f"""
            WITH qv AS (SELECT vec_id, {quant} AS v FROM embeddings),
            cent AS (SELECT vec_id AS cell_id, v AS cent FROM qv
                     ORDER BY vec_id LIMIT 16),
            assign AS (
              SELECT vec_id, v, cell_id, cdot FROM (
                SELECT qv.vec_id, qv.v, c.cell_id,
                       {_IDOT("qv.v", "c.cent")} AS cdot,
                       row_number() OVER (PARTITION BY qv.vec_id
                         ORDER BY {_IDOT("qv.v", "c.cent")} DESC, c.cell_id
                       ) AS rn
                FROM qv CROSS JOIN cent c)
              WHERE rn = 1),
            ranked AS (
              SELECT vec_id, v, cell_id,
                     CAST(row_number() OVER (PARTITION BY cell_id
                       ORDER BY cdot ASC, vec_id ASC) AS INT) AS centroid_rank
              FROM assign),
            dropped AS (
              SELECT DISTINCT b.vec_id
              FROM (SELECT cell_id, centroid_rank, v AS cq FROM ranked) a
              JOIN (SELECT vec_id, cell_id, centroid_rank, v AS qq
                    FROM ranked) b
                ON a.cell_id = b.cell_id
               AND a.centroid_rank < b.centroid_rank
              WHERE CAST(floor({fixed_cos} * 1000000) AS BIGINT) >= 250000)
            SELECT r.vec_id, r.cell_id, r.centroid_rank,
                   (d.vec_id IS NULL) AS kept
            FROM ranked r LEFT JOIN dropped d ON r.vec_id = d.vec_id""",
        "html_page_triples": f"""
            WITH b AS (
              SELECT CAST(doc_id AS STRING) AS did,
                     concat('https://pages.example/root',
                            CAST(doc_id % 3 AS STRING), '/doc/',
                            CAST(doc_id AS STRING)) AS subj,
                     n_chars
              FROM documents)
            SELECT did AS doc_id, subj, '{_RDF}type' AS pred, 'IRI' AS obj_kind,
                   'https://pages.example/v#Page' AS obj_value,
                   CAST(NULL AS STRING) AS obj_datatype,
                   CAST(NULL AS STRING) AS obj_language, '@default' AS graph
            FROM b
            UNION ALL
            SELECT did, subj, 'https://pages.example/v#len', 'literal',
                   CAST(n_chars AS STRING), '{_XSD}integer',
                   CAST(NULL AS STRING), '@default'
            FROM b""",
        "media_features": """
            WITH p AS (SELECT doc_id, encode(text || text) AS payload FROM documents),
            h AS (SELECT doc_id, lower(hex(payload)) AS hx,
                         octet_length(payload) AS n
                  FROM p),
            b AS (SELECT doc_id, n, hx,
                         list_transform(range(1, n + 1),
                           i -> CAST(concat('0x', substr(hx, 2*i - 1, 2)) AS BIGINT)) AS bl
                  FROM h)
            SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
                   substr(hx, 1, 16) AS prefix_hex,
                   CAST(coalesce(list_sum(bl), 0) AS BIGINT) AS byte_sum,
                   CAST(len(list_distinct(bl)) AS BIGINT) AS n_distinct_bytes
            FROM b""",
        "media_audio": """
            WITH p AS (SELECT doc_id, encode(text || text) AS payload
                       FROM documents WHERE doc_id % 3 = 1)
            SELECT doc_id,
                   CAST(octet_length(payload) // 2 AS BIGINT) AS n_samples,
                   CAST(16000 AS INT) AS sample_rate,
                   md5(lower(hex(payload))) AS samples_checksum
            FROM p""",
        "media_frames": """
            WITH p AS (SELECT doc_id, encode(text || text) AS payload
                       FROM documents WHERE doc_id % 3 = 2),
            h AS (SELECT doc_id, lower(hex(payload)) AS hx,
                         octet_length(payload) AS n
                  FROM p)
            SELECT doc_id, CAST(t.i AS INT) AS frame_idx,
                   substr(md5(substr(hx, 20 * t.i + 1, 40)), 1, 16) AS frame_checksum
            FROM h, range(0, 8) t(i)
            WHERE t.i < greatest(n // 100, 1)""",
        "ann_topk_quantized": """
            WITH q AS (
              SELECT vec_id AS query_id,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qq
              FROM embeddings WHERE vec_id < 5),
            c AS (
              SELECT vec_id AS neighbor_id,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS cq
              FROM embeddings),
            d AS (
              SELECT query_id, neighbor_id,
                     CAST(list_sum(list_transform(range(1, len(cq) + 1),
                                                  i -> cq[i] * qq[i])) AS BIGINT) AS dot
              FROM c, q),
            r AS (SELECT query_id, neighbor_id,
                         CAST(row_number() OVER (
                           PARTITION BY query_id ORDER BY dot DESC, neighbor_id
                         ) AS INT) AS rank, dot
                  FROM d)
            SELECT query_id, neighbor_id, rank, dot FROM r WHERE rank <= 10""",
        "media_meta": """
            SELECT doc_id,
              CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                   WHEN doc_id % 3 = 1 THEN 'audio/wav'
                   ELSE 'video/mp4' END AS media_type,
              CAST(octet_length(encode(text || text)) AS BIGINT) AS n_bytes,
              CAST((doc_id * 7919) % 1920 + 1 AS INT) AS width,
              CAST((doc_id * 104729) % 1080 + 1 AS INT) AS height
            FROM documents""",
    }
    # Canonical-N-Quads oracle: the transcript ontology's blank nodes form an
    # rdf:first/rest chain with unique first-degree hashes, so URDNA2015
    # finishes in its first pass — the oracle recomputes each cell's masked
    # sha256 hash, assigns _:c14nN labels in sorted-hash order, rebuilds the
    # full escaped N-Quads serialization, sorts it, and hashes the document.
    canonical_oracle = f"""{_T_CTE},
        stats AS (
          SELECT conv_id, count(*) AS n_turns FROM transcripts GROUP BY conv_id
        ),
        base AS (
          SELECT t.conv_id, t.turn_idx, t.role, t.text, t.tool,
                 concat('{_CONV}', t.conv_id) AS conv_iri,
                 concat('{_CONV}', t.conv_id, '/turn/',
                        CAST(t.turn_idx AS STRING)) AS turn_iri,
                 strftime(t.ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS ts_str,
                 s.n_turns
          FROM transcripts t JOIN stats s ON t.conv_id = s.conv_id
        ),
        cells AS (
          SELECT *,
            sha256(array_to_string(list_sort([
              concat('_:a <{_RDF}first> <', turn_iri, '> .', chr(10)),
              concat('_:a <{_RDF}rest> ',
                     CASE WHEN turn_idx = n_turns - 1
                          THEN '<{_RDF}nil>' ELSE '_:z' END,
                     ' .', chr(10)),
              CASE WHEN turn_idx = 0
                   THEN concat('<', conv_iri, '> <{_VOCAB}turns> _:a .', chr(10))
                   ELSE concat('_:z <{_RDF}rest> _:a .', chr(10)) END
            ]), '')) AS fdh
          FROM base
        ),
        labeled AS (
          SELECT *,
            concat('_:c14n', CAST(row_number() OVER (
              PARTITION BY conv_id ORDER BY fdh) - 1 AS STRING)) AS cell
          FROM cells
        ),
        chained AS (
          SELECT *, lead(cell) OVER (
            PARTITION BY conv_id ORDER BY turn_idx) AS next_cell
          FROM labeled
        ),
        lines AS (
          SELECT conv_id, concat('<', conv_iri,
            '> <{_RDF}type> <{_VOCAB}Conversation> .') AS line
          FROM chained WHERE turn_idx = 0
          UNION ALL
          SELECT conv_id, concat('<', conv_iri, '> <{_VOCAB}turns> ', cell, ' .')
          FROM chained WHERE turn_idx = 0
          UNION ALL
          SELECT conv_id, concat(cell, ' <{_RDF}first> <', turn_iri, '> .')
          FROM chained
          UNION ALL
          SELECT conv_id, concat(cell, ' <{_RDF}rest> ',
            CASE WHEN turn_idx = n_turns - 1 THEN '<{_RDF}nil>' ELSE next_cell END,
            ' .')
          FROM chained
          UNION ALL
          SELECT conv_id, concat('<', turn_iri, '> <{_RDF}type> <{_VOCAB}Turn> .')
          FROM chained
          UNION ALL
          SELECT conv_id, concat('<', turn_iri, '> <{_VOCAB}turnIndex> "',
            CAST(turn_idx AS STRING), '"^^<{_XSD}integer> .')
          FROM chained
          UNION ALL
          SELECT conv_id, concat('<', turn_iri, '> <{_VOCAB}role> "',
            {esc_nq('role')}, '" .')
          FROM chained
          UNION ALL
          SELECT conv_id, concat('<', turn_iri, '> <{_VOCAB}text> "',
            {esc_nq('text')}, '" .')
          FROM chained
          UNION ALL
          SELECT conv_id, concat('<', turn_iri, '> <{_VOCAB}tool> "',
            {esc_nq('tool')}, '" .')
          FROM chained WHERE tool IS NOT NULL
          UNION ALL
          SELECT conv_id, concat('<', turn_iri, '> <{_VOCAB}ts> "', ts_str,
            '"^^<{_XSD}dateTime> .')
          FROM chained
        )
        SELECT l.conv_id AS doc_id, CAST(count(*) AS BIGINT) AS n_lines,
               CAST(s.n_turns AS BIGINT) AS n_labels,
               sha256(string_agg(concat(line, chr(10)), '' ORDER BY line))
                 AS nquads_sha256
        FROM lines l JOIN stats s ON l.conv_id = s.conv_id
        GROUP BY l.conv_id, s.n_turns"""
    # Fixed-point PageRank (operators/graph_stats.py): exact-integer
    # recurrence, so the oracle replays it bit-identically. Iterations are
    # unrolled as sequential CTEs (aggregates are not allowed in a recursive
    # CTE term). LEFT JOINs keep in-edge-less nodes (sum over no rows ->
    # NULL -> coalesce 0), matching the operator's left join + coalesce.
    pr_scale, pr_iters = 10**9, 3
    pr_teleport = (pr_scale * 15) // 100
    pr_ctes = [
        f"pr0 AS (SELECT node, CAST({pr_scale} AS BIGINT) AS rank_fp FROM nodes)"
    ]
    for i in range(1, pr_iters + 1):
        pr_ctes.append(f"""pr{i} AS MATERIALIZED (
              SELECT n.node,
                     CAST({pr_teleport} + coalesce(sum(
                       (p.rank_fp * CAST(85 AS BIGINT))
                         // (CAST(100 AS BIGINT) * o.out_degree)), 0)
                       AS BIGINT) AS rank_fp
              FROM nodes n
              LEFT JOIN edges e ON e.dst = n.node
              LEFT JOIN outdeg o ON o.src = e.src
              LEFT JOIN pr{i - 1} p ON p.node = e.src
              GROUP BY n.node)""")
    pagerank_sql = f"""{_T_CTE}, {mentions_cte},
            per_turn AS MATERIALIZED (
              SELECT DISTINCT conv_id, turn_idx, entity_iri FROM linked),
            edges AS MATERIALIZED (
              SELECT DISTINCT a.entity_iri AS src, b.entity_iri AS dst
              FROM per_turn a JOIN per_turn b
                ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
               AND a.entity_iri <> b.entity_iri),
            outdeg AS MATERIALIZED (
              SELECT src, CAST(count(*) AS BIGINT) AS out_degree
              FROM edges GROUP BY src),
            nodes AS MATERIALIZED (
              SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
            {", ".join(pr_ctes)}
            SELECT node AS entity_iri, rank_fp FROM pr{pr_iters}"""
    # Label propagation: the co-mention edge set is already its own
    # symmetric closure (both orientations, no self-loops), matching the
    # operator's _symmetric_edges normalization exactly.
    comention_ctes = f"""{_T_CTE}, {mentions_cte},
            per_turn AS MATERIALIZED (
              SELECT DISTINCT conv_id, turn_idx, entity_iri FROM linked),
            edges AS MATERIALIZED (
              SELECT DISTINCT a.entity_iri AS src, b.entity_iri AS dst
              FROM per_turn a JOIN per_turn b
                ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
               AND a.entity_iri <> b.entity_iri)"""
    lp_iters = 3
    lp_ctes = ["lp0 AS (SELECT DISTINCT src AS node, src AS community FROM edges)"]
    for i in range(1, lp_iters + 1):
        lp_ctes.append(f"""lp{i} AS MATERIALIZED (
              SELECT node, community FROM (
                SELECT e.src AS node, p.community,
                       row_number() OVER (
                         PARTITION BY e.src
                         ORDER BY count(*) DESC, p.community ASC) AS rn
                FROM edges e JOIN lp{i - 1} p ON p.node = e.dst
                GROUP BY e.src, p.community)
              WHERE rn = 1)""")
    lpa_sql = f"""{comention_ctes},
            {", ".join(lp_ctes)}
            SELECT node AS entity_iri, community FROM lp{lp_iters}"""
    # Deterministic random walks: replay the exact 31-bit LCG + positional
    # ascii mix (walks._node_mix) — all-integer arithmetic, so DuckDB
    # reproduces every choice bit-for-bit.
    wk_mix = (
        "(ascii({n}) * 8191"
        " + ascii(substr({n}, length({n}), 1)) * 127"
        " + ascii(substr({n}, greatest(length({n}) - 1, 1), 1)) * 31"
        " + length({n}) * 131)"
    )
    wk_len = 4
    wk_ctes = [
        """adj AS MATERIALIZED (
              SELECT src, dst,
                     CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1
                          AS BIGINT) AS idx
              FROM edges)""",
        """degs AS MATERIALIZED (
              SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src)""",
        f"""w0 AS MATERIALIZED (
              SELECT src || '#0' AS walk_id, src AS node,
                     CAST({wk_mix.format(n='src')} % 2147483648 AS BIGINT) AS seed
              FROM degs)""",
    ]
    for t in range(1, wk_len):
        wk_ctes.append(f"""w{t} AS MATERIALIZED (
              SELECT p.walk_id, a.dst AS node, p.seed2 AS seed
              FROM (SELECT walk_id, node,
                           (seed * 1103515245 + 12345
                            + {wk_mix.format(n='node')}) % 2147483648 AS seed2
                    FROM w{t - 1}) p
              JOIN degs d ON d.src = p.node
              JOIN adj a ON a.src = p.node AND a.idx = p.seed2 % d.deg)""")
    wk_union = "\nUNION ALL ".join(
        f"SELECT walk_id, {t} AS step, node FROM w{t}" for t in range(wk_len)
    )
    walks_sql = f"""{comention_ctes},
            {", ".join(wk_ctes)}
            {wk_union}"""
    # Hash-split thresholds come from the SAME function the operator uses,
    # so the oracle replays the exact hex-string comparison.
    from pyld_spark.operators.sampling import _hex_threshold

    split_bucket = "substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)"
    strat_bucket = (
        "substr(md5(concat('stratified:', CAST(doc_id AS VARCHAR))), 1, 8)"
    )
    return {
        **extras,
        "entity_pagerank": pagerank_sql,
        "entity_communities": lpa_sql,
        "entity_walks": walks_sql,
        "doc_splits": f"""
            SELECT doc_id,
                   CASE WHEN {split_bucket} < '{_hex_threshold(0.9)}' THEN 'train'
                        WHEN {split_bucket} < '{_hex_threshold(0.95)}' THEN 'val'
                        ELSE 'test' END AS split
            FROM documents""",
        "lang_stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE {strat_bucket} <
                  CASE WHEN lang = 'en' THEN '{_hex_threshold(1.0)}'
                       WHEN lang = 'es' THEN '{_hex_threshold(0.5)}'
                       WHEN lang = 'zh' THEN '{_hex_threshold(0.1)}'
                       ELSE '{_hex_threshold(0.25)}' END""",
        # streamed-rollup replay: the watermark sentinels force every real
        # minute bucket to emit, so the streamed append-mode output must
        # equal the flat batch aggregation exactly
        "streamed_event_rollup": """
            SELECT date_trunc('minute', ts) AS bucket, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS sum_value,
                   min(value) AS min_value, max(value) AS max_value
            FROM events GROUP BY bucket, event_type""",
        # domain-cap replay: rank by md5(salt:key) hex within each
        # (lang, source) bucket, keep the first 5 (buckets hold up to 16
        # docs at the test SFs, so the cap genuinely filters)
        "source_capped_docs": """
            WITH ranked AS (
              SELECT lang, source, doc_id,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(concat('cap:', CAST(doc_id AS VARCHAR))),
                                doc_id) AS rn
              FROM documents)
            SELECT lang, source, doc_id FROM ranked WHERE rn <= 5""",
        # priority-sampling replay (Duffield-Lund-Thorup): u is an EXACT
        # power-of-two scale of a 48-bit md5 integer (division by 2^48 is
        # exact) and priority = w/u is one correctly-rounded IEEE division,
        # so every double here is bit-identical to the Spark side
        "priority_sample_docs": """
            WITH cand AS (
              SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS w,
                     CAST(n_chars AS DOUBLE) /
                     (CAST(CAST(concat('0x',
                          substr(md5(concat('priority:', doc_id)), 1, 12))
                        AS BIGINT) + 1 AS DOUBLE) / 281474976710656.0)
                       AS priority
              FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY lang
                         ORDER BY priority DESC, doc_id ASC) AS rn
              FROM cand),
            tau AS (
              SELECT lang,
                     max(CASE WHEN rn = 21 THEN priority END) AS tau
              FROM ranked WHERE rn <= 21 GROUP BY lang)
            SELECT r.lang, r.doc_id, r.priority,
                   GREATEST(r.w, COALESCE(t.tau, 0.0)) AS weight_est
            FROM ranked r JOIN tau t ON r.lang = t.lang
            WHERE r.rn <= 20""",
        # word-3-gram overlap between the hash-derived train and test
        # splits; grams per doc are DISTINCT on both sides (n_hits counts
        # a train doc's distinct grams seen anywhere in test)
        "train_decontaminate": f"""
            WITH splits AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(list_filter(
                         string_split_regex(lower(text), '\\s+'),
                         t -> t <> '')) - 2, 0) + 1),
                       i -> array_to_string(list_filter(
                         string_split_regex(lower(text), '\\s+'),
                         t -> t <> '')[i:i+2], ' '))) AS grams,
                     CASE WHEN {split_bucket} < '{_hex_threshold(0.9)}'
                            THEN 'train'
                          WHEN {split_bucket} < '{_hex_threshold(0.95)}'
                            THEN 'val'
                          ELSE 'test' END AS split
              FROM documents),
            te_grams AS MATERIALIZED (
              SELECT DISTINCT unnest(grams) AS gram FROM splits
              WHERE split = 'test'),
            tr_grams AS (
              SELECT doc_id, unnest(grams) AS gram FROM splits
              WHERE split = 'train'),
            hits AS (
              SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
              FROM tr_grams t JOIN te_grams g USING (gram)
              GROUP BY t.doc_id)
            SELECT s.doc_id, CAST(len(s.grams) AS BIGINT) AS n_grams,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM splits s LEFT JOIN hits h ON h.doc_id = s.doc_id
            WHERE s.split = 'train'""",
        # composed curation ledger: replays each stage's own oracle and the
        # first-failing-stage reason ladder (operators/curation.py)
        "curation_ledger": f"""
            WITH lh AS (
              SELECT doc_id,
                {lang_hits('de')} AS h_de, {lang_hits('en')} AS h_en,
                {lang_hits('es')} AS h_es, {lang_hits('fr')} AS h_fr
              FROM documents),
            lang AS (
              SELECT doc_id,
                CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                     WHEN h_fr = greatest(h_de, h_en, h_es, h_fr) THEN 'fr'
                     WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                     WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                     ELSE 'de' END AS pred_lang
              FROM lh),
            qst AS (
              SELECT doc_id,
                CAST(len({toks}) AS BIGINT) AS n_tokens,
                round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                      / greatest(length(text), 1), 4) AS punct_ratio,
                CASE WHEN len({toks}) > 0
                     THEN round(list_sum(list_transform({toks}, t -> length(t)))
                                / CAST(len({toks}) AS DOUBLE), 4)
                     ELSE 0.0 END AS mean_word_len
              FROM documents),
            qual AS (
              SELECT doc_id,
                round(least(n_tokens / 50.0, 1.0) * 0.4
                      + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 10
                              THEN 1.0 ELSE 0.5 END) * 0.3
                      + greatest(0.0, 1.0 - punct_ratio * 4) * 0.3, 4) AS quality
              FROM qst),
            ch AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
            dup AS (
              SELECT ch.doc_id, ch.doc_id != s.survivor_id AS is_duplicate
              FROM ch JOIN (SELECT content_hash, min(doc_id) AS survivor_id
                            FROM ch GROUP BY 1) s USING (content_hash)),
            gsplits AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       range(1, greatest(len(list_filter(
                         string_split_regex(lower(text), '\\s+'),
                         t -> t <> '')) - 2, 0) + 1),
                       i -> array_to_string(list_filter(
                         string_split_regex(lower(text), '\\s+'),
                         t -> t <> '')[i:i+2], ' '))) AS grams,
                     CASE WHEN {split_bucket} < '{_hex_threshold(0.9)}'
                            THEN 'train'
                          WHEN {split_bucket} < '{_hex_threshold(0.95)}'
                            THEN 'val'
                          ELSE 'test' END AS split
              FROM documents),
            te_grams AS MATERIALIZED (
              SELECT DISTINCT unnest(grams) AS gram FROM gsplits
              WHERE split = 'test'),
            contam AS (
              SELECT t.doc_id, count(*) > 0 AS contaminated
              FROM (SELECT doc_id, unnest(grams) AS gram FROM gsplits
                    WHERE split = 'train') t
              JOIN te_grams g USING (gram)
              GROUP BY t.doc_id),
            merged AS (
              SELECT sp.doc_id, sp.split, lang.pred_lang, qual.quality,
                     dup.is_duplicate,
                     coalesce(c.contaminated, false) AS contaminated
              FROM gsplits sp
              JOIN lang USING (doc_id)
              JOIN qual USING (doc_id)
              JOIN dup USING (doc_id)
              LEFT JOIN contam c ON c.doc_id = sp.doc_id),
            ledger AS (
              SELECT *,
                CASE WHEN pred_lang <> 'en' THEN 'lang'
                     WHEN quality < 0.5 THEN 'quality'
                     WHEN is_duplicate THEN 'exact_dup'
                     WHEN split <> 'train' THEN 'holdout'
                     WHEN contaminated THEN 'contaminated'
                     ELSE 'kept' END AS reason
              FROM merged)
            SELECT doc_id, split, pred_lang, quality, is_duplicate,
                   contaminated, reason, reason = 'kept' AS keep
            FROM ledger""",
        # window-sum replay of pack_sequences: same (lang, shard) partition,
        # same doc_id order, same BPE-ish token count as text_stats
        "pack_sequences": """
            WITH staged AS (
              SELECT lang,
                     substr(md5(concat('pack:', CAST(doc_id AS VARCHAR))), 1, 1)
                       AS shard,
                     doc_id,
                     CAST(len(regexp_extract_all(text, '[a-zA-Z]+'))
                        + len(regexp_extract_all(text, '[0-9]+'))
                        + len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))
                       AS BIGINT) AS n_tokens
              FROM documents),
            cum AS (
              SELECT lang, shard, doc_id, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY lang, shard
                                         ORDER BY doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - n_tokens AS prev
              FROM staged)
            SELECT lang, shard, doc_id, n_tokens,
                   CAST(floor(prev / 512) AS BIGINT) AS pack_id,
                   CAST(prev % 512 AS BIGINT) AS pack_offset
            FROM cum""",
        # lag + running-sum-of-boundaries sessionization; integer
        # microseconds so sub-second gaps round identically in any engine
        # implementation-independent as-of replay: theta-join candidates,
        # row_number pick (ts DESC, event_id DESC = the operator's tie rule),
        # exact integer-microsecond tolerance
        "asof_attribution": """
            WITH l AS (
              SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'purchase'),
            r AS (
              SELECT user_id, ts, event_id, value FROM events
              WHERE event_type = 'error'),
            cand AS (
              SELECT l.event_id AS lid, r.ts AS rts, r.event_id AS rid,
                     r.value AS rval,
                     row_number() OVER (
                       PARTITION BY l.event_id
                       ORDER BY r.ts DESC, r.event_id DESC) AS rn
              FROM l JOIN r
                ON r.user_id = l.user_id AND r.ts <= l.ts),
            best AS (SELECT * FROM cand WHERE rn = 1)
            SELECT l.user_id, l.ts, l.event_id, l.value,
                   CASE WHEN epoch_us(l.ts) - epoch_us(b.rts) <= 3600000000
                        THEN b.rts END AS ts_err,
                   CASE WHEN epoch_us(l.ts) - epoch_us(b.rts) <= 3600000000
                        THEN b.rid END AS event_id_err,
                   CASE WHEN epoch_us(l.ts) - epoch_us(b.rts) <= 3600000000
                        THEN b.rval END AS value_err
            FROM l LEFT JOIN best b ON b.lid = l.event_id""",
        # triangle replay: canonical a<b<c edges from per-turn co-mentions,
        # two-join enumeration, explode via 3-way UNION ALL
        "entity_triangles": f"""{_T_CTE}, {mentions_cte},
            per_turn AS MATERIALIZED (
              SELECT DISTINCT conv_id, turn_idx, entity_iri FROM linked),
            canon AS MATERIALIZED (
              SELECT DISTINCT least(a.entity_iri, b.entity_iri) AS lo,
                     greatest(a.entity_iri, b.entity_iri) AS hi
              FROM per_turn a
              JOIN per_turn b
                ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
               AND a.entity_iri < b.entity_iri),
            tri AS MATERIALIZED (
              SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
              FROM canon e1
              JOIN canon e2 ON e2.lo = e1.hi
              JOIN canon e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
            member AS (
              SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
            SELECT node AS entity_iri,
                   CAST(count(*) AS BIGINT) AS n_triangles
            FROM member GROUP BY node""",
        # hypertable rollup replay: each grain aggregated FLAT from raw
        # events (the Spark side must cascade instead — that's the point)
        "event_rollup": """
            SELECT 'minute' AS grain, date_trunc('minute', ts) AS bucket,
                   event_type, CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS sum_value,
                   min(value) AS min_value, max(value) AS max_value
            FROM events GROUP BY bucket, event_type
            UNION ALL
            SELECT 'hour', date_trunc('hour', ts), event_type,
                   CAST(count(*) AS BIGINT), round(sum(value), 4),
                   min(value), max(value)
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'day', date_trunc('day', ts), event_type,
                   CAST(count(*) AS BIGINT), round(sum(value), 4),
                   min(value), max(value)
            FROM events GROUP BY 2, 3""",
        # KMV sketch replay: 48-bit md5 hash, k smallest distinct hashes,
        # exact count when under-full else (k-1)/f_k
        "distinct_users_kmv": """
            WITH h AS (
              SELECT DISTINCT event_type,
                     CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                                              1, 12)) AS BIGINT) AS hh
              FROM events),
            ranked AS (
              SELECT event_type, hh,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY hh ASC) AS rn
              FROM h)
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_hashes,
                   max(hh) AS kth_hash,
                   round(CASE WHEN count(*) < 64
                              THEN CAST(count(*) AS DOUBLE)
                              ELSE CAST(63 AS DOUBLE)
                                   * CAST(281474976710656 AS DOUBLE)
                                   / CAST(max(hh) AS DOUBLE) END,
                         4) AS est_distinct
            FROM ranked WHERE rn <= 64 GROUP BY event_type""",
        # exact-quantile replay: the definition itself — value at global
        # rank ceil(q*n), one window (implementation-independent; the Spark
        # side must reach the same value with NO global sort)
        "doc_length_quantiles": """
            WITH ranked AS (
              SELECT lang, n_chars AS value,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars) AS rn,
                     count(*) OVER (PARTITION BY lang) AS n
              FROM documents),
            qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99])
                               AS DOUBLE) AS q)
            SELECT lang, q,
                   GREATEST(CAST(ceil(q * n) AS BIGINT), 1) AS rank,
                   value
            FROM ranked, qs
            WHERE rn = GREATEST(CAST(ceil(q * n) AS BIGINT), 1)""",
        # range-join replay: re-derive error sessions with the same two
        # window functions, then a plain BETWEEN theta join (fine at oracle
        # scale; the Spark side must avoid exactly this shape)
        "purchases_in_error_sessions": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_s
              FROM events WHERE event_type = 'error'
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            tagged AS (
              SELECT user_id, ts,
                     sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - 1 AS session_seq
              FROM flagged),
            sess AS (
              SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                     min(ts) - INTERVAL 3600 SECOND AS started,
                     max(ts) + INTERVAL 3600 SECOND AS ended
              FROM tagged GROUP BY user_id, session_seq)
            SELECT p.user_id, p.ts, p.event_id, p.value,
                   s.session_seq, s.started, s.ended
            FROM (SELECT user_id, ts, event_id, value FROM events
                  WHERE event_type = 'purchase') p
            JOIN sess s
              ON s.user_id = p.user_id AND p.ts BETWEEN s.started AND s.ended""",
        "event_sessions": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            tagged AS (
              SELECT user_id, ts,
                     sum(new_s) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - 1 AS session_seq
              FROM flagged)
            SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                   CAST(count(*) AS BIGINT) AS n_events,
                   min(ts) AS started, max(ts) AS ended,
                   CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts)))
                              / 1000000.0) AS BIGINT) AS duration_sec
            FROM tagged GROUP BY user_id, session_seq""",
        "framed_conversations": f"""{_T_CTE}
            SELECT conv_id AS doc_id, 'Conversation' AS matched_type,
                   CAST(count(*) AS BIGINT) AS n_embedded_turns,
                   md5(string_agg(concat('{_CONV}', conv_id, '/turn/',
                                         CAST(turn_idx AS STRING)),
                                  ',' ORDER BY turn_idx)) AS turns_md5
            FROM transcripts GROUP BY conv_id""",
        "framed_tool_turns": f"""{_T_CTE}
            SELECT conv_id AS doc_id,
                   CAST(count(*) AS BIGINT) AS n_matched,
                   md5(string_agg(turn_iri, ',' ORDER BY turn_iri)) AS ids_md5,
                   md5(string_agg(tool, ',' ORDER BY turn_iri)) AS vals_md5
            FROM (
              SELECT conv_id,
                     concat('{_CONV}', conv_id, '/turn/',
                            CAST(turn_idx AS STRING)) AS turn_iri,
                     tool
              FROM transcripts WHERE tool IS NOT NULL
            ) tool_turns
            GROUP BY conv_id""",
        "canonical_nquads": canonical_oracle,
        "flatten_corpus": f"""{_T_CTE},
            ids AS (
              SELECT DISTINCT conv_id, concat('{_CONV}', conv_id) AS id
              FROM transcripts
              UNION ALL
              SELECT conv_id, concat('{_CONV}', conv_id, '/turn/',
                                     CAST(turn_idx AS STRING))
              FROM transcripts
            )
            SELECT conv_id AS doc_id, CAST(count(*) AS BIGINT) AS n_nodes,
                   md5(string_agg(id, ',' ORDER BY id)) AS ids_md5
            FROM ids GROUP BY conv_id""",
        "compact_corpus": f"""{_T_CTE}
            SELECT conv_id AS doc_id, CAST(count(*) AS BIGINT) AS n_items,
                   md5(string_agg(CAST(turn_idx AS STRING),
                                  ',' ORDER BY turn_idx)) AS idx_md5,
                   md5(string_agg(role, ',' ORDER BY turn_idx)) AS who_md5
            FROM transcripts GROUP BY conv_id""",
        "list_chain_lengths": f"""{_T_CTE}
            SELECT conv_id AS doc_id,
                   concat('_:d', substr(sha256(conv_id), 1, 16), '_b0') AS head,
                   CAST(count(*) AS BIGINT) AS length
            FROM transcripts GROUP BY conv_id""",
        "fromrdf_roundtrip": f"""{_T_CTE}
            SELECT conv_id AS doc_id, CAST(count(*) AS BIGINT) AS n_list_items
            FROM transcripts GROUP BY conv_id""",
        "linked_mentions": f"""{_T_CTE}, {mentions_cte}
            SELECT * FROM linked""",
        # PMI lift replay: three exact BIGINT→DOUBLE casts, one multiply
        # per side, one division — identical IEEE rounding both engines
        "pmi_entity_pairs": f"""{_T_CTE}, {mentions_cte},
            ce AS (SELECT DISTINCT conv_id, entity_iri FROM linked),
            nrow AS (SELECT CAST(count(DISTINCT conv_id) AS BIGINT)
                              AS n_convs FROM ce),
            pairs AS (
              SELECT a.entity_iri AS entity_a, b.entity_iri AS entity_b,
                     CAST(count(*) AS BIGINT) AS c_xy
              FROM ce a JOIN ce b
                ON a.conv_id = b.conv_id AND a.entity_iri < b.entity_iri
              GROUP BY 1, 2 HAVING count(*) >= 1),
            marg AS (SELECT entity_iri, CAST(count(*) AS BIGINT) AS c
                     FROM ce GROUP BY 1)
            SELECT p.entity_a, p.entity_b, p.c_xy, ma.c AS c_x,
                   mb.c AS c_y, n.n_convs,
                   round(CAST(n.n_convs AS DOUBLE) * CAST(p.c_xy AS DOUBLE)
                         / (CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE)),
                         6) AS lift
            FROM pairs p
            JOIN marg ma ON p.entity_a = ma.entity_iri
            JOIN marg mb ON p.entity_b = mb.entity_iri
            CROSS JOIN nrow n""",
        "mention_triples": f"""{_T_CTE}, {mentions_cte}
            SELECT {turn_subj} AS subj, '{_VOCAB}mentions' AS pred,
                   'IRI' AS obj_kind, entity_iri AS obj_value,
                   CAST(NULL AS STRING) AS obj_datatype,
                   CAST(NULL AS STRING) AS obj_language
            FROM linked
            UNION ALL
            SELECT DISTINCT entity_iri, '{_VOCAB}label', 'literal',
                   lower(mention), '{_XSD}string', CAST(NULL AS STRING)
            FROM linked""",
        "entity_mention_counts": f"""{_T_CTE}, {mentions_cte}
            SELECT entity_iri, CAST(count(*) AS BIGINT) AS n_mentions,
                   min(mention_kind) AS mention_kind
            FROM linked GROUP BY entity_iri""",
        # canonical entity dimension — semantically a plain GROUP BY; the
        # operator's (entity, conv) pre-aggregation is physical skew
        # handling only
        "entity_table": f"""{_T_CTE}, {mentions_cte}
            SELECT entity_iri, min(lower(mention)) AS label,
                   min(mention_kind) AS mention_kind,
                   CAST(count(*) AS BIGINT) AS n_mentions,
                   CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
                   max(score) AS score_max
            FROM linked GROUP BY entity_iri""",
        # BGP = the classic SPARQL→SQL self-join mapping; bag semantics on
        # both sides (no DISTINCT — the Spark operator does not dedup either)
        "kg_comention_pairs": f"""{_T_CTE}, {mentions_cte},
            mention_edges AS MATERIALIZED (
              SELECT {turn_subj} AS turn, entity_iri FROM linked),
            labels AS MATERIALIZED (
              SELECT DISTINCT entity_iri, lower(mention) AS label FROM linked)
            SELECT t1.turn, t1.entity_iri AS e1, t2.entity_iri AS e2,
                   l.label AS label1
            FROM mention_edges t1
            JOIN mention_edges t2 ON t2.turn = t1.turn
            JOIN labels l ON l.entity_iri = t1.entity_iri
            WHERE t1.entity_iri < t2.entity_iri""",
        # Bounded BFS as a recursive CTE; MATERIALIZED keeps DuckDB from
        # re-running the mention pipeline on every recursion step.
        "kg_entity_khop": f"""{_T_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
            {mentions_cte},
            edges AS MATERIALIZED (
              SELECT {turn_subj} AS src, entity_iri AS dst FROM linked
              UNION
              SELECT entity_iri, {turn_subj} FROM linked),
            walk(node, hops) AS (
              SELECT DISTINCT entity_iri, 0 FROM linked
              WHERE lower(mention) = 'checkout'
              UNION
              SELECT e.dst, w.hops + 1 FROM walk w
              JOIN edges e ON e.src = w.node WHERE w.hops < 2)
            SELECT node, CAST(min(hops) AS INT) AS hops
            FROM walk GROUP BY node""",
        # owl:sameAs resolution replay: components over the alignment edges
        # via a recursive reach CTE (canonical = min member), then the
        # rewrite joins + distinct exactly as entity_resolution.py
        "sameas_canonical_triples": f"""{_T_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
            {mentions_cte},
            ent AS MATERIALIZED (
              SELECT DISTINCT entity_iri, lower(mention) AS label,
                     mention_kind
              FROM linked),
            sa_edges AS MATERIALIZED (
              SELECT h.entity_iri AS src, u.entity_iri AS dst
              FROM (SELECT regexp_extract(label, '^@user(\\d+)$', 1) AS k,
                           entity_iri FROM ent
                    WHERE mention_kind = 'handle') h
              JOIN (SELECT regexp_extract(label, '/e/(\\d+)$', 1) AS k,
                           entity_iri FROM ent
                    WHERE mention_kind = 'url') u
                ON h.k = u.k AND h.k <> '' AND u.k <> ''),
            und AS (SELECT src AS u, dst AS v FROM sa_edges
                    UNION SELECT dst, src FROM sa_edges),
            reach(a, b) AS (
              SELECT u, v FROM und
              UNION
              SELECT r.a, e.v FROM reach r JOIN und e ON r.b = e.u),
            cmap AS MATERIALIZED (
              SELECT entity, canonical FROM (
                SELECT a AS entity, least(a, min(b)) AS canonical
                FROM reach GROUP BY a)
              WHERE entity <> canonical),
            trip AS (
              SELECT {turn_subj} AS subj, '{_VOCAB}mentions' AS pred,
                     'IRI' AS obj_kind, entity_iri AS obj_value,
                     CAST(NULL AS STRING) AS obj_datatype,
                     CAST(NULL AS STRING) AS obj_language
              FROM linked
              UNION ALL
              SELECT DISTINCT entity_iri, '{_VOCAB}label', 'literal',
                     lower(mention), '{_XSD}string', CAST(NULL AS STRING)
              FROM linked
              UNION ALL
              SELECT src, '{_OWL_SAMEAS}', 'IRI', dst,
                     CAST(NULL AS STRING), CAST(NULL AS STRING)
              FROM sa_edges),
            rew AS (
              SELECT coalesce(ms.canonical, t.subj) AS subj, t.pred,
                     t.obj_kind,
                     CASE WHEN t.obj_kind = 'IRI'
                          THEN coalesce(mo.canonical, t.obj_value)
                          ELSE t.obj_value END AS obj_value,
                     t.obj_datatype, t.obj_language
              FROM trip t
              LEFT JOIN cmap ms ON ms.entity = t.subj
              LEFT JOIN cmap mo
                ON t.obj_kind = 'IRI' AND mo.entity = t.obj_value)
            SELECT DISTINCT * FROM rew
            WHERE NOT (pred = '{_OWL_SAMEAS}' AND obj_kind = 'IRI'
                       AND subj = obj_value)""",
        # RDFS subclass entailment: closure of the constant ontology as a
        # recursive CTE, applied to the per-kind entity type facts; an
        # asserted row wins when a fact is both asserted and inferred.
        "entailed_entity_types": f"""{_T_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
            {mentions_cte},
            onto(sub, sup) AS (VALUES {onto_values}),
            closure(sub, sup) AS (
              SELECT sub, sup FROM onto
              UNION
              SELECT c.sub, o.sup FROM closure c JOIN onto o ON o.sub = c.sup),
            facts AS MATERIALIZED (
              SELECT DISTINCT entity_iri AS instance,
                     concat('{_VOCAB}',
                            upper(mention_kind[1]) || mention_kind[2:]) AS cls
              FROM linked),
            all_rows AS (
              SELECT instance, cls, TRUE AS asserted FROM facts
              UNION ALL
              SELECT f.instance, concat('{_VOCAB}', c.sup), FALSE
              FROM facts f
              JOIN closure c ON concat('{_VOCAB}', c.sub) = f.cls)
            SELECT instance, cls, max(asserted) AS asserted
            FROM all_rows GROUP BY instance, cls""",
        "pipeline_triples": pipeline_oracle,
        "triple_diff_last_turn": diff_oracle,
        "void_predicate_summary": void_oracle,
        # streaming replay must emit EXACTLY the batch result — same oracle
        "streamed_pipeline_triples": pipeline_oracle,
        "transcripts_from_events": (
            f"{_T_CTE} SELECT conv_id, turn_idx, role, text, tool FROM transcripts"
        ),
        "assembly_stats": f"""{_T_CTE}
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   CAST(min(turn_idx) AS INT) AS min_turn,
                   CAST(max(turn_idx) AS INT) AS max_turn,
                   CAST(sum(length(text)) AS BIGINT) AS text_chars,
                   CAST(count(tool) AS BIGINT) AS n_tool_turns
            FROM transcripts GROUP BY conv_id""",
        # OPTIONAL = LEFT JOIN on the shared variable (the SPARQL→SQL
        # mapping for a one-pattern optional block)
        "bgp_optional_tool": f"""{_T_CTE}, base AS (
              SELECT {turn_subj} AS subj, role, tool FROM transcripts
            ),
            role_t AS (SELECT subj AS turn, role FROM base),
            tool_t AS (SELECT subj AS turn, tool FROM base
                       WHERE tool IS NOT NULL)
            SELECT r.turn, r.role, t.tool
            FROM role_t r LEFT JOIN tool_t t ON t.turn = r.turn""",
        "turn_literal_triples": f"""{_T_CTE}, base AS (
              SELECT {turn_subj} AS subj, turn_idx, role, text, tool FROM transcripts
            )
            SELECT subj, '{_RDF}type' AS pred, 'IRI' AS obj_kind,
                   '{_VOCAB}Turn' AS obj_value,
                   CAST(NULL AS STRING) AS obj_datatype, CAST(NULL AS STRING) AS obj_language
            FROM base
            UNION ALL
            SELECT subj, '{_VOCAB}turnIndex', 'literal', CAST(turn_idx AS STRING),
                   '{_XSD}integer', CAST(NULL AS STRING) FROM base
            UNION ALL
            SELECT subj, '{_VOCAB}role', 'literal', role,
                   '{_XSD}string', CAST(NULL AS STRING) FROM base
            UNION ALL
            SELECT subj, '{_VOCAB}text', 'literal', text,
                   '{_XSD}string', CAST(NULL AS STRING) FROM base
            UNION ALL
            SELECT subj, '{_VOCAB}tool', 'literal', tool,
                   '{_XSD}string', CAST(NULL AS STRING) FROM base WHERE tool IS NOT NULL""",
    }
