"""Transcript corpus: deterministic synthesis + window-ordered assembly.

The engine's primary input (BASELINE.json ``input_hint``) is a table of
multi-turn agent transcripts::

    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

No such table ships in /root/testdata, so we synthesize it **deterministically**
two ways:

1. :func:`transcripts_from_events` — derived from the driver-generated
   ``events`` parquet via a transformation that is also expressible in ANSI SQL
   (``TRANSCRIPTS_FROM_EVENTS_SQL``), so the DuckDB oracle can verify every
   transcript-shaped query bit-for-bit.
2. :func:`synthesize_transcripts` — a pure ``spark.range``-based generator
   (hash-derived content, zero RNG state, no data movement) that scales to any
   size for benchmarks and exercises conv_id skew (a few hot conversations).

Assembly (reference analogue: one JSON-LD document per conversation;
/root/reference/lib/pyld/jsonld.py:577-670 consumes one in-memory dict — here
the document must first be *built* from rows) is 100% JVM-side:
``groupBy(conv_id)`` + ``sort_array(collect_list(struct(turn_idx, ...)))`` +
``to_json`` — no Python in the hot path.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
VOCAB = "https://pyld-spark.example/vocab#"
CONV_BASE = "https://pyld-spark.example/conv/"

#: Column-metadata key/value with which :func:`assemble_documents` marks its
#: output docs as having the fixed transcript shape (see the tag site below).
DOC_SHAPE_META_KEY = "pyld_spark.doc_shape"
TRANSCRIPT_SHAPE_V1 = "transcript-v1"

#: The fixed transcript ontology context. Turn order is load-bearing, hence
#: ``@container: @list`` (emits rdf:first/rest/nil cons-cell blank nodes —
#: the pipeline's main source of bnodes for canonicalization).
TRANSCRIPT_CONTEXT: dict = {
    "@vocab": VOCAB,
    "conv": VOCAB,
    "turns": {"@id": VOCAB + "turns", "@container": "@list"},
    "turnIndex": {"@id": VOCAB + "turnIndex", "@type": XSD + "integer"},
    "ts": {"@id": VOCAB + "ts", "@type": XSD + "dateTime"},
}

#: Shared Spark-SQL/DuckDB text deriving transcripts from the ``events`` view.
#: Keep this ANSI-portable: CAST(.. AS STRING), concat(), CASE, row_number().
TRANSCRIPTS_FROM_EVENTS_SQL = """
SELECT
  concat('conv-', CAST(user_id AS STRING)) AS conv_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
  CASE event_type
    WHEN 'signup' THEN 'system'
    WHEN 'click' THEN 'user'
    WHEN 'view' THEN 'user'
    WHEN 'purchase' THEN 'assistant'
    ELSE 'tool' END AS role,
  concat(event_type, ' value=', CAST(value AS STRING), ' props=', props,
         ' @user', CAST(user_id AS STRING),
         ' https://ex.org/e/', CAST(event_id AS STRING)) AS text,
  CASE WHEN event_type = 'error' THEN 'debugger'
       WHEN event_type = 'purchase' THEN 'checkout'
       ELSE CAST(NULL AS STRING) END AS tool,
  ts
FROM events
"""


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcripts derived from the events table (DataFrame API).

    Semantics identical to ``TRANSCRIPTS_FROM_EVENTS_SQL`` (verified by the
    DuckDB oracle). The window shuffles once on user_id; at 100 TB the same
    plan holds because events would be bucketed by user_id at write time.
    """
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    # Partition the window by the conv_id EXPRESSION (not user_id): the
    # mapping user_id → 'conv-' || user_id is injective, so the partitions —
    # and every row_number — are identical, but Spark's alias-aware output
    # partitioning then reports the result as hash-partitioned by conv_id.
    # Downstream conv_id-keyed consumers (assemble_documents' groupBy, the
    # sessionize/rollup windows) satisfy their distribution straight off this
    # exchange instead of re-shuffling the full turn payload a second time
    # (optimization guide §2.4: two operations keyed the same way share one
    # exchange). Verified by plans/r06/assemble_after.txt: 2 Exchange → 1.
    # conv_id must be a concrete attribute BEFORE the window: partitioning on
    # the raw concat() expression makes the planner extract it into a hidden
    # `_w0` projection whose partitioning no later alias can claim.
    ev = ev.withColumn("conv_id", F.concat(F.lit("conv-"), F.col("user_id").cast("string")))
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    # Two-stage shape: the window stage ships only the RAW event columns
    # through its exchange and the derived role/text/tool projections run in a
    # separate Project ABOVE the window. Folding them into one select puts the
    # string-building in the pre-shuffle scan stage, whose parallelism is
    # capped by the input file's row-group count (4 tasks at sf1.0) — the
    # post-window stage runs at full shuffle width, and the exchange carries
    # event_type/value/props instead of the fatter concatenated text
    # (optimization guide §2.3: shuffle fewer bytes; §2.5: input-parallelism
    # skew fixed after the read). Expressions are unchanged, so results are
    # identical (DuckDB oracle: 68/68).
    staged = ev.select(
        "conv_id", "event_type", "value", "props", "user_id", "event_id", "ts",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
    )
    return staged.select(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.when(F.col("event_type") == "signup", F.lit("system"))
        .when(F.col("event_type").isin("click", "view"), F.lit("user"))
        .when(F.col("event_type") == "purchase", F.lit("assistant"))
        .otherwise(F.lit("tool"))
        .alias("role"),
        F.concat(
            F.col("event_type"), F.lit(" value="), F.col("value").cast("string"),
            F.lit(" props="), F.col("props"),
            F.lit(" @user"), F.col("user_id").cast("string"),
            F.lit(" https://ex.org/e/"), F.col("event_id").cast("string"),
        ).alias("text"),
        F.when(F.col("event_type") == "error", F.lit("debugger"))
        .when(F.col("event_type") == "purchase", F.lit("checkout"))
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        F.col("ts"),
    )


def synthesize_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    turns_per_conv: int = 20,
    hot_convs: int = 2,
    hot_turns: int = 2000,
) -> DataFrame:
    """Seedless deterministic transcript generator at arbitrary scale.

    Built on ``spark.range`` (embarrassingly parallel, no shuffle): every
    column is a pure hash/arithmetic function of the row id, so the output is
    byte-stable across runs, partition counts, and cluster sizes. ``hot_convs``
    conversations get ``hot_turns`` turns each to exercise skew handling
    (salting / AQE skew-join) — mirroring real agent-transcript corpora where
    a few conversations are enormous.
    """
    base = n_convs * turns_per_conv
    total = base + hot_convs * hot_turns
    df = spark.range(0, total, 1)
    conv_no = F.when(
        F.col("id") < base, (F.col("id") / turns_per_conv).cast("long")
    ).otherwise(n_convs + ((F.col("id") - base) / hot_turns).cast("long"))
    turn_idx = F.when(F.col("id") < base, F.col("id") % turns_per_conv).otherwise(
        (F.col("id") - base) % hot_turns
    )
    h = F.abs(F.xxhash64(F.col("id")))
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
        (h % 4 + 1).cast("int"),
    )
    tool = F.when(h % 7 == 0, F.lit("search")).when(h % 7 == 1, F.lit("python")).otherwise(
        F.lit(None).cast("string")
    )
    # text embeds escapable chars, entity-like mentions, and the turn key so
    # the per-turn text-equality invariant is meaningful.
    text = F.concat(
        F.lit("turn "), turn_idx.cast("string"),
        F.lit(' says "hello"\t@agent'), (h % 50).cast("string"),
        F.lit(" visit https://ex.org/p/"), (h % 97).cast("string"),
        F.when(h % 11 == 0, F.lit(" \\slash\nnewline")).otherwise(F.lit("")),
        F.when(h % 13 == 0, F.lit(" caf\u00e9 \u4f60\u597d")).otherwise(F.lit("")),
    )
    ts = F.timestamp_seconds(F.lit(1704067200) + conv_no * 3600 + turn_idx * 7 + (h % 3))
    return df.select(
        F.concat(F.lit("conv-"), conv_no.cast("string")).alias("conv_id"),
        turn_idx.cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
    )


def write_bucketed_transcripts(
    df: DataFrame,
    spark: SparkSession,
    path: str,
    table: str = "transcripts_bucketed",
    buckets: int = 64,
) -> DataFrame:
    """Materialize transcripts bucketed+sorted by conv_id and return the
    bucketed table.

    This is the production layout (the 10^12-turn Iceberg table would be
    bucketed by conv key at write time): ``groupBy(conv_id)`` on the
    returned table satisfies its clustering from the scan, so document
    assembly runs with **no exchange** — the only shuffle on the compiled
    doc→triples path of tagged transcript docs disappears.
    """
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .option("path", path)
        .saveAsTable(table)
    )
    return spark.table(table)


def conv_iri(conv_id_col):
    return F.concat(F.lit(CONV_BASE), conv_id_col)


def turn_iri(conv_id_col, turn_idx_col):
    return F.concat(F.lit(CONV_BASE), conv_id_col, F.lit("/turn/"), turn_idx_col.cast("string"))


def assemble_documents(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn rows) → one JSON-LD document string per conversation.

    Entirely JVM-side (window-free single shuffle on conv_id):
    ``sort_array(collect_list(struct(turn_idx, ...)))`` gives stable turn
    ordering (struct comparison is lexicographic on fields, turn_idx first —
    never partition order), then ``to_json`` builds each turn node and a
    constant-folded concat wraps the ``@context`` / ``@list`` envelope.

    Returns ``(conv_id string, doc string)``.
    """
    ctx_prefix = (
        '{"@context":' + json.dumps(TRANSCRIPT_CONTEXT, sort_keys=True) + ',"@id":"'
    )
    turns = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("turn_idx").alias("turnIndex"),
                F.col("role").alias("role"),
                F.col("text").alias("text"),
                F.col("tool").alias("tool"),
                F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts"),
                F.col("turn_iri").alias("@id"),
            )
        )
    )
    with_iri = transcripts.withColumn("turn_iri", turn_iri(F.col("conv_id"), F.col("turn_idx")))
    agg = with_iri.groupBy("conv_id").agg(turns.alias("turns"))
    turn_json = F.transform(
        F.col("turns"),
        lambda t: F.to_json(
            F.struct(
                t["@id"].alias("@id"),
                F.lit("Turn").alias("@type"),
                t["turnIndex"].alias("turnIndex"),
                t["role"].alias("role"),
                t["text"].alias("text"),
                t["tool"].alias("tool"),
                t["ts"].alias("ts"),
            )
        ),
    )
    doc = F.concat(
        F.lit(ctx_prefix),
        conv_iri(F.col("conv_id")),
        F.lit('","@type":"Conversation","turns":{"@list":['),
        F.array_join(turn_json, ","),
        F.lit("]}}"),
    )
    # Column metadata declares the document shape this builder GUARANTEES by
    # construction: fixed TRANSCRIPT_CONTEXT, root node {@id: absolute IRI,
    # @type: "Conversation", turns: {@list: [turn nodes]}}, each turn a flat
    # node of literal-valued terms. Consumers that know how to compile this
    # shape to relational operators (docs_to_triples) key off the tag; the
    # tag travels with the column through select/limit/repartition/cache.
    return agg.select(
        "conv_id", doc.alias("doc", metadata={DOC_SHAPE_META_KEY: TRANSCRIPT_SHAPE_V1})
    )
