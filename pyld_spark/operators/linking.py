"""M4 — mention detection + entity-link scoring (the KG-construction axis).

No reference analogue (the reference is a pure JSON-LD processor); required
by BASELINE.json north_star: "batched pandas/Arrow UDFs perform mention
detection and entity-link scoring over turn text/tool fields".

Design:
- **mention detection**: vectorized pandas UDF (``mapInPandas`` +
  ``Series.str.findall`` — Arrow batches, zero per-row Python calls) finds
  @handles, URLs, and tool invocations;
- **entity linking**: deterministic — entity IRI = vocab + md5(normalized
  mention); score = a pure function of the mention — so tests are exact and
  the DuckDB oracle can replay the whole operator in SQL;
- **skew**: mentions are Zipf-ish (one dominant tool, hot @user handles per
  conversation). ``entity_mention_counts`` does an explicit two-phase
  (salted) aggregation so a single hot entity cannot bottleneck one reducer
  at 10^12-turn scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pyld_spark.session import cut_lineage
from pyld_spark.transcripts import VOCAB, turn_iri

HANDLE_RE = r"@[A-Za-z0-9_]+"
URL_RE = r"https?://[^\s]+"

MENTION_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("mention_kind", StringType(), False),
        StructField("mention", StringType(), False),
    ]
)


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, text, tool) → one row per detected mention.

    Arrow-vectorized: each batch does three pandas str ops, no Python loop
    over rows. Narrow (no shuffle). A row with a null ``conv_id`` or
    ``turn_idx`` has no turn IRI for a mention edge to start from (its turn
    is a blank node in the triples, or its doc is quarantined), so it
    yields no mentions."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            base = pdf[["conv_id", "turn_idx"]]
            for kind, pattern in (("handle", HANDLE_RE), ("url", URL_RE)):
                found = pdf["text"].str.findall(pattern)
                n = found.str.len().fillna(0).astype(int)
                rep = base.loc[base.index.repeat(n)].reset_index(drop=True)
                rep["mention_kind"] = kind
                rep["mention"] = [m for lst in found for m in lst]
                frames.append(rep)
            tools = pdf.loc[pdf["tool"].notna(), ["conv_id", "turn_idx", "tool"]]
            tools = tools.rename(columns={"tool": "mention"})
            tools["mention_kind"] = "tool"
            frames.append(tools[["conv_id", "turn_idx", "mention_kind", "mention"]])
            out = pd.concat(frames, ignore_index=True)
            yield out[["conv_id", "turn_idx", "mention_kind", "mention"]]

    keyed = F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
    return transcripts.select("conv_id", "turn_idx", "text", "tool").where(keyed).mapInPandas(
        run, MENTION_SCHEMA
    )


def link_entities(mentions: DataFrame) -> DataFrame:
    """Deterministic entity linking: normalized mention → entity IRI + score.

    Pure column expressions (JVM-side): entity_iri = vocab entity/md5(lower),
    score rises with mention length (longer mentions = higher confidence) —
    reproducible in the SQL oracle."""
    norm = F.lower(F.col("mention"))
    return mentions.select(
        "conv_id",
        "turn_idx",
        "mention_kind",
        "mention",
        F.concat(F.lit(VOCAB), F.lit("entity/"), F.md5(norm)).alias("entity_iri"),
        F.round(F.lit(1.0) - F.lit(1.0) / (F.lit(2.0) + F.length(norm)), 4).alias("score"),
    )


def mention_triples(linked: DataFrame, min_score: float = 0.0) -> DataFrame:
    """Linked mentions → candidate KG triples:
    (turn, conv:mentions, entity) and (entity, conv:label, mention-literal)."""
    t_iri = turn_iri(F.col("conv_id"), F.col("turn_idx"))
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    kept = linked.filter(F.col("score") >= min_score)
    mention_edges = kept.select(
        t_iri.alias("subj"),
        F.lit(VOCAB + "mentions").alias("pred"),
        F.lit("IRI").alias("obj_kind"),
        F.col("entity_iri").alias("obj_value"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_language"),
    )
    labels = kept.select(
        F.col("entity_iri").alias("subj"),
        F.lit(VOCAB + "label").alias("pred"),
        F.lit("literal").alias("obj_kind"),
        F.lower(F.col("mention")).alias("obj_value"),
        F.lit(xsd_string).alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_language"),
    ).distinct()
    return mention_edges.unionByName(labels)


def entity_table(linked: DataFrame) -> DataFrame:
    """Canonical entity dimension table (north_star: "materializes canonical
    entity and triple tables"): one row per entity with a deterministic
    canonical label and corpus-wide stats.

    (entity_iri, label, mention_kind, n_mentions, n_convs, score_max) where
    label = min lowercase surface form (stable across runs and partitions).

    Skew: same physical strategy as :func:`entity_mention_counts` — phase 1
    pre-aggregates per (entity, conv) so the per-conversation fan-in of a hot
    tool entity combines map-side, phase 2 reduces the per-conv partials per
    entity (this also makes n_convs an exact distinct without a separate
    count-distinct shuffle). Result is semantically a plain GROUP BY."""
    per_conv = linked.groupBy("entity_iri", "conv_id").agg(
        F.count("*").alias("_c"),
        F.min(F.lower("mention")).alias("_label"),
        F.min("mention_kind").alias("_k"),
        F.max("score").alias("_s"),
    )
    return per_conv.groupBy("entity_iri").agg(
        F.min("_label").alias("label"),
        F.min("_k").alias("mention_kind"),
        F.sum("_c").cast("bigint").alias("n_mentions"),
        F.count("*").cast("bigint").alias("n_convs"),
        F.max("_s").alias("score_max"),
    )


def entity_mention_counts(linked: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Mentions per entity via explicit two-phase (salted) aggregation.

    Phase 1 shuffles on (entity, salt) so a hot entity spreads over
    ``salt_buckets`` reducers; phase 2 combines the tiny per-salt partials.
    Result identical to a plain groupBy — the skew protection is physical,
    not semantic (oracle: plain GROUP BY count)."""
    salted = linked.withColumn(
        "_salt", F.pmod(F.hash("conv_id", "turn_idx"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("entity_iri", "_salt").agg(
        F.count("*").alias("_c"), F.min("mention_kind").alias("_k")
    )
    return partial.groupBy("entity_iri").agg(
        F.sum("_c").cast("bigint").alias("n_mentions"),
        F.min("_k").alias("mention_kind"),
    )


def pmi_pairs(linked: DataFrame, min_pair_count: int = 2) -> DataFrame:
    """PMI-style association scores for entity pairs co-mentioned in the
    same conversation — emitted as the exact LIFT ratio
    ``N·c_xy / (c_x·c_y)`` rather than its log: log/exp round differently
    across engines (libm vs JVM), the ratio is three exact BIGINT→DOUBLE
    casts, one multiply each side and one division — all correctly-rounded
    IEEE ops, bit-replayable by the DuckDB oracle; and log is monotone, so
    ranking by lift IS ranking by PMI.

    Dataflow: distinct (conv, entity) — one shuffle; marginals c_x are a
    vocabulary-sized aggregate (broadcast); the pair join runs inside each
    conversation (shuffle on conv_id, pair fan-out bounded by per-conv
    entity count, never corpus-quadratic); N crossed in as a 1-row
    broadcast, the same shape tfidf uses for its corpus count.
    ``min_pair_count`` prunes the long random-co-occurrence tail before
    the marginal joins.
    """
    # lazy checkpoint: FOUR consumers read ce (pairs, two marginal joins,
    # N) — without it Catalyst re-derives the upstream mention extraction
    # in every branch (verified in the plan audit: 3 extra MapInPandas
    # subtrees; same hazard semantic_dedup fixed)
    ce = cut_lineage(linked.select("conv_id", "entity_iri").distinct(), eager=False)
    n_rows = ce.select(
        F.countDistinct("conv_id").alias("n_convs")
    )
    a = ce.alias("a")
    b = ce.alias("b")
    pairs = (
        a.join(b, "conv_id")
        .where(F.col("a.entity_iri") < F.col("b.entity_iri"))
        .groupBy(
            F.col("a.entity_iri").alias("entity_a"),
            F.col("b.entity_iri").alias("entity_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= min_pair_count)
    )
    marg = ce.groupBy("entity_iri").agg(F.count(F.lit(1)).alias("c"))
    out = (
        pairs.join(
            F.broadcast(marg.select(F.col("entity_iri").alias("entity_a"),
                                    F.col("c").alias("c_x"))),
            "entity_a",
        )
        .join(
            F.broadcast(marg.select(F.col("entity_iri").alias("entity_b"),
                                    F.col("c").alias("c_y"))),
            "entity_b",
        )
        .crossJoin(F.broadcast(n_rows))
        .select(
            "entity_a", "entity_b", "c_xy", "c_x", "c_y", "n_convs",
            F.round(
                (F.col("n_convs").cast("double") * F.col("c_xy").cast("double"))
                / (F.col("c_x").cast("double") * F.col("c_y").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return out
