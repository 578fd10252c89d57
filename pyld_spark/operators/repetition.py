"""Gopher-style repetition quality signals over ``documents``.

Rae et al., "Scaling Language Models: Methods, Analysis & Insights from
Training Gopher" (arXiv:2112.11446, table A1) filter training documents by
*internal repetition*: the fraction of duplicate lines/paragraphs, the
character share of the most-covering word n-gram (n = 2..4), and the
character share of duplicated word n-grams (n = 5..10). This module
computes all of those per document as plain DataFrame algebra — exploded
lines/paragraphs/n-grams, counted with ONE shuffle keyed on the
high-cardinality ``(doc_id, token)`` pair (map-side combine absorbs
within-partition repeats, so a pathologically self-repetitive document
costs its distinct-token count, not its length, at the reducer), then one
per-doc aggregation on ``doc_id``. Zero Python rows anywhere; every
expression is shared Spark-SQL / DuckDB syntax so the gate oracle replays
the exact semantics.

Documented deviations from the paper (chosen for determinism and
SQL-replayability, both standard in open reproductions):

- *duplicate fraction*: occurrences beyond the first of each repeated
  line/paragraph, over all occurrences — ``sum(cnt-1)/sum(cnt)``;
- *top n-gram char fraction*: ``max(cnt·len(gram))/len(text)`` — the
  maximal *coverage* n-gram rather than "most frequent, ties unspecified"
  (identical unless counts tie);
- *duplicate n-gram char fraction*: overlaps counted per occurrence
  (``sum(cnt·len(gram)) over cnt>1 / len(text)``), not the exact
  character-union of the paper's appendix.

No reference analogue (digitalbazaar/pyld is a JSON-LD processor); this is
part of the builder's-brief training-data extras.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyld_spark.session import cut_lineage

#: word-n-gram sizes scored as "top coverage" (paper: fraction of chars in
#: the most frequent n-gram) and as "duplicate share" (chars in n-grams
#: occurring more than once).
TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)

#: Gopher table A1 thresholds; a document exceeding ANY is flagged.
THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}

_ROUND = 6  # all fractions rounded for stable cross-engine comparison


def _unit_stats(units: DataFrame, id_col: str, out_prefix: str) -> DataFrame:
    """(id, unit) exploded rows → per-doc duplicate-occurrence fractions."""
    counts = units.groupBy(id_col, "unit").agg(F.count("*").alias("cnt"))
    ln = F.length("unit")
    return counts.groupBy(id_col).agg(
        F.round(
            F.sum(F.col("cnt") - 1) / F.sum("cnt"), _ROUND
        ).alias(f"dup_{out_prefix}_frac"),
        F.round(
            F.sum(ln * (F.col("cnt") - 1)) / F.sum(ln * F.col("cnt")), _ROUND
        ).alias(f"dup_{out_prefix}_char_frac"),
    )


def repetition_stats(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals + the Gopher pass/fail flag.

    Output: one row per input document —
    ``(doc_id, dup_line_frac, dup_line_char_frac, dup_para_frac,
    dup_para_char_frac, top_{2,3,4}gram_char_frac,
    dup_{5..10}gram_char_frac, repetition_flag)``.

    Empty/degenerate documents (no lines, fewer words than n) score 0.0 on
    the affected signals rather than null.
    """
    d = documents.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t")
    )
    base = d.select(
        "doc_id",
        F.length("_t").alias("n_chars"),
        F.expr(r"filter(split(_t, '\n'), x -> length(x) > 0)").alias("lines"),
        F.expr(r"filter(split(_t, '\n{2,}'), x -> length(x) > 0)").alias("paras"),
        F.expr(r"filter(split(lower(_t), '\\s+'), x -> x <> '')").alias("words"),
    )
    # four consumers (line stats, para stats, the 9-way gram explode, and the
    # final doc spine) would each re-scan the input and re-evaluate the three
    # interpreted split/filter arrays; the lazy checkpoint computes them once
    base = cut_lineage(base, eager=False)

    line_stats = _unit_stats(
        base.select("doc_id", F.explode("lines").alias("unit")), "doc_id", "line"
    )
    para_stats = _unit_stats(
        base.select("doc_id", F.explode("paras").alias("unit")), "doc_id", "para"
    )

    # one exploded (doc_id, n, gram) relation for every n at once: a single
    # shuffle on (doc_id, n, gram) then a per-(doc, n) reduce
    gram_arrays = []
    for n in (*TOP_NS, *DUP_NS):
        gram_arrays.append(
            f"CASE WHEN size(words) >= {n} THEN "
            f"transform(sequence(1, size(words) - {n} + 1), "
            f"i -> named_struct('n', {n}, 'gram', array_join(slice(words, i, {n}), ' '))) "
            f"ELSE array() END"
        )
    grams = base.select(
        "doc_id",
        "n_chars",
        F.explode(F.expr("concat(" + ", ".join(gram_arrays) + ")")).alias("g"),
    ).select("doc_id", "n_chars", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    gram_counts = grams.groupBy("doc_id", "n_chars", "n", "gram").agg(
        F.count("*").alias("cnt")
    )
    cover = F.col("cnt") * F.length("gram")
    per_n = gram_counts.groupBy("doc_id", "n_chars", "n").agg(
        F.max(cover).alias("top_cover"),
        F.sum(F.when(F.col("cnt") > 1, cover).otherwise(F.lit(0))).alias("dup_cover"),
    )
    gram_aggs = []
    for n in TOP_NS:
        gram_aggs.append(
            F.round(
                F.max(F.when(F.col("n") == n, F.col("top_cover"))) / F.first("n_chars"),
                _ROUND,
            ).alias(f"top_{n}gram_char_frac")
        )
    for n in DUP_NS:
        gram_aggs.append(
            F.round(
                F.max(F.when(F.col("n") == n, F.col("dup_cover"))) / F.first("n_chars"),
                _ROUND,
            ).alias(f"dup_{n}gram_char_frac")
        )
    gram_stats = per_n.groupBy("doc_id").agg(*gram_aggs)

    out = (
        base.select("doc_id")
        .join(line_stats, "doc_id", "left")
        .join(para_stats, "doc_id", "left")
        .join(gram_stats, "doc_id", "left")
    )
    metric_cols = [c for c in out.columns if c != "doc_id"]
    out = out.select(
        "doc_id",
        *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in metric_cols],
    )
    flag = None
    for col, thr in THRESHOLDS.items():
        cond = F.col(col) > thr
        flag = cond if flag is None else (flag | cond)
    return out.withColumn("repetition_flag", flag)
