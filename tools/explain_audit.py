"""Dump formatted physical plans for the engine's key operators into
BENCH/PLANS.md — the ".explain and iterate" audit trail.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyld_spark.operators.canonicalize import canonicalize_documents, canonicalize_triples
    from pyld_spark.operators.dedup import ngram_jaccard_pairs
    from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
    from pyld_spark.operators.linking import entity_mention_counts, extract_mentions, link_entities
    from pyld_spark.operators.similarity import quantized_dot_topk
    from pyld_spark.operators.triples import turn_literal_triples
    from pyld_spark.session import ensure_workers_can_import, get_spark
    from pyld_spark.transcripts import assemble_documents, transcripts_from_events
    from pyspark.sql import functions as F

    spark = get_spark("explain_audit", cpus=4)
    ensure_workers_can_import(spark)
    spark.sparkContext.setLogLevel("ERROR")

    t = transcripts_from_events(spark, sf_dir)
    docs = assemble_documents(t)
    triples, _ = split_quarantine(docs_to_triples(docs))
    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    from pyld_spark.operators.frame_stage import RDF_TYPE, frame_subject_filter
    from pyld_spark.transcripts import (
        synthesize_transcripts, write_bucketed_transcripts,
    )

    bucketed = write_bucketed_transcripts(
        synthesize_transcripts(spark, n_convs=50, turns_per_conv=5, hot_convs=0),
        spark, "/tmp/explain_audit_bucketed", buckets=8,
    )
    bucketed_docs = assemble_documents(bucketed)

    plans = {
        "turn_literal_triples (narrow projection — expect zero exchanges)":
            turn_literal_triples(t),
        "assembly (one exchange on conv_id; hash aggregate)": docs,
        "assembly over bucketed transcripts (ZERO exchanges — production layout)":
            bucketed_docs,
        "docs_to_triples (assembly + one MapInArrow, no extra exchange)":
            triples,
        "canonicalize_triples (one doc_id exchange, one task per slot; per-doc "
        "URDNA2015 in map_doc_groups relabels its own rows — no join, no probe job)":
            canonicalize_triples(triples),
        "canonicalize_documents over bucketed tagged transcript docs (in-row "
        "fd hashes, ranks and labels — ZERO exchanges, no Python node)":
            canonicalize_documents(
                bucketed_docs, split_quarantine(docs_to_triples(bucketed_docs))[0]
            ),
        "entity_mention_counts (two-phase salted aggregation)":
            entity_mention_counts(link_entities(extract_mentions(t))),
        "ngram_jaccard_pairs (inverted-index join)":
            ngram_jaccard_pairs(documents, threshold=0.2),
        "quantized_dot_topk (broadcast query side + partition-local bounded "
        "top-k [WindowGroupLimit Partial, O(k) state, JVM-side] before the "
        "per-query exchange; no full-candidate per-query window)":
            quantized_dot_topk(embs, queries),
        "frame_subject_filter @type frame (filtered scan seed — no "
        "full-corpus distinct, no semi-join; requireAll=False @type is "
        "decisive per reference early-return)":
            frame_subject_filter(
                triples, [{"@type": ["https://pyld-spark.example/vocab#Conversation"]}]
            ),
        "frame_subject_filter @type+property requireAll=True (type scan "
        "seed ∩ property presence semi-join)":
            frame_subject_filter(
                triples,
                [{"@type": ["https://pyld-spark.example/vocab#Turn"],
                  "https://pyld-spark.example/vocab#tool": [{}]}],
                {"requireAll": True},
            ),
        "parquet scan pushdown (filter+projection reach the scan)":
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .filter(F.col("event_type") == "error")
            .select("event_id", "user_id"),
    }

    # each hash-basis twin of the dedup/ANN layer, side by side: the two
    # members of a pair run one shared dataflow and differ only in the
    # basis expressions (pyld_spark/operators/vectors.py)
    from pyld_spark.operators import dedup, similarity

    plans.update({
        "minhash_dedup_pairs, xxhash64 basis (checkpointed signatures; LSH "
        "band bucket join; agreement count over both signature joins)":
            dedup.minhash_dedup_pairs(documents, threshold=0.2),
        "minhash_dedup_pairs_md5, md5 basis (the same dataflow; md5 band "
        "hash; integer n_agree)":
            dedup.minhash_dedup_pairs_md5(documents, threshold=0.2),
        "simhash_near_pairs, xxhash64 long signature (checkpointed "
        "signatures; pigeonhole block join, both sides co-partitioned on "
        "(block_idx, block_val); xor+bit_count filter before the distinct)":
            dedup.simhash_near_pairs(dedup.simhash_signatures(documents)),
        "simhash_near_pairs_md5, md5 bit string packed into one long (the "
        "same dataflow)":
            dedup.simhash_near_pairs_md5(
                dedup.simhash_signatures_md5(documents), max_hamming=16),
        "brute_force_topk, double basis (broadcast query cross join; norms "
        "once per vector; two-phase top-k)":
            similarity.brute_force_topk(embs, queries),
        "fixedpoint_cosine_topk, fixed-point basis (the same dataflow; "
        "exact long dot and squared norms)":
            similarity.fixedpoint_cosine_topk(embs, queries),
        "lsh_bucketed_topk, xxhash64 hyperplanes (broadcast query bucket "
        "join; norms once per vector; two-phase top-k)":
            similarity.lsh_bucketed_topk(embs, queries, dim=64),
        "lsh_bucketed_topk_fixedpoint, md5 hyperplanes (the same dataflow)":
            similarity.lsh_bucketed_topk_fixedpoint(embs, queries, dim=64),
        "ivf_topk_quantized (broadcast-centroid argmax cell assignment, "
        "shared with semantic_dedup; probe-cell join; two-phase top-k)":
            similarity.ivf_topk_quantized(embs, queries),
        "semantic_dedup (the same cell assignment; one cell_id exchange "
        "for the rank window and the in-cell pair join)":
            dedup.semantic_dedup(embs, nlist=16, threshold_q6=250000),
        "embedding_cosine_pairs (md5-hyperplane bucket join, never "
        "all-pairs; norms once per vector)":
            dedup.embedding_cosine_pairs(embs, dim=64, threshold_q6=250000, n_planes=4),
    })

    from pyld_spark.operators.graph_stats import (
        comention_edges, pagerank_fixed_point,
    )
    from pyld_spark.operators.kg_query import bgp_match
    from pyld_spark.operators.linking import entity_table, mention_triples
    from pyld_spark.operators.sampling import hash_split
    from pyld_spark.operators.textprep import ngram_decontaminate

    linked = link_entities(extract_mentions(t))
    mtrips = mention_triples(linked)
    splits = hash_split(documents, "doc_id",
                        {"train": 0.9, "val": 0.05, "test": 0.05})
    plans.update({
        "entity_table (per-(entity,conv) pre-agg → per-entity reduce; "
        "exact n_convs with no separate count-distinct shuffle)":
            entity_table(linked),
        "bgp_match 3 patterns + OPTIONAL (pushdown-filtered pattern scans, "
        "equi-joins on shared vars, left join for the optional block)":
            bgp_match(
                mtrips,
                [("?turn", "https://pyld-spark.example/vocab#mentions", "?e1"),
                 ("?turn", "https://pyld-spark.example/vocab#mentions", "?e2")],
                filters=("e1 < e2",),
                optional=[("?e1", "https://pyld-spark.example/vocab#label",
                           "?lab")],
            ),
        "pagerank one iteration (hash join ranks⋈edges + map-side-combined "
        "sum; lineage truncated per iteration at runtime)":
            pagerank_fixed_point(
                mtrips.where(F.col("obj_kind") == "IRI")
                .select(F.col("subj").alias("src"),
                        F.col("obj_value").alias("dst")),
                iters=1,
            ),
        "hash_split (pure row-local projection — expect zero exchanges)":
            splits.select("doc_id", "split"),
        "ngram_decontaminate (distinct test grams [small] joined to "
        "train explode; per-doc count with partial aggregation)":
            ngram_decontaminate(
                splits.where(F.col("split") == "train"),
                splits.where(F.col("split") == "test"), n=3,
            ),
    })

    from pyld_spark.operators.curation import curate_documents
    from pyld_spark.operators.kg_query import khop_neighborhood

    plans.update({
        "curate_documents round-5 composition (per-row stages folded into "
        "ONE projection; duplicate flag = window-min over content_hash — "
        "the single full-corpus exchange; contamination-sized broadcast "
        "left join; pinned in test_curation.py)":
            curate_documents(documents),
        "khop_neighborhood k=2 (edges partitioned+sorted on src ONCE then "
        "localCheckpointed — per-round joins exchange/sort only the "
        "frontier side; pinned in test_kg_query.py)":
            khop_neighborhood(
                mtrips,
                spark.createDataFrame(
                    [("https://pyld-spark.example/entity/tool/search",)],
                    ["node"],
                ),
                k=2,
            ),
    })

    from pyld_spark.operators.dedup import duplicate_spans
    from pyld_spark.operators.entity_resolution import (
        canonical_entity_map, rewrite_triples, sameas_edges,
    )
    from pyld_spark.operators.inference import entailed_types
    from pyld_spark.operators.repetition import repetition_stats

    sameas_map = canonical_entity_map(
        spark.createDataFrame([("e:b", "e:a")], "src string, dst string")
    )
    onto = spark.createDataFrame(
        [("User", "Agent"), ("Agent", "Thing")], "sub string, sup string"
    )
    # cls must be a real column (a constant literal would constant-fold the
    # join key and show an unrepresentative nested-loop plan)
    facts = linked.select(
        F.col("entity_iri").alias("instance"),
        F.initcap("mention_kind").alias("cls"),
    )
    plans.update({
        "entailed_types (driver-small closure fixpoint + ONE broadcast "
        "map-side join of the corpus-sized fact table; single keyed "
        "aggregation on the high-cardinality instance column)":
            entailed_types(facts, onto),
        "rewrite_triples / sameAs merge (two broadcast left joins on "
        "subj/obj + one distinct; quad table scanned once)":
            rewrite_triples(mtrips, sameas_map),
        "repetition_stats (one (doc,n,gram) shuffle w/ map-side combine, "
        "one per-doc reduce, three left joins on doc_id)":
            repetition_stats(documents),
        "duplicate_spans (md5-shingle count agg + left-semi route-back + "
        "per-doc window island merge — linear, no all-pairs)":
            duplicate_spans(documents, k=10),
    })
    _ = sameas_edges  # plan shape identical to a filtered projection
    _ = RDF_TYPE  # imported for documentation of the filter constant

    from pyld_spark.operators.intervals import interval_join
    from pyld_spark.operators.keywords import bm25_scores, tfidf_top_terms
    from pyld_spark.operators.rollup import time_rollup
    from pyld_spark.operators.sessions import session_stats
    from pyld_spark.operators.sketches import kmv_distinct
    from pyld_spark.operators.temporal import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value")
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value")
    plans.update({
        "asof_join (union + ONE window exchange, zero Join nodes — the "
        "range-join encoding would be a per-key nested loop)":
            asof_join(purchases, errors, by=("user_id",),
                      tie_col="event_id", tolerance_seconds=3600.0),
        "interval_join (bin-exploded intervals, shuffled hash EQUI-join "
        "on (key, bin) + exact range post-filter; no "
        "BroadcastNestedLoopJoin)":
            interval_join(purchases, session_stats(errors),
                          bin_seconds=1800, interval_cols=("session_seq",)),
        "time_rollup (raw scan ONCE into the checkpointed finest grain; "
        "coarser grains re-aggregate bucket-sized inputs)":
            time_rollup(events, grains=("minute", "hour", "day")),
        "kmv_distinct (map-side-combined (key,hash) agg → WindowGroupLimit "
        "k-smallest cut → k-row aggregate)":
            kmv_distinct(events, "user_id", by=("event_type",), k=64),
        "tfidf_top_terms (one corpus shuffle for (doc,term) counts; "
        "vocab-sized idf broadcast; doclen+rank share ONE doc exchange "
        "with a WindowGroupLimit top-k cut)":
            tfidf_top_terms(documents, k=5),
        "bm25_scores (query terms are a plan literal pushed below the "
        "postings shuffle; doclen is a pure scan projection; avgdl/N are "
        "1-row broadcast scalars)":
            bm25_scores(documents, ["the", "spark"]),
    })

    from pyld_spark.operators.quantiles import exact_quantiles

    plans.update({
        "exact_quantiles (two-pass binned selection: one (group,bin) "
        "count agg + broadcast target-bin semi-join + bounded per-bin "
        "window — NO global sort, no sketch)":
            exact_quantiles(documents, "n_chars", by=("lang",), n_bins=64),
    })

    from pyld_spark.operators.sampling import cap_per_group, priority_sample

    plans.update({
        "priority_sample (one exchange shared by rank + tau windows; "
        "rank cut compiles to WindowGroupLimit k+1 map-side; no Python)":
            priority_sample(documents, "doc_id", "n_chars", k=20,
                            by=("lang",)),
        "cap_per_group (domain cap: one exchange, WindowGroupLimit "
        "map-side cut, no Python)":
            cap_per_group(documents, "doc_id", ("lang", "source"), k=5),
    })

    from pyld_spark.operators.linking import pmi_pairs

    linked = link_entities(extract_mentions(t))
    plans.update({
        "pmi_pairs (distinct shuffle + per-conv pair join + broadcast "
        "marginals + 1-row broadcast N; exact lift ratio, no log)":
            pmi_pairs(linked, min_pair_count=1),
    })

    from pyld_spark.operators.communities import label_propagation
    from pyld_spark.operators.walks import random_walks

    edges = comention_edges(linked)
    plans.update({
        "label_propagation one iteration (labels⋈edges hash join + "
        "two-key map-side-combined count + min-struct per-node reduce; "
        "lineage truncated per iteration at runtime — shown untruncated)":
            label_propagation(edges, iters=1, truncate_lineage=False),
        "random_walks one step (per-src row_number rank [partitioned "
        "window, never global]; state⋈deg keyed join computes the choice "
        "with NO fan-out; (src,idx) two-column equi-join lands on ONE row "
        "per walk — shown untruncated)":
            random_walks(edges, length=2, truncate_lineage=False),
    })

    out = ["# Physical plans (explain formatted)\n",
           f"Generated by tools/explain_audit.py on {sf_dir}.\n"]
    for title, df in plans.items():
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {title}\n\n```\n{buf.getvalue().strip()}\n```\n")
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
