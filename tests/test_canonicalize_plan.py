"""Plan-shape regression for the single-partitioning canonicalize.

Commit 6daed7a restructured the c14n stage so the quad table is hash-
partitioned by ``doc_id`` exactly once and every downstream groupBy /
window / join satisfies its distribution from that exchange. Before the
rewrite the plan shuffled the exploded masked-quad rows (the fattest
intermediate in the engine) on ``(doc_id, bnode)`` and re-shuffled fd on
``(doc_id, fd_hash)`` for the ambiguity window. These tests pin the
exchange inventory so a refactor can't silently reintroduce them —
measured cost at the 59M-triple corpus was 112 s -> 44 s on 4 executors.
"""

from __future__ import annotations

import re

import pytest

from pyld_spark.operators.canonicalize import canonicalize_triples
from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
from pyld_spark.transcripts import assemble_documents, synthesize_transcripts

_EXCHANGE = re.compile(r"Exchange hashpartitioning\(([^)]*)\)")


def _shuffle_key_sets(df) -> list[set[str]]:
    """Column-name sets of every shuffle exchange in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = []
    for m in _EXCHANGE.finditer(plan):
        cols = {
            c.strip().split("#")[0]
            for c in m.group(1).split(",")
            if "#" in c  # drop the trailing partition-count argument
        }
        keys.append(cols)
    return keys


@pytest.fixture(scope="module")
def triples_parquet(spark, tmp_path_factory):
    """Quad table round-tripped through parquet — the pipeline's stage
    boundary shape (plans/pipeline.py checkpoints stages the same way)."""
    path = str(tmp_path_factory.mktemp("canon_plan") / "triples")
    docs = assemble_documents(synthesize_transcripts(spark, n_convs=20, turns_per_conv=5))
    triples, _ = split_quarantine(docs_to_triples(docs))
    triples.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_every_shuffle_partitions_by_doc_id_only(triples_parquet):
    key_sets = _shuffle_key_sets(canonicalize_triples(triples_parquet))
    assert key_sets, "expected at least the up-front doc_id repartition"
    for keys in key_sets:
        assert keys == {"doc_id"}, (
            f"canonicalize plan gained a non-doc_id shuffle on {sorted(keys)}; "
            "the single-partitioning design shuffles ONLY on doc_id "
            "(masked-quad explode and fd window must stay exchange-free)"
        )


def test_no_masked_quad_or_fd_hash_exchange(triples_parquet):
    plan = canonicalize_triples(triples_parquet)._jdf.queryExecution().executedPlan().toString()
    for m in _EXCHANGE.finditer(plan):
        assert "bnode" not in m.group(1), "fd aggregation re-shuffles exploded rows"
        assert "fd_hash" not in m.group(1), "ambiguity window re-shuffles fd"


def test_no_fixpoint_without_oversized_docs(triples_parquet):
    """Only the exact per-doc route is planned: no masked-quad explode
    (Generate) and no ranking Window."""
    plan = canonicalize_triples(triples_parquet)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, "masked-quad explode planned without an oversized doc"
    assert "Window" not in plan, "label-ranking window planned without an oversized doc"


def test_exact_route_is_one_slot_wide_exchange_and_no_join(spark, triples_parquet):
    """Without an oversized doc, the quad rows are exchanged once, on
    ``doc_id``, one partition per task slot, and each doc is relabeled
    inside its own ``applyInArrow`` group: no join, no label map."""
    plan = canonicalize_triples(triples_parquet)._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", plan)
    assert len(exchanges) == 1, exchanges
    kind, args = exchanges[0]
    cols, width = args.rsplit(",", 1)
    assert kind == "hashpartitioning" and cols.split("#")[0] == "doc_id", exchanges
    assert int(width) == spark.sparkContext.defaultParallelism, exchanges
    assert "Join" not in plan
    assert "map_from_entries" not in plan
