"""Incremental (delta) ingest: appending a new batch of conversations must
produce tables IDENTICAL to a full recompute over the grown corpus, and
re-running the same delta must be a no-op (exactly-once per conversation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyld_spark.operators.canonicalize import canonicalize_triples
from pyld_spark.operators.expand_stage import split_quarantine
from pyld_spark.plans.pipeline import Pipeline
from pyld_spark.transcripts import transcripts_from_events

STAGES = ["assemble", "link", "triples", "canonicalize", "entities", "materialize"]


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_equals_full_recompute(spark, sf_dir, tmp_path, odd_convs):
    # a-dup sorts into the initial half and zz-anon into the delta, so both
    # the full run and the delta take the general-canonicalization route
    t = transcripts_from_events(spark, sf_dir).select(*odd_convs.columns).unionByName(odd_convs)
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    assert "a-dup" in half and "zz-anon" not in half
    t_old = t.where(F.col("conv_id").isin(half))

    # 1) initial corpus → full run
    inc_wd = str(tmp_path / "inc")
    p = Pipeline(spark, inc_wd, run_id="base")
    out_old = p.run(t_old)
    rows_old = {s: out_old[s].count() for s in STAGES}

    # 2) corpus grows → incremental run over the FULL input
    p2 = Pipeline(spark, inc_wd, run_id="delta")
    out_inc = p2.run_incremental(t)

    # 3) ground truth: full recompute in a fresh workdir
    full_wd = str(tmp_path / "full")
    out_full = Pipeline(spark, full_wd, run_id="full").run(t)

    for stage in STAGES:
        assert _sorted_rows(out_inc[stage]) == _sorted_rows(out_full[stage]), stage
    assert _sorted_rows(out_inc["canonicalize"]) == _sorted_rows(
        split_quarantine(canonicalize_triples(out_inc["triples"]))[0])

    # 4) idempotency: same input again appends nothing anywhere
    before = {s: out_inc[s].count() for s in STAGES}
    out_again = Pipeline(spark, inc_wd, run_id="again").run_incremental(t)
    after = {s: out_again[s].count() for s in STAGES}
    assert before == after

    # delta lineage rows recorded for the appended stages
    delta_rows = {
        r.stage for r in p2.lineage().collect() if r.run_id == "delta"
    }
    assert "assemble+delta" in delta_rows and "triples+delta" in delta_rows

    # a +delta row counts the rows its stage appended, not the new ids
    delta = {r.stage: r for r in p2.lineage().collect() if r.run_id == "delta"}
    for stage in ("assemble", "link", "triples", "canonicalize", "materialize"):
        appended = before[stage] - rows_old[stage]
        assert delta[stage + "+delta"].rows_out == appended, stage
        assert delta[stage + "+delta"].error_rows == 0, stage
    assert delta["triples+delta"].rows_out > len(convs) - len(half)
    # entities is rewritten whole, so its row counts the whole table
    assert delta["entities+delta"].rows_out == before["entities"] > 0
    assert delta["entities+delta"].error_rows == 0


def test_incremental_on_empty_workdir_is_full_run(spark, sf_dir, tmp_path):
    t = transcripts_from_events(spark, sf_dir)
    wd = str(tmp_path / "fresh")
    out = Pipeline(spark, wd, run_id="r1").run_incremental(t)
    assert out["materialize"].count() > 0
    assert out["entities"].count() > 0


def test_incremental_random_batches_equal_full(spark, tmp_path):
    """Fuzz the delta path: ingest a synthetic corpus in 3 randomly-sized
    batches (including overlapping re-delivery of old conversations) and
    assert the final tables equal a one-shot full run."""
    import random

    from pyld_spark.transcripts import synthesize_transcripts

    rng = random.Random(20260817)
    t = synthesize_transcripts(spark, n_convs=30, turns_per_conv=5,
                               hot_convs=1, hot_turns=40)
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    rng.shuffle(convs)
    cut1, cut2 = rng.randint(1, 10), rng.randint(11, 25)
    batches = [convs[:cut1], convs[:cut2], convs]  # prefixes => re-delivery

    wd = str(tmp_path / "fuzz_inc")
    for i, batch in enumerate(batches):
        b = set(batch)
        Pipeline(spark, wd, run_id=f"b{i}").run_incremental(
            t.where(F.col("conv_id").isin(b))
        )
    out_inc = Pipeline(spark, wd, run_id="read").run_incremental(t)
    out_full = Pipeline(spark, str(tmp_path / "fuzz_full"), run_id="full").run(t)
    for stage in STAGES:
        assert _sorted_rows(out_inc[stage]) == _sorted_rows(out_full[stage]), stage
