"""Pipeline driver: checkpointing, resume, lineage."""

from __future__ import annotations

import shutil

from pyld_spark.operators.canonicalize import canonicalize_triples
from pyld_spark.plans.pipeline import Pipeline
from pyld_spark.transcripts import transcripts_from_events


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pipeline_runs_and_resumes(spark, sf_dir, tmp_path, odd_convs):
    wd = str(tmp_path / "pipeline")
    t = transcripts_from_events(spark, sf_dir).select(*odd_convs.columns).unionByName(odd_convs)
    p = Pipeline(spark, wd, run_id="r1")
    out = p.run(t)
    n_triples = out["triples"].count()
    n_canon = out["canonicalize"].count()
    # in-row labels for most docs, the general plan for the two odd ones
    assert _sorted_rows(out["canonicalize"]) == _sorted_rows(canonicalize_triples(out["triples"]))
    n_mat = out["materialize"].count()
    assert n_triples == n_canon
    assert n_mat > n_canon  # + mention triples
    # canonical entity table: one row per distinct entity in the link stage
    ents = out["entities"]
    assert set(ents.columns) == {
        "entity_iri", "label", "mention_kind", "n_mentions", "n_convs",
        "score_max",
    }
    n_entities = ents.count()
    assert n_entities == out["link"].select("entity_iri").distinct().count()
    lineage1 = {r.stage: r for r in p.lineage().collect()}
    assert set(lineage1) == {
        "assemble", "link", "triples", "canonicalize", "entities",
        "materialize",
    }
    assert lineage1["triples"].rows_out == n_triples
    assert lineage1["triples"].error_rows == 0

    # resume: delete one stage; re-run must rebuild only that stage chain
    shutil.rmtree(wd + "/canonicalize")
    p2 = Pipeline(spark, wd, run_id="r2")
    out2 = p2.run(t)
    assert out2["canonicalize"].count() == n_canon
    lineage2 = p2.lineage().collect()
    rebuilt = [r.stage for r in lineage2 if r.run_id == "r2"]
    assert "canonicalize" in rebuilt
    assert "assemble" not in rebuilt and "triples" not in rebuilt


def test_fused_assembly_matches_staged(spark, tmp_path, odd_convs):
    """fuse_assembly=True (assembly inside the triples stage, no docs
    materialization) produces byte-identical triples/canonicalize tables
    to the staged pipeline."""
    from pyld_spark.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=40, turns_per_conv=6).unionByName(odd_convs)
    staged = Pipeline(spark, str(tmp_path / "staged")).run(t)
    fused = Pipeline(spark, str(tmp_path / "fused")).run(t, fuse_assembly=True)
    assert "assemble" not in fused
    for stage in ("triples", "canonicalize", "materialize"):
        assert _sorted_rows(staged[stage]) == _sorted_rows(fused[stage]), stage
