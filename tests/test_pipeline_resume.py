"""Pipeline driver: checkpointing, resume, lineage."""

from __future__ import annotations

import datetime
import glob
import os
import shutil

import pytest

from pyld_spark.operators.canonicalize import canonicalize_triples
from pyld_spark.plans.pipeline import Pipeline
from pyld_spark.transcripts import transcripts_from_events


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _lineage_files(wd):
    return len(glob.glob(os.path.join(wd, "lineage", "part-*.parquet")))


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
    # every count is the written table's, and the run wrote its rows once
    for stage, df in out.items():
        assert lineage1[stage].rows_out == df.count(), stage
    assert _lineage_files(wd) == 1

    # resume: delete one stage; re-run must rebuild only that stage chain
    shutil.rmtree(wd + "/canonicalize")
    p2 = Pipeline(spark, wd, run_id="r2")
    out2 = p2.run(t)
    assert out2["canonicalize"].count() == n_canon
    lineage2 = p2.lineage().collect()
    rebuilt = [r.stage for r in lineage2 if r.run_id == "r2"]
    assert "canonicalize" in rebuilt
    assert "assemble" not in rebuilt and "triples" not in rebuilt
    assert _lineage_files(wd) == 2

    # a resume with nothing to rebuild records nothing
    Pipeline(spark, wd, run_id="r3").run(t)
    assert _lineage_files(wd) == 2


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


def test_lineage_counts_are_the_written_rows(spark, tmp_path):
    """Bucketed input and a quarantined doc (a null conv_id assembles to a
    null doc, which the compiled route quarantines): each lineage count
    equals the table it describes."""
    from pyld_spark.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=12, turns_per_conv=4, hot_convs=1, hot_turns=30)
    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    t = t.unionByName(spark.createDataFrame([(None, 0, "user", "null conv", None, ts0)], t.schema))
    wd = str(tmp_path / "bucketed")
    p = Pipeline(spark, wd, run_id="b")
    out = p.run(t, bucket_input=True, buckets=4)
    lineage = {r.stage: r for r in p.lineage().collect()}
    assert set(lineage) == {"transcripts_bucketed", *out}
    assert lineage["transcripts_bucketed"].rows_out == t.count() == 12 * 4 + 30 + 1
    for stage, df in out.items():
        assert lineage[stage].rows_out == df.count(), stage
    quarantine = spark.read.parquet(os.path.join(wd, "triples_quarantine"))
    assert _sorted_rows(quarantine) == [(None, "internal error: TypeError")]
    assert lineage["triples"].error_rows == quarantine.count() == 1
    assert sum(r.error_rows for r in lineage.values()) == 1
    assert _lineage_files(wd) == 1


def test_failed_run_records_the_stages_it_finished(spark, tmp_path, monkeypatch):
    import pyld_spark.operators.linking as linking
    from pyld_spark.transcripts import synthesize_transcripts

    def boom(_linked):
        raise RuntimeError("entity stage failed")

    monkeypatch.setattr(linking, "entity_table", boom)
    t = synthesize_transcripts(spark, n_convs=6, turns_per_conv=3, hot_convs=0)
    wd = str(tmp_path / "failed")
    p = Pipeline(spark, wd, run_id="f")
    with pytest.raises(RuntimeError, match="entity stage failed"):
        p.run(t)
    assert sorted(r.stage for r in p.lineage().collect()) == [
        "assemble", "canonicalize", "link", "triples",
    ]
    assert _lineage_files(wd) == 1

    # a lineage write that fails too does not hide the stage's error
    def lineage_down():
        raise OSError("lineage write failed")

    p2 = Pipeline(spark, wd, run_id="f2")
    monkeypatch.setattr(p2, "_write_lineage", lineage_down)
    with pytest.raises(RuntimeError, match="entity stage failed") as failed:
        p2.run(t)
    assert failed.value.__notes__ == ["lineage not written: OSError('lineage write failed')"]
