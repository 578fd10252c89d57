"""Pipeline driver: checkpointing, resume, lineage."""

from __future__ import annotations

import contextlib
import datetime
import glob
import os
import shutil

import pytest

from pyld_spark.operators.canonicalize import canonicalize_triples
from pyld_spark.operators.expand_stage import split_quarantine
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
    assert _sorted_rows(out["canonicalize"]) == _sorted_rows(
        split_quarantine(canonicalize_triples(out["triples"]))[0])
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


@contextlib.contextmanager
def _job_group(spark, group):
    """Run the body's Spark jobs under ``group``; yields a callable that
    returns how many jobs the group has run so far."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_lineage_frame_is_a_local_relation(spark, tmp_path, monkeypatch):
    """The lineage rows reach the write as a local relation: a frame built
    from a list of tuples plans a ``LogicalRDD`` over a pickled Python RDD,
    and writing it starts a Python worker for a handful of rows."""
    p = Pipeline(spark, str(tmp_path / "wd"), run_id="r")
    rows = [("r", "assemble", 15, 0, 120), ("r", "triples", 900, 2, 340)]
    p._lineage = list(rows)
    built = []
    create = spark.createDataFrame

    def recording(*args, **kwargs):
        built.append(create(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(spark, "createDataFrame", recording)
    p._write_lineage()
    monkeypatch.undo()
    [frame] = built
    plan = frame._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    lineage = p.lineage()
    assert lineage.schema.simpleString() == (
        "struct<run_id:string,stage:string,rows_out:bigint,error_rows:bigint,wall_ms:bigint>"
    )
    assert _sorted_rows(lineage) == sorted(rows)


def test_stage_frames_reuse_the_written_schema(spark, tmp_path, monkeypatch):
    """Every stage frame ``run`` returns has the schema a plain parquet read
    infers, ``doc``'s shape tag included, and reading a stage back after its
    write runs no Spark job (an inferring read runs one per stage)."""
    from pyld_spark.transcripts import DOC_SHAPE_META_KEY, synthesize_transcripts

    read_back_jobs = {}
    record, stage = Pipeline._record_lineage, Pipeline._stage

    def recorded(self, name, *args):
        record(self, name, *args)
        # the stage's writes are done; its read-back comes next
        self.spark.sparkContext.setJobGroup(f"read-back-{name}", name)
        read_back_jobs[name] = f"read-back-{name}"

    def staged(self, *args, **kwargs):
        out = stage(self, *args, **kwargs)
        self.spark.sparkContext.setJobGroup("next-stage", "next-stage")
        return out

    monkeypatch.setattr(Pipeline, "_record_lineage", recorded)
    monkeypatch.setattr(Pipeline, "_stage", staged)
    t = synthesize_transcripts(spark, n_convs=6, turns_per_conv=3, hot_convs=0)
    wd = str(tmp_path / "wd")
    with _job_group(spark, "run"):
        out = Pipeline(spark, wd, run_id="s").run(t)
    monkeypatch.undo()

    tracker = spark.sparkContext.statusTracker()
    assert set(read_back_jobs) == set(out)
    jobs = {name: len(tracker.getJobIdsForGroup(g)) for name, g in read_back_jobs.items()}
    assert jobs == dict.fromkeys(out, 0), jobs
    for name, df in out.items():
        inferred = spark.read.parquet(os.path.join(wd, name)).schema
        assert df.schema.json() == inferred.json(), name
    assert out["assemble"].schema["doc"].metadata[DOC_SHAPE_META_KEY] == "transcript-v1"


def test_pipeline_run_job_count(spark, tmp_path):
    """One ``Pipeline.run`` over a small corpus runs at most 15 Spark jobs.
    At 1510b9d it ran 20: six of them inferred the schema of a stage table
    that had just been written. Then 14, until the canonicalize stage
    gained its quarantine table, whose write (empty here) is one job."""
    from pyld_spark.transcripts import synthesize_transcripts

    t = synthesize_transcripts(spark, n_convs=8, turns_per_conv=4, hot_convs=1, hot_turns=12)
    with _job_group(spark, "pipeline-run") as jobs:
        Pipeline(spark, str(tmp_path / "wd"), run_id="j").run(t)
        ran = jobs()
    assert ran <= 15, ran


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
