"""End-to-end KG-construction pipeline: staged, checkpointed, resumable, with
per-stage lineage rows (SURVEY.md §3.1 / §4.2; north_rule requirements).

Stages (each a checkpointed table write):
    assemble → link → triples (+quarantine) → canonicalize → entities →
    materialize

canonicalize reads the assemble docs as well as the triples
(:func:`~pyld_spark.operators.canonicalize.canonicalize_documents`): tagged
transcript docs get their canonical labels in the same compiled per-row
projection that emits their triples, with no exchange; only docs with a null
or repeated turn ``@id`` (and untagged docs) are canonicalized from their
rows of the triples table. A doc whose canonicalization is over the work
budget (:data:`~pyld_spark.jsonld.canon.WORK_BUDGET`) is one row of the
``canonicalize_quarantine`` table, as a doc the expander rejects is one row
of ``triples_quarantine``.

Sandbox note: checkpoints are parquet directories under ``workdir`` — the
drop-in for Iceberg tables on a real cluster (``writeTo(...).createOrReplace``
against a catalog; same layout, same resume logic via snapshot existence).
Resume: a stage whose output already exists (with ``_SUCCESS``) is skipped —
re-running the job after a failure re-executes only missing stages.

Lineage: every stage a run builds records ``(run_id, stage, rows_out,
error_rows, wall_ms)``, and :meth:`Pipeline.run` / :meth:`Pipeline.run_incremental`
append a run's rows to ``workdir/lineage`` as one parquet file when the run
returns or raises, so a failed run still records the stages it finished.
``rows_out`` and ``error_rows`` are counted by the write that produces the
stage table and its quarantine table (an ``Observation``), not by reading them
back; ``wall_ms`` covers building and writing the stage. The per-partition
row counts live in the stage outputs themselves (``doc_id`` is the partition
witness). The lineage rows reach Spark as an Arrow table, a local relation,
so their write starts no Python worker.

Fixed costs: a stage built in this run is read back with the schema of the
frame it just wrote, so the read runs no schema-inference job; only a stage
skipped on resume is read with an inferred schema.
"""

from __future__ import annotations

import functools
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyld_spark.session import cut_lineage, ensure_workers_can_import


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter that the action writing it fills in."""
    seen = Observation()
    return df.observe(seen, F.count(F.lit(1)).alias("rows")), seen


def _write(df: DataFrame, path: str, mode: str) -> int:
    """Write ``df`` as parquet to ``path``; returns the rows written."""
    counted, seen = _counted(df)
    counted.write.mode(mode).parquet(path)
    return seen.get["rows"]


def _writes_lineage(run):
    """Append the lineage rows ``run`` recorded, once, when it returns or
    raises. When a failed run's lineage write fails too, the stage's error
    is the one raised, with the lineage error added as a note."""

    @functools.wraps(run)
    def wrapper(self, *args, **kwargs):
        try:
            out = run(self, *args, **kwargs)
        except BaseException as err:
            try:
                self._write_lineage()
            except Exception as lineage_err:
                err.add_note(f"lineage not written: {lineage_err!r}")
            raise
        self._write_lineage()
        return out

    return wrapper


class Pipeline:
    LINEAGE_DDL = (
        "run_id string, stage string, rows_out long, error_rows long, wall_ms long"
    )

    def __init__(self, spark: SparkSession, workdir: str, run_id: str = "run"):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        self._lineage: list[tuple] = []
        ensure_workers_can_import(spark)

    # -- checkpoint plumbing ------------------------------------------------

    def _path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def _read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._path(stage))

    def _record_lineage(self, stage: str, rows_out: int, error_rows: int, t0: float):
        wall_ms = int((time.perf_counter() - t0) * 1000)
        self._lineage.append((self.run_id, stage, rows_out, error_rows, wall_ms))

    def _write_lineage(self):
        rows, self._lineage = self._lineage, []
        if rows:
            import pyarrow as pa

            # from an Arrow table the frame is a local relation; from a list
            # of tuples it would be a pickled Python RDD, and its write would
            # start a Python worker for a handful of rows
            schema = StructType.fromDDL(self.LINEAGE_DDL)
            table = pa.table([pa.array(c) for c in zip(*rows)], names=schema.names)
            self.spark.createDataFrame(table, schema).coalesce(1).write.mode(
                "append"
            ).parquet(os.path.join(self.workdir, "lineage"))

    def _stage(self, name: str, build, error_split=None) -> DataFrame:
        """Run one stage with resume + lineage. ``build()`` returns the stage
        DataFrame; ``error_split`` optionally splits (good, quarantine).
        The lineage row's ``rows_out`` and ``error_rows`` are the rows the two
        writes wrote; ``wall_ms`` spans ``build()`` and both writes."""
        if self._done(name):
            return self._read(name)
        t0 = time.perf_counter()
        df = build()
        err_rows = 0
        if error_split is not None:
            df, bad = error_split(df)
            err_rows = _write(bad, self._path(name + "_quarantine"), "overwrite")
        rows = _write(df, self._path(name), "overwrite")
        self._record_lineage(name, rows, err_rows, t0)
        # the schema just written: reading it back needs no inference job
        return self.spark.read.schema(df.schema).parquet(self._path(name))

    # -- stages -------------------------------------------------------------

    TRANSCRIPT_DDL = (
        "conv_id STRING, turn_idx INT, role STRING, text STRING, "
        "tool STRING, ts TIMESTAMP"
    )

    def _bucketed_transcripts(self, transcripts: DataFrame, buckets: int) -> DataFrame:
        """Materialize the input bucketed+sorted by conv_id (the production
        Iceberg layout) so assembly plans with zero exchanges. On resume the
        bucketed table is re-registered over the existing files."""
        stage = "transcripts_bucketed"
        table = f"transcripts_bucketed_{self.run_id}"
        path = self._path(stage)
        if self._done(stage):
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            self.spark.sql(
                f"CREATE TABLE {table} ({self.TRANSCRIPT_DDL}) USING parquet "
                f"CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx) "
                f"INTO {buckets} BUCKETS LOCATION '{path}'"
            )
            return self.spark.table(table)
        from pyld_spark.transcripts import write_bucketed_transcripts

        t0 = time.perf_counter()
        counted, seen = _counted(transcripts)
        out = write_bucketed_transcripts(
            counted, self.spark, path, table=table, buckets=buckets
        )
        self._record_lineage(stage, seen.get["rows"], 0, t0)
        return out

    @_writes_lineage
    def run(self, transcripts: DataFrame, bucket_input: bool = False,
            buckets: int = 64) -> dict[str, DataFrame]:
        """Build every stage that is not checkpointed yet; returns each stage
        table by name. ``bucket_input`` first materializes ``transcripts``
        bucketed by ``conv_id`` into ``buckets`` buckets."""
        from pyld_spark.operators.canonicalize import canonicalize_documents
        from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
        from pyld_spark.operators.linking import (
            entity_table,
            extract_mentions,
            link_entities,
            mention_triples,
        )
        from pyld_spark.transcripts import assemble_documents

        if bucket_input:
            transcripts = self._bucketed_transcripts(transcripts, buckets)

        docs = self._stage("assemble", lambda: assemble_documents(transcripts))
        linked = self._stage(
            "link", lambda: link_entities(extract_mentions(transcripts))
        )
        triples = self._stage(
            "triples", lambda: docs_to_triples(docs), error_split=split_quarantine
        )
        canonical = self._stage(
            "canonicalize", lambda: canonicalize_documents(docs, triples),
            error_split=split_quarantine,
        )
        entities = self._stage("entities", lambda: entity_table(linked))

        def build_materialize():
            link_trips = mention_triples(linked).withColumn(
                "doc_id", F.split(F.col("subj"), "/turn/")[0]
            ).select(
                "doc_id", "subj", "pred", "obj_kind", "obj_value",
                "obj_datatype", "obj_language", F.lit("@default").alias("graph"),
            )
            return canonical.unionByName(link_trips)

        materialized = self._stage("materialize", build_materialize)
        return {
            "assemble": docs,
            "link": linked,
            "triples": triples,
            "canonicalize": canonical,
            "entities": entities,
            "materialize": materialized,
        }

    # -- incremental (delta) ingest ----------------------------------------

    def _append_stage(self, name: str, build, new_ids: DataFrame,
                      id_col: str, error_split=None) -> int:
        """Append ``build()`` rows to an existing stage output; returns rows
        appended. Idempotent per stage: ``new_ids`` is diffed against the ids
        ALREADY in the stage output, so a crashed incremental run re-executes
        only the stages that did not append yet. The ``<name>+delta`` lineage
        row's ``rows_out`` and ``error_rows`` are the rows the two appends
        wrote (rows, not ids); no row is recorded when no id is new."""
        t0 = time.perf_counter()
        existing = self._read(name).select(F.col(id_col)).distinct()
        if error_split is not None:
            qpath = self._path(name + "_quarantine")
            if os.path.exists(qpath):  # a fully-quarantined doc is done too
                existing = existing.union(
                    self.spark.read.parquet(qpath).select(F.col(id_col))
                ).distinct()
        # materialize BEFORE appending to the same path the diff was read from
        todo = cut_lineage(
            new_ids.join(existing, new_ids[id_col] == existing[id_col], "left_anti")
        )
        if todo.isEmpty():
            return 0
        df = build(todo)
        err_rows = 0
        if error_split is not None:
            df, bad = error_split(df)
            err_rows = _write(bad, self._path(name + "_quarantine"), "append")
        rows = _write(df, self._path(name), "append")
        self._record_lineage(name + "+delta", rows, err_rows, t0)
        return rows

    @_writes_lineage
    def run_incremental(self, transcripts: DataFrame) -> dict[str, DataFrame]:
        """Process ONLY conversations not yet in the pipeline outputs and
        append them; aggregate stages (entities) are re-derived from the
        appended link table. Falls back to a full :meth:`run` when the
        workdir is empty.

        Every per-document stage is doc-local (assembly, linking, toRDF,
        and c14n labels are all functions of one conversation), so
        append-new-docs produces byte-identical tables to a full recompute
        over the grown corpus — asserted by tests/test_pipeline_incremental.
        Appends are gated per stage on an anti-join against that stage's own
        output ids, so re-running after a mid-run crash is idempotent."""
        from pyld_spark.operators.canonicalize import canonicalize_documents
        from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
        from pyld_spark.operators.linking import (
            entity_table,
            extract_mentions,
            link_entities,
            mention_triples,
        )
        from pyld_spark.transcripts import assemble_documents

        if not self._done("assemble"):
            return self.run(transcripts)

        in_ids = transcripts.select("conv_id").distinct()

        def new_transcripts(todo):
            return transcripts.join(todo, "conv_id", "left_semi")

        self._append_stage(
            "assemble",
            lambda todo: assemble_documents(new_transcripts(todo)),
            in_ids, "conv_id",
        )
        self._append_stage(
            "link",
            lambda todo: link_entities(extract_mentions(new_transcripts(todo))),
            in_ids, "conv_id",
        )
        self._append_stage(
            "triples",
            lambda todo: docs_to_triples(
                self._read("assemble").join(
                    todo.withColumnRenamed("doc_id", "conv_id"),
                    "conv_id", "left_semi",
                )
            ),
            self._read("assemble")
            .select(F.col("conv_id").alias("doc_id")).distinct(),
            "doc_id",
            error_split=split_quarantine,
        )
        # downstream stages gate on their UPSTREAM's output ids (not the raw
        # input) so a doc the expander quarantined is not re-attempted on
        # every delta run
        self._append_stage(
            "canonicalize",
            lambda todo: canonicalize_documents(
                self._read("assemble").join(
                    todo.withColumnRenamed("doc_id", "conv_id"),
                    "conv_id", "left_semi",
                ),
                self._read("triples").join(todo, "doc_id", "left_semi"),
            ),
            self._read("triples").select("doc_id").distinct(), "doc_id",
            error_split=split_quarantine,
        )
        # entities is a corpus-wide aggregate over the (appended) link
        # table — tiny next to the transcripts — so it is re-derived and
        # overwritten rather than merged.
        t0 = time.perf_counter()
        rows = _write(entity_table(self._read("link")), self._path("entities"), "overwrite")
        self._record_lineage("entities+delta", rows, 0, t0)

        from pyld_spark.transcripts import VOCAB

        label_pred = VOCAB + "label"

        def build_mat(todo):
            canon = self._read("canonicalize").join(todo, "doc_id", "left_semi")
            link_trips = (
                mention_triples(
                    self._read("link").join(
                        todo.withColumnRenamed("doc_id", "conv_id"),
                        "conv_id", "left_semi",
                    )
                )
                .withColumn("doc_id", F.split(F.col("subj"), "/turn/")[0])
                .select(
                    "doc_id", "subj", "pred", "obj_kind", "obj_value",
                    "obj_datatype", "obj_language",
                    F.lit("@default").alias("graph"),
                )
            )
            # entity-label triples are corpus-global-distinct in a full run;
            # an entity already labeled by an earlier batch must not be
            # labeled again (anti-join against the labels already written)
            edges = link_trips.where(F.col("pred") != label_pred)
            labels = link_trips.where(F.col("pred") == label_pred)
            existing_labels = (
                self._read("materialize")
                .where(F.col("pred") == label_pred)
                .select("subj", "obj_value")
            )
            labels = labels.join(existing_labels, ["subj", "obj_value"], "left_anti")
            # materialize BEFORE the append: `labels` reads the same path
            # the caller is about to append to
            return cut_lineage(canon.unionByName(edges).unionByName(labels))

        self._append_stage(
            "materialize", build_mat,
            self._read("canonicalize").select("doc_id").distinct(), "doc_id",
        )
        return {
            "assemble": self._read("assemble"),
            "link": self._read("link"),
            "triples": self._read("triples"),
            "canonicalize": self._read("canonicalize"),
            "entities": self._read("entities"),
            "materialize": self._read("materialize"),
        }

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "lineage"))
