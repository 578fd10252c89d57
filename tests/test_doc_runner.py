"""The per-document runner's quarantine policy, stage by stage: a bad
document becomes one row carrying its error code — never a task failure and
never an all-null row without a code."""

from __future__ import annotations

import datetime

from pyld_spark.operators.compact_stage import compact_corpus_stats, flatten_corpus_stats
from pyld_spark.operators.frame_stage import frame_corpus_stats, frame_match_stats
from pyld_spark.operators.fromrdf_stage import triples_to_documents
from pyld_spark.transcripts import VOCAB, XSD, assemble_documents

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
BAD_DOC = '{"@context": {"@vocab": 5}, "@id": "https://ex.org/bad/1", "a": 1}'
TRIPLE_COLS = ("doc_id string, subj string, pred string, obj_kind string, "
               "obj_value string, obj_datatype string, obj_language string, "
               "graph string")


def _codes(df) -> dict:
    return {r.doc_id: r.error_code for r in df.select("doc_id", "error_code").collect()}


def _docs(spark):
    """One good transcript doc ("c-1") and one with an invalid @vocab."""
    ts0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    good = assemble_documents(spark.createDataFrame(
        [("c-1", 0, "user", "x", "debugger", ts0)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ))
    bad = spark.createDataFrame([("bad", BAD_DOC)], "conv_id string, doc string")
    return good.unionByName(bad)


def _candidate_triples(spark):
    """Triples making both docs candidates of the Conversation frame and the
    requireAll Turn+tool frame, so each doc reaches the frame kernel."""
    rows = []
    for doc_id, subj in (("c-1", "https://pyld-spark.example/conv/c-1"),
                         ("bad", "https://ex.org/bad/1")):
        rows += [
            (doc_id, subj, RDF_TYPE, "IRI", VOCAB + "Conversation", None, None, "@default"),
            (doc_id, subj, RDF_TYPE, "IRI", VOCAB + "Turn", None, None, "@default"),
            (doc_id, subj, VOCAB + "tool", "literal", "t", XSD + "string", None, "@default"),
        ]
    return spark.createDataFrame(rows, TRIPLE_COLS)


def test_stats_stages_quarantine_with_error_code(spark):
    docs = _docs(spark)
    triples = _candidate_triples(spark)
    ctx = {"@vocab": VOCAB, "turns": {"@id": VOCAB + "turns", "@container": "@list"}}
    frame_conv = {"@context": {"@vocab": VOCAB}, "@type": "Conversation"}
    frame_tool = {"@context": {"@vocab": VOCAB}, "@type": "Turn", "tool": {}}
    stages = {
        "flatten_corpus_stats": flatten_corpus_stats(docs),
        "compact_corpus_stats": compact_corpus_stats(docs, ctx, "turns", ["role"]),
        "frame_corpus_stats": frame_corpus_stats(docs, triples, frame_conv),
        "frame_match_stats": frame_match_stats(
            docs, triples, frame_tool, options={"requireAll": True}
        ),
    }
    for name, df in stages.items():
        assert df.columns[-1] == "error_code", name
        assert _codes(df) == {"c-1": None, "bad": "invalid vocab mapping"}, name
        bad = df.where("doc_id = 'bad'").first()
        assert all(v is None for v in bad[1:-1]), name


def test_triples_to_documents_quarantines_non_spec_errors(spark):
    """A null subject is not a JsonLdError: it used to fail the task."""
    rows = [
        ("ok", "https://ex.org/s", "https://ex.org/p", "literal", "v",
         XSD + "string", None, "@default"),
        ("null-subj", None, "https://ex.org/p", "literal", "v",
         XSD + "string", None, "@default"),
        ("bad-json-literal", "https://ex.org/s", "https://ex.org/p", "literal",
         "{bad", "http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON", None, "@default"),
    ]
    out = triples_to_documents(spark.createDataFrame(rows, TRIPLE_COLS))
    assert _codes(out) == {
        "ok": None,
        "null-subj": "internal error: AttributeError",
        "bad-json-literal": "invalid JSON literal",
    }


def test_map_docs_runs_one_kernel_task_per_slot(spark, tmp_path):
    """A one-partition input (one parquet row group) is hash-partitioned on
    its id to one partition per slot before the ``mapInArrow``: exactly one
    such exchange, and every slot runs the kernel."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext
    from pyspark.sql.types import StringType, StructField

    from pyld_spark.operators.doc_runner import doc_schema, map_docs

    path = str(tmp_path / "docs.parquet")
    ids = [f"doc-{i}" for i in range(64)]
    pq.write_table(pa.table({"conv_id": ids, "doc": ["{}"] * len(ids)}), path)
    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() == 1

    def partition(_doc_id, _doc):
        return [(str(TaskContext.get().partitionId()),)]

    out = map_docs(docs, partition, doc_schema(StructField("part", StringType(), True)))
    slots = spark.sparkContext.defaultParallelism
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#\d+, (\d+)\)", plan)
    assert exchanges == [("conv_id", str(slots))], plan
    assert plan.index("MapInArrow") < plan.index("Exchange hashpartitioning"), plan
    rows = out.collect()
    assert sorted(r.doc_id for r in rows) == sorted(ids)
    assert {r.part for r in rows} == {str(p) for p in range(slots)}


def test_map_doc_groups_runs_one_python_task_per_slot(spark, tmp_path):
    """A one-partition triples table (one parquet row group) is
    hash-partitioned on ``doc_id`` to one partition per slot, and that
    exchange also serves the group: exactly one exchange, and every slot
    runs documents (under AQE the group exchange alone coalesces a small
    input into one task)."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import TaskContext
    from pyspark.sql.types import StringType, StructField

    from pyld_spark.operators.doc_runner import doc_schema, map_doc_groups

    path = str(tmp_path / "triples.parquet")
    ids = [f"doc-{i}" for i in range(64)]
    cols = [c.split()[0] for c in TRIPLE_COLS.split(", ")]
    rows = [(d, "https://ex.org/s", "https://ex.org/p", "literal", "v",
             XSD + "string", None, "@default") for d in ids for _ in range(2)]
    pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)},
                            schema=pa.schema([(c, pa.string()) for c in cols])), path)
    triples = spark.read.parquet(path)
    assert triples.rdd.getNumPartitions() == 1

    def partition(doc_id, _quads):
        return [(doc_id, str(TaskContext.get().partitionId()))]

    out = map_doc_groups(triples, partition, doc_schema(
        StructField("kernel_doc_id", StringType(), True), StructField("part", StringType(), True)))
    slots = spark.sparkContext.defaultParallelism
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#\d+, (\d+)\)", plan)
    assert exchanges == [("doc_id", str(slots))], plan
    rows = out.collect()
    assert sorted(r.doc_id for r in rows) == sorted(ids)
    # the kernel is handed its group's doc id
    assert all(r.kernel_doc_id == r.doc_id for r in rows)
    assert {r.part for r in rows} == {str(p) for p in range(slots)}
