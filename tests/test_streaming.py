"""Structured Streaming: transcript stream → incremental triples must match
the batch path for every conversation whose session window has closed.

Conversations whose last turn is within ``gap`` of the stream's max event
time stay open in state (correct watermark semantics) — they are excluded
from the comparison.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyld_spark.streaming.stream import stream_triples
from pyld_spark.transcripts import synthesize_transcripts


def test_stateful_assembly_matches_batch(spark, tmp_path):
    """applyInPandasWithState assembly (explicit per-conversation state +
    event-time timeout) emits byte-identical documents to the batch path
    for every conversation whose timeout fired under the watermark."""
    from pyld_spark.streaming.stream import (
        assemble_documents_stream_stateful,
        read_transcript_stream,
    )
    from pyld_spark.transcripts import assemble_documents

    t = synthesize_transcripts(spark, n_convs=50, turns_per_conv=6,
                               hot_convs=0, hot_turns=0).cache()
    inp = str(tmp_path / "state_in")
    t.write.parquet(inp)

    out_dir = str(tmp_path / "state_out")

    def run_pass(max_files: int):
        stream = read_transcript_stream(spark, inp, max_files_per_trigger=max_files)
        # the watermark must cover the stream's out-of-orderness: file
        # replay delivers hour-spread files in arbitrary order, so a short
        # watermark would mark the later-arriving half of a file-straddling
        # conversation late (dropped) after its timer fired on partial
        # state. 96h > the corpus's 50h event span ⇒ nothing is ever late.
        docs = assemble_documents_stream_stateful(
            stream, watermark="96 hours", gap_seconds=1800
        )
        q = (
            docs.writeStream
            .option("checkpointLocation", str(tmp_path / "state_ckpt"))
            .outputMode("append").trigger(availableNow=True)
            .format("parquet").option("path", out_dir).start()
        )
        q.awaitTermination(300)
        return {
            r.conv_id: r.doc for r in spark.read.parquet(out_dir).collect()
        }

    streamed = run_pass(2)

    # a replay ENDS, but a stream continues: a batch's watermark is the one
    # COMMITTED by its predecessor, so timers registered near the end of a
    # replay strand until more data arrives (normal Spark watermark lag).
    # Model the continuing stream with two far-future sentinel turns in
    # SEPARATE microbatches on the same checkpoint (also the resume path):
    # the first commits the advanced watermark, the second fires everything.
    import datetime as dt

    for year in (2030, 2031):
        late = spark.createDataFrame(
            [(f"conv-sentinel-{year}", 0, "user", "late", None,
              dt.datetime(year, 1, 1, tzinfo=dt.timezone.utc))],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        late.write.mode("append").parquet(inp)
    streamed = run_pass(1)
    streamed = {k: v for k, v in streamed.items() if "sentinel" not in k}
    assert len(streamed) == 50  # every real conversation eventually emitted

    batch = {r.conv_id: r.doc for r in assemble_documents(t).collect()}
    for conv_id, doc in streamed.items():
        assert doc == batch[conv_id], conv_id


def test_stream_triples_matches_batch(spark, tmp_path):
    from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
    from pyld_spark.transcripts import assemble_documents

    # clustered conversations: each spans ~minutes, spaced 1 h apart
    t = synthesize_transcripts(spark, n_convs=60, turns_per_conv=8,
                               hot_convs=0, hot_turns=0).cache()
    inp = str(tmp_path / "stream_in")
    t.write.parquet(inp)

    q = stream_triples(
        spark, inp, str(tmp_path / "ckpt"),
        watermark="0 seconds", gap="30 minutes",
    )
    q.awaitTermination(300)
    streamed = spark.sql("select * from stream_triples").filter(
        "error_code is null"
    ).cache()

    max_ts = t.agg(F.max("ts")).collect()[0][0]
    closed_convs = {
        r.conv_id
        for r in t.groupBy("conv_id").agg(F.max("ts").alias("last"))
        .filter(F.col("last") <= F.lit(max_ts) - F.expr("INTERVAL 30 MINUTES"))
        .collect()
    }
    assert len(closed_convs) >= 55  # all but the trailing conversation(s)

    batch, _ = split_quarantine(docs_to_triples(assemble_documents(
        t.filter(F.col("conv_id").isin(list(closed_convs)))
    )))
    batch = batch.cache()
    streamed_closed = streamed.filter(F.col("doc_id").isin(list(closed_convs)))
    assert streamed_closed.count() == batch.count() > 0
    cols = ["doc_id", "subj", "pred", "obj_kind", "obj_value", "obj_datatype"]
    assert streamed_closed.select(cols).exceptAll(batch.select(cols)).count() == 0
    assert batch.select(cols).exceptAll(streamed_closed.select(cols)).count() == 0


def test_stateful_stream_runs_the_kernel_map(spark, tmp_path):
    """The stateful assembly emits untagged docs, so in-stream
    ``docs_to_triples`` runs the per-document kernel map over its output;
    the triples equal the batch kernel's over the same documents."""
    import datetime as dt
    import os

    from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
    from pyld_spark.streaming.stream import (
        assemble_documents_stream_stateful,
        read_transcript_stream,
    )
    from pyld_spark.transcripts import assemble_documents

    t = synthesize_transcripts(spark, n_convs=6, turns_per_conv=3,
                               hot_convs=0, hot_turns=0).cache()
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    t.coalesce(1).write.parquet(inp)
    # two far-future sentinels in later micro-batches: the first commits the
    # watermark, the second fires every conversation's timer
    mtime = max(os.path.getmtime(os.path.join(inp, f)) for f in os.listdir(inp))
    for bump, year in ((100, 2030), (200, 2031)):
        spark.createDataFrame(
            [(f"conv-sentinel-{year}", 0, "user", "late", None,
              dt.datetime(year, 1, 1, tzinfo=dt.timezone.utc))], t.schema,
        ).coalesce(1).write.mode("append").parquet(inp)
        newest = max((os.path.join(inp, f) for f in os.listdir(inp)
                      if f.endswith(".parquet")), key=os.path.getmtime)
        os.utime(newest, (mtime + bump,) * 2)

    docs = assemble_documents_stream_stateful(
        read_transcript_stream(spark, inp, max_files_per_trigger=1),
        watermark="96 hours", gap_seconds=1800,
    )
    q = (
        split_quarantine(docs_to_triples(docs))[0].writeStream
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True)
        .format("parquet").option("path", out).start()
    )
    q.awaitTermination(300)
    assert q.exception() is None, q.exception()
    streamed = spark.read.parquet(out).where(~F.col("doc_id").contains("sentinel"))

    untagged = spark.createDataFrame(
        [tuple(r) for r in assemble_documents(t).collect()], "conv_id string, doc string")
    batch = split_quarantine(docs_to_triples(untagged))[0]
    rows = sorted(tuple(r) for r in streamed.collect())
    assert rows and rows == sorted(tuple(r) for r in batch.collect())
