"""Structured Streaming path: transcript stream → incremental triple emission.

Streaming analogue of the batch flagship (SURVEY.md §2.11 — streaming is an
implementation tool here, the reference has no streaming surface):

- transcripts arrive as files (or Kafka on a real deployment);
- a watermark on ``ts`` bounds conversation-assembly state;
- session-complete conversations are assembled with the same
  ``sort_array(collect_list(struct(...)))`` aggregation (append mode emits a
  conversation only once its watermark passes — late turns within the
  watermark still make it in);
- the same ``docs_to_triples`` stage (its ``mapInArrow`` runner or the
  compiled projection) runs on the streaming
  DataFrame unchanged — Spark plans it incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def assemble_documents_stream(
    transcripts: DataFrame, watermark: str = "10 minutes",
    gap: str = "30 minutes",
) -> DataFrame:
    """Streaming assembly: watermark + session window per conversation.

    A conversation document is emitted when its session window closes under
    the watermark (i.e., no new turn for ``gap`` and event time has moved
    past the window end + watermark)."""
    import json as _json

    from pyld_spark.transcripts import TRANSCRIPT_CONTEXT, conv_iri, turn_iri

    ctx_prefix = (
        '{"@context":' + _json.dumps(TRANSCRIPT_CONTEXT, sort_keys=True) + ',"@id":"'
    )
    with_iri = transcripts.withWatermark("ts", watermark).withColumn(
        "turn_iri", turn_iri(F.col("conv_id"), F.col("turn_idx"))
    )
    agg = with_iri.groupBy(
        F.col("conv_id"), F.session_window(F.col("ts"), gap)
    ).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("turn_idx").alias("turnIndex"),
                    F.col("role").alias("role"),
                    F.col("text").alias("text"),
                    F.col("tool").alias("tool"),
                    F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("ts"),
                    F.col("turn_iri").alias("@id"),
                )
            )
        ).alias("turns")
    )
    turn_json = F.transform(
        F.col("turns"),
        lambda t: F.to_json(
            F.struct(
                t["@id"].alias("@id"),
                F.lit("Turn").alias("@type"),
                t["turnIndex"].alias("turnIndex"),
                t["role"].alias("role"),
                t["text"].alias("text"),
                t["tool"].alias("tool"),
                t["ts"].alias("ts"),
            )
        ),
    )
    doc = F.concat(
        F.lit(ctx_prefix),
        conv_iri(F.col("conv_id")),
        F.lit('","@type":"Conversation","turns":{"@list":['),
        F.array_join(turn_json, ","),
        F.lit("]}}"),
    )
    return agg.select("conv_id", doc.alias("doc"))


STATE_SCHEMA_DDL = (
    "turn_idx array<int>, role array<string>, text array<string>, "
    "tool array<string>, ts_str array<string>, max_ts_ms bigint"
)


def assemble_documents_stream_stateful(
    transcripts: DataFrame,
    watermark: str = "10 minutes",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful assembly via ``applyInPandasWithState``.

    The session-window version (:func:`assemble_documents_stream`) expresses
    assembly declaratively; this one is the explicit-state formulation — the
    shape any custom stateful operator takes at scale: per-conversation turn
    buffers in the state store, an event-time timeout ``gap_seconds`` after
    the last observed turn, and document emission on timeout. Output is
    byte-identical to the batch :func:`~pyld_spark.transcripts.assemble_documents`
    (verified in tests).
    """
    import json as _json

    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from pyld_spark.transcripts import CONV_BASE, TRANSCRIPT_CONTEXT

    ctx_prefix = (
        '{"@context":' + _json.dumps(TRANSCRIPT_CONTEXT, sort_keys=True) + ',"@id":"'
    )
    out_schema = "conv_id string, doc string"

    def jackson_escape_case(s: str) -> str:
        """Uppercase the hex of ``\\uXXXX`` escapes so Python json.dumps
        output is byte-identical to the batch path's Jackson ``to_json``
        (the ONLY divergence between the two; everything else — short
        escapes, unescaped DEL, raw UTF-8 — matches, verified in
        tests/test_streaming_recovery_fuzz.py). Only an odd backslash run
        before ``u`` is a real escape — a literal ``\\u001f`` in text
        arrives as ``\\\\u001f`` and must keep its case."""
        if "\\u" not in s:
            return s
        out = []
        i, n = 0, len(s)
        while i < n:
            c = s[i]
            if c != "\\":
                out.append(c)
                i += 1
                continue
            j = i
            while j < n and s[j] == "\\":
                j += 1
            run = j - i
            out.append("\\" * run)
            if run % 2 == 1 and j < n and s[j] == "u":
                out.append("u" + s[j + 1:j + 5].upper())
                j += 5
            i = j
        return "".join(out)

    def build_doc(conv_id: str, rows: list) -> str:
        # byte-parity with the batch path: struct-field order, null-field
        # omission (to_json drops nulls), compact separators
        rows.sort(key=lambda r: (r[0], r[1], r[2], r[3] or "", r[4]))
        parts = []
        for turn_idx, role, text, tool, ts_str in rows:
            item = {
                "@id": f"{CONV_BASE}{conv_id}/turn/{turn_idx}",
                "@type": "Turn",
                "turnIndex": turn_idx,
                "role": role,
                "text": text,
                "tool": tool,
                "ts": ts_str,
            }
            if tool is None:
                del item["tool"]
            parts.append(jackson_escape_case(
                _json.dumps(item, ensure_ascii=False, separators=(",", ":"))
            ))
        return (
            ctx_prefix + CONV_BASE + conv_id
            + '","@type":"Conversation","turns":{"@list":['
            + ",".join(parts) + "]}}"
        )

    def fn(key, pdfs, state):
        (conv_id,) = key
        if state.hasTimedOut:
            turn_idx, role, text, tool, ts_str, _ = state.get
            rows = list(zip(turn_idx, role, text, tool, ts_str))
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [conv_id], "doc": [build_doc(conv_id, rows)]}
            )
            return
        if state.exists:
            turn_idx, role, text, tool, ts_str, max_ts_ms = state.get
            turn_idx, role, text, tool, ts_str = (
                list(turn_idx), list(role), list(text), list(tool), list(ts_str)
            )
        else:
            turn_idx, role, text, tool, ts_str, max_ts_ms = [], [], [], [], [], 0
        for pdf in pdfs:
            turn_idx.extend(int(v) for v in pdf["turn_idx"])
            role.extend(pdf["role"])
            text.extend(pdf["text"])
            tool.extend(None if pd.isna(v) else v for v in pdf["tool"])
            ts_str.extend(
                ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ") for ts in pdf["ts"]
            )
            batch_max = int(pdf["ts"].max().timestamp() * 1000)
            max_ts_ms = max(max_ts_ms, batch_max)
        state.update((turn_idx, role, text, tool, ts_str, max_ts_ms))
        # clamp: replay can advance the watermark past a conversation's
        # natural timeout before its group is first processed — such a
        # conversation times out on the next microbatch
        desired = max_ts_ms + gap_seconds * 1000
        state.setTimeoutTimestamp(max(desired, state.getCurrentWatermarkMs() + 1))
        return
        yield  # pragma: no cover — keeps fn a generator on the update path

    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, out_schema, STATE_SCHEMA_DDL, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_triples(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    output_path: str | None = None,
    watermark: str = "10 minutes",
    gap: str = "30 minutes",
    max_files_per_trigger: int = 4,
):
    """Wire the full streaming pipeline; returns the StreamingQuery.

    With ``output_path`` → parquet sink; else an in-memory sink named
    ``stream_triples`` (tests)."""
    from pyld_spark.operators.expand_stage import docs_to_triples
    from pyld_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    transcripts = read_transcript_stream(
        spark, input_path, max_files_per_trigger=max_files_per_trigger
    )
    docs = assemble_documents_stream(transcripts, watermark, gap)
    triples = docs_to_triples(docs)
    writer = (
        triples.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if output_path is not None:
        return writer.format("parquet").option("path", output_path).start()
    return writer.format("memory").queryName("stream_triples").start()


EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)

#: grain -> window duration accepted by F.window
_GRAIN_WINDOWS = {"minute": "1 minute", "hour": "1 hour", "day": "1 day"}


def stream_event_rollup(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    grain: str = "minute",
    dims: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    query_name: str = "stream_event_rollup",
    max_files_per_trigger: int = 4,
    foreach_batch=None,
):
    """The continuous-aggregate twin of operators/rollup.time_rollup: a
    watermarked tumbling-window aggregate in append mode, so each bucket
    row is emitted exactly once — when the watermark passes its window end
    — with the same (bucket, dims…, n_events, sum_value, min_value,
    max_value) schema as the batch finest grain (sum rounded identically).

    Append-mode caveat the parity test accounts for: buckets newer than
    (max event time − watermark) are still open when a replay drains, so
    they are withheld, not wrong — a later trigger with later data emits
    them. Returns the StreamingQuery over an in-memory sink, or — when
    ``foreach_batch`` is given — over ``foreachBatch(foreach_batch)`` (the
    production shape: closed buckets appended to a real table per
    micro-batch; exactly-once comes from the checkpoint's commit log plus
    an idempotent-by-batch-id writer)."""
    if grain not in _GRAIN_WINDOWS:
        raise ValueError(f"grain must be one of {sorted(_GRAIN_WINDOWS)}")
    events = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    agg = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, _GRAIN_WINDOWS[grain]).alias("_w"), *dims)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            F.col("_w.start").alias("bucket"), *dims,
            "n_events", "sum_value", "min_value", "max_value",
        )
    )
    writer = (
        agg.writeStream.option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .queryName(query_name)
    )
    if foreach_batch is not None:
        return writer.foreachBatch(foreach_batch).start()
    return writer.format("memory").start()
