"""Structured Streaming ingestion for the extraction pipeline.

The per-document kernel is stateless, so the streaming form is a file-source
stream driven through ``foreachBatch`` — each micro-batch runs the exact
batch path (:func:`~.engine.extract_pages`) and writes its own
``batch_id``-keyed partition with dynamic partition overwrite, making the
sink idempotent under foreachBatch's at-least-once replays; Spark's
checkpoint directory tracks micro-batch progress on top.

At the 10^12-row tier this is the continuous-ingest form: WARC drops land in
the input directory, each micro-batch is one salted extraction pass.
"""

from __future__ import annotations

from typing import Optional

from .config import DEFAULT_CONFIG, PipelineConfig
from .engine import extract_pages


def stream_extract(spark, input_path: str, output_path: str,
                   checkpoint_path: str, schema=None,
                   config: PipelineConfig = DEFAULT_CONFIG,
                   num_partitions: Optional[int] = None):
    """Drain a file-source extraction stream: the call blocks until all
    currently-available input is processed, then returns the finished
    StreamingQuery.
    """
    if schema is None:
        schema = ("url string, warc_ts timestamp, html binary, "
                  "text string, lang string")

    stream = (spark.readStream
              .schema(schema)
              .format("parquet")
              .load(input_path))
    return stream_extract_from(stream, output_path, checkpoint_path,
                               config=config, num_partitions=num_partitions)


def stream_extract_from(stream, output_path: str, checkpoint_path: str,
                        config: PipelineConfig = DEFAULT_CONFIG,
                        num_partitions: Optional[int] = None):
    """Drain an already-built streaming DataFrame through the extraction
    foreachBatch sink (see :func:`stream_extract`); callers control the
    source (schema, maxFilesPerTrigger, rate limits)."""
    from pyspark.sql import functions as F

    def process_batch(batch_df, batch_id: int) -> None:
        # Idempotent micro-batch write: foreachBatch is at-least-once, so a
        # retried batch must not append duplicates.  Each batch lands in its
        # own batch_id partition and the write DYNAMICALLY overwrites only
        # that partition — a replay rewrites the same files instead of
        # doubling them (the standard exactly-once foreachBatch recipe).
        out = (extract_pages(batch_df.select("url", "html"), config=config,
                             num_partitions=num_partitions)
               .withColumn("batch_id", F.lit(batch_id)))
        (out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_path))

    return _drain(stream.writeStream
                  .foreachBatch(process_batch)
                  .option("checkpointLocation", checkpoint_path))


def _drain(writer):
    """Run a stream writer over all currently-available input and block
    until it finishes; returns the StreamingQuery."""
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return query


def _parquet_append(stream, output_path: str, checkpoint_path: str):
    """Append-mode parquet sink writer with its checkpoint."""
    return (stream.writeStream
            .outputMode("append")
            .format("parquet")
            .option("path", output_path)
            .option("checkpointLocation", checkpoint_path))


def stateful_sessionize(spark, input_path: str, output_path: str,
                        checkpoint_path: str, gap_s: int = 1800):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user session tracking across micro-batches.

    State per user = the open session (start, last ts, event count).  Each
    batch sorts its events, merges them into the open session or closes it
    when the gap exceeds ``gap_s``; closed sessions are emitted immediately,
    the open session persists in the state store across restarts (the
    checkpoint carries it) — the streaming form of
    :func:`~.datapipe.events.sessionize`.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (spark.readStream
              .schema("event_id bigint, ts timestamp, user_id bigint, "
                      "event_type string, value double, props string")
              .format("parquet")
              .load(input_path)
              .selectExpr("user_id", "CAST(ts AS LONG) AS ts_s"))

    output_type = ("user_id bigint, session_start_s bigint, "
                   "session_end_s bigint, n_events bigint")
    state_type = "start_s bigint, last_s bigint, n bigint"

    def track(key, pdf_iter, state):
        (user_id,) = key
        ts = []
        for pdf in pdf_iter:
            ts.extend(int(t) for t in pdf["ts_s"])
        ts.sort()
        if state.exists:
            start_s, last_s, n = state.get
        else:
            start_s = last_s = None
            n = 0
        closed = []
        for t in ts:
            if start_s is None:
                start_s, last_s, n = t, t, 1
            elif t - last_s > gap_s:
                closed.append((user_id, start_s, last_s, n))
                start_s, last_s, n = t, t, 1
            else:
                last_s = t
                n += 1
        if start_s is not None:
            state.update((start_s, last_s, n))
        if closed:
            yield pd.DataFrame(closed, columns=[
                "user_id", "session_start_s", "session_end_s", "n_events"])

    sessions = (stream.groupBy("user_id")
                .applyInPandasWithState(track, output_type, state_type,
                                        "append",
                                        GroupStateTimeout.NoTimeout))

    return _drain(_parquet_append(sessions, output_path, checkpoint_path))


def windowed_event_counts(spark, input_path: str, output_path: str,
                          checkpoint_path: str,
                          window: str = "1 hour",
                          watermark: str = "2 hours"):
    """Stateful streaming aggregation with late-data handling: tumbling
    windows per event_type under a watermark (the Structured Streaming form
    of :func:`~.datapipe.events.tumbling_counts`).

    Late events older than the watermark are dropped by the engine; the
    append sink emits a window's row once the watermark passes its end —
    exactly-once per (window, event_type) under the checkpoint.
    """
    from pyspark.sql import functions as F

    stream = (spark.readStream
              .schema("event_id bigint, ts timestamp, user_id bigint, "
                      "event_type string, value double, props string")
              .format("parquet")
              .load(input_path))

    counts = (stream
              .withWatermark("ts", watermark)
              .groupBy(F.window("ts", window).alias("win"), "event_type")
              .agg(F.count("*").alias("n_events"),
                   F.round(F.sum("value"), 4).alias("value_sum"))
              .select(F.col("win.start").alias("window_start"),
                      F.col("win.end").alias("window_end"),
                      "event_type", "n_events", "value_sum"))

    return _drain(_parquet_append(counts, output_path, checkpoint_path))


def streaming_url_dedup(spark, input_path: str, output_path: str,
                        checkpoint_path: str):
    """Streaming URL-level dedup via ``applyInPandasWithState``: the
    state per canonical URL is the best (smallest) doc_id seen so far;
    a batch emits a row only when it IMPROVES the state — first sight
    emits once, later duplicates are suppressed, and an out-of-order
    earlier doc emits a correction row.  min() over the sink therefore
    equals the batch :func:`~.datapipe.webtext.url_normalize_dedup`
    keep set REGARDLESS of micro-batch arrival order — the emit-on-
    improvement form of the classic streaming dedup/suppression state
    pattern (state size = |distinct URLs|, bounded per key-group task).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (spark.readStream
              .schema("doc_id bigint, canon_url string")
              .option("maxFilesPerTrigger", 1)
              .format("parquet")
              .load(input_path))

    def dedupe(key, pdf_iter, state):
        (canon_url,) = key
        best = None
        for pdf in pdf_iter:
            for d in pdf["doc_id"]:
                d = int(d)
                if best is None or d < best:
                    best = d
        prev = state.get[0] if state.exists else None
        if best is not None and (prev is None or best < prev):
            state.update((best,))
            yield pd.DataFrame({"canon_url": [canon_url],
                                "doc_id": [best]})

    out = (stream.groupBy("canon_url")
           .applyInPandasWithState(dedupe,
                                   "canon_url string, doc_id bigint",
                                   "best bigint", "append",
                                   GroupStateTimeout.NoTimeout))
    return _drain(_parquet_append(out, output_path, checkpoint_path))
