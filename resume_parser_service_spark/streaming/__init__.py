"""Structured Streaming ingestion wrapper.

The reference is a request/response service with no stream processing
(SURVEY.md §2D), so batch is the primary mode — but continuous corpus
ingestion is the realistic deployment for a crawl pipeline, so this
wraps the SAME extraction dataflow in a file-source stream with
``foreachBatch``: each micro-batch goes through validate -> kernel ->
dedup-within-batch -> snapshot commit, giving exactly-once table
appends on top of Spark's checkpointed source offsets plus our
audit-table anti-join (double idempotency: offsets dedupe files,
the audit dedupes urls across restarts).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..pipeline.run import run_extraction_job
from ..schema import PAGES_SCHEMA
from .cdc import stream_changes

__all__ = ["stream_extraction", "stream_windowed_metrics",
           "stream_sessionize", "stream_changes"]


def stream_extraction(spark: SparkSession, input_dir: str, out_root: str,
                      checkpoint_dir: str | None = None,
                      available_now: bool = True,
                      salt_partitions: int | None = None,
                      **job_kwargs):
    """Stream parquet ``pages`` files from ``input_dir`` into the
    extraction tables under ``out_root``.

    ``available_now=True`` drains everything currently present and
    stops (batch-like catch-up); ``False`` runs continuously on new
    files. ``salt_partitions`` and the extra ``job_kwargs`` (enrich,
    neardup_index, canonicalize_urls, compact_after) forward to
    ``run_extraction_job`` per micro-batch — the streaming path offers
    the same feature set as batch. Returns the StreamingQuery."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_root, "_stream_ckpt")

    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", "64")
              .parquet(input_dir))

    def process_batch(batch_df, batch_id: int):
        run_extraction_job(batch_df.sparkSession, batch_df, out_root,
                           salt_partitions=salt_partitions, **job_kwargs)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_metrics(spark: SparkSession, input_dir: str,
                            out_dir: str, checkpoint_dir: str | None = None,
                            window: str = "1 hour",
                            watermark: str = "10 minutes",
                            available_now: bool = True):
    """Continuous ingest monitoring: per-(event-time window, lang) doc
    counts and byte volumes over the pages stream — the streaming
    analogue of the batch hour-histogram queries.

    Event time is ``warc_ts`` (when the page was crawled, not when the
    file arrived), with a watermark bounding how late a page may arrive
    and still count. Append output mode writes each window exactly once,
    when the watermark passes its end — so the parquet sink is
    append-only and safely consumable while the stream runs. Rows later
    than the watermark are dropped by contract (counted nowhere), which
    is what bounds aggregation state at 100 TB: open state is
    O(open windows x langs), independent of corpus size, and the
    watermark survives restarts via the checkpoint."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_ckpt")
    from pyspark.sql import functions as F

    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", "64")
              .parquet(input_dir))
    agg = (stream
           .withWatermark("warc_ts", watermark)
           .groupBy(F.window("warc_ts", window).alias("win"), "lang")
           .agg(F.count("*").alias("n_docs"),
                F.sum(F.length("html")).alias("bytes_in")))
    flat = agg.select(F.col("win.start").alias("window_start"),
                      F.col("win.end").alias("window_end"),
                      "lang", "n_docs", "bytes_in")
    writer = (flat.writeStream.outputMode("append")
              .format("parquet").option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sessionize(spark: SparkSession, input_dir: str, out_dir: str,
                      checkpoint_dir: str | None = None,
                      gap_minutes: int = 30,
                      watermark: str = "10 minutes",
                      available_now: bool = True):
    """Custom stateful streaming operator — per-user session assembly
    via ``applyInPandasWithState`` (the batch counterpart is the
    window-based ``sessionize_events`` catalog query).

    Per user_id the state holds the one OPEN session (start, last event
    time, count, value sum) as epoch-micros longs — O(1) state per key,
    the shape that scales to any user count. A session closes and is
    emitted when (a) a later event arrives past the inactivity gap, or
    (b) the event-time watermark passes last_event + gap with no new
    data (``EventTimeTimeout`` — how open sessions drain without a
    poison event). Output is append-only parquet: each closed session
    is written exactly once, checkpoint-recoverable across restarts.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_ckpt")
    gap_us = gap_minutes * 60 * 1_000_000

    out_type = StructType([
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ])
    state_type = StructType([
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ])

    def assemble(key, pdf_iter, state: GroupState):
        (user_id,) = key

        def emit(start_us, last_us, n, total):
            return pd.DataFrame({
                "user_id": [user_id],
                "session_start": [pd.to_datetime(start_us, unit="us")],
                "session_end": [pd.to_datetime(last_us, unit="us")],
                "n_events": [n],
                "total_value": [total],
            })

        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield emit(start_us, last_us, n, total)
            return

        pdf = pd.concat(list(pdf_iter)).sort_values("ts")
        ts_us = (pdf["ts"].astype("datetime64[ns]").astype("int64")
                 // 1000).tolist()
        vals = pdf["value"].tolist()

        if state.exists:
            start_us, last_us, n, total = state.get
        else:
            start_us, last_us, n, total = ts_us[0], ts_us[0], 0, 0.0

        for t, v in zip(ts_us, vals):
            if n and t - last_us > gap_us:
                yield emit(start_us, last_us, n, total)
                start_us, n, total = t, 0, 0.0
            # a late-but-within-watermark event may predate the stored
            # session start — the emitted window must cover every event
            # it counted
            start_us = min(start_us, t)
            last_us = max(last_us, t)
            n += 1
            total += v

        state.update((start_us, last_us, n, total))
        # drain via event-time timeout once the watermark passes
        # last_event + gap (clamped above the current watermark — Spark
        # rejects timeouts at or before it)
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_us // 1000 + gap_us // 1000,
                                      wm_ms + 1))

    events_schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])

    stream = (spark.readStream.schema(events_schema)
              .option("maxFilesPerTrigger", "64")
              .parquet(input_dir))
    sessions = (stream
                .withWatermark("ts", watermark)
                .groupBy("user_id")
                .applyInPandasWithState(
                    assemble, out_type, state_type, "append",
                    GroupStateTimeout.EventTimeTimeout))
    writer = (sessions.writeStream.outputMode("append")
              .format("parquet").option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
