"""Structured Streaming skin over the extraction pipeline.

The reference is batch-only (SURVEY.md §2.9): its thread/queue pipeline
maps to Spark's task scheduler, and the north rule's resumability maps
to either the chunked lineage runner (lineage.py) or — equivalently —
this Structured Streaming skin: a file-source stream over the pages
table, routed through the SAME `pipeline.extract_pages` the batch and
lineage runners use (its JVM sniff columns, stateless salted
repartition and single mapInPandas stage are all streaming-legal, with
or without embedded_images), and a checkpointed append-mode file sink.
Trigger.AvailableNow drains everything present and stops, giving
exactly-once incremental batch runs; new page files appearing between
runs are picked up automatically from the checkpoint.

Also provides the canonical watermarked event-time window aggregate for
late-data streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import extract_pages

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    protos_bc,
    max_files_per_trigger: int | None = None,
    **extract_kwargs,
):
    """Incremental extraction: parquet file stream → extract_pages (the
    batch router: PNG/JPEG→ocr, %PDF→pdf, else→dom) → parquet sink with
    checkpoint. Returns the started query (caller awaits termination;
    AvailableNow stops when caught up).

    extract_kwargs go to extract_pages unchanged, so batch and streaming
    are configuration-identical: every option of the stage is row-local
    (the salted repartition only reshuffles within the micro-batch;
    embedded images are fused inside their own row, so the plan has no
    join or aggregate; the encoder artifact and the word bank load once
    per executor), and the same append-mode sink serves them all."""
    reader = (
        spark.readStream.schema(PAGES_DDL).format("parquet")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.load(pages_dir)

    result = extract_pages(pages, protos_bc, **extract_kwargs)
    return (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


SESSION_OUT_SCHEMA = ("user_id long, session_id long, n_events long, "
                      "session_start timestamp")
SESSION_STATE_SCHEMA = "last_ts double, session_id long, start_ts double"


def stateful_sessionize(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    gap-based sessionization whose per-user state (last event time,
    running session id) persists across micro-batches through the
    checkpoint. Batch twin: the cumulative-window spelling in
    __spark_entry__.q_sessionize — tests assert they agree.

    Emits one row per (user, session) per micro-batch with that batch's
    event count (append mode; downstream sums per session)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        user_id = int(key[0])
        if state.exists:
            last_ts, session_id, start_ts = state.get
        else:
            last_ts, session_id, start_ts = None, 0, None
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        out: dict[int, dict] = {}
        for ts in rows["ts"]:
            ep = ts.timestamp()
            if last_ts is None or ep - last_ts > gap_sec:
                session_id += 1
                start_ts = ep
            last_ts = ep
            rec = out.setdefault(session_id, {
                "n": 0, "start": start_ts})
            rec["n"] += 1
        state.update((last_ts, session_id, start_ts))
        yield pd.DataFrame({
            "user_id": [user_id] * len(out),
            "session_id": list(out.keys()),
            "n_events": [v["n"] for v in out.values()],
            "session_start": [
                pd.Timestamp(int(round(v["start"] * 1_000_000)),
                             unit="us", tz="UTC")
                for v in out.values()],
        })

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA,
            "append", GroupStateTimeout.NoTimeout)
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts — the streaming aggregation
    shape (works identically on a batch DF, where the watermark is a
    no-op)."""
    src = events
    if src.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"),
             F.round(F.avg("value"), 4).alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n", "avg_value")
    )
