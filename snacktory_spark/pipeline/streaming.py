"""Structured-Streaming extraction (optional incremental mode).

The reference is strictly batch (SURVEY.md §2.6: snacktory is stateless per
document), so streaming is an extension, not a port: new transcript files
land in a directory/Iceberg table → readStream → the SAME vectorized
extraction stage → writeStream parquet with checkpointing. Extraction is
stateless per row, so no watermark/state is needed; exactly-once comes from
the sink checkpoint. `run_streaming_once` uses availableNow to drain the
backlog and stop — the incremental analog of the batch job's manifest
resume.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from ..schema import EXTRACTED_SCHEMA, TRANSCRIPT_SCHEMA
from ..udf import extract_map_in_pandas
from .extract_job import ensure_py_files, gated_turns, has_text


def streaming_extracted(spark: SparkSession, input_dir: str):
    stream = (spark.readStream
              .schema(TRANSCRIPT_SCHEMA)
              .parquet(input_dir))
    return gated_turns(stream, lineage=False).mapInPandas(
        extract_map_in_pandas, schema=EXTRACTED_SCHEMA)


def streaming_conv_stats(spark: SparkSession, input_dir: str,
                         watermark: str = "10 minutes",
                         window: str = "1 hour",
                         max_files_per_trigger: int | None = None):
    """Windowed per-conversation stats with late-data handling: event-time
    tumbling window over `ts` with a watermark. Demonstrates the stateful
    streaming path (watermark + windowed aggregation) the batch pipeline
    doesn't need — extraction itself is stateless per turn.
    max_files_per_trigger throttles the file source (one knob for both
    live triggers and availableNow backlog drains) — the soak harness
    uses it to force many small micro-batches."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    stream = reader.parquet(input_dir)
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"), F.col("conv_id"))
            .agg(F.count("*").alias("n_turns"),
                 F.sum(F.length("text")).alias("total_chars"))
            .select(F.col("win.start").alias("win_start"),
                    "conv_id", "n_turns", "total_chars"))


def streaming_dedup_turns(spark: SparkSession, input_dir: str,
                          watermark: str = "10 minutes"):
    """Ingest-time exact dedup: drop turns whose text content (sha256)
    was already seen within the watermark horizon
    (dropDuplicatesWithinWatermark) — the streaming counterpart of the
    batch dedup-extract path. State is bounded by the watermark: at
    100 TB/day ingest the dedup state holds one hash per distinct text
    seen in the horizon, evicted as event time advances.

    Rows with a NULL ts are gated out EXPLICITLY: a stateful watermark
    operator silently discards rows with null event time, which would be
    undetectable data loss relative to the batch path (review finding) —
    the explicit filter makes the precondition visible and auditable."""
    stream = (spark.readStream
              .schema(TRANSCRIPT_SCHEMA)
              .parquet(input_dir))
    hashed = (stream
              .filter(has_text() & F.col("ts").isNotNull())
              .withColumn("text_sha", F.sha2(F.col("text"), 256)))
    return (hashed
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["text_sha"])
            .drop("text_sha"))  # internal key — keep the transcript shape


def _drain_to_parquet(out, output_dir: str, checkpoint_dir: str,
                      timeout_sec: int) -> bool:
    """Append every currently-available input of the stream `out` to
    parquet under output_dir, then stop (availableNow); True when the
    query finished within timeout_sec."""
    query = (out.writeStream
             .format("parquet")
             .option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .outputMode("append")
             .start())
    return query.awaitTermination(timeout_sec)


def run_streaming_dedup_once(spark: SparkSession, input_dir: str,
                             output_dir: str, checkpoint_dir: str,
                             timeout_sec: int = 300) -> bool:
    return _drain_to_parquet(streaming_dedup_turns(spark, input_dir),
                             output_dir, checkpoint_dir, timeout_sec)


def run_streaming_stats_once(spark: SparkSession, input_dir: str,
                             output_dir: str, checkpoint_dir: str,
                             timeout_sec: int = 300) -> bool:
    return _drain_to_parquet(streaming_conv_stats(spark, input_dir),
                             output_dir, checkpoint_dir, timeout_sec)


def streaming_conv_progress(spark: SparkSession, input_dir: str):
    """Custom stateful operator via applyInPandasWithState: running
    per-conversation progress (turns/chars seen so far) maintained across
    micro-batches. Emits one row per conversation per batch with the
    cumulative totals — the kind of incremental bookkeeping an ingestion
    pipeline keeps while a conversation is still streaming in."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("conv_id string, turns_so_far long, chars_so_far long, "
                  "max_turn_idx int")
    state_schema = "turns long, chars long, max_idx int"

    def update(key, pdfs, state):
        turns, chars, max_idx = (state.get if state.exists else (0, 0, -1))
        for pdf in pdfs:
            turns += len(pdf)
            chars += int(pdf["text"].str.len().fillna(0).sum())
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((turns, chars, max_idx))
        yield pd.DataFrame({"conv_id": [key[0]], "turns_so_far": [turns],
                            "chars_so_far": [chars], "max_turn_idx": [max_idx]})

    stream = (spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
              .select("conv_id", "turn_idx", "text"))
    return (stream.groupBy("conv_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def run_streaming_progress_once(spark: SparkSession, input_dir: str,
                                output_dir: str, checkpoint_dir: str,
                                timeout_sec: int = 300) -> bool:
    ensure_py_files(spark)
    out = streaming_conv_progress(spark, input_dir)

    # file sinks are append-only; update-mode state output goes through
    # foreachBatch (also the idiomatic hook for Iceberg MERGE upserts)
    def write_batch(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)) \
                .write.mode("append").parquet(output_dir)

    query = (out.writeStream
             .foreachBatch(write_batch)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .outputMode("update")
             .start())
    return query.awaitTermination(timeout_sec)


def run_streaming_once(spark: SparkSession, input_dir: str, output_dir: str,
                       checkpoint_dir: str, timeout_sec: int = 300) -> bool:
    """Drain all currently-available input files, then stop (availableNow)."""
    return _drain_to_parquet(streaming_extracted(spark, input_dir),
                             output_dir, checkpoint_dir, timeout_sec)


class RateMetricsListener:
    """StreamingQueryListener capturing per-micro-batch throughput.

    Mirrors the batch job's manifest metrics for the incremental path:
    every progress event appends one JSON line (batch id, input rows,
    rows/sec, duration) to <metrics_path>; `snapshot()` returns the
    in-memory list. Attach with `attach_rate_listener(spark, path)`.
    """

    def __init__(self, metrics_path: str | None = None):
        import json as _json
        self._json = _json
        self.metrics_path = metrics_path
        self.batches: list[dict] = []

    # StreamingQueryListener duck-interface (registered via the pyspark
    # wrapper below; events carry .progress dicts)
    def on_progress(self, progress: dict) -> None:
        rec = {
            "query_id": progress.get("id"),
            "batch_id": progress.get("batchId"),
            "input_rows": progress.get("numInputRows"),
            "rows_per_sec": progress.get("processedRowsPerSecond"),
            "duration_ms": (progress.get("durationMs") or {}).get("triggerExecution"),
            "timestamp": progress.get("timestamp"),
            # total state-store rows across stateful operators — the
            # bounded-state evidence for long-running queries (r8): a
            # healthy watermark evicts closed windows, so this plateaus
            # instead of growing with every window ever seen
            "state_rows_total": sum(
                int(so.get("numRowsTotal") or 0)
                for so in (progress.get("stateOperators") or [])),
        }
        self.batches.append(rec)
        if self.metrics_path:
            with open(self.metrics_path, "a") as f:
                f.write(self._json.dumps(rec) + "\n")

    def snapshot(self) -> list[dict]:
        return list(self.batches)


def attach_rate_listener(spark: SparkSession, metrics_path: str | None = None):
    """Register a RateMetricsListener on the session; returns (collector,
    detach_fn)."""
    import json as _json

    from pyspark.sql.streaming import StreamingQueryListener

    collector = RateMetricsListener(metrics_path)

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            try:
                collector.on_progress(_json.loads(event.progress.json))
            except Exception:  # noqa: BLE001 — metrics must never kill a query
                pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _L()
    spark.streams.addListener(listener)
    return collector, lambda: spark.streams.removeListener(listener)
