"""Streaming soak: ~50 micro-batches, mid-stream kill/resume, bounded
state (VERDICT r7 #6).

Every prior streaming test drains availableNow in a handful of
micro-batches; this harness exercises the long-run shape a real
drop-zone deployment has: a LIVE query (processingTime trigger,
maxFilesPerTrigger=1) consuming files that arrive WHILE it runs, a
mid-stream stop with backlog still unfed, a checkpoint resume that
picks up exactly where it left off, and a final sentinel-drain. The
asserted properties (tests/test_streaming_soak.py):

- end-state equality: the streamed windowed aggregation
  (streaming_conv_stats: 1-hour event-time windows, 10-minute
  watermark, append mode) equals the batch groupBy over the same
  input — across ~50 micro-batches and a kill/resume, not one drain;
- exactly-once across the resume: the file sink's _spark_metadata
  commit log means re-reads see each window once (no dup rows);
- BOUNDED STATE: the listener-reported state-store row count
  (stateOperators.numRowsTotal) plateaus at the live-window horizon
  instead of growing with every window ever seen — the watermark
  actually evicts. This is the property that decides whether the
  query survives a month of 100-TB/day ingest, and no short drain
  can show it.

Event time advances 20 minutes per wave, so 1-hour windows close
continuously throughout the run and state turns over ~17 times in 50
waves. main() runs the 50-wave soak and writes
BENCH/streaming_soak.md with per-micro-batch rows/sec.

Usage: python scripts/streaming_soak.py
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
N_CONVS = 5
ROWS_PER_CONV = 4
WAVE_STEP_MIN = 20


def wave_table(w: int) -> pa.Table:
    """Wave w: N_CONVS conversations x ROWS_PER_CONV turns, event time
    BASE + w*20min (deterministic)."""
    ts = BASE + dt.timedelta(minutes=WAVE_STEP_MIN * w)
    rows = [(f"c{c}", w * ROWS_PER_CONV + j,
             f"wave {w} conv {c} turn {j} " + "x" * ((w + j) % 17))
            for c in range(N_CONVS) for j in range(ROWS_PER_CONV)]
    return pa.table({
        "conv_id": pa.array([r[0] for r in rows], pa.string()),
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": pa.array(["user"] * len(rows), pa.string()),
        "text": pa.array([r[2] for r in rows], pa.string()),
        "tool": pa.array([""] * len(rows), pa.string()),
        "ts": pa.array([ts] * len(rows), pa.timestamp("us", tz="UTC")),
    })


def sentinel_table() -> pa.Table:
    """Far-future event: advances the watermark past every real window
    so append mode flushes them all (the established drain trick)."""
    t = wave_table(0).slice(0, 1)
    return t.set_column(
        t.schema.get_field_index("ts"), "ts",
        pa.array([BASE + dt.timedelta(days=365)],
                 pa.timestamp("us", tz="UTC")))


def _start_live(spark, in_dir: str, out_dir: str, ckpt: str):
    from snacktory_spark.pipeline.streaming import streaming_conv_stats

    out = streaming_conv_stats(spark, in_dir, max_files_per_trigger=1)
    return (out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .outputMode("append").start())


def _await_rows(collector, want_rows: int, timeout: float = 120.0):
    """Poll the rate listener until want_rows input rows are consumed."""
    t0 = time.time()
    while time.time() - t0 < timeout:
        if sum(b["input_rows"] or 0 for b in collector.snapshot()) \
                >= want_rows:
            return
        time.sleep(0.2)
    raise TimeoutError(
        f"stream consumed "
        f"{sum(b['input_rows'] or 0 for b in collector.snapshot())}"
        f"/{want_rows} rows in {timeout}s")


def run_soak(spark, workdir: str, n_waves: int = 50,
             kill_after: int = 30) -> dict:
    """Drive the full soak; returns the evidence summary dict.

    Phase 1: live query; feed waves 0..kill_after-1 while it runs;
    stop it mid-stream (files 'arriving' after the stop become the
    resume backlog). Phase 2: resume from the checkpoint, feed the
    remaining waves live. Phase 3: sentinel + availableNow drain
    (maxFilesPerTrigger still 1) closes all real windows. Compare
    against the batch aggregation of everything but the sentinel."""
    from pyspark.sql import functions as F

    from snacktory_spark.pipeline.streaming import (attach_rate_listener,
                                                    streaming_conv_stats)

    in_dir = os.path.join(workdir, "in")
    out_dir = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(in_dir, exist_ok=True)
    rows_per_wave = N_CONVS * ROWS_PER_CONV

    collector, detach = attach_rate_listener(spark)
    try:
        # phase 1: live consumption of files landing mid-stream
        q1 = _start_live(spark, in_dir, out_dir, ckpt)
        for w in range(kill_after):
            pq.write_table(wave_table(w),
                           os.path.join(in_dir, f"wave-{w:03d}.parquet"))
            time.sleep(0.05)
        _await_rows(collector, kill_after * rows_per_wave)
        q1.stop()
        q1.awaitTermination(60)
        # backlog lands while the query is DOWN
        for w in range(kill_after, n_waves):
            pq.write_table(wave_table(w),
                           os.path.join(in_dir, f"wave-{w:03d}.parquet"))

        # phase 2: checkpoint resume drains the backlog live
        q2 = _start_live(spark, in_dir, out_dir, ckpt)
        _await_rows(collector, n_waves * rows_per_wave)
        q2.stop()
        q2.awaitTermination(60)

        # phase 3: sentinel + availableNow flushes every real window
        pq.write_table(sentinel_table(),
                       os.path.join(in_dir, "wave-zzz-sentinel.parquet"))
        out = streaming_conv_stats(spark, in_dir, max_files_per_trigger=1)
        q3 = (out.writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True)
              .outputMode("append").start())
        q3.awaitTermination(120)
    finally:
        detach()

    streamed = {(r["win_start"], r["conv_id"], r["n_turns"],
                 r["total_chars"])
                for r in spark.read.parquet(out_dir).collect()}
    sentinel_ts = BASE + dt.timedelta(days=365)
    batch = {(r["win_start"], r["conv_id"], r["n_turns"],
              r["total_chars"])
             for r in (spark.read.parquet(in_dir)
                       .filter(F.col("ts") < F.lit(sentinel_ts))
                       .groupBy(F.window("ts", "1 hour").alias("win"),
                                "conv_id")
                       .agg(F.count("*").alias("n_turns"),
                            F.sum(F.length("text")).alias("total_chars"))
                       .select(F.col("win.start").alias("win_start"),
                               "conv_id", "n_turns", "total_chars")
                       .collect())}
    batches = [b for b in collector.snapshot()
               if (b["input_rows"] or 0) > 0]
    return {
        "streamed": streamed,
        "batch": batch,
        "equal": streamed == batch,
        "n_batches": len(batches),
        "n_windows": len(streamed),
        "max_state_rows": max(b["state_rows_total"] for b in batches),
        "rows_per_sec": [round(b["rows_per_sec"] or 0.0, 1)
                         for b in batches],
        "duration_ms": [b["duration_ms"] for b in batches],
    }


def main():
    import shutil
    import tempfile

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .appName("streaming-soak").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="soak-")
    try:
        t0 = time.time()
        res = run_soak(spark, workdir)
        wall = time.time() - t0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    rps = sorted(res["rows_per_sec"])
    med = rps[len(rps) // 2]
    print(f"equal={res['equal']} n_batches={res['n_batches']} "
          f"n_windows={res['n_windows']} "
          f"max_state={res['max_state_rows']} median_rows_per_sec={med}")

    lines = [
        "# Streaming soak: 50 micro-batches, kill/resume, bounded state",
        "",
        "Harness: scripts/streaming_soak.py (asserted in "
        "tests/test_streaming_soak.py). A LIVE windowed-aggregation "
        "query (1-hour event-time windows, 10-minute watermark, append "
        "mode, maxFilesPerTrigger=1) consumes 50 one-file waves that "
        "land WHILE it runs; the query is stopped mid-stream with "
        "backlog unfed, resumed from its checkpoint, fed the rest "
        "live, then sentinel-drained. Event time advances 20 min per "
        "wave, so windows close continuously and the state store "
        "turns over ~17 times during the run.",
        "",
        f"| metric | value |",
        f"|---|---|",
        f"| micro-batches (non-empty) | {res['n_batches']} |",
        f"| end-state equality vs batch groupBy | {res['equal']} |",
        f"| windows emitted | {res['n_windows']} |",
        f"| max state rows at any point | {res['max_state_rows']} |",
        f"| median rows/sec per micro-batch | {med} |",
        f"| total wall | {wall:.1f}s |",
        "",
        "Bounded-state reading: "
        f"{res['n_windows']} (window, conv) pairs were emitted over "
        f"the run, but the state store never held more than "
        f"{res['max_state_rows']} rows — the watermark evicts closed "
        "windows, so state scales with the live horizon (windows "
        "still open x active conversations), not with stream "
        "lifetime. That plateau is what lets this query run for a "
        "month of continuous ingest; per-batch rows/sec here is "
        "micro-batch-overhead-dominated (20-row waves measure the "
        "machinery, not throughput — bench.py owns throughput).",
        "",
        "Per-micro-batch rows/sec (arrival order):",
        "",
        "```",
        " ".join(str(v) for v in res["rows_per_sec"]),
        "```",
    ]
    out_path = os.path.join(REPO, "BENCH", "streaming_soak.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
