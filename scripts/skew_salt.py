"""Mega-conversation skew: salted vs unsalted repartition, measured.

VERDICT r6 #6: the salted repartition in extract_job.extracted_df
(xxhash64(conv_id, turn_idx div salt_span)) is the north-star skew
defuse, asserted by a plan test but never measured the way
BENCH/warc_split.md measures the WARC analog. This script builds a
deliberately skewed corpus — ONE conversation holding half the turns —
runs the real extraction UDF over both partitionings, interleaved
(CLAUDE.md: this box drifts +-20%, so A/B legs alternate within the
same session), and records wall-clock plus the per-task row histogram
that explains it. Writes BENCH/skew_salt.md.

Usage: python scripts/skew_salt.py [n_replicates]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PARTITIONS = 64
SALT_SPAN = 64          # extract_job.DEFAULT_SALT_SPAN


def build_skewed(spark):
    """sf0.1 transcript texts under a skewed conversation layout: the
    first half of all turns become ONE mega conversation (turn_idx
    renumbered 0..n/2-1 so the salt's turn_idx div 64 actually varies
    within it — a real mega-thread, not 300 copies of turn 3); the
    rest keep their original (conv_id, turn_idx)."""
    from pyspark.sql import Window, functions as F
    from snacktory_spark.data.synth import ensure_synth
    sdir = ensure_synth("/root/testdata/sf0.1", include_extraction=False)
    tr = spark.read.parquet(f"{sdir}/transcripts.parquet") \
        .select("conv_id", "turn_idx", "role", "tool", "ts", "text")
    n = tr.count()
    w = Window.orderBy("conv_id", "turn_idx")   # bench-only global sort
    idx = F.row_number().over(w) - 1
    skewed = (tr.withColumn("_i", idx)
              .withColumn("conv_id",
                          F.when(F.col("_i") < n // 2, F.lit("mega-conv"))
                          .otherwise(F.col("conv_id")))
              .withColumn("turn_idx",
                          F.when(F.col("conv_id") == "mega-conv",
                                 F.col("_i")).otherwise(F.col("turn_idx")))
              .drop("_i"))
    return skewed, n


def partitioning(df, salted: bool):
    from pyspark.sql import functions as F
    if salted:
        key = F.xxhash64(F.col("conv_id"),
                         (F.col("turn_idx") / F.lit(SALT_SPAN))
                         .cast("long"))
    else:
        key = F.col("conv_id")
    return df.repartition(PARTITIONS, key)


def task_histogram(df):
    from pyspark.sql import functions as F
    rows = (df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().collect())
    counts = sorted((r["count"] for r in rows), reverse=True)
    counts += [0] * (PARTITIONS - len(counts))
    return counts


def run_leg(skewed, salted: bool) -> float:
    from snacktory_spark.udf import extract_map_in_pandas
    from snacktory_spark.schema import EXTRACTED_SCHEMA
    part = partitioning(skewed, salted)
    t0 = time.monotonic()
    part.mapInPandas(extract_map_in_pandas,
                     schema=EXTRACTED_SCHEMA).count()
    return time.monotonic() - t0


def main():
    n_rep = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from pyspark.sql import SparkSession
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "false")
             .appName("skew-salt").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)

    skewed, n = build_skewed(spark)
    skewed = skewed.cache()
    skewed.count()

    hist = {s: task_histogram(partitioning(skewed, s))
            for s in (False, True)}

    times = {False: [], True: []}
    run_leg(skewed, True)                   # JVM/UDF warmup, discarded
    for _ in range(n_rep):                  # interleaved A/B legs
        for salted in (False, True):
            times[salted].append(run_leg(skewed, salted))
    med = {s: statistics.median(times[s]) for s in (False, True)}
    for s in (False, True):
        name = "salted" if s else "unsalted"
        print(f"{name}: median {med[s]:.2f}s, raw "
              f"{[round(t, 2) for t in times[s]]}, task rows "
              f"max={hist[s][0]} p50={hist[s][PARTITIONS // 2]}")

    mega = n // 2
    lines = [
        "# Mega-conversation skew: salted vs unsalted repartition",
        "",
        f"Corpus: the sf0.1 transcript texts ({n} turns) re-laid so ONE "
        f"conversation holds {mega} turns (half the corpus), the rest "
        "unchanged — the pathological thread a crawl of a busy forum "
        "produces. Both legs run the real extraction UDF "
        "(mapInPandas over extract_map_in_pandas) on local[32] with "
        f"{PARTITIONS} shuffle partitions, AQE off so the partitioning "
        "under test is the one measured; legs interleaved "
        f"{n_rep}x within one session (this box drifts +-20%); "
        "generated by scripts/skew_salt.py:",
        "",
        "| partitioning | median wall | raw legs (s) | max task rows "
        "| median task rows |",
        "|---|---|---|---|---|",
    ]
    for s, name in ((False, "`repartition(conv_id)` (unsalted)"),
                    (True, "`repartition(xxhash64(conv_id, turn_idx "
                           "div 64))` (salted — the shipped path)")):
        raw = ", ".join(f"{t:.2f}" for t in times[s])
        lines.append(f"| {name} | {med[s]:.2f}s | {raw} | "
                     f"{hist[s][0]} | {hist[s][PARTITIONS // 2]} |")
    speedup = med[False] / med[True] if med[True] else float("inf")
    lines += [
        "",
        f"Salting is {speedup:.1f}x faster end-to-end on this corpus. "
        "The histogram is the mechanism: unsalted, the mega "
        f"conversation's {mega} turns land in ONE task (max task rows "
        f"~= {hist[False][0]}) and the whole stage waits on that "
        "straggler while 31 cores idle; salted, turn_idx div 64 slices "
        "the conversation into ~64-turn groups spread across all "
        f"{PARTITIONS} partitions (max task rows {hist[True][0]}), so "
        "the stage finishes when the AVERAGE task does. At 100 TB the "
        "same single-task ceiling would be a multi-hour straggler (or "
        "an OOM) per mega-thread; the salt bounds per-task work by "
        "construction, which is why extracted_df ships it "
        "(extract_job.py:323-329).",
        "",
        "extracted_dedup_df needs no salt: its work key is the content "
        "hash (uniform by construction) — conversation-length skew "
        "cannot reach the UDF stage there.",
    ]
    out_path = os.path.join(REPO, "BENCH", "skew_salt.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
