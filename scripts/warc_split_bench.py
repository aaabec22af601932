"""Mega-WARC straggler A/B: whole-file read vs CDX range-parallel read.

The point of the splittable CDX path (pipeline/warc_source.py) is
straggler elimination: a .warc.gz is one sequential stream, so the
whole-file reader gets ONE task per file no matter how big the file is,
while the CDX path spreads a mega-file's records over every core.
tests/test_warc.py proves the >1-task property; this script turns the
design claim into a measurement (VERDICT r5 next #5): one synthetic
mega-WARC (one file, thousands of records — the shape of a Common
Crawl segment), both readers in the SAME session, interleaved A/B/A/B
to cancel box drift, writing BENCH/warc_split.md with wall-clocks and
the range path's task-occupancy histogram.

Usage: python scripts/warc_split_bench.py [n_records] [html_kb]
"""

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402


def build_mega_warc(path: str, n_records: int, html_kb: int) -> int:
    """One per-record-gzip WARC with n_records pages of ~html_kb HTML.
    Page bodies are base64 of seeded random bytes — nearly
    incompressible, so the compressed file size (and each reader's
    decompress+parse work) tracks the raw corpus size the way a real
    crawl's does, instead of gzip collapsing repetitive filler to
    nothing and trivializing the single-task baseline."""
    import base64

    import numpy as np

    from snacktory_spark.warc import write_warc

    def page(i):
        raw = np.random.default_rng(i).bytes(html_kb * 768)
        body = base64.b64encode(raw).decode()
        return (f"http://mega.test/{i}",
                f"<html><body><p>{body}</p></body></html>".encode())

    # stream to disk in chunks to bound memory
    with open(path, "wb") as f:
        chunk = 200
        for base in range(0, n_records, chunk):
            pages = [page(i) for i in
                     range(base, min(base + chunk, n_records))]
            data = write_warc(pages, gzip_members=True)
            if base > 0:
                # drop the per-chunk warcinfo record (keep only the first
                # chunk's) so the file is ONE coherent archive
                from snacktory_spark.warc import build_cdx
                first = build_cdx(data)[0]
                data = data[first["offset"] + first["length"]:]
            f.write(data)
    return os.path.getsize(path)


def whole_file_read(spark, path: str):
    """The non-splittable baseline: binaryFile rows (ONE task per file),
    full sequential record walk per task."""
    from snacktory_spark.pipeline.extract_job import ensure_py_files
    ensure_py_files(spark)
    df = (spark.read.format("binaryFile").load(path)
          .select("path", "content"))

    def parse(batches):
        from snacktory_spark.warc import iter_warc_responses
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                for uri, status, _ct, body in \
                        iter_warc_responses(bytes(content)):
                    rows.append((uri, status, len(body)))
            yield pd.DataFrame(rows, columns=["uri", "status", "n"])

    return df.mapInPandas(parse, "uri string, status int, n long")


def main():
    from pyspark.sql import functions as F

    from snacktory_spark.pipeline.extract_job import build_session
    from snacktory_spark.pipeline.warc_source import (read_warc_ranges,
                                                      warc_index_df)

    n_records = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    html_kb = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import tempfile
    tmp = tempfile.mkdtemp(prefix="warc-split-")
    mega = os.path.join(tmp, "mega.warc.gz")
    t0 = time.time()
    size = build_mega_warc(mega, n_records, html_kb)
    print(f"built {mega}: {size / 1e6:.1f} MB, {n_records} records "
          f"({time.time() - t0:.1f}s)")

    spark = build_session(app="warc-split-bench",
                          master=f"local[{cpus}]",
                          shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # index once (production: built once per crawl, persisted as parquet)
    t0 = time.time()
    idx = warc_index_df(spark, mega)
    idx_pd = idx.toPandas()
    t_index = time.time() - t0
    idx_df = spark.createDataFrame(
        idx_pd, "path string, offset long, length long, warc_type "
                "string, target_uri string, payload_length long")

    def run_range():
        out = read_warc_ranges(spark, idx_df, num_partitions=cpus)
        got = (out.withColumn("pid", F.spark_partition_id())
               .groupBy("pid").count().collect())
        assert sum(r["count"] for r in got) == n_records
        return {r["pid"]: r["count"] for r in got}

    def run_whole():
        n = whole_file_read(spark, mega).count()
        assert n == n_records
        return n

    # warm both paths once, then interleave A/B replicates
    run_range()
    run_whole()
    t_range, t_whole = [], []
    hist = None
    for _ in range(3):
        t0 = time.time()
        hist = run_range()
        t_range.append(time.time() - t0)
        t0 = time.time()
        run_whole()
        t_whole.append(time.time() - t0)

    med_r, med_w = statistics.median(t_range), statistics.median(t_whole)
    occ = sorted(hist.values())
    lines = [
        "# Splittable WARC read: mega-file straggler A/B",
        "",
        "One synthetic per-record-gzip WARC "
        f"({size / 1e6:.1f} MB, {n_records} records of ~{html_kb} KB "
        "HTML), both readers in the same session on "
        f"local[{cpus}], interleaved A/B x3, medians "
        "(generated by scripts/warc_split_bench.py):",
        "",
        "| path | tasks | wall-clock (median of 3) | replicates |",
        "|---|---|---|---|",
        f"| whole-file (binaryFile, 1 task/file) | 1 | "
        f"**{med_w:.2f}s** | "
        + "/".join(f"{t:.2f}" for t in t_whole) + " |",
        f"| CDX range-parallel (read_warc_ranges) | {len(hist)} | "
        f"**{med_r:.2f}s** | "
        + "/".join(f"{t:.2f}" for t in t_range) + " |",
        "",
        f"Speedup: **{med_w / med_r:.1f}x** on one file. One-time CDX "
        f"index build: {t_index:.2f}s (amortized across every "
        "subsequent read of the crawl; at production scale the index "
        "is persisted as parquet next to the corpus).",
        "",
        "Range-path task occupancy (records per task): "
        f"min {occ[0]}, median {occ[len(occ) // 2]}, max {occ[-1]} "
        f"over {len(hist)} tasks — the mega-file's records spread "
        "across every core instead of serializing on one.",
        "",
        "At 100 TB this is the difference between a stage bounded by "
        "the largest archive file and one bounded by total bytes / "
        "total cores.",
    ]
    out_path = os.path.join(REPO, "BENCH", "warc_split.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    print(f"\nwrote {out_path}")
    spark.stop()
    import shutil
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
