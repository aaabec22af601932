"""spark-submit entry point for the extraction pipeline.

Cluster deployment (the north-rule launch path):

    zip -r /tmp/snacktory_spark.zip snacktory_spark    # from the checkout root
    spark-submit --py-files /tmp/snacktory_spark.zip \
        scripts/submit_extract.py \
        --input  <parquet dir or iceberg table identifier> \
        --output <parquet dir> \
        [--buckets 4096] [--salt-span 64] [--partitions N] [--no-resume]

Local smoke:

    spark-submit --master local[8] --py-files /tmp/snacktory_spark.zip \
        scripts/submit_extract.py \
        --input data/synth/sf0.001/transcripts.parquet \
        --output /tmp/extract_out

--partitions (default 2 × default parallelism) is the width of the UDF and
write stages; a bucket dir gets at most ceil(partitions / buckets in a wave)
files per wave, rows in (conv_id, turn_idx) order.

The job is idempotently resumable: rerunning after a kill reprocesses only
buckets missing from <output>/_manifest (see pipeline/extract_job.py).
--output may be a scheme'd URI (file:, hdfs://, s3a://...): manifests
resolve the output path as Spark's writer does (pipeline/jobfs.py), so
resume state lands next to the data on cluster deployments, and resuming
against a different input or bucket count reprocesses instead of silently
skipping.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv=None):
    p = argparse.ArgumentParser(description="snacktory transcript extraction")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--salt-span", type=int, default=64)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--no-resume", action="store_true")
    args = p.parse_args(argv)

    try:
        from snacktory_spark.pipeline.extract_job import build_session, run_extract
    except ImportError:
        # run from a checkout without --py-files: import its package
        sys.path.insert(0, os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        from snacktory_spark.pipeline.extract_job import build_session, run_extract

    spark = build_session(app="snacktory-extract")
    metrics = run_extract(
        spark, args.input, args.output,
        n_buckets=args.buckets, salt_span=args.salt_span,
        partitions=args.partitions, resume=not args.no_resume)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
