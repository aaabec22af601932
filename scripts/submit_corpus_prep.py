"""spark-submit entry point for the corpus-prep chain.

Cluster deployment (the north-rule launch path):

    zip -r /tmp/snacktory_spark.zip snacktory_spark    # from the checkout root
    spark-submit --py-files /tmp/snacktory_spark.zip \
        scripts/submit_corpus_prep.py \
        --input  <transcripts parquet dir or iceberg identifier> \
        --output <dir> \
        [--bench-grams <parquet with a `gram` column>] \
        [--buckets 4096] [--seq-len 2048] [--no-resume]

Local smoke (or use `python -m snacktory_spark.pipeline.corpus_prep_job`
directly — this file only exists because spark-submit wants a script):

    spark-submit --master local[8] --py-files /tmp/snacktory_spark.zip \
        scripts/submit_corpus_prep.py \
        --input data/synth/sf0.001/transcripts.parquet \
        --output /tmp/corpus_prep_out

The chain is idempotently resumable at three commit levels — per-bucket
extraction manifests, the annotated survivors sink, the packed sink; see
pipeline/corpus_prep_job.py for the full contract.
"""

from __future__ import annotations

import os
import sys


def _main() -> None:
    try:
        from snacktory_spark.pipeline.corpus_prep_job import main
    except ImportError:
        # run from a checkout without --py-files: import its package
        sys.path.insert(0, os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        from snacktory_spark.pipeline.corpus_prep_job import main
    main()


if __name__ == "__main__":
    _main()
