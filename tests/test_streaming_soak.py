"""Streaming soak (VERDICT r7 #6): ~50 micro-batches with files landing
mid-stream, a kill/resume, and listener-evidenced bounded state. The
harness lives in scripts/streaming_soak.py (whose main() writes the
BENCH/streaming_soak.md evidence); this test asserts its properties at
the full 50-wave configuration."""

import os
import sys

import pytest

from conftest import REPO  # noqa: E402
sys.path.insert(0, os.path.join(REPO, "scripts"))


@pytest.fixture(scope="module")
def spark():
    from snacktory_spark.pipeline.extract_job import build_session
    s = build_session(app="pytest-streaming-soak", master="local[8]",
                      shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_streaming_soak_kill_resume_bounded_state(spark, tmp_path):
    from streaming_soak import run_soak

    res = run_soak(spark, str(tmp_path), n_waves=50, kill_after=30)
    # the long-run shape actually happened: one micro-batch per file
    assert res["n_batches"] >= 50
    # exactly-once end-state equality across the kill/resume: the
    # streamed append-mode output IS the batch aggregation, no window
    # missing (lost by the stop) or doubled (replayed by the resume)
    assert res["equal"], (
        f"streamed-only: {sorted(res['streamed'] - res['batch'])[:5]} "
        f"batch-only: {sorted(res['batch'] - res['streamed'])[:5]}")
    # windows closed continuously through the run (~17 windows x 5
    # conversations), not in one final flush
    assert res["n_windows"] >= 60
    # BOUNDED STATE: the store held the live horizon (open windows x
    # active conversations), never the stream's lifetime history
    assert res["max_state_rows"] <= 30
    assert res["max_state_rows"] < res["n_windows"] // 2
