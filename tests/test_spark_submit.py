"""End-to-end `spark-submit --py-files` launch — the north rule's cluster
deployment path, exercised for real: package zip built from the repo, a
FRESH JVM driven by the actual spark-submit binary from a cwd outside
the checkout (executors must import snacktory_spark from the zip, not the
checkout), idempotent-resume semantics verified across two submissions."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from conftest import REPO  # noqa: E402

INPUT = os.path.join(REPO, "data", "synth", "sf0.001",
                     "transcripts.parquet")

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"

pytestmark = pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                                reason="no spark-submit binary")


def _build_zip(path: str) -> str:
    zpath = os.path.join(path, "snacktory_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO,
                                                       "snacktory_spark")):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(zpath, args, cwd,
            script=os.path.join(REPO, "scripts", "submit_extract.py")):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY import source
    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zpath, script] + args,
        capture_output=True, text=True, timeout=420, cwd=cwd, env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    metrics = [json.loads(line) for line in out.stdout.splitlines()
               if line.startswith("{")]
    assert metrics, out.stdout[-2000:]
    return metrics[-1]


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    zpath = _build_zip(str(tmp_path))
    out_dir = str(tmp_path / "out")
    args = ["--input", INPUT,
            "--output", out_dir, "--buckets", "4"]
    m1 = _submit(zpath, args, cwd=str(tmp_path))
    assert m1["output_rows"] > 0 and m1["error_rows"] == 0
    manifest_files = os.listdir(os.path.join(out_dir, "_manifest"))
    assert len([f for f in manifest_files if f.endswith(".json")]) == 4

    # second submission (fresh JVM again): resume skips everything
    m2 = _submit(zpath, args, cwd=str(tmp_path))
    assert m2.get("skipped") is True and m2["completed_buckets"] == 4

    # the extracted output equals the committed single-node oracle's rows
    import duckdb
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out_dir}/bucket=*/*.parquet')"
    ).fetchone()[0]
    assert n == m1["output_rows"]


def test_spark_submit_corpus_prep_end_to_end(tmp_path):
    """The corpus-prep CHAIN as the job a user actually submits (r9):
    fresh JVM via spark-submit --py-files, two resume legs (full skip;
    one lost extraction-bucket manifest reprocesses only that bucket
    and rebuilds stages 2-5 forward), packed output reproduced."""
    import duckdb

    zpath = _build_zip(str(tmp_path))
    out_dir = str(tmp_path / "prep")
    args = ["--input", INPUT,
            "--output", out_dir, "--buckets", "4"]
    script = os.path.join(REPO, "scripts", "submit_corpus_prep.py")

    m1 = _submit(zpath, args, cwd=str(tmp_path), script=script)
    assert m1["extract"]["buckets_written"] == 4
    assert m1["gate_rows"] >= m1["dedup_rows"] >= m1["clean_rows"] > 0
    assert m1["n_sequences"] > 0
    q = (f"SELECT count(*), sum(n_tokens)::BIGINT FROM "
         f"read_parquet('{out_dir}/packed/*.parquet')")
    n1, t1 = duckdb.sql(q).fetchone()
    assert n1 == m1["n_sequences"] and t1 == m1["n_tokens_packed"]

    # second submission (fresh JVM again): full three-level skip
    m2 = _submit(zpath, args, cwd=str(tmp_path), script=script)
    assert m2.get("skipped") is True
    assert m2["n_sequences"] == m1["n_sequences"]

    # kill/resume: lose one bucket manifest -> third JVM reprocesses only
    # that bucket, rebuilds forward, packed output identical
    victim = sorted(os.listdir(os.path.join(out_dir,
                                            "extracted", "_manifest")))[0]
    os.remove(os.path.join(out_dir, "extracted", "_manifest", victim))
    m3 = _submit(zpath, args, cwd=str(tmp_path), script=script)
    assert m3["extract"]["buckets_written"] == 1
    assert m3["extract"]["resumed_buckets_skipped"] == 3
    n3, t3 = duckdb.sql(q).fetchone()
    assert (n3, t3) == (n1, t1)


def test_python_m_cli_entry(tmp_path):
    """`python -m snacktory_spark.pipeline.corpus_prep_job` works as a
    package entry point (no spark-submit, no scripts/ wrapper)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    out_dir = str(tmp_path / "prep")
    run = subprocess.run(
        [sys.executable, "-m", "snacktory_spark.pipeline.corpus_prep_job",
         "--input", INPUT,
         "--output", out_dir, "--buckets", "2",
         "--master", "local[4]", "--shuffle-partitions", "4"],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path),
        env=env)
    assert run.returncode == 0, run.stderr[-3000:]
    m = json.loads([line for line in run.stdout.splitlines()
                    if line.startswith("{")][-1])
    assert m["n_sequences"] > 0 and m["clean_rows"] > 0
