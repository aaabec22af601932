"""The prefix-sum packer's output must not depend on exchange reuse or
AQE. Each packing query (and the corpus-prep job) runs under
spark.sql.exchange.reuse {true, false} x spark.sql.adaptive.enabled
{true, false} and must return identical sorted rows in all four. The
packing queries run at sf0.1: there, a range id that is not a pure
function of the row (e.g. spark_partition_id() after a range shuffle
that each branch executes on its own) shows up as lost rows once reuse
is off."""

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01_DIR = "/root/testdata/sf0.1"
SF001_DIR = "/root/testdata/sf0.01"
KEYS = ("spark.sql.exchange.reuse", "spark.sql.adaptive.enabled")
CONFIGS = [(reuse, aqe) for reuse in ("true", "false")
           for aqe in ("true", "false")]


@pytest.fixture(scope="module")
def spark():
    from snacktory_spark.pipeline.extract_job import build_session
    spark = build_session(app="pytest-pack-determinism", master="local[4]",
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="module")
def em():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)
    return em


def _under_each_config(spark, build):
    """{(reuse, aqe): build()} over the four configurations; the
    session's own values of both keys are restored afterwards."""
    saved = {k: spark.conf.get(k, None) for k in KEYS}
    out = {}
    try:
        for cfg in CONFIGS:
            for k, v in zip(KEYS, cfg):
                spark.conf.set(k, v)
            out[cfg] = build(cfg)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_identical(results):
    ref = results[CONFIGS[0]]
    assert ref, "empty output proves nothing"
    for cfg, rows in results.items():
        assert len(rows) == len(ref), (cfg, len(rows), len(ref))
        assert rows == ref, cfg


@pytest.mark.parametrize("name", ["seq_pack", "token_pack"])
def test_pack_query_ignores_reuse_and_aqe(spark, em, name):
    fn = em.queries()[name]
    _assert_identical(
        _under_each_config(spark, lambda cfg: _rows(fn(spark, SF01_DIR))))


def test_corpus_prep_query_and_job_ignore_reuse_and_aqe(spark, em,
                                                        tmp_path):
    from snacktory_spark.pipeline.corpus_ops import seed_bench_grams
    from snacktory_spark.pipeline.corpus_prep_job import run_corpus_prep
    from snacktory_spark.pipeline.extract_job import read_transcripts

    src = os.path.join(REPO, "data/synth/sf0.01/transcripts.parquet")
    query = _under_each_config(
        spark, lambda cfg: _rows(em.q_corpus_prep(spark, SF001_DIR)))
    _assert_identical(query)

    # the job decontaminates against the query's own seed grams
    grams = seed_bench_grams(read_transcripts(spark, src))
    bench = str(tmp_path / "grams.parquet")
    (spark.createDataFrame([(g,) for g in grams], "gram string")
     .write.parquet(bench))

    def job(cfg):
        out = str(tmp_path / ("prep-" + "-".join(cfg)))
        run_corpus_prep(spark, src, out, n_buckets=4,
                        bench_grams_path=bench, resume=False)
        return _rows(spark.read.parquet(out + "/packed"))

    packed = _under_each_config(spark, job)
    _assert_identical(packed)
    assert packed[CONFIGS[0]] == query[CONFIGS[0]]
