"""run_corpus_prep (the resumable corpus-prep JOB, round 9): output
equality vs the oracled q_corpus_prep query, the three-level resume
contract (per-bucket extraction manifests / survivors / packed), config
and bench-content invalidation, and the production decontaminate shape.
Uses sf0.001 synth data."""

import glob
import os
import shutil

import pytest

from conftest import REPO  # noqa: E402

from snacktory_spark.data.synth import generate  # noqa: E402

SYNTH = os.path.join(REPO, "data", "synth", "sf0.001")


@pytest.fixture(scope="module")
def spark():
    from snacktory_spark.pipeline.extract_job import build_session
    spark = build_session(app="pytest-corpus-prep", master="local[4]",
                          shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    yield spark


@pytest.fixture(scope="module")
def synth_dir():
    return generate(SYNTH, sf=0.001)


@pytest.fixture(scope="module")
def bench_path(spark, synth_dir, tmp_path_factory):
    """The demo benchmark set as a parquet gram TABLE — the same seed
    rule q_corpus_prep applies internally (shared builder), so the job
    and the query decontaminate against identical grams."""
    from snacktory_spark.pipeline.corpus_ops import seed_bench_grams
    from snacktory_spark.pipeline.extract_job import read_transcripts

    tr = read_transcripts(spark, f"{synth_dir}/transcripts.parquet")
    grams = seed_bench_grams(tr)
    assert grams, "seed rule produced no bench grams"
    p = str(tmp_path_factory.mktemp("bench") / "grams.parquet")
    (spark.createDataFrame([(g,) for g in grams], "gram string")
     .write.mode("overwrite").parquet(p))
    return p


def _packed_rows(spark, out):
    return sorted(tuple(r) for r in
                  spark.read.parquet(out + "/packed").collect())


def test_job_equals_oracled_query_and_resumes(spark, synth_dir, bench_path,
                                              tmp_path):
    from pyspark.sql import functions as F
    from snacktory_spark.pipeline.corpus_prep_job import run_corpus_prep

    out = str(tmp_path / "prep")
    src = f"{synth_dir}/transcripts.parquet"
    m1 = run_corpus_prep(spark, src, out, n_buckets=4,
                         bench_grams_path=bench_path)
    assert m1["extract"]["buckets_written"] == 4
    assert m1["gate_rows"] >= m1["dedup_rows"] >= m1["clean_rows"] > 0
    # the gate and the decontamination both have real attrition here
    assert m1["dedup_rows"] < m1["gate_rows"]
    assert m1["clean_rows"] < m1["dedup_rows"]
    assert m1["n_sequences"] > 0

    # packed output equals the oracled single-query chain exactly
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)
    q_rows = sorted(tuple(r) for r in
                    em.q_corpus_prep(spark, "/root/testdata/sf0.001")
                    .collect())
    assert _packed_rows(spark, out) == q_rows

    # the survivors sink is the auditable stage-2-4 lineage
    surv = spark.read.parquet(out + "/survivors")
    assert set(surv.columns) == {"role", "conv_id", "turn_idx", "text",
                                 "is_keeper", "near_dup", "contaminated"}
    assert surv.filter(F.col("contaminated") & F.col("is_keeper")).count() \
        == m1["dedup_rows"] - m1["clean_rows"]

    # full-skip resume: nothing recomputed, same metrics
    m2 = run_corpus_prep(spark, src, out, n_buckets=4,
                         bench_grams_path=bench_path)
    assert m2.get("skipped") is True
    assert "survivors_written" not in m2 and "packed_written" not in m2
    assert m2["n_sequences"] == m1["n_sequences"]

    # kill/resume leg: losing one extraction bucket manifest reprocesses
    # ONLY that bucket, then rebuilds stages 2-5 forward; output unchanged
    ms = sorted(glob.glob(out + "/extracted/_manifest/bucket-*.json"))
    os.remove(ms[0])
    m3 = run_corpus_prep(spark, src, out, n_buckets=4,
                         bench_grams_path=bench_path)
    assert m3["extract"]["buckets_written"] == 1
    assert m3["extract"]["resumed_buckets_skipped"] == 3
    assert m3.get("survivors_written") and m3.get("packed_written")
    assert _packed_rows(spark, out) == q_rows

    # kill between the survivors and packed commits: only packing re-runs
    shutil.rmtree(out + "/packed")
    m4 = run_corpus_prep(spark, src, out, n_buckets=4,
                         bench_grams_path=bench_path)
    assert m4["extract"].get("skipped") is True
    assert "survivors_written" not in m4 and m4.get("packed_written")
    assert _packed_rows(spark, out) == q_rows


def test_config_and_bench_content_invalidate_resume(spark, synth_dir,
                                                    bench_path, tmp_path):
    from snacktory_spark.pipeline.corpus_prep_job import run_corpus_prep

    out = str(tmp_path / "prep")
    src = f"{synth_dir}/transcripts.parquet"
    m1 = run_corpus_prep(spark, src, out, n_buckets=4,
                         bench_grams_path=bench_path)

    # a changed seq_len must re-run PACKING but not the expensive
    # survivors level (pack-only knob, split config stamps)
    m2 = run_corpus_prep(spark, src, out, n_buckets=4, seq_len=64,
                         bench_grams_path=bench_path)
    assert m2.get("skipped") is None
    assert m2.get("packed_written")
    assert "survivors_written" not in m2
    assert m2["n_sequences"] > m1["n_sequences"]  # shorter sequences

    # changed CONTENT at the same bench path must re-run decontamination
    # (the config stamp fingerprints the table, not just its path);
    # try/finally so an assert failure can't poison the module-scoped
    # fixture for later tests (r9 review finding)
    grams = [r["gram"] for r in spark.read.parquet(bench_path).collect()]
    try:
        (spark.createDataFrame([(g,) for g in grams[:0]], "gram string")
         .write.mode("overwrite").parquet(bench_path))
        m3 = run_corpus_prep(spark, src, out, n_buckets=4, seq_len=64,
                             bench_grams_path=bench_path)
        assert m3.get("survivors_written")
        # empty bench set -> nothing contaminated
        assert m3["clean_rows"] == m3["dedup_rows"]
    finally:
        (spark.createDataFrame([(g,) for g in grams], "gram string")
         .write.mode("overwrite").parquet(bench_path))


def test_no_bench_skips_decontamination(spark, synth_dir, tmp_path):
    from snacktory_spark.pipeline.corpus_prep_job import run_corpus_prep

    out = str(tmp_path / "prep")
    m = run_corpus_prep(spark, f"{synth_dir}/transcripts.parquet", out,
                        n_buckets=2)
    assert m["clean_rows"] == m["dedup_rows"] > 0
    surv = spark.read.parquet(out + "/survivors")
    assert surv.filter("contaminated").count() == 0


def test_decontaminate_stage_is_a_broadcast_hash_join(spark, synth_dir,
                                                      bench_path, tmp_path):
    """The job's stage 4 must keep the production shape: exploded grams
    broadcast-HASH-joined against the gram table — never a nested-loop
    contains scan (VERDICT r8 what's-wrong #3)."""
    from snacktory_spark.pipeline.corpus_prep_job import (_survivor_flags,
                                                          run_corpus_prep)
    from pyspark.sql import functions as F

    out = str(tmp_path / "prep")
    run_corpus_prep(spark, f"{synth_dir}/transcripts.parquet", out,
                    n_buckets=2, bench_grams_path=bench_path)
    bench = (spark.read.parquet(bench_path)
             .select("gram").filter(F.col("gram").isNotNull()).distinct())
    config = {"gram_width": 8, "min_tokens": 30,
              "min_stopword_ratio": 0.01, "max_bigram_dup": 0.1}
    df = _survivor_flags(spark, out, bench, config)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in executed
    assert "LeftSemi" in executed
    assert "BroadcastNestedLoopJoin" not in executed
    assert "CartesianProduct" not in executed


def test_near_dedup_stage(spark, tmp_path):
    """Optional stage 3b: MinHash/LSH near-duplicate election. Two
    paragraphs differing in 3 of ~40 words (shingle-Jaccard ~0.77) must
    collapse to the smaller (conv_id, turn_idx) keeper at threshold
    0.6, while an unrelated paragraph survives; with the stage off both
    near-dups survive (they are not exact duplicates)."""
    import datetime

    from pyspark.sql import functions as F
    from snacktory_spark.pipeline.corpus_prep_job import run_corpus_prep
    from snacktory_spark.schema import TRANSCRIPT_SCHEMA

    words = ("the quick brown fox jumps over a lazy dog near the old "
             "stone bridge and watches the calm river flow past green "
             "fields in early morning light as small birds sing their "
             "soft tunes above tall oak trees today").split()
    assert len(words) >= 35
    t1 = " ".join(words)
    t2 = " ".join(words[:-3] + ["alpha", "beta", "gamma"])
    t3 = ("seven ancient ships sailed across the wide southern ocean "
          "carrying spices silk and rare metals toward distant ports "
          "where eager merchants waited under bright banners to trade "
          "stories maps and coins before the long winter arrived")
    ts = datetime.datetime(2024, 1, 1)
    rows = [(f"c{i}", 0, "user",
             f"<html><body><p>{t}</p></body></html>", None, ts)
            for i, t in enumerate([t1, t2, t3])]
    src = str(tmp_path / "tr.parquet")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(src)

    off = str(tmp_path / "off")
    m_off = run_corpus_prep(spark, src, off, n_buckets=2)
    assert m_off["clean_rows"] == 3  # near-dups are NOT exact dups

    on = str(tmp_path / "on")
    m_on = run_corpus_prep(spark, src, on, n_buckets=2,
                           near_dedup_jaccard=0.6)
    assert m_on["dedup_rows"] == 3
    assert m_on["near_rows"] == 2 == m_on["clean_rows"]
    surv = spark.read.parquet(on + "/survivors")
    dropped = [r["conv_id"] for r in
               surv.filter(F.col("near_dup")).collect()]
    assert dropped == ["c1"]  # the larger key of the near-dup pair
    assert m_on["n_tokens_packed"] < m_off["n_tokens_packed"]

    # the threshold is part of the survivors resume stamp
    m_again = run_corpus_prep(spark, src, on, n_buckets=2,
                              near_dedup_jaccard=0.6)
    assert m_again.get("skipped") is True
    m_changed = run_corpus_prep(spark, src, on, n_buckets=2,
                                near_dedup_jaccard=0.95)
    assert m_changed.get("survivors_written")
    assert m_changed["near_rows"] == 3  # 0.77 pair survives at 0.95


def test_exact_substr_cut_stage(spark, tmp_path):
    """Optional pack-level ExactSubstr cut: a 12-token run shared by two
    otherwise-distinct paragraphs is removed from BOTH before packing
    (its W=8 windows occur >=2 times corpus-wide); the knob is
    pack-level, so toggling it re-runs packing without rebuilding the
    survivors."""
    import datetime

    from snacktory_spark.pipeline.corpus_prep_job import run_corpus_prep
    from snacktory_spark.schema import TRANSCRIPT_SCHEMA

    common = ("please review the terms and conditions of this service "
              "agreement very carefully").split()
    assert len(common) == 12
    a = ("bright lanterns floated over the quiet harbor while sailors "
         "mended their worn nets and told old tales").split()
    b = ("deep canyon walls echoed with distant thunder as hikers "
         "crossed the narrow bridge toward a hidden valley").split()
    t1 = " ".join(a + common + ["first", "ending", "words", "here"])
    t2 = " ".join(b + common + ["second", "closing", "phrase", "now"])
    ts = datetime.datetime(2024, 1, 1)
    rows = [(f"c{i}", 0, "user",
             f"<html><body><p>{t}</p></body></html>", None, ts)
            for i, t in enumerate([t1, t2])]
    src = str(tmp_path / "tr.parquet")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(src)

    out = str(tmp_path / "prep")
    m_off = run_corpus_prep(spark, src, out, n_buckets=2)
    assert m_off["clean_rows"] == 2

    # toggling the pack-level knob re-packs WITHOUT rebuilding survivors
    m_cut = run_corpus_prep(spark, src, out, n_buckets=2,
                            exact_substr_window=8)
    assert "survivors_written" not in m_cut and m_cut.get("packed_written")
    # both copies of the 12-token common run are cut: 24 fewer tokens
    assert m_off["n_tokens_packed"] - m_cut["n_tokens_packed"] == 24
    assert m_cut["clean_rows"] == 2  # survivors metrics unchanged


def test_levels_are_counted_without_read_back(spark, synth_dir, bench_path,
                                              tmp_path, monkeypatch):
    """A fresh run counts every level from its write: extracted/ is read
    once, as stage 2's input; survivors/ once, as packing's input (the
    materialized survivors keep packing's branches from recomputing
    stages 2-4); packed/ never. The observed figures equal counts read
    back from the written survivors and packed tables."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameReader
    from snacktory_spark.pipeline.corpus_prep_job import run_corpus_prep

    out = str(tmp_path / "prep")
    reads = []
    real_parquet = DataFrameReader.parquet

    def spying_parquet(self, *paths, **options):
        reads.extend(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spying_parquet)
    m = run_corpus_prep(spark, f"{synth_dir}/transcripts.parquet", out,
                        n_buckets=4, bench_grams_path=bench_path)
    monkeypatch.undo()
    assert reads.count(out + "/extracted") == 1
    assert reads.count(out + "/survivors") == 1
    assert not [p for p in reads if p.startswith(out + "/packed")]

    surv = spark.read.parquet(out + "/survivors")
    keeper = F.col("is_keeper") & ~F.col("near_dup")
    want = surv.agg(F.count("*").alias("gate_rows"),
                    F.count_if("is_keeper").alias("dedup_rows"),
                    F.count_if(keeper).alias("near_rows"),
                    F.count_if(keeper & ~F.col("contaminated"))
                    .alias("clean_rows")).collect()[0].asDict()
    assert {k: m[k] for k in want} == want
    assert want["gate_rows"] > want["dedup_rows"] > want["clean_rows"] > 0
    packed = spark.read.parquet(out + "/packed")
    assert m["n_sequences"] == packed.count() > 0
    assert m["n_tokens_packed"] == packed.agg(F.sum("n_tokens")).first()[0]
