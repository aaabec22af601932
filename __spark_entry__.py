"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship extraction over the sf0.001 synthetic transcript
                 table (BASELINE.json input_hint shape).
queries()      — implemented operators from SURVEY.md §2: the extraction
                 pipeline itself (oracled against a deterministic local
                 single-node extraction), plus relational/window/join/dedup/
                 text-analysis/ANN operators with ANSI-SQL DuckDB oracles.
oracle_sql()   — DuckDB equivalents. Transcript-table oracles read the
                 deterministic synthetic parquet generated at import-time
                 fixed paths (seed=42, no wall-clock content).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Driver-side import root: the harness loads this file BY PATH from an
# arbitrary cwd, so the package root must be on the DRIVER's sys.path;
# executors never rely on it — every mapInPandas/pandas_udf call site
# goes through ensure_py_files' content-addressed zip, the single
# executor-side mechanism (VERDICT r5 #7 unification: the former
# per-query inserts could drift from the shipped zip and are gone).
import os as _os
import sys as _sys

_REPO_ROOT = _os.path.dirname(_os.path.abspath(__file__))
if _REPO_ROOT not in _sys.path:
    _sys.path.insert(0, _REPO_ROOT)

# Shared corpus-prep machinery lives in the PACKAGE (r9: the production
# job run_corpus_prep and the oracled queries must execute the same
# code); the historical private names are kept as aliases so the 50
# registered queries read unchanged.
from snacktory_spark.pipeline.corpus_ops import (  # noqa: E402
    exact_substr_spans,
    exclusive_prefix_sum as _exclusive_prefix_sum,
    gate_survivors as _gate_survivors,
    pack_sequences as _pack_sequences,
    seed_bench_grams as _seed_bench_grams,
    tokens_expr as _tokens_expr,
    with_keeper as _with_keeper,
    zip_grams as _zip_grams,
)

SYNTH_ROOT = _os.path.join(_REPO_ROOT, "data", "synth")
SF001_DIR = f"{SYNTH_ROOT}/sf0.001"
SF01_DIR = f"{SYNTH_ROOT}/sf0.01"   # driver correctness runs at sf=0.01

_EN_STOPWORDS = "('the','of','and','to','a','in','is','it','that','for')"

# MinHash+LSH near-dup SQL mirroring snacktory_spark.textops exactly:
# 3-word shingles → 8 minhashes (lexicographic min of md5('s{i}:'||shingle))
# → 4 bands of 2 → bucket join → exact Jaccard on distinct shingles.
_MINHASH_MINS = ",\n                 ".join(
    f"list_min(list_transform(sh, x -> md5('s{i}:' || x)))" for i in range(8))
_MINHASH_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents
    ), base AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 3
                    THEN list_transform(range(0, len(tk) - 2),
                         i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))
                    ELSE [array_to_string(tk, ' ')] END AS sh
        FROM toks
    ), mh AS (
        SELECT doc_id, sh,
               [{_MINHASH_MINS}] AS m
        FROM base
    ), bands AS (
        SELECT doc_id, b AS band,
               md5(m[2 * b + 1] || '|' || m[2 * b + 2]) AS band_key
        FROM mh, (SELECT unnest(range(0, 4)) AS b)
    ), pairs AS (
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
        FROM bands l JOIN bands r
          ON l.band = r.band AND l.band_key = r.band_key
         AND l.doc_id < r.doc_id
    ), shd AS (SELECT doc_id, list_distinct(sh) AS s FROM base)
    SELECT p.doc_a, p.doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
    FROM pairs p
    JOIN shd a ON a.doc_id = p.doc_a
    JOIN shd b ON b.doc_id = p.doc_b
"""


def _synth(sf_dir: str) -> str:
    # Spark-side queries only need the input table; the full single-node
    # oracle extraction parquet (sf0.001/sf0.01) is pre-generated and
    # committed, so this never regenerates it inside a timed query.
    from snacktory_spark.data.synth import ensure_synth
    return ensure_synth(sf_dir, SYNTH_ROOT, include_extraction=False)


def _split_scan(spark: SparkSession, path: str, key: str | None = None) -> DataFrame:
    """Parquet scan with an adaptive fix for UNDER-SPLIT inputs (guide
    §2.5 "input skew … repartition immediately after the read", §6).

    Parquet scan parallelism is bounded by ROW-GROUP count, not split
    tuning: the bench sf tables are written as 1-2 row groups, so every
    narrow map downstream of the scan (gram enumeration, per-row HOF
    aggregates, map-side join+sort) runs on 1-2 tasks while the other 30
    cores idle (measured: the sf1.0 top_orders map stage ran 7 tasks of
    which 2 carried all rows; decontaminate's 2.4M-window enumeration ran
    on ONE). When the input is provably cheap to redistribute (less than
    one cluster-wide round of max-size scan splits, extract_job.scan_rounds)
    and genuinely under-split (fewer parquet row groups than cores), shuffle
    it once to P partitions — hash-keyed when `key` is given, so a
    downstream aggregation on the same key reuses the clustering and needs
    no second exchange. Large inputs are naturally split and pass through
    untouched, so the rule is scale-adaptive: at 100 TB this is a no-op.
    Remote files pass through too (their footers are not read here); a
    local footer that cannot be read raises.
    """
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F
    from snacktory_spark.pipeline.extract_job import scan_rounds

    df = spark.read.parquet(path)
    if scan_rounds(df) >= 1:
        return df
    files = [urlparse(f) for f in df.inputFiles()]
    if any(f.scheme != "file" for f in files):
        return df
    p = spark.sparkContext.defaultParallelism
    groups = sum(_pq.ParquetFile(unquote(f.path)).num_row_groups
                 for f in files)
    if groups >= p:
        return df
    return df.repartition(p, F.col(key)) if key else df.repartition(p)


def _oracle_projection(out: "DataFrame"):
    """The 23-column oracle-comparable projection of an extracted frame —
    shared by the plain and dedup extraction queries so their serialization
    can never drift apart."""
    from pyspark.sql import functions as F
    return out.select(
        "conv_id", "turn_idx", "title", "text", "author_name",
        "raw_author_name", "author_description",
        F.date_format("date", "yyyy-MM-dd HH:mm:ss").alias("date_str"),
        "language", "description", "canonical_url", "domain",
        "top_private_domain", "image_url", "favicon_url", "video_url",
        "rss_url", "type", "sitename",
        F.array_join("keywords", "|").alias("keywords_str"),
        F.array_join(F.transform("images", lambda x: x["src"]), "|").alias("images_str"),
        F.array_join(F.transform("links", lambda x: x["url"]), "|").alias("links_str"),
        "extract_ok")


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full distributed extraction over the synthetic transcripts;
    every JResult field is oracle-checked: scalars verbatim, list fields as
    deterministic '|'-joined serializations (matches synth.py's
    expected_extraction.parquet)."""
    from snacktory_spark.pipeline.extract_job import extracted_df, read_transcripts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sdir = _synth(sf_dir)
    df = read_transcripts(spark, f"{sdir}/transcripts.parquet")
    # lineage=False: the oracle projection keeps none of the lineage
    # columns, and mapInPandas is opaque to pruning — without the flag a
    # per-row input_file path string is materialized and shipped through
    # the salt exchange and the Arrow boundary for nothing (r10)
    return _oracle_projection(extracted_df(df, lineage=False))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on the sf0.001 synthetic transcript table."""
    return _extracted(spark, "/root/testdata/sf0.001")


# ----------------------------------------------------------------------------
# queries: each callable (spark, sf_dir) -> DataFrame
# ----------------------------------------------------------------------------

def q_extract_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction pipeline itself (SURVEY §2.1-§2.5, EP1): distributed
    Arrow-UDF extraction must byte-match the single-node reference-parity
    extractor (oracle = expected_extraction.parquet computed at synth time)."""
    return _extracted(spark, sf_dir)


def q_extract_turns_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-extract path (S6 result cache at scale): each DISTINCT
    text extracted once, results hash-joined back. Must produce EXACTLY
    the same per-turn output as q_extract_turns — same oracle."""
    from pyspark.sql import functions as F
    from snacktory_spark.pipeline.extract_job import (extracted_dedup_df,
                                                      read_transcripts)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sdir = _synth(sf_dir)
    df = read_transcripts(spark, f"{sdir}/transcripts.parquet")
    # lineage=False: same rationale as q_extract_turns — the oracle
    # projection keeps no lineage column, so capturing a per-row path
    # string and carrying it through the h-join would be pure overhead
    return _oracle_projection(extracted_dedup_df(df, lineage=False))


def q_golden_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-fixture verification join (FIXTURES.md §2): extracted turns vs
    the expectation table; emits per-assertion pass booleans."""
    from pyspark.sql import functions as F
    sdir = _synth(sf_dir)
    extracted = _extracted(spark, sf_dir)
    expected = spark.read.parquet(f"{sdir}/expected.parquet")
    j = extracted.join(F.broadcast(expected), ["conv_id", "turn_idx"], "inner")
    return j.select(
        "conv_id", "turn_idx",
        F.when(F.col("exp_title").isNull(), True)
         .otherwise(F.col("title") == F.col("exp_title")).alias("title_ok"),
        F.when(F.col("exp_text_start").isNull(), True)
         .otherwise(F.col("text").startswith(F.col("exp_text_start"))).alias("text_start_ok"),
        F.when(F.col("exp_text_end").isNull(), True)
         .otherwise(F.col("text").endswith(F.col("exp_text_end"))).alias("text_end_ok"),
        F.when(F.col("exp_text_contains").isNull(), True)
         .otherwise(F.col("text").contains(F.col("exp_text_contains"))).alias("text_contains_ok"),
        F.when(F.col("exp_text_full").isNull(), True)
         .otherwise(F.col("text") == F.col("exp_text_full")).alias("text_full_ok"),
        F.when(F.col("exp_author").isNull(), True)
         .otherwise(F.col("author_name") == F.col("exp_author")).alias("author_ok"),
        F.when(F.col("exp_date").isNull(), True)
         .otherwise(F.col("date_str") == F.col("exp_date")).alias("date_ok"),
    )


def q_turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable turn ordering: row_number over (conv_id, turn_idx) windows."""
    from pyspark.sql import Window, functions as F
    sdir = _synth(sf_dir)
    df = spark.read.parquet(f"{sdir}/transcripts.parquet")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.select("conv_id", "turn_idx",
                     F.row_number().over(w).alias("rn"),
                     F.lag("role", 1).over(w).alias("prev_role"))


def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation partial+final hash aggregation (lineage
    metrics) + turn-structure audit: role of the first/last turn and
    the count of ROLE REPEATS (consecutive turns with the same role
    under stable turn ordering — the alternation-break signal a
    transcript-hygiene pass flags before training). The repeat count
    rides a lag window PARTITIONED by conv_id (the event_sessions
    shape — no global sort)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    sdir = _synth(sf_dir)
    df = spark.read.parquet(f"{sdir}/transcripts.parquet")
    # project length(text) BEFORE the conv_id exchange (guide §2.3): the
    # agg only needs the per-turn char count, but expressions are not
    # rewritten below a Window by the optimizer, so without this the
    # full text strings transit the shuffle and the window sort (~14×
    # the bytes; plan diff in plans/r10/conv_stats_narrow_*.txt).
    # sum(length(text)) over pre-computed lengths is value-identical,
    # nulls included (length(NULL) is NULL either way).
    pre = df.select("conv_id", "turn_idx", "role",
                    F.length("text").alias("text_chars"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    turns = pre.withColumn("prev_role", F.lag("role").over(w))
    return (turns.groupBy("conv_id")
            .agg(F.count("*").alias("n_turns"),
                 F.sum("text_chars").alias("total_chars"),
                 F.max("turn_idx").alias("max_turn_idx"),
                 F.count(F.when(F.col("role") == "tool", 1)).alias("tool_turns"),
                 F.min_by("role", "turn_idx").alias("first_role"),
                 F.max_by("role", "turn_idx").alias("last_role"),
                 F.count(F.when(F.col("role") == F.col("prev_role"), 1))
                  .cast("long").alias("n_role_repeats")))


def q_html_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap pre-UDF gate: classify turns as html-ish vs plain (pushdown-able
    filter + projection, SURVEY §2.6)."""
    from pyspark.sql import functions as F
    sdir = _synth(sf_dir)
    df = spark.read.parquet(f"{sdir}/transcripts.parquet")
    return (df.select("role",
                      F.col("text").rlike("<[a-zA-Z!]").alias("is_htmlish"))
            .groupBy("role", "is_htmlish")
            .agg(F.count("*").alias("n")))


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregation over lineitem."""
    from pyspark.sql import functions as F
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (df.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.count("*").alias("count_order")))


def q_nation_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join: orders → customer → nation, revenue per nation."""
    from pyspark.sql import functions as F
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (orders.join(F.broadcast(customer),
                        orders.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation),
                  customer.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price")))


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (set op; same shape as the pipeline's resume logic)."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (customer.join(orders, customer.c_custkey == orders.o_custkey,
                          "left_anti")
            .select("c_custkey", "c_name"))


def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k: 3 biggest orders per market segment. r10: the
    orders scan is _split_scan-parallelized — the map side (broadcast
    probe + local sort + partial WindowGroupLimit) previously ran on the
    file's 2 row groups, serializing 2.7s of task time onto 2 cores."""
    from pyspark.sql import Window, functions as F
    orders = _split_scan(spark, f"{sf_dir}/orders.parquet", "o_orderkey")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")))
    return (j.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice"))


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via window functions (30-min inactivity gap)."""
    from pyspark.sql import Window, functions as F
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # one lag column: a lag Column used twice is two window expressions
    prev = F.col("prev_ts")
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800
    with_flag = events.withColumn("prev_ts", F.lag("ts", 1).over(w)).withColumn(
        "new_session", F.when(gap | prev.isNull(), 1).otherwise(0))
    sess = with_flag.withColumn(
        "session_no", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "session_no")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (training-data pipeline op)."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
            .agg(F.count("*").alias("n_copies"),
                 F.min("doc_id").alias("keeper_doc_id"))
            .filter(F.col("n_copies") > 1))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized document fingerprinting (lower + whitespace collapse)."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
         .alias("fingerprint"))


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + stopword-ratio quality scoring over documents.
    (r10: measured _split_scan here — the narrow work is too cheap for
    the extra exchange to pay, 0.26s → 0.39s at sf1.0 — left as-is.)"""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop_hits = F.size(F.expr(
        "filter(split(trim(text), '\\\\s+'), "
        f"x -> x in {_EN_STOPWORDS})"))
    return (docs.filter(F.length("text") > 0)
            .select("doc_id", "lang",
                    F.size(toks).alias("n_tokens"),
                    stop_hits.alias("n_stopwords"),
                    F.round(stop_hits / F.size(toks), 4).alias("stopword_ratio")))


def q_doc_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language distribution + mean length + TEMPERATURE-SAMPLING
    weights — the multilingual data-balancing pass every multilingual
    training mix runs (public: XLM-R / mC4 exponentiated-share
    sampling, alpha=0.3: w_l proportional to p_l^alpha, normalized;
    upweights tail languages). The per-language share table is bounded
    (one row per language), so the normalization constants are
    driver-held and re-attached as literal map lookups — the
    centroid/seed pattern; no single-partition exchange, no window."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    agg = (docs.groupBy("lang")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
                F.round(F.avg("n_chars"), 4).alias("avg_chars")))
    counts = {r["lang"]: r["n_docs"]
              for r in agg.select("lang", "n_docs").collect()}
    total = sum(counts.values())
    alpha = 0.3
    pw = {k: (v / total) ** alpha for k in sorted(counts)
          for v in (counts[k],)}
    z = sum(pw.values())
    wmap = F.create_map(*[F.lit(x) for k in sorted(pw)
                          for x in (k, round(pw[k] / z, 6))])
    pmap = F.create_map(*[F.lit(x) for k in sorted(counts)
                          for x in (k, round(counts[k] / total, 6))])
    return agg.select("lang", "n_docs", "sum_chars", "avg_chars",
                      pmap[F.col("lang")].alias("p_lang"),
                      wmap[F.col("lang")].alias("sample_weight"))


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 ANN baseline over the embedding column,
    JVM-side only (F.aggregate/F.zip_with — no Python in the hot path).
    (r10: measured _split_scan here in both placements — the 20k-row dot
    product pass is too cheap for an extra exchange, 0.45s baseline vs
    0.5-0.9s with it — left as-is.)"""
    from pyspark.sql import functions as F
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(F.zip_with(F.col("embedding"), qlit, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm_a = F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0),
                                lambda acc, x: acc + x * x))
    norm_q = float(sum(float(x) * float(x) for x in qvec)) ** 0.5
    cos = dot / (norm_a * F.lit(norm_q))
    return (emb.filter(F.col("vec_id") != 0)
            .select("vec_id", F.round(cos, 4).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(10))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with exact Jaccard verification
    (shingle → minhash → band → bucket-join; snacktory_spark.textops)."""
    from snacktory_spark.textops import jaccard_pairs, lsh_candidate_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = lsh_candidate_pairs(docs)
    return jaccard_pairs(docs, pairs)


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from snacktory_spark.textops import quality_features
    return quality_features(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_doc_c4_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style LINE-level quality filters (Raffel et al. 2020,
    arXiv:1910.10683 §2.2 — public): per document over its non-empty
    lines — line count, fraction ending in terminal punctuation,
    fraction with <3 words, plus the page-level drop signals (curly
    brace, 'lorem ipsum', 'javascript'). All JVM higher-order
    expressions over one narrow scan — no explode, no shuffle, no
    Python."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lines = F.filter(F.split(F.col("text"), "\n"),
                     lambda x: F.length(F.trim(x)) > 0)
    n_lines = F.size(lines)
    end_punct = F.size(F.filter(
        lines, lambda x: F.trim(x).rlike('[.!?"]$')))
    short = F.size(F.filter(
        lines, lambda x: F.size(F.split(F.trim(x), r"\s+")) < 3))
    frac = (lambda c: F.when(n_lines > 0, F.round(c / n_lines, 4)))
    low = F.lower(F.col("text"))
    return (docs.filter(F.length("text") > 0)
            .select("doc_id",
                    n_lines.alias("n_lines"),
                    frac(end_punct).alias("frac_lines_end_punct"),
                    frac(short).alias("frac_lines_short"),
                    F.col("text").contains("{").alias("has_curly"),
                    low.contains("lorem ipsum").alias("has_lorem"),
                    low.contains("javascript").alias("has_javascript")))


def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from snacktory_spark.textops import language_id
    return language_id(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via bucketed hyperplane LSH (4 tables ×
    4 bits, planes = embeddings of vec_id 10..25): candidates share a
    (table, bucket), exact cosine computed only within buckets. Equi-joins
    throughout — no O(n²) nested-loop join. The DuckDB oracle runs the SAME
    bucketed algorithm; brute-force ground truth lives in
    tests/test_textops_streaming.py (recall check)."""
    from pyspark.sql import functions as F
    from snacktory_spark.textops import embedding_neardup_pairs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = [r["embedding"] for r in
              emb.filter(F.col("vec_id").between(10, 25)).orderBy("vec_id").collect()]
    return embedding_neardup_pairs(emb, planes, threshold=0.45, bits_per_table=4)


def q_turn_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of turn text length per role
    (skew/quality diagnostics; Spark `percentile` == DuckDB quantile_cont)."""
    from pyspark.sql import functions as F
    sdir = _synth(sf_dir)
    df = spark.read.parquet(f"{sdir}/transcripts.parquet")
    lens = df.select("role", F.length("text").alias("n"))
    pct = F.expr("percentile(n, array(0.5, 0.9, 0.99))")
    return (lens.groupBy("role")
            .agg(F.count("*").alias("n_turns"),
                 F.round(pct[0], 4).alias("p50"),
                 F.round(pct[1], 4).alias("p90"),
                 F.round(pct[2], 4).alias("p99")))


def q_image_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image decode (REAL codec): per document, derive a
    deterministic 8x8 RGB pixel buffer from the text bytes, encode it as a
    real PNG (snacktory_spark.imaging, stdlib zlib), decode it back in a
    second Arrow stage, and verify the pixels byte-match. Narrow maps over
    a binary column — no shuffle; same shape as the 100-TB media path."""
    import pandas as pd
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    W = H = 8
    NBYTES = W * H * 3

    def to_png(batches):
        from snacktory_spark.imaging import encode_png
        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                b = (t or "").encode("utf-8")
                px = (b * (NBYTES // max(1, len(b)) + 1))[:NBYTES] if b else bytes(NBYTES)
                payloads.append(encode_png(px, W, H, 3))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads,
                                "text": pdf["text"]})

    def decode(batches):
        from snacktory_spark.imaging import sniff_decode
        for pdf in batches:
            ok, ws, hs, cs = [], [], [], []
            for payload, t in zip(pdf["payload"], pdf["text"]):
                w, h, c, px = sniff_decode(bytes(payload))
                b = (t or "").encode("utf-8")
                want = (b * (NBYTES // max(1, len(b)) + 1))[:NBYTES] if b else bytes(NBYTES)
                ok.append(px == want)
                ws.append(w); hs.append(h); cs.append(c)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "width": pd.Series(ws, dtype="int32"),
                                "height": pd.Series(hs, dtype="int32"),
                                "channels": pd.Series(cs, dtype="int32"),
                                "pixels_match": ok})

    png = docs.mapInPandas(to_png, "doc_id long, payload binary, text string")
    return png.mapInPandas(
        decode, "doc_id long, width int, height int, channels int, "
                "pixels_match boolean")


def q_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal JPEG decode (REAL baseline codec, snacktory_spark.jpeg):
    per document, derive a deterministic smooth RGB gradient seeded by the
    text's sha256, encode it as a real baseline JPEG (per-doc varying
    dims, quality 85-95, 4:4:4/4:2:0, restart intervals), decode it back
    in a second Arrow stage, and verify dims match exactly and pixels
    within the lossy-codec tolerance. Narrow maps over a binary column —
    no shuffle; the codec is cross-validated against Java ImageIO in
    tests/test_jpeg.py."""
    import pandas as pd
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def _pixels(doc_id, text):
        import hashlib
        import numpy as np
        w = 8 + (int(doc_id) % 3) * 4
        h = 8 + (int(doc_id) % 2) * 8
        d = hashlib.sha256((text or "").encode("utf-8")).digest()
        base = np.array(list(d[:3]), dtype=float) * 0.35 + 48.0
        gx = np.linspace(0.0, 96.0, w)
        gy = np.linspace(0.0, 64.0, h)
        img = base[None, None, :] + gx[None, :, None] + gy[:, None, None]
        return w, h, np.clip(img, 0, 255).astype(np.uint8)

    def to_jpeg(batches):
        from snacktory_spark.jpeg import encode_jpeg
        for pdf in batches:
            payloads = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                w, h, img = _pixels(doc_id, t)
                payloads.append(encode_jpeg(
                    img.tobytes(), w, h, 3,
                    quality=85 + (int(doc_id) % 3) * 5,
                    subsample=bool(int(doc_id) % 2),
                    restart_interval=int(doc_id) % 3))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads,
                                "text": pdf["text"]})

    def decode(batches):
        import numpy as np
        from snacktory_spark.imaging import sniff_decode
        for pdf in batches:
            ok, ws, hs, cs = [], [], [], []
            for doc_id, payload, t in zip(pdf["doc_id"], pdf["payload"],
                                          pdf["text"]):
                w, h, c, px = sniff_decode(bytes(payload))
                ew, eh, want = _pixels(doc_id, t)
                got = np.frombuffer(px, dtype=np.uint8)
                # 24 covers worst-case 4:2:0 chroma edge loss on smooth
                # gradients (measured 18 across sf0.01); a mis-decode is
                # off by >100
                err_ok = (got.size == want.size and
                          int(np.abs(got.astype(int)
                                     - want.reshape(-1).astype(int)).max())
                          <= 24)
                ok.append((w, h, c) == (ew, eh, 3) and err_ok)
                ws.append(w); hs.append(h); cs.append(c)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "width": pd.Series(ws, dtype="int32"),
                                "height": pd.Series(hs, dtype="int32"),
                                "channels": pd.Series(cs, dtype="int32"),
                                "jpeg_ok": ok})

    jpg = docs.mapInPandas(to_jpeg, "doc_id long, payload binary, text string")
    return jpg.mapInPandas(
        decode, "doc_id long, width int, height int, channels int, "
                "jpeg_ok boolean")


def q_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal GIF round-trip (REAL codec both directions,
    snacktory_spark.gif): per document, derive a deterministic
    palette-indexed image from the text's sha256 (≤16 colors — GIF's
    native domain), encode it as a real GIF89a (variable-width LZW),
    decode it back in a second Arrow stage, and verify pixels byte-match
    (GIF is lossless for palette images). Narrow maps over a binary
    column — no shuffle; the codec pair is cross-validated against Java
    ImageIO in tests/test_gif.py (both ImageIO-written→ours and
    ours-written→ImageIO are bit-exact)."""
    import pandas as pd
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def _pixels(doc_id, text):
        import hashlib
        import numpy as np
        w = 8 + (int(doc_id) % 4) * 4
        h = 6 + (int(doc_id) % 3) * 5
        d = hashlib.sha256((text or "").encode("utf-8")).digest()
        ncol = 2 + d[0] % 15
        pal = np.frombuffer((d * 2)[:ncol * 3], np.uint8).reshape(ncol, 3)
        pal = np.unique(pal, axis=0)
        reps = (w * h) // len(d) + 1
        idx = np.frombuffer(d * reps, np.uint8)[:w * h] % pal.shape[0]
        return w, h, pal[idx]

    def to_gif(batches):
        from snacktory_spark.gif import encode_gif
        for pdf in batches:
            payloads = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                w, h, img = _pixels(doc_id, t)
                payloads.append(encode_gif(img.tobytes(), w, h, 3))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads,
                                "text": pdf["text"]})

    def decode(batches):
        from snacktory_spark.imaging import sniff_decode
        for pdf in batches:
            ok, ws, hs, cs = [], [], [], []
            for doc_id, payload, t in zip(pdf["doc_id"], pdf["payload"],
                                          pdf["text"]):
                w, h, c, px = sniff_decode(bytes(payload))
                ew, eh, want = _pixels(doc_id, t)
                ok.append((w, h, c) == (ew, eh, 3)
                          and px == want.tobytes())
                ws.append(w); hs.append(h); cs.append(c)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "width": pd.Series(ws, dtype="int32"),
                                "height": pd.Series(hs, dtype="int32"),
                                "channels": pd.Series(cs, dtype="int32"),
                                "pixels_match": ok})

    gif = docs.mapInPandas(to_gif, "doc_id long, payload binary, text string")
    return gif.mapInPandas(
        decode, "doc_id long, width int, height int, channels int, "
                "pixels_match boolean")


def q_mpeg_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG audio metadata extraction (REAL, spec-exact frame scan —
    snacktory_spark.mpeg): per document, synthesize a deterministic
    MPEG-1 Layer I stream (sine, doc_id-derived length/bitrate), then
    scan its frame headers in a second Arrow stage — duration, frame
    count, bitrate, channel mode — WITHOUT decoding audio. This is the
    metadata pass a 100-TB media corpus runs over its MP3 columns.
    Narrow maps, no shuffle; oracled closed-form on doc_id."""
    import pandas as pd
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    # defined inside the query so executors get it by closure value
    # (module-level names in __spark_entry__ are not importable there)
    def _mpeg_sig(doc_id):
        import numpy as np
        n_s = 1000 + (int(doc_id) % 5) * 384
        freq = 200 + (int(doc_id) % 20) * 20
        br = (192, 256, 320, 448)[int(doc_id) % 4]
        t = np.arange(n_s) / 32000.0
        return 0.5 * np.sin(2 * np.pi * freq * t), br


    def to_mpeg(batches):
        from snacktory_spark.mpeg import encode_layer1
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                sig, br = _mpeg_sig(doc_id)
                payloads.append(encode_layer1(sig, 32000, br))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    def scan(batches):
        from snacktory_spark.mpeg import mpeg_audio_info
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                info = mpeg_audio_info(bytes(payload))
                rows.append((doc_id, info["n_frames"], info["sample_rate"],
                             info["bitrate_kbps"], info["duration_ms"],
                             info["channels"]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_frames", "sample_rate", "bitrate_kbps",
                "duration_ms", "channels"])

    enc = docs.mapInPandas(to_mpeg, "doc_id long, payload binary")
    return enc.mapInPandas(
        scan, "doc_id long, n_frames long, sample_rate long, "
              "bitrate_kbps long, duration_ms long, channels long")


def q_mpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 Layer I/II/III encode→decode round-trip (self-consistent
    codecs, snacktory_spark.mpeg — spec framing incl. Layer II scfsi +
    grouped codewords and, since r7, the full Layer III tier: granule/
    region framing, bit reservoir, generated-canonical Huffman with
    linbits, power-law requantizer with rate loop, 18-point-MDCT hybrid
    stage; see the module's honesty contract for the substituted
    pieces): per document, encode the deterministic sine as Layer
    doc_id%3 + 1, decode it back through the layer DISPATCHER in a
    second Arrow stage, and verify layer, sample rate, channel count,
    and SNR above the bitrate-appropriate floor. Narrow maps over a
    binary column."""
    import pandas as pd
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    # defined inside the query so executors get it by closure value
    # (module-level names in __spark_entry__ are not importable there)
    def _mpeg_sig(doc_id):
        import numpy as np
        n_s = 1000 + (int(doc_id) % 5) * 384
        freq = 200 + (int(doc_id) % 20) * 20
        br = (192, 256, 320, 448)[int(doc_id) % 4]
        t = np.arange(n_s) / 32000.0
        return 0.5 * np.sin(2 * np.pi * freq * t), br


    def to_mpeg(batches):
        from snacktory_spark.mpeg import (encode_aac_adts, encode_layer1,
                                          encode_layer2, encode_layer3)
        for pdf in batches:
            payloads, aacs = [], []
            for doc_id in pdf["doc_id"]:
                sig, br = _mpeg_sig(doc_id)
                layer = int(doc_id) % 3
                if layer == 0:
                    payloads.append(encode_layer1(sig, 32000, br))
                elif layer == 1:
                    payloads.append(encode_layer2(sig, 32000,
                                                  min(br, 384)))
                else:                        # L3 ladder tops out at 320
                    payloads.append(encode_layer3(sig, 32000,
                                                  min(br, 320)))
                aacs.append(encode_aac_adts(sig, 32000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads, "aac": aacs})

    def decode(batches):
        import numpy as np
        from snacktory_spark.mpeg import (aac_adts_info, decode_aac_adts,
                                          decode_mpeg, parse_frame_header)
        for pdf in batches:
            rows = []
            for doc_id, payload, aac in zip(pdf["doc_id"],
                                            pdf["payload"], pdf["aac"]):
                sig, br = _mpeg_sig(doc_id)
                raw = bytes(payload)
                layer = parse_frame_header(raw).layer

                def snr_of(out):
                    n = min(out.shape[0], sig.size)
                    e = out[:n, 0] - sig[:n]
                    return 10.0 * np.log10(
                        float(np.mean(sig[:n] ** 2))
                        / max(float(np.mean(e ** 2)), 1e-300))
                sr, ch, out = decode_mpeg(raw)
                a_sr, a_ch, a_out = decode_aac_adts(bytes(aac))
                # L1 192k mono @32k -> nb=5 (~30 dB); L3 sines ~49+ dB;
                # AAC rides ADTS VBR so it is quantizer-limited (~78 dB).
                # aac_frames comes from SCANNING the stream, so the
                # closed-form oracle validates the actual ADTS framing
                n_aac = aac_adts_info(bytes(aac))["n_frames"]
                rows.append((doc_id, layer, sr, ch,
                             bool(snr_of(out) > 25.0),
                             int(n_aac) if (a_sr, a_ch) == (32000, 1)
                             and snr_of(a_out) > 60.0 else -1))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "layer", "sample_rate", "channels", "snr_ok",
                "aac_frames"])

    enc = docs.mapInPandas(to_mpeg,
                           "doc_id long, payload binary, aac binary")
    return enc.mapInPandas(
        decode, "doc_id long, layer long, sample_rate long, "
                "channels long, snr_ok boolean, aac_frames long")


def q_media_container_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AAC-ADTS + H.264 Annex-B + MP4/ISO-BMFF + Ogg + FLAC +
    WebM/Matroska + fragmented-MP4 container scanning (REAL structural
    parse — snacktory_spark.mpeg/av/containers): per document,
    synthesize structurally valid streams (doc_id-derived parameters;
    filler payloads — the scanners validate framing/boxes/pages/CRCs,
    not codec entropy), then scan all seven in a second Arrow stage:
    AAC frame count/duration/profile, H.264 NAL inventory / keyframe
    count / SPS profile-level, MP4 box-tree duration/track/sample
    inventory, Ogg page walk with CRC verification, FLAC STREAMINFO,
    WebM EBML walk (duration/codec/cluster/block inventory, incl. the
    live-stream unknown-size Segment layout), fMP4 moof/traf/trun
    fragment walk (duration via mehd OR summed trun sample durations),
    and (r7) IVF/VP9: container walk + per-frame VP9 uncompressed-
    header audit (keyframe inventory, coded-vs-container dimension
    check) without the bool-coder that keeps full VP9 decode stubbed.
    The no-decode audit pass a 100-TB media corpus runs over its
    compressed audio/video columns — real web-video corpora are heavily
    WebM and streaming-era MP4 is fragmented (VERDICT r4 #4 + r5 #4).
    Narrow maps; oracled closed-form on doc_id."""
    import pandas as pd
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def _params(doc_id):
        d = int(doc_id)
        return (10 + d % 7,            # aac frames
                100 + d % 50,          # aac payload bytes
                1 + d % 3,             # gops
                4 + d % 5)             # gop length

    def _cparams(doc_id):
        d = int(doc_id)
        return {"mp4_samples": 5 + d % 9,
                "mp4_ms": 200 + (d % 10) * 100,
                "ogg_pages": 2 + d % 4,
                "ogg_ppp": 1 + d % 3,
                "flac_rate": (8000, 16000, 22050, 44100, 48000)[d % 5],
                "flac_total": 1000 + (d % 7) * 500,
                "webm_clusters": 1 + d % 5,
                "webm_bpc": 2 + d % 4,
                "webm_ms": 500 + (d % 8) * 250,
                "fmp4_frags": 1 + d % 4,
                "fmp4_spf": 3 + d % 6,
                "ivf_frames": 4 + d % 6,
                "ivf_kf": 2 + d % 3,
                "ivf_w": 160 + (d % 4) * 80,
                "ivf_h": 90 + (d % 4) * 45}

    def build(batches):
        from snacktory_spark.av import build_h264_annexb
        from snacktory_spark.containers import (build_flac, build_fmp4,
                                                build_ivf, build_mp4,
                                                build_ogg, build_webm)
        from snacktory_spark.mpeg import build_adts_stream
        for pdf in batches:
            aacs, h264s, mp4s, oggs, flacs = [], [], [], [], []
            webms, fmp4s, ivfs = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                nf, pb, gops, glen = _params(doc_id)
                c = _cparams(doc_id)
                aacs.append(build_adts_stream(nf, pb, 48000, 2, 1,
                                              seed=d))
                h264s.append(build_h264_annexb(gops, glen, 100, 41,
                                               seed=d))
                mp4s.append(build_mp4(
                    c["mp4_samples"], 20 + d % 11, c["mp4_ms"],
                    handler=b"soun" if d % 2 else b"vide",
                    codec=b"mp4a" if d % 2 else b"avc1", seed=d))
                oggs.append(build_ogg(c["ogg_pages"], c["ogg_ppp"],
                                      20 + d % 50, seed=d))
                flacs.append(build_flac(c["flac_rate"], 1 + d % 2,
                                        c["flac_total"], seed=d))
                # WebM alternates codec and the live-stream unknown-size
                # Segment layout; fMP4 alternates the declared-mehd vs
                # walk-the-truns duration path (both must agree)
                webms.append(build_webm(
                    c["webm_clusters"], c["webm_bpc"], c["webm_ms"],
                    codec=b"V_VP9" if d % 2 == 0 else b"V_VP8",
                    unknown_segment_size=(d % 3 == 0), seed=d))
                fmp4s.append(build_fmp4(
                    c["fmp4_frags"], c["fmp4_spf"], 40,
                    with_mehd=(d % 2 == 0), seed=d))
                ivfs.append(build_ivf(
                    c["ivf_frames"], c["ivf_w"], c["ivf_h"], fps=30,
                    keyframe_interval=c["ivf_kf"], seed=d))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "aac": aacs,
                                "h264": h264s, "mp4": mp4s,
                                "ogg": oggs, "flac": flacs,
                                "webm": webms, "fmp4": fmp4s,
                                "ivf": ivfs})

    def scan(batches):
        from snacktory_spark.av import h264_annexb_info
        from snacktory_spark.containers import (flac_info, ivf_info,
                                                mp4_info, ogg_info,
                                                webm_info)
        from snacktory_spark.mpeg import aac_adts_info
        for pdf in batches:
            rows = []
            for (doc_id, aac, h264, mp4, ogg, flac, webm, fmp4,
                 ivf) in zip(
                    pdf["doc_id"], pdf["aac"], pdf["h264"], pdf["mp4"],
                    pdf["ogg"], pdf["flac"], pdf["webm"], pdf["fmp4"],
                    pdf["ivf"]):
                a = aac_adts_info(bytes(aac))
                v = h264_annexb_info(bytes(h264))
                m = mp4_info(bytes(mp4))
                o = ogg_info(bytes(ogg))
                f = flac_info(bytes(flac))
                w = webm_info(bytes(webm))
                fm = mp4_info(bytes(fmp4))
                iv = ivf_info(bytes(ivf))
                rows.append((doc_id, a["n_frames"], a["duration_ms"],
                             a["profile"], v["n_nals"], v["n_keyframes"],
                             v["n_slices"], v["profile_idc"],
                             v["level_idc"],
                             m["duration_ms"],
                             m["tracks"][0]["n_samples"],
                             m["tracks"][0]["codec"],
                             o["n_pages"], o["n_packets"],
                             o["last_granule"],
                             f["sample_rate"], f["channels"],
                             f["duration_ms"],
                             w["duration_ms"], w["tracks"][0]["codec"],
                             w["n_clusters"], w["n_blocks"],
                             fm["n_fragments"], fm["frag_samples"],
                             fm["duration_ms"],
                             iv["n_frames"], iv["keyframes"],
                             iv["width"], iv["duration_ms"]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "aac_frames", "aac_duration_ms", "aac_profile",
                "n_nals", "n_keyframes", "n_slices", "profile_idc",
                "level_idc", "mp4_duration_ms", "mp4_samples",
                "mp4_codec", "ogg_pages", "ogg_packets", "ogg_granule",
                "flac_rate", "flac_channels", "flac_duration_ms",
                "webm_duration_ms", "webm_codec", "webm_clusters",
                "webm_blocks", "fmp4_fragments", "fmp4_samples",
                "fmp4_duration_ms", "ivf_frames", "ivf_keyframes",
                "ivf_width", "ivf_duration_ms"])

    built = docs.mapInPandas(
        build, "doc_id long, aac binary, h264 binary, mp4 binary, "
               "ogg binary, flac binary, webm binary, fmp4 binary, "
               "ivf binary")
    return built.mapInPandas(
        scan, "doc_id long, aac_frames long, aac_duration_ms long, "
              "aac_profile string, n_nals long, n_keyframes long, "
              "n_slices long, profile_idc long, level_idc long, "
              "mp4_duration_ms long, mp4_samples long, "
              "mp4_codec string, ogg_pages long, ogg_packets long, "
              "ogg_granule long, flac_rate long, flac_channels long, "
              "flac_duration_ms long, webm_duration_ms long, "
              "webm_codec string, webm_clusters long, webm_blocks long, "
              "fmp4_fragments long, fmp4_samples long, "
              "fmp4_duration_ms long, ivf_frames long, "
              "ivf_keyframes long, ivf_width long, "
              "ivf_duration_ms long")


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source-format round-trip (REAL ISO 28500 parser both
    directions, snacktory_spark.warc — the Common Crawl container): per
    document, build a per-record-gzip WARC (warcinfo + one HTTP/1.1
    response whose HTML body wraps the doc text), then parse it back in
    a second Arrow stage — record inventory, HTTP status/content-type
    split, byte-exact body recovery, AND the CDX random-access contract
    (r5): build_cdx's (offset, length) ranges must tile the stream
    exactly and each range must parse standalone via read_warc_range to
    the same record — the property that makes a mega-WARC splittable
    (see snacktory_spark/pipeline/warc_source.py for the range-parallel
    read path and tests/test_warc.py for the >1-task proof). This is
    the archive→extraction ingest hop of a web pipeline, as a narrow
    binary-column map.

    r6 adds the SOURCE-ARCHIVE scan tier alongside (snacktory_spark.
    archives — code/document corpora ship as .zip/.tar): per document a
    stored-method ZIP and a ustar TAR are built from the doc text plus
    doc_id-derived filler entries, then structurally scanned (central-
    directory inventory with stored-CRC verification; ustar header
    walk with checksum verification) — payloads never extracted."""
    import pandas as pd
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def _html(text):
        return ("<html><body><p>" + (text or "")
                + "</p></body></html>").encode("utf-8")

    def build(batches):
        from snacktory_spark.archives import build_tar, build_zip
        from snacktory_spark.warc import write_warc
        for pdf in batches:
            payloads, zips, tars = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                payloads.append(write_warc(
                    [(f"http://corpus.test/{d}", _html(t))],
                    gzip_members=True))
                entries = ([("doc.txt", (t or "").encode("utf-8")),
                            ("meta.json", b'{"id": %12d, "v": 1}' % d)]
                           + [(f"extra/{i}.bin",
                               bytes(((d + i + j) * 167) % 251
                                     for j in range(10)))
                              for i in range(d % 3)])
                zips.append(build_zip(entries))
                tars.append(build_tar([("extra/", None)] + entries))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads, "zip": zips,
                                "tar": tars, "text": pdf["text"]})

    def parse(batches):
        from snacktory_spark.archives import tar_info, zip_info
        from snacktory_spark.warc import (build_cdx, iter_warc_records,
                                          iter_warc_responses,
                                          read_warc_range, warc_info)
        for pdf in batches:
            rows = []
            for doc_id, payload, zdata, tdata, t in zip(
                    pdf["doc_id"], pdf["payload"], pdf["zip"],
                    pdf["tar"], pdf["text"]):
                data = bytes(payload)
                info = warc_info(data)
                resp = list(iter_warc_responses(data))
                ok = (len(resp) == 1
                      and resp[0][0] == f"http://corpus.test/{int(doc_id)}"
                      and resp[0][3] == _html(t))
                # CDX contract: ranges tile the stream and each range
                # parses standalone to the same record as the full scan
                cdx = build_cdx(data)
                full = list(iter_warc_records(data))
                cdx_ok = (cdx[0]["offset"] == 0
                          and all(b["offset"] == a["offset"] + a["length"]
                                  for a, b in zip(cdx, cdx[1:]))
                          and cdx[-1]["offset"] + cdx[-1]["length"]
                          == len(data)
                          and all(read_warc_range(
                                      data[r["offset"]:r["offset"]
                                           + r["length"]]) == rec
                                  for r, rec in zip(cdx, full)))
                zi = zip_info(bytes(zdata))
                ti = tar_info(bytes(tdata))
                rows.append((doc_id, info["n_records"], resp[0][1],
                             resp[0][2], ok, len(cdx), cdx_ok,
                             zi["n_entries"], zi["uncompressed_bytes"],
                             zi["stored_crc_ok"], ti["n_entries"],
                             ti["n_files"], ti["total_file_bytes"]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_records", "status", "content_type",
                "body_match", "cdx_records", "cdx_ok", "zip_entries",
                "zip_bytes", "zip_crc_ok", "tar_entries", "tar_files",
                "tar_bytes"])

    built = docs.mapInPandas(
        build, "doc_id long, payload binary, zip binary, tar binary, "
               "text string")
    return built.mapInPandas(
        parse, "doc_id long, n_records long, status long, "
               "content_type string, body_match boolean, "
               "cdx_records long, cdx_ok boolean, zip_entries long, "
               "zip_bytes long, zip_crc_ok boolean, tar_entries long, "
               "tar_files long, tar_bytes long")


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source format (the LLM-training-data staple): write the
    documents table as JSON Lines (distributed df.write.json, gzip —
    splittable at the file level like WARC), read it back with an
    EXPLICIT schema (schema-on-read without the inference pass a 100-TB
    ingest can't afford), and aggregate per source — identical to
    aggregating the parquet directly, which is the closed-form oracle.
    The JSONL round-trip is the identity, so the oracle needs no file
    access. Deterministic temp dir keyed by sf_dir; overwrite mode makes
    reruns idempotent."""
    import hashlib
    import tempfile
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/snacktory_jsonl_{key}"
    (docs.repartition(4, "source")
     .write.mode("overwrite").option("compression", "gzip").json(path))
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, "
        "n_chars long").json(path)
    return (back.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.min("doc_id").cast("long").alias("min_doc"),
                 F.max("doc_id").cast("long").alias("max_doc")))


def q_streaming_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming oracled by BATCH EQUIVALENCE (VERDICT r2 item
    7): the watermarked windowed aggregation (streaming_conv_stats) runs
    with trigger=availableNow to a parquet sink, twice — the second pass
    adds a far-future watermark sentinel row that closes every real
    window, so append mode emits exactly the batch aggregation of the
    input. The sentinel's own window stays open (watermark never passes
    it), so the returned rows equal plain batch SQL over the transcripts
    — which is the DuckDB oracle."""
    import datetime as dt
    import glob
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from snacktory_spark.pipeline.streaming import run_streaming_stats_once

    sdir = _synth(sf_dir)
    tmp = tempfile.mkdtemp(prefix="stream_cs_")
    try:
        in_dir = os.path.join(tmp, "in")
        out_dir = os.path.join(tmp, "out")
        ck = os.path.join(tmp, "ck")
        os.makedirs(in_dir)
        src = f"{sdir}/transcripts.parquet"
        parts = sorted(glob.glob(os.path.join(src, "*.parquet"))) \
            if os.path.isdir(src) else [src]
        for i, p in enumerate(parts):
            shutil.copy(p, os.path.join(in_dir, f"part-{i:05d}.parquet"))
        if not run_streaming_stats_once(spark, in_dir, out_dir, ck):
            raise RuntimeError("streaming pass 1 did not terminate")
        sentinel = pa.table({
            "conv_id": pa.array(["__wm_sentinel__"], pa.string()),
            "turn_idx": pa.array([0], pa.int32()),
            "role": pa.array(["user"], pa.string()),
            "text": pa.array(["watermark sentinel"], pa.string()),
            "tool": pa.array([""], pa.string()),
            "ts": pa.array([dt.datetime(2030, 1, 1,
                                        tzinfo=dt.timezone.utc)],
                           pa.timestamp("us", tz="UTC")),
        })
        pq.write_table(sentinel, os.path.join(in_dir, "part-sentinel.parquet"))
        if not run_streaming_stats_once(spark, in_dir, out_dir, ck):
            raise RuntimeError("streaming pass 2 did not terminate")
        # materialize the (small: one row per conv x hour window) result so
        # the workspace — a full input copy + sink + checkpoint — can be
        # deleted before returning (review finding: it leaked per call).
        # The scale path is the writeStream sink itself; this query is the
        # batch-equivalence EVIDENCE, so driver-sizing the window stats is
        # the point, not a compromise.
        rows = (spark.read.parquet(out_dir)
                .filter(F.col("conv_id") != "__wm_sentinel__")
                .select("win_start", "conv_id", "n_turns", "total_chars")
                .collect())
        return spark.createDataFrame(
            rows, "win_start timestamp, conv_id string, n_turns long, "
                  "total_chars long")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_av_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio/video decode (REAL codecs, snacktory_spark.av):
    per document synthesize a deterministic PCM WAV sine (frequency
    seeded by doc_id, chosen on an exact FFT bin) and a small Y4M clip
    (frame count + luma seeded by doc_id), then decode both in a second
    Arrow stage: FFT dominant frequency, duration, frame sampling and
    luma stats. Narrow maps over binary columns — no shuffle. Oracle is
    the closed form of the same seeds."""
    import pandas as pd
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def synth(batches):
        import numpy as np
        from snacktory_spark.av import encode_wav, encode_y4m
        from snacktory_spark.h264 import encode_h264_ipcm
        from snacktory_spark.vp9 import encode_vp9_raw
        for pdf in batches:
            wavs, clips, avcs, vp9s = [], [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                freq = 200 + (d % 20) * 20  # multiple of 4 Hz = exact bin
                t = np.arange(2000) / 8000.0
                wavs.append(encode_wav(0.4 * np.sin(2 * np.pi * freq * t),
                                       8000))
                nf = 3 + d % 4
                frames = [np.full((8, 8), (d * 7 + j * 11) % 256, np.uint8)
                          for j in range(nf)]
                clips.append(encode_y4m(frames, fps=25))
                # the SAME frames as a conformant H.264 I_PCM stream
                # (lossless raw-sample macroblocks — snacktory_spark.h264)
                avcs.append(encode_h264_ipcm(frames))
                # and as a VP9-shaped IVF stream (real RFC 6386 bool
                # coder, substituted model — snacktory_spark.vp9)
                vp9s.append(encode_vp9_raw(frames, keyframe_interval=2))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "wav": wavs,
                                "clip": clips, "avc": avcs,
                                "vp9": vp9s})

    def feats(batches):
        import numpy as np
        from snacktory_spark.av import audio_features, video_features
        from snacktory_spark.h264 import decode_h264_ipcm
        from snacktory_spark.vp9 import decode_vp9_raw
        for pdf in batches:
            dom, dur, nfr, nsm, luma, avcf, vp9f = \
                [], [], [], [], [], [], []
            for doc_id, wav, clip, avc, vp9 in zip(
                    pdf["doc_id"], pdf["wav"], pdf["clip"], pdf["avc"],
                    pdf["vp9"]):
                d = int(doc_id)
                af = audio_features(bytes(wav))
                vf = video_features(bytes(clip), every_k=2)
                dur.append(int(round(af[0] * 1000)))
                dom.append(int(round(af[3])))
                nfr.append(int(vf[0]))
                nsm.append(int(vf[1]))
                luma.append(round(vf[2], 4))
                # H.264 path must reproduce every frame BIT-EXACTLY
                # (I_PCM is lossless); -1 on any mismatch
                w, h, frames = decode_h264_ipcm(bytes(avc))
                ok = (w, h) == (8, 8) and all(
                    np.array_equal(fr, np.full((8, 8),
                                               (d * 7 + j * 11) % 256,
                                               np.uint8))
                    for j, fr in enumerate(frames))
                avcf.append(len(frames) if ok else -1)
                vw, vh, vframes = decode_vp9_raw(bytes(vp9))
                vok = (vw, vh) == (8, 8) and all(
                    np.array_equal(fr, np.full((8, 8),
                                               (d * 7 + j * 11) % 256,
                                               np.uint8))
                    for j, fr in enumerate(vframes))
                vp9f.append(len(vframes) if vok else -1)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "duration_ms": dur, "dom_freq": dom,
                                "n_frames": nfr, "n_sampled": nsm,
                                "mean_luma": luma, "h264_frames": avcf,
                                "vp9_frames": vp9f})

    av = docs.mapInPandas(
        synth, "doc_id long, wav binary, clip binary, avc binary, "
               "vp9 binary")
    return av.mapInPandas(
        feats, "doc_id long, duration_ms long, dom_freq long, "
               "n_frames long, n_sampled long, mean_luma double, "
               "h264_frames long, vp9_frames long")


def q_role_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation (ROLLUP): turn counts + chars by
    (role, is_htmlish) with subtotals and a grand total — the reporting
    shape over extraction telemetry."""
    from pyspark.sql import functions as F
    sdir = _synth(sf_dir)
    df = spark.read.parquet(f"{sdir}/transcripts.parquet")
    base = df.select(
        "role",
        F.col("text").rlike("<[a-zA-Z!]").alias("is_htmlish"),
        F.length("text").alias("n"))
    return (base.rollup("role", "is_htmlish")
            .agg(F.count("*").alias("n_turns"),
                 F.sum("n").cast("long").alias("total_chars"))
            .select("role", "is_htmlish", "n_turns", "total_chars"))


def q_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF layout parse (north rule: 'HTML boilerplate strip, PDF/layout
    parse'): synthesize a REAL single-page PDF per document (xref table,
    FlateDecode'd content stream, Tj/TJ text operators — snacktory_spark.pdf,
    stdlib zlib only), then recover the text with the pure-python PDF
    extractor. Two Arrow mapInPandas stages over a binary column; narrow
    maps, no shuffle. Oracle: recovered text must equal the source text
    byte-exactly."""
    import pandas as pd
    from snacktory_spark.multimodal import extract_pdf_text_df
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")

    def synth(batches):
        from snacktory_spark.pdf import make_simple_pdf
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                # odd doc_ids exercise the TJ-array path, even ones Tj
                "payload": [make_simple_pdf(t if isinstance(t, str) else "",
                                            split_tj=bool(d % 2))
                            for d, t in zip(pdf["doc_id"], pdf["text"])],
            })

    binary = docs.mapInPandas(synth, "doc_id long, payload binary")
    return extract_pdf_text_df(binary).select(
        "doc_id", "pdf_text", "n_pages", "pdf_ok")


def q_kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrolled Lloyd's k-means (2 assign→mean rounds from fixed seed
    centroids = embeddings 1..4): the iterative-ML aggregation shape
    (narrow assignment map + one shuffle per round; tiny centroid table
    driver-held). Deterministic via fixed-precision centroid means."""
    from pyspark.sql import functions as F
    from snacktory_spark.textops import kmeans_fit
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = [r["embedding"] for r in
             emb.filter(F.col("vec_id").isin(1, 2, 3, 4)).orderBy("vec_id").collect()]
    assigned, _cents = kmeans_fit(emb, seeds, n_iter=2)
    return assigned


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-free hash
    bucketing (md5 of the id — portable to any engine, stable across
    reruns/cluster sizes): 80/10/10. The split is a pure narrow map."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
               16, 10).cast("long") % 100
    split = (F.when(h < 80, "train").when(h < 90, "val").otherwise("test"))
    return docs.select("doc_id", "lang", split.alias("split"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word 8-gram
    with the (tiny, broadcast) benchmark set — here the first 8 words of
    docs 1-3 stand in for a benchmark.

    Scale shape (VERDICT r2 wrong #2): each document's 8-grams are
    enumerated JVM-side (transform over sequence — a narrow map, one pass
    over tokens), exploded, and broadcast-HASH-joined against the bench
    grams; bool_or per doc. At production k (~1e4 eval n-grams) this is
    one hash probe per doc gram, vs the old crossJoin+contains broadcast
    nested-loop that ran k full-text substring scans per document. Bench
    entries shorter than 8 tokens can never match (standard decontam:
    short grams are skipped, not substring-matched).

    r10: both join sides key on xxhash64 of the 8-token window (hashed
    directly from the token slice — the gram STRING is never built), the
    same 8-byte-key design the ExactSubstr op ships (corpus_ops._win_at,
    VERDICT r8 #2; Lee et al. 2022 likewise dedup on hashes). At sf1.0
    this cut the per-window enumeration from ~2.9s to ~2.1s (string
    concat allocation gone) and shrinks the exploded rows from ~50-byte
    strings to 8-byte longs; a 64-bit collision against one of the ≤3
    bench hashes is ~1e-12-grade (oracle hash-verified green). The scan
    is _split_scan-parallelized keyed on doc_id, so the final per-doc
    agg reuses the clustering instead of adding a second exchange."""
    from pyspark.sql import functions as F
    docs = _split_scan(spark, f"{sf_dir}/documents.parquet", "doc_id")
    toks = _tokens_expr()
    bench = (docs.filter(F.col("doc_id").isin(1, 2, 3))
             .filter(F.size(toks) >= 8)
             .select(F.xxhash64(F.slice(toks, 1, 8)).alias("gram"))
             .distinct()
             .withColumn("hit", F.lit(True)))
    tok_docs = docs.select("doc_id", toks.alias("toks"))
    grams = F.when(
        F.size("toks") >= 8,
        F.transform(F.sequence(F.lit(1), F.size("toks") - 7),
                    _hash_gram_at(8))
    ).otherwise(F.array().cast("array<bigint>"))
    exploded = tok_docs.select(
        "doc_id", F.explode_outer(grams).alias("gram"))
    flagged = (exploded
               .join(F.broadcast(bench), "gram", "left")
               .groupBy("doc_id")
               .agg(F.coalesce(F.bool_or("hit"), F.lit(False))
                    .alias("contaminated")))
    return flagged


def _gram_at(k):
    """k-token gram at 1-based token index i, as a HOF lambda. Closure
    factory (not default-arg capture — pyspark HOF arity detection would
    misread the extra param as the index argument)."""
    from pyspark.sql import functions as F

    def g(i):
        return F.concat_ws(" ", F.slice("toks", i, k))
    return g


def _hash_gram_at(k):
    """xxhash64 of the k-token window at 1-based index i — the 8-byte
    gram key (string never materialized). xxhash64 over an ARRAY chains
    element hashes exactly like the multi-arg form, so both join sides
    may hash a slice. Closure factory (see _gram_at)."""
    from pyspark.sql import functions as F

    def g(i):
        return F.xxhash64(F.slice("toks", i, k))
    return g


# _zip_grams moved to snacktory_spark.pipeline.corpus_ops.zip_grams
# (imported above): the O(k·n) zip_with construction vs the O(n²)
# transform-over-sequence trap is documented there.


def q_doc_cross_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-text coverage — the corpus-overlap
    signal behind exact-substring dedup (Lee et al. 2022,
    arXiv:2107.06499, public): per document, how many of its DISTINCT
    word 5-grams occur in at least one OTHER document, and the
    fraction. Distinct from doc_repetition (WITHIN-doc gram reuse);
    this measures ACROSS-doc text sharing. Shape: JVM gram enumeration
    (narrow map) -> explode -> distinct (doc, gram) -> gram
    document-frequency (partial+final hash agg) -> equi-join back ->
    per-doc agg. The standard two-aggregation overlap pass; nothing
    broadcast, no window — survives 100x scale as-is."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens_expr()
    tok_docs = docs.select("doc_id", toks.alias("toks"))
    grams = F.when(
        F.size("toks") >= 5,
        F.transform(F.sequence(F.lit(1), F.size("toks") - 4),
                    _gram_at(5))
    ).otherwise(F.array().cast("array<string>"))
    dg = (tok_docs.select("doc_id", F.explode_outer(grams).alias("gram"))
          .distinct())
    dfreq = (dg.filter(F.col("gram").isNotNull())
             .groupBy("gram").agg(F.count("*").alias("df")))
    return (dg.join(dfreq, "gram", "left")
            .groupBy("doc_id")
            .agg(F.count("gram").alias("n_distinct_grams"),
                 F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                  .cast("long").alias("n_cross_dup"))
            .select("doc_id", "n_distinct_grams", "n_cross_dup",
                    F.when(F.col("n_distinct_grams") > 0,
                           F.round(F.col("n_cross_dup")
                                   / F.col("n_distinct_grams"), 4))
                     .alias("cross_dup_frac")))


# _win_at / _win_at_str / _span_str / _pos_uncovered / _tok_at_pos and
# exact_substr_spans moved to snacktory_spark.pipeline.corpus_ops (r9:
# the job's optional ExactSubstr cut stage and this module's oracled
# query must execute the same code); exact_substr_spans is re-exported
# in the alias import block at the top of this file.


def q_doc_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-SPAN extraction (Lee et al. 2022,
    arXiv:2107.06499 §4.1, public): token positions whose W-token window
    occurs ≥2 times ANYWHERE in the corpus (total occurrences — within-doc
    repeats count, unlike n_cross_dup's distinct-doc df) are merged into
    maximal covered spans per document (union of [pos, pos+W-1]; two
    windows merge when their position gap ≤ W, i.e. coverage stays
    contiguous). Per doc: span count, covered-token count and fraction,
    and the canonical "s-e;s-e" span list (0-based inclusive token
    indices) that a removal pass would cut. W=5 words here (synthetic
    documents are small); production uses ~50 BPE tokens — a knob, not a
    shape change.

    Scale shape: window enumeration is a narrow map that emits the
    xxhash64 of each gram, NOT the gram string (8-byte fixed keys: the
    string never transits a shuffle — r9, VERDICT r8 #2); occurrence
    counting is one partial+final hash agg on that hash; duplicate
    positions come from a shuffle equi-join on it (corpus-proportional
    sides are never broadcast); span merging is the lag/cumsum islands
    window partitioned
    by doc_id (the event_sessions shape — P concurrent sorts, no global
    ordering); the per-doc agg rides the same doc_id partitioning. Every
    shuffle key (gram, doc_id) is high-cardinality and unskewed — survives
    100× as-is."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens_expr()
    tok_docs = (docs.filter(F.length("text") > 0)
                .select("doc_id", toks.alias("toks")))
    return exact_substr_spans(tok_docs, W=5)


def _chunk_at(k):
    """k-token chunk at 0-based chunk index i, as a HOF lambda."""
    from pyspark.sql import functions as F

    def g(i):
        return F.concat_ws(" ", F.slice("toks", i * k + 1, k))
    return g


def q_token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: documents in stable doc_id order are
    assigned to fixed-budget shards by exclusive prefix sum of token counts
    (floor(cumsum_before / budget)) — the deterministic sharding step
    before tokenizer/packing jobs.

    Scale shape (VERDICT r2 wrong #1): the shared distributed two-level
    exclusive prefix sum (corpus_ops.exclusive_prefix_sum, one constant
    group) instead of an unpartitioned global window (which funnels the
    whole table through ONE task): per-range token totals (P tiny rows),
    exclusive offsets by a window over those P rows only, and local
    running sums in a window partitioned by the range id. The range
    split points are driver literals sampled from the documents scan,
    so the result does not depend on exchange reuse or AQE."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    narrow = (docs.filter(F.length("text") > 0)
              .select(F.lit(0).alias("_all"), "doc_id", n_tok.alias("n")))
    starts = _exclusive_prefix_sum(narrow, "_all", ["doc_id"],
                                   bounds_from=docs)
    return starts.select(
        "doc_id", F.col("n").alias("n_tokens"),
        F.floor(F.col("gstart") / F.lit(2000)).cast("long").alias("shard"))


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters: per document, the
    duplicate-2-gram fraction (1 - distinct/total) and the top-2-gram
    fraction (most frequent 2-gram's share) — the standard signals for
    dropping looping/boilerplate generations from a training corpus.
    Shape (r10 rewrite, guide §2.3/§2.4 "remove shuffles outright"): the
    statistics are PER-DOCUMENT functions of that document's bigram
    multiset alone, so nothing needs to cross a shuffle — each row sorts
    its own bigram array and computes (distinct count, max run length) in
    one JVM HOF pass. The pre-r10 shape exploded every bigram as a string
    row through TWO hash aggs ((doc, gram) counts, then per-doc moments)
    — at sf1.0 that shuffled ~2.7M gram strings and took 3.0s vs ~1.1s
    full materialization (and ~0.65s under the bench's count(), which
    prunes the per-row projections) for this zero-exchange form
    (identical output, oracle hash-verified). Bigrams are keyed as
    xxhash64(tok_i, tok_i+1) longs — see _bigram_at for the measured
    string/struct/long ladder and the collision argument. Scales: narrow
    map, the only cost is O(n log n) per row. A plain scan: _split_scan
    measured no better here (sf0.1, local[4]: 0.28 s split vs 0.27 s
    plain, min of 6)."""
    return _doc_repetition_over(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _doc_repetition_over(docs: DataFrame) -> DataFrame:
    """doc_repetition body over an arbitrary (doc_id, text) frame —
    shared with the r10 equivalence tests."""
    from pyspark.sql import functions as F
    toks = _tokens_expr()
    base = (docs.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= 2))
    grams = F.transform(F.sequence(F.lit(1), F.size("toks") - 1), _bigram_at)
    # two SINGLE-USE expressions (a multi-use struct would be duplicated
    # per referencing field by CollapseProject — HOFs get no codegen CSE):
    # distinct count via one hash-set pass, top run length via one
    # run-length pass over the sorted array
    ndist = F.size(F.array_distinct(grams))
    zero = F.lit(0).cast("int")
    init = F.struct(
        F.lit(None).cast("bigint").alias("prev"),
        zero.alias("run"), zero.alias("maxrun"))
    top_c = F.aggregate(F.array_sort(grams), init, _runlen_merge)["maxrun"]
    ng = (F.size("toks") - 1).cast("long")
    return base.select(
        "doc_id", ng.alias("n_grams"),
        F.round(F.lit(1.0) - ndist / ng, 4).alias("dup_gram_frac"),
        F.round(top_c / ng, 4).alias("top_gram_frac"))


def _bigram_at(i):
    """xxhash64(token i, token i+1) at 1-based index i — an 8-byte
    bigram key: two element_at reads, no string/struct allocation, and
    array_distinct/array_sort take their fast atomic-type paths.
    Measured at sf1.0 (full materialization, interleaved): string grams
    3.0s, (a,b) structs 1.7s, hashed longs 1.10s. Grouping equals
    string-gram grouping up to a 64-bit within-doc collision
    (P≈n²·2⁻⁶⁴ per doc ≈ 1e-16 — the decontaminate/ExactSubstr
    hashed-key design; oracle-hash-verified, plus the string-reference
    equivalence tests in tests/test_r10_rewrites.py). HOF lambda as a
    module function (no default-arg captures)."""
    from pyspark.sql import functions as F
    return F.xxhash64(F.element_at("toks", i.cast("int")),
                      F.element_at("toks", (i + 1).cast("int")))


def _runlen_merge(acc, x):
    """aggregate() merge step over a SORTED gram array: tracks current
    and max run length. Equal grams are adjacent after array_sort, so
    one pass yields the same top_c as the exploded groupBy it
    replaced."""
    from pyspark.sql import functions as F
    same = acc["prev"].isNotNull() & (x == acc["prev"])
    run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("int"))
    return F.struct(
        x.alias("prev"), run.alias("run"),
        F.greatest(acc["maxrun"], run).alias("maxrun"))



_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-555-\d{4}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (training-data hygiene op): regex redaction of
    emails / phone numbers / IPs with typed placeholder tokens, plus
    per-doc match counts. The synth corpus has no PII, so each doc gets a
    deterministic doc_id-derived contact line appended first (same
    construction in the oracle) — the regexes then do real work. Narrow
    map, no shuffle; the regex dialect sticks to the Java/RE2 common
    subset so engines agree."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seeded = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(seeded, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>"),
        _PII_IP, "<IP>")
    return docs.select(
        "doc_id",
        F.regexp_count(seeded, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(seeded, F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count(seeded, F.lit(_PII_IP)).cast("long").alias("n_ips"),
        F.length(red).cast("long").alias("redacted_len"),
        F.substring(red, -34, 34).alias("redacted_tail"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: per-language keep rates
    (en 50%, others 20%) decided by a salted content-free md5 bucket —
    stable across engines, reruns, and cluster sizes, independent of the
    train/val/test split hash (different salt). Narrow map."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
        1, 4), 16, 10).cast("long") % 1000
    rate = F.when(F.col("lang") == "en", 500).otherwise(200)
    return (docs.filter(h < rate)
            .select("doc_id", "lang", h.cast("long").alias("bucket")))


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style passage-level dedup: split each document into 3-token
    chunks (stand-ins for lines/paragraphs — the synth corpus has no
    newlines), keep only each chunk's FIRST occurrence corpus-wide
    (ordered by doc_id then position), and reassemble documents from
    their surviving chunks. One shuffle for the first-occurrence window
    (hash-partitioned by chunk — uniform), one for the per-doc
    reassembly. The standard shape for line-dedup over a web corpus.
    (r10: measured _split_scan here — 0.36s → 0.46s at sf1.0, the added
    exchange outweighs parallelizing the cheap chunk build — left as-is.)"""
    from pyspark.sql import Window, functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens_expr()
    base = (docs.filter(F.length("text") > 0)
            .select("doc_id", toks.alias("toks")))
    n_chunks = F.floor((F.size("toks") + 2) / 3).cast("int")
    chunks = F.transform(F.sequence(F.lit(0), n_chunks - 1), _chunk_at(3))
    pos = base.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    w = Window.partitionBy("chunk").orderBy("doc_id", "pos")
    keep = (pos.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    agg = (keep.groupBy("doc_id")
           .agg(F.count("*").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("pos", "chunk"))),
                        _chunk_field),
                    " ").alias("dedup_text")))
    return (base.select("doc_id")
            .join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("dedup_text", F.lit("")).alias("dedup_text")))



def _chunk_field(x):
    return x["chunk"]


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise embedding aggregation: the L2-normalized mean vector
    per modulo-bucket group (the per-domain/per-cluster centroid step of
    data maps and diversity sampling). Shape: posexplode the array
    (narrow) -> partial+final hash agg per (group, dim) -> per-dim rows.
    Emitting (group, dim, value) rows instead of re-assembling arrays
    keeps the whole plan in hash aggregates — the assembly join is the
    consumer's choice at scale."""
    from pyspark.sql import functions as F
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    g = (emb.select((F.col("vec_id") % 8).alias("grp"),
                    F.posexplode("embedding").alias("dim", "v"))
         .groupBy("grp", "dim")
         .agg(F.avg("v").alias("mean_v"), F.count("*").alias("n")))
    # normalize by the group's L2 norm of the mean vector
    norm = (g.groupBy("grp")
            .agg(F.sqrt(F.sum(F.col("mean_v") * F.col("mean_v")))
                 .alias("l2")))
    return (g.join(norm, "grp")
            .select(F.col("grp").cast("long").alias("grp"),
                    F.col("dim").cast("long").alias("dim"),
                    F.round(F.col("mean_v") / F.col("l2"), 6)
                    .alias("unit_v"),
                    F.col("n").cast("long").alias("n")))


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length sequence packing — the step AFTER shard assignment
    (token_pack): within each source (the shard stand-in), concatenate
    documents' tokens in doc_id order and cut 128-token training
    sequences; emit per-sequence token count and boundary tokens.

    Scale shape (VERDICT r3 wrong #2 fix): tokens NEVER transit an
    exchange as individual rows and no window runs at token granularity.
    Instead:
      1. narrow map: per-doc token array + count (one row per DOC);
      2. two-level exclusive prefix sum of per-doc counts within each
         source (corpus_ops.exclusive_prefix_sum, shared with
         q_token_pack), over the NARROW (source, doc_id, n) projection
         only. Rows get a doc_id range id from driver-sampled literal
         split points, per-(pid, source) totals (≤ P×S tiny rows),
         per-source offsets window over those totals, broadcast back,
         local per-(pid, source) running sum — every doc learns its
         source-global start offset without any single-task sort, even
         for a dominant source (its docs span many ranges);
      2b. re-attach each doc's token array with a plain doc_id equi-join
         (uniform key, shuffled hash join — scale-safe);
      3. each doc emits one row per OVERLAPPED 128-token sequence
         (explode over ~n/128 sequence ids — narrow), carrying the
         overlap length and the boundary tokens via element_at on the
         kept token array;
      4. partial+final hash agg on (source, seq_idx) — seq_idx spreads a
         dominant source across the cluster by construction.
    The split points are sampled from the documents scan, so the output
    does not depend on exchange reuse or AQE."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = (docs.filter(F.length("text") > 0)
             .select("source", "doc_id", "text"))
    return _pack_sequences(texts, "source", ["doc_id"], 128,
                           bounds_from=docs)


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-prep DAG (VERDICT r7 #1) — the chain a
    training-data user actually runs, registered as ONE oracled query:

        extract → quality gate → exact dedup → decontaminate → seq-pack

    Every constituent is separately hash-green (extract_turns /
    quality_gate / doc_exact_dedup / decontaminate / seq_pack), but each
    of those oracles reads the RAW table; this composite proves the
    CHAIN — each stage consumes the previous stage's survivors, and the
    DuckDB oracle replays the same five stages as chained CTEs over
    expected_extraction.parquet (the extraction stage's own oracle).

    Stage shapes (the 100-TB audit is the sum of the proven parts):
      1. extraction — the audited extract_turns plan (salted
         repartition → MapInPandas; BENCH/skew_salt.md);
      2-3. quality gate and exact dedup — corpus_ops.gate_survivors and
         with_keeper, shared with run_corpus_prep; the gate passes
         731/962 turns at sf0.01, a real 24% attrition;
      4. decontamination — the benchmark set is the first-8-token gram
         of turn 0 of the 3 smallest conv_ids (corpus_ops
         .seed_bench_grams: 2 bounded driver collects, no UDF stage).
         With the bench inlined as literals the check is a NARROW
         arrays_overlap map — no explode, no join; the registered
         decontaminate query and the job keep the broadcast-hash-join
         shape for production-sized (~1e4-gram) bench sets;
      5. packing — corpus_ops.pack_sequences keyed by role, ordered by
         (conv_id, turn_idx). Its split points are sampled from the raw
         transcripts scan (turn 0 rows, one per conv_id), never from
         the extracted chain, which the sample would run a second time.

    Packing reads `clean` through three lineage branches; all three
    share ONE extraction pass through AQE's ReusedExchange of the dedup
    exchange (pack_sequences says why; a test asserts the reuse).
    """
    from pyspark.sql import functions as F
    from snacktory_spark.pipeline.extract_job import (extracted_df,
                                                      read_transcripts)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    SEQ = 128
    sdir = _synth(sf_dir)
    tr = read_transcripts(spark, f"{sdir}/transcripts.parquet")
    bench_grams = _seed_bench_grams(tr)

    deduped = (_with_keeper(_gate_survivors(extracted_df(tr, lineage=False)))
               .filter("is_keeper").drop("is_keeper"))

    # stage 4: narrow arrays_overlap vs the literal bench-gram set; the
    # forall(array(·)) wrapper binds the tokens once per row
    if bench_grams:
        bench_lit = F.array(*[F.lit(g) for g in bench_grams])

        def decontam_pred(t):
            n = F.size(t).cast("long")
            grams8 = F.when(
                n >= 8,
                _zip_grams(t, 8, F.greatest(n - 7, F.lit(0)).cast("int"))
            ).otherwise(F.array().cast("array<string>"))
            return ~F.arrays_overlap(grams8, bench_lit)

        clean = deduped.filter(F.forall(F.array(_tokens_expr()),
                                        decontam_pred))
    else:
        clean = deduped

    return _pack_sequences(
        clean, "role", ["conv_id", "turn_idx"], SEQ,
        bounds_from=tr.filter(F.col("turn_idx") == 0).select("conv_id"))


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quotas (crawl curation: no domain may dominate
    the corpus): keep at most 40 docs per source, chosen by a salted-md5
    order so the survivors are a stable uniform sample, not a
    doc_id-ordered prefix. Catalyst turns the row_number filter into
    WindowGroupLimit — partial top-k per source BEFORE the exchange, so
    a mega-domain never funnels its whole partition through the sort."""
    from pyspark.sql import Window, functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (docs.select("doc_id", "source", h.alias("h"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 40)
            .select("doc_id", "source", F.col("rk").cast("long").alias("rk")))


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: global token counts, top 20 by (count desc,
    token asc) — the wordcount-at-scale shape behind tokenizer/vocab
    builds. Explode -> partial+final hash agg -> TakeOrderedAndProject
    (top-k never sorts the full vocabulary)."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens_expr()
    return (docs.filter(F.length("text") > 0)
            .select(F.explode(toks).alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("token"))
            .limit(20))


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme: Schleimer/
    Wilkerson/Aiken, SIGMOD'03): hash every k-token gram (k=4), slide a
    w=4 window over the hash sequence, keep each window's MINIMUM hash —
    guarantees any shared run of w+k-1 tokens between two documents
    shares a fingerprint, at ~1/w the storage of full gram sets. The
    plagiarism/near-dup primitive that composes with the MinHash and
    SimHash ops.

    Entirely JVM-side higher-order functions (transform over sequence +
    array_min over slices — one narrow map), then explode + distinct
    (partial+final agg). Hashes are md5 hex strings compared
    lexicographically so DuckDB reproduces the selection exactly; the
    transient per-row hash array is bounded by the ingest pipeline's
    500KB document cap (~80k tokens → ~6 MB worst case — executor-safe;
    a production deployment would swap in a fixed-width binary hash at
    the cost of oracle portability)."""
    from pyspark.sql import functions as F
    K, W = 4, 4
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens_expr()
    base = (docs.filter(F.length("text") > 0)
            .select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= K + W - 1))
    hashes = F.transform(F.sequence(F.lit(1), F.size("toks") - (K - 1)),
                         _md5_gram_at(K))
    wins = base.select("doc_id", hashes.alias("hs"))
    mins = F.transform(F.sequence(F.lit(1), F.size("hs") - (W - 1)),
                       _win_min_at(W))
    return (wins.select("doc_id", F.explode(mins).alias("fp"))
            .distinct())


def _md5_gram_at(k):
    """md5 hex of the k-token gram at 1-based index i (HOF closure)."""
    from pyspark.sql import functions as F

    def g(i):
        return F.md5(F.concat_ws(" ", F.slice("toks", i, k)))
    return g


def _win_min_at(w):
    """Minimum (lexicographic) of the w hashes starting at 1-based j."""
    from pyspark.sql import functions as F

    def g(j):
        return F.array_min(F.slice("hs", j, w))
    return g


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: train an add-1-smoothed unigram
    language model on a reference slice (doc_id < 50 stands in for the
    wiki-quality corpus) and score every document's per-token mean
    negative log-prob → perplexity; low-ppl ≈ looks like the reference
    distribution. The filter CCNet/RedPajama run before training-data
    selection (theirs is a 5-gram KenLM; the plumbing shape — fixed
    reference model joined against the full corpus — is identical).

    r5 adds DSIR-style importance weights (Xie et al., Data Selection
    via Importance Resampling — public): per document, the mean
    log-likelihood RATIO between a target unigram LM (the reference
    slice's English documents — standing in for the curated target
    distribution) and the source LM above; positive ratio = looks more
    like the target than the generic source, the resampling signal
    DSIR/DoReMi-style pipelines select on. Same bounded-model shape:
    one more left join against a fixed-size LM.

    Scale shape: both LMs are bounded by the REFERENCE corpus size
    (fixed, not corpus-proportional) so their join sides are
    legitimately small; the joins carry no hint — the planner
    broadcasts them while they fit. Unknown tokens hit the smoothing
    floor 1/(T+V) via left join + coalesce. Everything partial+final
    hash aggs; one explode."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens_expr()
    pairs = (docs.filter(F.length("text") > 0)
             .select("doc_id", "lang", F.explode(toks).alias("token")))
    ref = pairs.filter(F.col("doc_id") < 50)
    lm = ref.groupBy("token").agg(F.count("*").alias("c_src"))
    tgt = ref.filter(F.col("lang") == "en")
    lm_tgt = tgt.groupBy("token").agg(F.count("*").alias("c_tgt"))
    totals = ref.agg(F.count("*").alias("t"),
                     F.countDistinct("token").alias("v")).first()
    t, v = int(totals["t"]), int(totals["v"])
    tt = tgt.agg(F.count("*").alias("t"),
                 F.countDistinct("token").alias("v")).first()
    t2, v2 = int(tt["t"]), int(tt["v"])
    # add-1: p(tok) = (c+1)/(T+V); unseen -> 1/(T+V)
    logp = F.log((F.coalesce(F.col("c_src"), F.lit(0)) + 1.0)
                 / F.lit(float(t + v)))
    logp_tgt = F.log((F.coalesce(F.col("c_tgt"), F.lit(0)) + 1.0)
                     / F.lit(float(t2 + v2)))
    return (pairs.join(lm, "token", "left")
            .join(lm_tgt, "token", "left")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.round(F.exp(-F.avg(logp)), 4).alias("ppl"),
                 F.round(F.avg(logp_tgt - logp), 4)
                 .alias("dsir_logratio"),
                 (F.avg(logp_tgt - logp) > 0).alias("dsir_keep")))


def q_lm_perplexity_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: CCNet LM perplexity + DSIR importance signal + the
    CCNet head/middle/tail BUCKET (Wenzek et al. 2020, public): per
    LANGUAGE, documents are split at the perplexity terciles —
    head = cleanest third, the slice CCNet keeps by default. Cuts are
    exact interpolated percentiles over the 4-dp-rounded ppl (Spark
    `percentile` == DuckDB quantile_cont; same precedent as
    turn_length_quantiles), computed per language — a bounded-group
    agg. At 100 TB the identical cuts come from the bounded
    (lang, ppl-grid) histogram (ppl rides a 1e-4 grid by construction)
    or a sampled quantile, which is what CCNet itself ships; the
    bucket JOIN side is #languages × 2 floats — broadcast-small by
    nature, no hint needed."""
    from pyspark.sql import functions as F
    base = q_lm_perplexity(spark, sf_dir)
    lang = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "lang"))
    scored = base.join(lang, "doc_id")
    pct = F.expr("percentile(ppl, array(cast(1 as double)/3, "
                 "cast(2 as double)/3))")
    cuts = (scored.groupBy("lang")
            .agg(F.round(pct[0], 6).alias("c1"),
                 F.round(pct[1], 6).alias("c2")))
    bucket = (F.when(F.col("ppl") <= F.col("c1"), "head")
              .when(F.col("ppl") <= F.col("c2"), "middle")
              .otherwise("tail"))
    return (scored.join(cuts, "lang")
            .select("doc_id", "n_tokens", "ppl", "dsir_logratio",
                    "dsir_keep", "lang", bucket.alias("ccnet_bucket")))


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top terms — the keyword/topic-signal pass of a
    text-analysis pipeline. Shape: one explode to (doc, token) pairs →
    per-doc term counts (partial+final hash agg) → document frequencies
    from the SAME aggregated table (distinct docs per token is just a
    second agg over it — no re-scan) → shuffled equi-join on token (the
    vocabulary is corpus-sized: NOT broadcast) → per-doc top-3 by
    (tfidf desc, token asc) via a rank window partitioned by doc_id —
    WindowGroupLimit prunes to ≤3 rows per doc map-side before the final
    shuffle, so a mega-document costs nothing extra.

    Smoothed idf = ln((N+1)/(df+1)); tfidf = tf * idf with tf the raw
    in-doc count — deterministic and exactly reproducible in the SQL
    oracle. Rounded to 6 decimals for cross-engine float stability."""
    from pyspark.sql import Window, functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens_expr()
    pairs = (docs.filter(F.length("text") > 0)
             .select("doc_id", F.explode(toks).alias("token")))
    tf = pairs.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    # N via a count over the PRUNED n_chars metadata column (VERDICT r4
    # wrong #4: the old filter(length(text)>0).count() re-read the full
    # text blob — a second 100-TB pass; this pass reads 8 bytes/row with
    # the predicate pushed to the scan). n_chars == length(text) is the
    # documents-table contract (synth.py). Inlining the scalar as a
    # literal keeps the scored branch join-free: attaching a 1-row DF
    # lazily degenerates to BroadcastNestedLoopJoin after constant
    # folding, and a scalar subquery gets no exchange reuse — both
    # measured worse than this narrow count.
    n_docs = docs.filter(F.col("n_chars") > 0).select("n_chars").count()
    scored = (tf.join(df_, "token")
              .withColumn("tfidf",
                          F.round(F.col("tf")
                                  * F.log(F.lit(float(n_docs + 1))
                                          / (F.col("df") + 1)), 6)))
    w = (Window.partitionBy("doc_id")
         .orderBy(F.desc("tfidf"), F.asc("token")))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("doc_id", "rk", "token",
                    F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"), "tfidf"))


_BM25_QUERY = ("data", "join", "stream")   # fixed retrieval query terms
_BM25_K1, _BM25_B = 1.2, 0.75              # Robertson/Okapi defaults


def q_bm25_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scores for one fixed 3-term query over the document
    corpus — the retrieval scoring pass decontamination and RAG-style
    pipelines run (public: Robertson et al., TREC-3; idf in the
    Lucene-smoothed form ln((N-df+0.5)/(df+0.5)+1), k1=1.2 b=0.75).

    Scale shape: doc length is a NARROW map (size of the token split —
    no explode, no shuffle; dl == the exploded row count by
    construction); the query-term isin filter sits below the tf/df
    aggregations, so those shuffles carry only rows matching the 3
    query terms, never the whole vocabulary; avgdl and N are two
    bounded driver scalars inlined as literals (the documented
    seed-collect pattern — a real pipeline precomputes corpus stats
    once, exactly this shape). Per-term contributions are rounded to 6
    BEFORE the per-doc sum (CLAUDE.md float-parity rule), then the sum
    re-rounds. Returns (doc_id, bm25) for docs containing >=1 query
    term."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = _tokens_expr()
    base = docs.filter(F.length("text") > 0)
    dl = base.select("doc_id", F.size(toks).alias("dl"))
    n_docs = docs.filter(F.col("n_chars") > 0).select("n_chars").count()
    stats = dl.agg(F.sum("dl").alias("s"),
                   F.count("*").alias("c")).collect()[0]
    avgdl = float(stats["s"]) / float(stats["c"])
    qtf = (base.select("doc_id", F.explode(toks).alias("token"))
           .filter(F.col("token").isin(*_BM25_QUERY))
           .groupBy("doc_id", "token").agg(F.count("*").alias("tf")))
    df_ = qtf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log(((F.lit(float(n_docs)) - F.col("df") + 0.5)
                 / (F.col("df") + 0.5)) + 1.0)
    contrib = F.round(
        idf * (F.col("tf") * (_BM25_K1 + 1.0))
        / (F.col("tf") + _BM25_K1
           * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.lit(avgdl))), 6)
    return (qtf.join(df_, "token").join(dl, "doc_id")
            .select("doc_id", contrib.alias("c"))
            .groupBy("doc_id")
            .agg(F.round(F.sum("c"), 6).alias("bm25")))


def q_tfidf_topterms_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: per-doc TF-IDF top-3 terms + the doc's Okapi BM25
    score for the fixed retrieval query (q_bm25_query; 0.0 for docs
    containing none of the query terms)."""
    from pyspark.sql import functions as F
    return (q_tfidf_topterms(spark, sf_dir)
            .join(q_bm25_query(spark, sf_dir), "doc_id", "left")
            .withColumn("bm25", F.coalesce(F.col("bm25"), F.lit(0.0))))


def q_int8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized embedding kNN — the memory-bandwidth ANN variant: a
    100-TB store keeps embeddings scalar-quantized at 4× compression and
    scans int8 codes instead of float32. Per-dimension global [min, max]
    (one tiny agg; 64 floats collected driver-side and inlined as
    literals — same documented seed-collect pattern as q_knn_cosine),
    linear quantization to 0..255, then exact top-5 by the QUANTIZED dot
    product for 3 query vectors against the corpus. floor arithmetic is
    fully deterministic, so the SQL oracle reproduces it exactly.

    Plan: ONE corpus scan; quantize + all 3 dots JVM-side (zip_with /
    aggregate), posexplode of the 3-dot array, per-query top-5 via a
    rank window (WindowGroupLimit prunes to ≤5 per query map-side —
    the final shuffle carries 15 rows)."""
    from pyspark.sql import Window, functions as F
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    stats = (emb.select(F.posexplode("embedding").alias("dim", "v"))
             .groupBy("dim").agg(F.min("v").alias("lo"),
                                 F.max("v").alias("hi"))
             .orderBy("dim").collect())   # 64 rows: per-dim quant params
    los = [float(r["lo"]) for r in stats]
    rngs = [max(float(r["hi"]) - float(r["lo"]), 1e-30) for r in stats]

    def quant_py(vec):
        return [min(255, max(0, int((x - lo) / r * 255)))
                for x, lo, r in zip(vec, los, rngs)]

    lo_lit = F.array(*[F.lit(x) for x in los])
    rng_lit = F.array(*[F.lit(x) for x in rngs])
    q = F.zip_with(
        F.zip_with("embedding", lo_lit, lambda x, lo: x - lo),
        rng_lit,
        lambda d, r: F.least(F.lit(255), F.greatest(
            F.lit(0), F.floor(d / r * 255).cast("int"))))
    qd = emb.select("vec_id", q.alias("q"))
    qrows = {int(r["vec_id"]): quant_py([float(x) for x in r["embedding"]])
             for r in emb.filter(F.col("vec_id").isin(1, 2, 3)).collect()}
    qids = sorted(qrows)
    dots = F.array(*[
        F.aggregate(
            F.zip_with("q", F.array(*[F.lit(v) for v in qrows[i]]),
                       lambda a, b: (a * b).cast("long")),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        for i in qids])
    qid_lit = F.array(*[F.lit(i) for i in qids])
    scored = (qd.select("vec_id", F.posexplode(dots).alias("qi", "qdot"))
              .select(F.element_at(qid_lit, F.col("qi") + 1)
                      .cast("long").alias("query_id"),
                      "vec_id", "qdot")
              .filter(F.col("vec_id") != F.col("query_id")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("qdot"), F.asc("vec_id")))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("query_id", F.col("rk").cast("long").alias("rk"),
                    "vec_id", "qdot"))


def q_knn_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN composite (r8 registry consolidation, freeing the slot the
    corpus_prep DAG takes): the exact float32 cosine top-10 baseline
    (q_knn_cosine, query vec 0) and the int8-scalar-quantized top-5
    variant (q_int8_knn, queries 1-3) as one union with a method
    discriminator. Both constituents are unchanged and still
    individually exercised by tests and bench.py; rank is implied by
    (query_id, score DESC, vec_id) so the union needs no global window."""
    from pyspark.sql import functions as F
    exact = (q_knn_cosine(spark, sf_dir)
             .select(F.lit(0).cast("long").alias("query_id"),
                     F.col("vec_id").cast("long").alias("vec_id"),
                     F.col("cos_sim").cast("double").alias("score"),
                     F.lit("cosine").alias("method")))
    int8 = (q_int8_knn(spark, sf_dir)
            .select(F.col("query_id").cast("long").alias("query_id"),
                    F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("qdot").cast("double").alias("score"),
                    F.lit("int8").alias("method")))
    return exact.unionByName(int8)


def q_dedup_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper election — the step dedup exists for: every document is
    marked kept/dropped, keeping exactly one representative (the min
    doc_id = the component label) per near-dup cluster and every
    unclustered doc. Composes the whole near-dup path (MinHash/LSH →
    Jaccard verify → connected components) with one final PLAIN equi-join
    of the cluster labeling against the corpus.

    Scale shape (VERDICT r3 wrong #1): the labeling is
    corpus-proportional on real web data (30-50% of documents appear in
    some near-dup cluster), so it must NOT be force-broadcast — a
    shuffled hash join on the uniform doc_id key scales, and AQE still
    promotes to broadcast at runtime when the labeling is genuinely
    small. The plan gate asserts no static BroadcastHashJoin is forced
    here."""
    from pyspark.sql import functions as F
    from snacktory_spark.textops import (connected_components, jaccard_pairs,
                                         lsh_candidate_pairs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = (jaccard_pairs(docs, lsh_candidate_pairs(docs))
             .filter(F.col("jaccard") >= 0.5))
    comp = connected_components(pairs)
    # r5: expose the cluster label too (absorbs the neardup_components
    # registry entry — null component = unclustered doc)
    return (docs.select("doc_id")
            .join(comp, "doc_id", "left")
            .select("doc_id",
                    F.col("component").cast("long").alias("component"),
                    (F.col("component").isNull()
                     | (F.col("component") == F.col("doc_id")))
                    .alias("kept")))


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-60 document fingerprints (near-dup sketch): one md5 per
    distinct token, bit-votes folded in a single JVM-side aggregate
    (snacktory_spark.textops.simhash64)."""
    from pyspark.sql import functions as F
    from snacktory_spark.textops import simhash64
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs.filter(F.length("text") > 0)
            .select("doc_id", simhash64().alias("simhash")))


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization (ANN scale path): nearest of 4 fixed
    centroids (deterministic: embeddings of vec_id 1..4)."""
    from pyspark.sql import functions as F
    from snacktory_spark.textops import ivf_assign
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [r["embedding"] for r in
             emb.filter(F.col("vec_id").isin(1, 2, 3, 4))
                .orderBy("vec_id").collect()]
    return ivf_assign(emb, cents)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search END-TO-END (the scale path, not just the assign
    step): coarse-quantize every vector to its nearest centroid
    (narrow map), pick the query's nprobe=2 nearest cells driver-side
    (k x dim tiny), then exact cosine top-10 over ONLY the probed cells'
    candidates — at corpus scale this scans nprobe/k of the vectors
    instead of all of them. Centroids = embeddings of vec_id 1..4;
    query = vec_id 0 (deterministic)."""
    from pyspark.sql import functions as F
    from snacktory_spark.textops import ivf_assign
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seed = emb.filter(F.col("vec_id").isin(0, 1, 2, 3, 4)) \
        .orderBy("vec_id").collect()
    qvec = seed[0]["embedding"]
    cents = [r["embedding"] for r in seed[1:]]
    dists = sorted((sum((a - b) ** 2 for a, b in zip(qvec, c)), i)
                   for i, c in enumerate(cents))
    probe = [i for _, i in dists[:2]]
    cand = (ivf_assign(emb.filter(F.col("vec_id") != 0), cents)
            .filter(F.col("cell").isin(probe))
            .select("vec_id", "cell"))
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    dot = F.aggregate(F.zip_with(F.col("embedding"), qlit,
                                 lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm_a = F.sqrt(F.aggregate(F.col("embedding"), F.lit(0.0),
                                lambda acc, x: acc + x * x))
    norm_q = float(sum(float(x) * float(x) for x in qvec)) ** 0.5
    cos = dot / (norm_a * F.lit(norm_q))
    return (emb.join(cand, "vec_id")
            .select("vec_id", F.col("cell").cast("long").alias("cell"),
                    F.round(cos, 4).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(10))


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite corpus filter — the decision step the individual signals
    feed: join quality features (length/ratios) with repetition metrics
    and emit one keep/drop verdict per document. Two narrow signal
    pipelines meeting in one join + a boolean expression; the standard
    shape of a production filter cascade."""
    from pyspark.sql import functions as F
    q = q_doc_quality(spark, sf_dir)
    r = q_doc_repetition(spark, sf_dir)
    j = q.join(r, "doc_id", "left")
    keep = ((F.col("n_tokens") >= 30)
            & (F.col("stopword_ratio") >= 0.01)
            & (F.coalesce(F.col("top_gram_frac"), F.lit(0.0)) <= 0.08)
            & (F.coalesce(F.col("dup_gram_frac"), F.lit(0.0)) <= 0.85))
    return j.select("doc_id", keep.alias("keep"))


def q_conv_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation flattening (training-data op): per conv_id, concatenate
    turn texts in stable turn order into one document.

    Skew-bounded two-level reduce (VERDICT r1: a one-level grouped-map
    serializes a mega-conversation's full text on one worker): level 1
    flattens fixed-size chunks of ≤64 turns per (conv_id, chunk) group —
    any conversation spreads over ceil(len/64) parallel groups — and level
    2 concatenates the few pre-reduced chunk strings per conv_id. The
    worst per-group payload at level 1 is bounded by construction; level 2
    handles ~len/64 small rows per conversation. Grouped-map applyInPandas
    (Arrow-batched custom per-group logic) at both levels."""
    import pandas as pd
    from pyspark.sql import functions as F
    from snacktory_spark.pipeline.extract_job import ensure_py_files

    ensure_py_files(spark)
    sdir = _synth(sf_dir)
    df = spark.read.parquet(f"{sdir}/transcripts.parquet")
    CHUNK = 64

    def flatten_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        return pd.DataFrame({
            "conv_id": [pdf["conv_id"].iloc[0]],
            "chunk": [int(pdf["chunk"].iloc[0])],
            "n_turns": [len(pdf)],
            "part": ["\n".join(f"[{r}] {t or ''}" for r, t in
                               zip(pdf["role"], pdf["text"]))],
        })

    def merge_chunks(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk")
        return pd.DataFrame({
            "conv_id": [pdf["conv_id"].iloc[0]],
            "n_turns": [int(pdf["n_turns"].sum())],
            "doc": ["\n".join(pdf["part"])],
        })

    chunked = (df.select("conv_id", "turn_idx", "role", "text",
                         (F.col("turn_idx") / F.lit(CHUNK)).cast("int").alias("chunk"))
               .groupBy("conv_id", "chunk")
               .applyInPandas(flatten_chunk,
                              "conv_id string, chunk int, n_turns long, part string"))
    out = (chunked.groupBy("conv_id")
           .applyInPandas(merge_chunks, "conv_id string, n_turns long, doc string"))
    return out.select("conv_id", "n_turns",
                      F.md5("doc").alias("doc_md5"),
                      F.length("doc").alias("doc_chars"))


_BPE_RE = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
_ROLL_MOD = 2147483647


def q_embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH over the embedding column (ANN scale path:
    bucket-join instead of all-pairs). Hyperplanes = embeddings of vec_id
    10..17 (deterministic); signature bit b = sign(v · plane_b)."""
    from pyspark.sql import functions as F
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planes = [r["embedding"] for r in
              emb.filter(F.col("vec_id").between(10, 17)).orderBy("vec_id").collect()]
    sig = F.lit(0)
    for b, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(F.zip_with(F.col("embedding"), arr, lambda a, p: a * p),
                          F.lit(0.0), lambda acc, x: acc + x)
        sig = sig + F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0))
    return emb.select("vec_id", sig.alias("lsh_bucket"))


def q_doc_bpe_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization + rolling polynomial hash fingerprint
    (training-data ops: token counting + document fingerprinting), all
    JVM-side expressions."""
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
    tok_hash = lambda x: (F.conv(F.substring(F.md5(x), 1, 7), 16, 10)  # noqa: E731
                          .cast("long") % F.lit(1000000007))
    rolling = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + tok_hash(x)) % F.lit(_ROLL_MOD))
    return (docs.filter(F.length("text") > 0)
            .select("doc_id",
                    F.size(toks).alias("n_bpe_tokens"),
                    rolling.alias("rolling_hash")))


# --- merged registry entries (r5, VERDICT #2) -------------------------------
# The driver records CORRECTNESS rows for the first 50 queries() entries;
# r4 registered 58 so the last 8 shipped with no driver row. Rather than
# dropping coverage, closely-related operators are REGISTERED as joined
# composites: every constituent's full output survives as columns of the
# composite (so the oracle still value-checks each operator), and the
# constituent query functions are unchanged — tests, scripts and other
# queries still call them directly. Mapping (composite <- constituents):
#   doc_fingerprint  <- doc_fingerprint + doc_bpe_fingerprint
#   doc_token_stats  <- doc_token_stats + doc_repetition
#   doc_quality      <- doc_quality + doc_langid
#   image_roundtrip  <- image_roundtrip(PNG) + jpeg_roundtrip + gif_roundtrip
#   mpeg_audio       <- mpeg_scan + mpeg_roundtrip
#   ann_partitions   <- ivf_assign + embedding_lsh_buckets
#   dedup_keeper     <- dedup_keeper + neardup_components (component col)


def q_doc_fingerprint_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: normalized md5 fingerprint + BPE-ish token count and
    rolling polynomial hash, one row per non-empty document."""
    return q_doc_fingerprint(spark, sf_dir).join(
        q_doc_bpe_fingerprint(spark, sf_dir), "doc_id")


def q_doc_token_stats_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: token/stopword stats + Gopher repetition metrics
    (dup-2-gram and top-2-gram fractions; null for <2-token docs) +
    cross-document duplicate-gram coverage (n_cross_dup /
    cross_dup_frac — the ACROSS-doc overlap signal, q_doc_cross_dup) +
    ExactSubstr duplicate-span extraction (n_dup_spans /
    dup_span_tokens / dup_span_frac / dup_spans, q_doc_exact_substr —
    the REMOVAL-span output a dedup cut pass consumes)."""
    return (q_doc_token_stats(spark, sf_dir)
            .join(q_doc_repetition(spark, sf_dir), "doc_id", "left")
            .join(q_doc_cross_dup(spark, sf_dir), "doc_id")
            .join(q_doc_exact_substr(spark, sf_dir), "doc_id"))


def q_doc_quality_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: quality features (length/letter/punct/stopword ratios)
    + n-gram-heuristic language ID votes + C4 line-level filters
    (q_doc_c4_lines) per document."""
    return (q_doc_quality(spark, sf_dir)
            .join(q_doc_langid(spark, sf_dir), "doc_id")
            .join(q_doc_c4_lines(spark, sf_dir), "doc_id"))


def q_image_roundtrip_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: PNG (lossless exact), baseline JPEG (lossy, dims exact
    + pixel tolerance) and GIF (palette lossless exact) encode→decode
    round-trips per document — all three REAL codecs."""
    from pyspark.sql import functions as F
    png = q_image_roundtrip(spark, sf_dir).select(
        "doc_id", F.col("width").alias("png_w"),
        F.col("height").alias("png_h"),
        F.col("pixels_match").alias("png_ok"))
    jpg = q_jpeg_roundtrip(spark, sf_dir).select(
        "doc_id", F.col("width").alias("jpg_w"),
        F.col("height").alias("jpg_h"),
        F.col("jpeg_ok").alias("jpg_ok"))
    gif = q_gif_roundtrip(spark, sf_dir).select(
        "doc_id", F.col("width").alias("gif_w"),
        F.col("height").alias("gif_h"),
        F.col("pixels_match").alias("gif_ok"))
    return png.join(jpg, "doc_id").join(gif, "doc_id")


def q_mpeg_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: the no-decode MPEG frame-header scan (metadata tier)
    + the Layer I/II encode→decode round-trip (self-consistent codec
    tier, see mpeg.py's honesty contract) per document."""
    from pyspark.sql import functions as F
    scan = q_mpeg_scan(spark, sf_dir).select(
        "doc_id", F.col("n_frames").alias("scan_frames"),
        "bitrate_kbps", F.col("duration_ms").alias("scan_duration_ms"))
    return scan.join(q_mpeg_roundtrip(spark, sf_dir), "doc_id")


def _pq_trained(spark: SparkSession, sf_dir: str):
    """PQ state for q_ann_partitions: TRAIN per-subspace codebooks
    (k-means per subspace from the 4 fixed seed vectors, 1 Lloyd
    iteration — VERDICT r5 #3: real IVF-PQ trains its codebooks, the
    seed slices were only a layout demo), then assign codes in one
    narrow map. Returns
    (codes_df with per-subspace code_<j> columns + packed pq_code,
    books, query vector, coarse centroids) — books/query/centroids are
    bounded driver-side. The codes projection also carries the IVF
    coarse cell (same narrow map — the cell+codes index row layout a
    probed ADC search prunes on; the coarse centroids ARE the seed
    vectors, the same cells q_ivf_assign emits)."""
    from pyspark.sql import functions as F
    from snacktory_spark.textops import pq_codes, pq_train
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = {r["vec_id"]: list(r["embedding"]) for r in
            emb.filter(F.col("vec_id").isin(0, 1, 2, 3, 4)).collect()}
    seeds = [rows[i] for i in (1, 2, 3, 4)]
    books = pq_train(emb, seeds, n_sub=4, sub_dim=16, n_iter=1)
    codes = pq_codes(emb, books, sub_dim=16,
                     cell_centroids=seeds)
    return codes, books, rows[0], seeds


def q_ann_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: IVF coarse-quantization cell + random-hyperplane LSH
    bucket + TRAINED product-quantization code per vector, plus the
    IVF-PROBED ADC-search result (adc_dist2 set on the top-10 vectors
    for the fixed query among the nprobe=2 probed cells, null
    elsewhere — left join of the bounded top-k). The search path is the
    one a billion-vector store ships (VERDICT r6 #2): driver-side
    probe-cell selection over the bounded coarse centroids
    (textops.ivf_probe_cells), an isin filter on the cell column of the
    cell+codes index projection (prunes whole partitions on a
    cell-partitioned corpus), ADC rerank over only the probed cells.
    Plus the SemDeDup verdict (semdedup_keep: lowest-id survivor per
    in-cluster cosine epsilon-ball, textops.semdedup_flags) over its
    OWN TRAINED clustering (VERDICT r6 #3: the paper's scalability IS
    the k knob): k=8 centroids from kmeans_fit (1 Lloyd iteration, the
    k-scaling rule is k ~ corpus/target-cluster-size so in-cluster
    O(cluster²) work stays bounded) with the max_cluster=48 mega-
    cluster guard live — several trained cells exceed 48 at sf0.01, so
    the id-rank split path is exercised and oracled, not just coded.
    Everything is equi-joins and narrow maps; together they form the
    IVF-PQ layout + probed query + dedup passes a billion-vector store
    ships."""
    from pyspark.sql import functions as F

    from snacktory_spark.textops import (ivf_probe_cells, kmeans_fit,
                                         pq_adc_topk, semdedup_flags)
    codes, books, qvec, cents = _pq_trained(spark, sf_dir)
    probe = ivf_probe_cells(qvec, cents, nprobe=2)
    adc = pq_adc_topk(codes, books, qvec, k_top=10, probe_cells=probe)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sem_seeds = [r["embedding"] for r in
                 emb.filter(F.col("vec_id").between(1, 8))
                    .orderBy("vec_id").collect()]
    _, sem_cents = kmeans_fit(emb, sem_seeds, n_iter=1)
    sem = semdedup_flags(emb, sem_cents, threshold=0.45,
                         max_cluster=48) \
        .select("vec_id", "semdedup_keep")
    return (q_ivf_assign(spark, sf_dir)
            .join(q_embedding_lsh_buckets(spark, sf_dir), "vec_id")
            .join(codes.select("vec_id", "pq_code"), "vec_id")
            .join(adc, "vec_id", "left")
            .join(sem, "vec_id"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # exactly 50 entries — the driver's CORRECTNESS window (r5
        # VERDICT #2); composites carry the remaining operators' outputs
        "extract_turns": q_extract_turns,
        "extract_turns_dedup": q_extract_turns_dedup,
        "golden_equality": q_golden_equality,
        "turn_ordering": q_turn_ordering,
        "conv_stats": q_conv_stats,
        "html_gate": q_html_gate,
        "pricing_summary": q_pricing_summary,
        "nation_orders": q_nation_orders,
        "customers_without_orders": q_customers_without_orders,
        "top_orders_per_segment": q_top_orders_per_segment,
        "event_sessions": q_event_sessions,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_fingerprint": q_doc_fingerprint_full,
        "doc_token_stats": q_doc_token_stats_full,
        "doc_lang_profile": q_doc_lang_profile,
        # r8: exact-cosine + int8 variants consolidated into one union
        # composite (constituent fns unchanged) to free the slot the
        # corpus_prep DAG takes — the registry stays at exactly 50
        "knn_cosine": q_knn_composite,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "doc_quality": q_doc_quality_full,
        "embedding_neardup": q_embedding_neardup,
        "doc_simhash": q_doc_simhash,
        "kmeans_2iter": q_kmeans_2iter,
        "train_split": q_train_split,
        "decontaminate": q_decontaminate,
        "token_pack": q_token_pack,
        "dedup_keeper": q_dedup_keeper,
        "source_quota": q_source_quota,
        "vocab_topk": q_vocab_topk,
        "ivf_topk": q_ivf_topk,
        "quality_gate": q_quality_gate,
        "seq_pack": q_seq_pack,
        "embedding_centroids": q_embedding_centroids,
        "pii_redact": q_pii_redact,
        "stratified_sample": q_stratified_sample,
        "chunk_dedup": q_chunk_dedup,
        "pdf_roundtrip": q_pdf_roundtrip,
        "turn_length_quantiles": q_turn_length_quantiles,
        "role_lang_rollup": q_role_lang_rollup,
        "streaming_conv_stats": q_streaming_conv_stats,
        "image_roundtrip": q_image_roundtrip_all,
        "mpeg_audio": q_mpeg_audio,
        "tfidf_topterms": q_tfidf_topterms_full,
        "winnow_fingerprint": q_winnow_fingerprint,
        "lm_perplexity": q_lm_perplexity_full,
        "media_container_scan": q_media_container_scan,
        "warc_roundtrip": q_warc_roundtrip,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "av_features": q_av_features,
        "conv_flatten": q_conv_flatten,
        "ann_partitions": q_ann_partitions,
        "corpus_prep": q_corpus_prep,
    }


_EXTRACT_ORACLE = """
    SELECT conv_id, turn_idx, title, text, author_name,
           raw_author_name, author_description, date_str,
           language, description, canonical_url, domain,
           top_private_domain, image_url, favicon_url, video_url,
           rss_url, type, sitename, keywords_str, images_str,
           links_str, extract_ok
    FROM {ee}
"""


def oracle_sql() -> dict[str, str]:
    tr = f"read_parquet('{SF01_DIR}/transcripts.parquet')"
    ee = f"read_parquet('{SF01_DIR}/expected_extraction.parquet')"
    ex = f"read_parquet('{SF01_DIR}/expected.parquet')"
    return {
        # distributed extraction == deterministic single-node extraction,
        # over EVERY JResult field (list fields pre-serialized at synth time)
        "extract_turns": _EXTRACT_ORACLE.format(ee=ee),
        # the dedup-extract path must produce the identical per-turn output
        "extract_turns_dedup": _EXTRACT_ORACLE.format(ee=ee),
        "golden_equality": f"""
            SELECT e.conv_id, e.turn_idx,
                   CASE WHEN x.exp_title IS NULL THEN true
                        ELSE e.title = x.exp_title END AS title_ok,
                   CASE WHEN x.exp_text_start IS NULL THEN true
                        ELSE starts_with(e.text, x.exp_text_start) END AS text_start_ok,
                   CASE WHEN x.exp_text_end IS NULL THEN true
                        ELSE ends_with(e.text, x.exp_text_end) END AS text_end_ok,
                   CASE WHEN x.exp_text_contains IS NULL THEN true
                        ELSE contains(e.text, x.exp_text_contains) END AS text_contains_ok,
                   CASE WHEN x.exp_text_full IS NULL THEN true
                        ELSE e.text = x.exp_text_full END AS text_full_ok,
                   CASE WHEN x.exp_author IS NULL THEN true
                        ELSE e.author_name = x.exp_author END AS author_ok,
                   CASE WHEN x.exp_date IS NULL THEN true
                        ELSE e.date_str = x.exp_date END AS date_ok
            FROM {ee} e JOIN {ex} x USING (conv_id, turn_idx)
        """,
        "turn_ordering": f"""
            SELECT conv_id, turn_idx,
                   row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn,
                   lag(role, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
            FROM {tr}
        """,
        "conv_stats": f"""
            WITH t AS (
                SELECT conv_id, turn_idx, role, text,
                       lag(role) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx) AS prev_role
                FROM {tr})
            SELECT conv_id, count(*) AS n_turns,
                   sum(length(text))::BIGINT AS total_chars,
                   max(turn_idx) AS max_turn_idx,
                   count(CASE WHEN role = 'tool' THEN 1 END) AS tool_turns,
                   min_by(role, turn_idx) AS first_role,
                   max_by(role, turn_idx) AS last_role,
                   count(CASE WHEN role = prev_role THEN 1
                         END)::BIGINT AS n_role_repeats
            FROM t GROUP BY conv_id
        """,
        "html_gate": f"""
            SELECT role, regexp_matches(text, '<[a-zA-Z!]') AS is_htmlish,
                   count(*) AS n
            FROM {tr} GROUP BY role, is_htmlish
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "nation_orders": """
            SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "top_orders_per_segment": """
            SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
                SELECT c_mktsegment, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY c_mktsegment
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                FROM orders JOIN customer ON o_custkey = c_custkey) t
            WHERE rk <= 3
        """,
        "event_sessions": """
            WITH flagged AS (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sessioned AS (
                SELECT user_id, value,
                       (sum(new_session) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id
                                               ROWS UNBOUNDED PRECEDING))::BIGINT
                           AS session_no
                FROM flagged)
            SELECT user_id, session_no, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM sessioned GROUP BY user_id, session_no
        """,
        "doc_exact_dedup": """
            SELECT md5(text) AS content_hash, count(*) AS n_copies,
                   min(doc_id) AS keeper_doc_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "doc_fingerprint": r"""
            WITH f AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(text), '\s+', ' ', 'g'))
                           AS fingerprint
                FROM documents),
            b AS (
                SELECT doc_id,
                       len(toks) AS n_bpe_tokens,
                       list_reduce(
                           list_prepend(0::BIGINT,
                               list_transform(toks,
                                   x -> ('0x' || substr(md5(x), 1, 7))::BIGINT
                                        % 1000000007)),
                           (acc, x) -> (acc * 31 + x) % 2147483647)
                           AS rolling_hash
                FROM (SELECT doc_id,
                             regexp_extract_all(text,
                                 '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')
                                 AS toks
                      FROM documents WHERE length(text) > 0))
            SELECT f.doc_id, f.fingerprint, b.n_bpe_tokens, b.rolling_hash
            FROM f JOIN b USING (doc_id)
        """,
        "doc_token_stats": rf"""
            WITH s AS (
                SELECT doc_id, lang,
                       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                       len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       x -> x in {_EN_STOPWORDS})) AS n_stopwords,
                       round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                             x -> x in {_EN_STOPWORDS}))
                             / len(regexp_split_to_array(trim(text), '\s+')), 4)
                           AS stopword_ratio
                FROM documents WHERE length(text) > 0),
            toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\s+') AS t
                FROM documents),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(t)),
                           i -> array_to_string(list_slice(t, i, i + 1),
                                                ' '))) AS gram
                FROM toks WHERE len(t) >= 2),
            counts AS (
                SELECT doc_id, gram, count(*) AS c
                FROM grams GROUP BY doc_id, gram),
            rep AS (
                SELECT doc_id, sum(c)::BIGINT AS n_grams,
                       round(1.0 - count(*) / sum(c), 4) AS dup_gram_frac,
                       round(max(c) / sum(c), 4) AS top_gram_frac
                FROM counts GROUP BY doc_id),
            g5 AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(
                           range(1, len(t) - 3),
                           i -> array_to_string(list_slice(t, i, i + 4),
                                                ' '))) AS gram
                FROM toks WHERE len(t) >= 5),
            gdf AS (
                SELECT gram, count(*) AS df FROM g5 GROUP BY gram),
            xd AS (
                SELECT g5.doc_id,
                       count(*)::BIGINT AS n_distinct_grams,
                       sum(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0
                           END)::BIGINT AS n_cross_dup
                FROM g5 JOIN gdf USING (gram) GROUP BY g5.doc_id),
            p5 AS (
                SELECT doc_id,
                       unnest(range(0, len(t) - 4)) AS pos,
                       unnest(list_transform(range(0, len(t) - 4),
                              i -> array_to_string(t[i + 1 : i + 5],
                                                   ' '))) AS gram
                FROM toks WHERE len(t) >= 5 AND length(t[1]) > 0),
            occ AS (SELECT gram, count(*) AS occ FROM p5 GROUP BY gram),
            dp AS (SELECT doc_id, pos FROM p5 JOIN occ USING (gram)
                   WHERE occ >= 2),
            fl AS (SELECT doc_id, pos,
                          CASE WHEN pos - lag(pos) OVER (
                                   PARTITION BY doc_id ORDER BY pos) <= 5
                               THEN 0 ELSE 1 END AS new_span
                   FROM dp),
            isl AS (SELECT doc_id, pos,
                           sum(new_span) OVER (
                               PARTITION BY doc_id ORDER BY pos
                               ROWS UNBOUNDED PRECEDING) AS island
                    FROM fl),
            sp AS (SELECT doc_id, island, min(pos) AS ss,
                          max(pos) + 4 AS ee
                   FROM isl GROUP BY doc_id, island),
            es AS (SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
                          sum(ee - ss + 1)::BIGINT AS dup_span_tokens,
                          string_agg(ss || '-' || ee, ';' ORDER BY ss)
                              AS dup_spans,
                          list({{'s': ss, 'e': ee}} ORDER BY ss) AS spans
                   FROM sp GROUP BY doc_id)
            SELECT s.doc_id, s.lang, s.n_tokens, s.n_stopwords,
                   s.stopword_ratio, rep.n_grams, rep.dup_gram_frac,
                   rep.top_gram_frac,
                   coalesce(xd.n_distinct_grams, 0)::BIGINT
                       AS n_distinct_grams,
                   coalesce(xd.n_cross_dup, 0)::BIGINT AS n_cross_dup,
                   CASE WHEN coalesce(xd.n_distinct_grams, 0) > 0
                        THEN round(xd.n_cross_dup
                                   / xd.n_distinct_grams, 4)
                   END AS cross_dup_frac,
                   coalesce(es.n_dup_spans, 0)::BIGINT AS n_dup_spans,
                   coalesce(es.dup_span_tokens, 0)::BIGINT
                       AS dup_span_tokens,
                   round(coalesce(es.dup_span_tokens, 0)
                         / s.n_tokens, 4) AS dup_span_frac,
                   coalesce(es.dup_spans, '') AS dup_spans,
                   coalesce(array_to_string(
                       list_transform(
                           list_filter(range(0, len(toks.t)),
                               p -> len(list_filter(
                                        CASE WHEN es.spans IS NULL THEN []
                                             ELSE es.spans END,
                                        sp -> p >= sp.s AND p <= sp.e)) = 0),
                           p -> toks.t[p + 1]),
                       ' '), '') AS cut_text
            FROM s LEFT JOIN rep USING (doc_id)
            LEFT JOIN xd USING (doc_id)
            LEFT JOIN es USING (doc_id)
            JOIN toks USING (doc_id)
        """,
        "doc_lang_profile": """
            WITH g AS (
                SELECT lang, count(*) AS n_docs,
                       sum(n_chars)::BIGINT AS sum_chars,
                       round(avg(n_chars), 4) AS avg_chars
                FROM documents GROUP BY lang),
            t AS (SELECT sum(n_docs)::DOUBLE AS n FROM g),
            w AS (SELECT lang, n_docs / t.n AS p,
                         pow(n_docs / t.n, 0.3) AS pw
                  FROM g, t),
            z AS (SELECT sum(pw) AS s FROM w)
            SELECT g.lang, g.n_docs, g.sum_chars, g.avg_chars,
                   round(w.p, 6) AS p_lang,
                   round(w.pw / z.s, 6) AS sample_weight
            FROM g JOIN w USING (lang), z
        """,
        "minhash_lsh_pairs": _MINHASH_SQL,
        "train_split": """
            SELECT doc_id, lang,
                   CASE WHEN h < 80 THEN 'train'
                        WHEN h < 90 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT doc_id, lang,
                         ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT
                             % 100 AS h
                  FROM documents)
        """,
        "decontaminate": r"""
            WITH bench AS (
                SELECT list(DISTINCT array_to_string(list_slice(
                           regexp_split_to_array(trim(lower(text)), '\s+'),
                           1, 8), ' ')) AS grams
                FROM documents WHERE doc_id IN (1, 2, 3)),
            t AS (SELECT doc_id,
                         list_transform(
                             range(1, greatest(len(toks) - 6, 1)),
                             i -> array_to_string(
                                      list_slice(toks, i, i + 7), ' '))
                             AS doc_grams
                  FROM (SELECT doc_id,
                               regexp_split_to_array(trim(lower(text)),
                                                     '\s+') AS toks
                        FROM documents))
            SELECT t.doc_id,
                   coalesce(list_has_any(t.doc_grams, b.grams), false)
                       AS contaminated
            FROM t CROSS JOIN bench b
        """,
        "pii_redact": r"""
            WITH seeded AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id::VARCHAR ||
                       '@example.com or +1-555-' ||
                       lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
                       ' ip 10.' || (doc_id % 256)::VARCHAR || '.0.1' AS s
                FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(s,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT
                       AS n_emails,
                   len(regexp_extract_all(s, '\+1-555-\d{4}'))::BIGINT
                       AS n_phones,
                   len(regexp_extract_all(s,
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT
                       AS n_ips,
                   length(regexp_replace(regexp_replace(regexp_replace(s,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\+1-555-\d{4}', '<PHONE>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>',
                       'g'))::BIGINT AS redacted_len,
                   right(regexp_replace(regexp_replace(regexp_replace(s,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\+1-555-\d{4}', '<PHONE>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>',
                       'g'), 34) AS redacted_tail
            FROM seeded
        """,
        "stratified_sample": """
            SELECT doc_id, lang,
                   ('0x' || substring(md5('strat:' || doc_id::VARCHAR),
                                      1, 4))::BIGINT % 1000 AS bucket
            FROM documents
            WHERE ('0x' || substring(md5('strat:' || doc_id::VARCHAR),
                                     1, 4))::BIGINT % 1000
                  < CASE WHEN lang = 'en' THEN 500 ELSE 200 END
        """,
        "chunk_dedup": r"""
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\s+') AS t
                FROM documents WHERE length(text) > 0),
            chunked AS (
                SELECT doc_id,
                       list_transform(range(0, (len(t) + 2) // 3),
                           i -> array_to_string(
                                    list_slice(t, i * 3 + 1, i * 3 + 3),
                                    ' ')) AS ch
                FROM toks),
            chunks AS (
                SELECT doc_id, unnest(range(len(ch))) AS pos,
                       unnest(ch) AS chunk
                FROM chunked),
            keep AS (
                SELECT doc_id, pos, chunk,
                       row_number() OVER (PARTITION BY chunk
                                          ORDER BY doc_id, pos) AS rn
                FROM chunks),
            agg AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(chunk, ' ' ORDER BY pos) AS dedup_text
                FROM keep WHERE rn = 1 GROUP BY doc_id)
            SELECT t.doc_id, coalesce(a.n_kept, 0)::BIGINT AS n_kept,
                   coalesce(a.dedup_text, '') AS dedup_text
            FROM toks t LEFT JOIN agg a USING (doc_id)
        """,
        "token_pack": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                   (coalesce(sum(len(regexp_split_to_array(trim(text), '\s+')))
                             OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) // 2000)::BIGINT
                       AS shard
            FROM documents WHERE length(text) > 0
        """,
        # unrolled 2-iteration Lloyd's: assign -> rounded mean -> assign ->
        # rounded mean -> final assign, identical tie-breaking (lowest cell)
        "kmeans_2iter": """
            WITH c0 AS (SELECT vec_id - 1 AS cell, embedding AS ce
                        FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
            a1 AS (SELECT vec_id, embedding, cell FROM (
                     SELECT e.vec_id, e.embedding, c.cell,
                            row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(e.embedding, c.ce) ASC,
                                         c.cell ASC) AS rn
                     FROM embeddings e, c0 c) WHERE rn = 1),
            m1 AS (SELECT cell, p, round(avg(embedding[p + 1]), 6) AS m
                   FROM a1, range(64) t(p) GROUP BY cell, p),
            c1m AS (SELECT cell, list(m ORDER BY p) AS ce FROM m1 GROUP BY cell),
            c1 AS (SELECT c0.cell, coalesce(c1m.ce, c0.ce) AS ce
                   FROM c0 LEFT JOIN c1m ON c0.cell = c1m.cell),
            a2 AS (SELECT vec_id, embedding, cell FROM (
                     SELECT e.vec_id, e.embedding, c.cell,
                            row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_distance(e.embedding, c.ce) ASC,
                                         c.cell ASC) AS rn
                     FROM embeddings e, c1 c) WHERE rn = 1),
            m2 AS (SELECT cell, p, round(avg(embedding[p + 1]), 6) AS m
                   FROM a2, range(64) t(p) GROUP BY cell, p),
            c2m AS (SELECT cell, list(m ORDER BY p) AS ce FROM m2 GROUP BY cell),
            c2 AS (SELECT c1.cell, coalesce(c2m.ce, c1.ce) AS ce
                   FROM c1 LEFT JOIN c2m ON c1.cell = c2m.cell)
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY list_distance(e.embedding, c.ce) ASC,
                                    c.cell ASC) AS rn
                FROM embeddings e, c2 c) WHERE rn = 1
        """,
        "embedding_centroids": """
            WITH e AS (
                SELECT vec_id % 8 AS grp,
                       unnest(embedding) AS v,
                       unnest(range(len(embedding))) AS dim
                FROM embeddings),
            g AS (
                SELECT grp, dim, avg(v) AS mean_v, count(*) AS n
                FROM e GROUP BY grp, dim),
            norm AS (
                SELECT grp, sqrt(sum(mean_v * mean_v)) AS l2
                FROM g GROUP BY grp)
            SELECT g.grp::BIGINT AS grp, g.dim::BIGINT AS dim,
                   round(g.mean_v / norm.l2, 6) AS unit_v,
                   g.n::BIGINT AS n
            FROM g JOIN norm USING (grp)
        """,
        "seq_pack": r"""
            WITH t AS (
                SELECT source, doc_id,
                       regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                FROM documents WHERE length(text) > 0),
            tok AS (
                SELECT source, doc_id,
                       unnest(toks) AS tok,
                       unnest(range(len(toks))) AS i
                FROM t),
            pos AS (
                SELECT source, tok,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY doc_id, i) - 1 AS gpos
                FROM tok)
            SELECT source, (gpos // 128)::BIGINT AS seq_idx,
                   count(*) AS n_tokens,
                   min_by(tok, gpos) AS first_tok,
                   max_by(tok, gpos) AS last_tok
            FROM pos GROUP BY source, seq_idx
        """,
        "ivf_topk": """
            WITH cents AS (SELECT vec_id - 1 AS cell, embedding AS ce
                           FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
            q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            assign AS (
                SELECT vec_id, embedding, cell FROM (
                    SELECT e.vec_id, e.embedding, c.cell,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_dot_product(e.embedding, e.embedding)
                                        - 2 * list_dot_product(e.embedding, c.ce)
                                        + list_dot_product(c.ce, c.ce),
                                        c.cell) AS rn
                    FROM embeddings e CROSS JOIN cents c
                    WHERE e.vec_id <> 0)
                WHERE rn = 1),
            probe AS (
                SELECT c.cell FROM cents c CROSS JOIN q
                ORDER BY list_dot_product(c.ce, c.ce)
                         - 2 * list_dot_product(c.ce, qe)
                         + list_dot_product(qe, qe),
                         c.cell
                LIMIT 2)
            SELECT a.vec_id, a.cell::BIGINT AS cell,
                   round(list_dot_product(a.embedding, qe)
                         / (sqrt(list_dot_product(a.embedding, a.embedding))
                            * sqrt(list_dot_product(qe, qe))), 4) AS cos_sim
            FROM assign a CROSS JOIN q
            WHERE a.cell IN (SELECT cell FROM probe)
            ORDER BY cos_sim DESC, a.vec_id ASC
            LIMIT 10
        """,
        "quality_gate": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
                       text
                FROM documents WHERE length(text) > 0),
            q AS (
                SELECT doc_id, len(toks) AS n_tokens,
                       round(len(list_filter(toks,
                           x -> x in ('the','of','and','to','a','in','is',
                                      'it','that','for')))::DOUBLE
                             / len(toks), 4) AS stopword_ratio
                FROM t),
            grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                           i -> array_to_string(list_slice(toks, i, i + 1),
                                                ' '))) AS gram
                FROM t WHERE len(toks) >= 2),
            counts AS (SELECT doc_id, gram, count(*) AS c
                       FROM grams GROUP BY doc_id, gram),
            rep AS (
                SELECT doc_id,
                       round(1.0 - count(*) / sum(c), 4) AS dup_gram_frac,
                       round(max(c) / sum(c), 4) AS top_gram_frac
                FROM counts GROUP BY doc_id)
            SELECT q.doc_id,
                   (q.n_tokens >= 30 AND q.stopword_ratio >= 0.01
                    AND coalesce(r.top_gram_frac, 0) <= 0.08
                    AND coalesce(r.dup_gram_frac, 0) <= 0.85) AS keep
            FROM q LEFT JOIN rep r USING (doc_id)
        """,
        "source_quota": """
            SELECT doc_id, source, rk::BIGINT AS rk FROM (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY md5('quota:' || doc_id::VARCHAR),
                                    doc_id) AS rk
                FROM documents)
            WHERE rk <= 40
        """,
        "vocab_topk": r"""
            SELECT token, count(*)::BIGINT AS n
            FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)),
                                                      '\s+')) AS token
                  FROM documents WHERE length(text) > 0)
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 20
        """,
        "dedup_keeper": f"""
            WITH RECURSIVE mpairs AS ({_MINHASH_SQL}),
            fpairs AS (SELECT doc_a, doc_b FROM mpairs WHERE jaccard >= 0.5),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM fpairs
                      UNION SELECT doc_b, doc_a FROM fpairs),
            reach(id, label) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.id
            ),
            comp AS (SELECT id AS doc_id, min(label) AS component
                     FROM reach GROUP BY id)
            SELECT d.doc_id, c.component::BIGINT AS component,
                   (c.component IS NULL OR c.component = d.doc_id) AS kept
            FROM documents d LEFT JOIN comp c USING (doc_id)
        """,
        # PNG/GIF are lossless (exact by construction); JPEG dims exact
        # + pixels within codec tolerance folded into jpg_ok. All dims
        # are doc_id-derived closed forms.
        "image_roundtrip": """
            SELECT doc_id,
                   8::INT AS png_w, 8::INT AS png_h, true AS png_ok,
                   (8 + (doc_id % 3) * 4)::INT AS jpg_w,
                   (8 + (doc_id % 2) * 8)::INT AS jpg_h, true AS jpg_ok,
                   (8 + (doc_id % 4) * 4)::INT AS gif_w,
                   (6 + (doc_id % 3) * 5)::INT AS gif_h, true AS gif_ok
            FROM documents
        """,
        # JSONL write->read is the identity, so the oracle aggregates
        # the parquet directly
        "jsonl_roundtrip": """
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars,
                   min(doc_id)::BIGINT AS min_doc,
                   max(doc_id)::BIGINT AS max_doc
            FROM documents GROUP BY source
        """,
        # WARC round-trip is exact by construction: warcinfo + 1
        # response, HTTP 200 text/html, body byte-recovered; the CDX
        # index tiles the stream (2 members) and each range re-parses
        # archive columns are closed-form on doc_id + the utf-8 OCTET
        # length of text: entries = doc.txt + meta.json(28B) + (d%3)
        # 10-byte extras; tar adds one directory entry
        "warc_roundtrip": """
            SELECT doc_id, 2::BIGINT AS n_records, 200::BIGINT AS status,
                   'text/html; charset=utf-8' AS content_type,
                   true AS body_match, 2::BIGINT AS cdx_records,
                   true AS cdx_ok,
                   (2 + doc_id % 3)::BIGINT AS zip_entries,
                   (octet_length(encode(text)) + 28
                    + (doc_id % 3) * 10)::BIGINT AS zip_bytes,
                   true AS zip_crc_ok,
                   (3 + doc_id % 3)::BIGINT AS tar_entries,
                   (2 + doc_id % 3)::BIGINT AS tar_files,
                   (octet_length(encode(text)) + 28
                    + (doc_id % 3) * 10)::BIGINT AS tar_bytes
            FROM documents
        """,
        # ADTS/Annex-B/MP4/Ogg/FLAC framing is closed-form on doc_id
        # (structural synth: frames = 10+d%7 at 1024 samples/frame
        # 48kHz; NALs = SPS+PPS + gops*gop_len slices with one IDR per
        # gop; MP4 mvhd duration/stsz count; Ogg granule = pages *
        # packets/page * 1024; FLAC duration = total*1000//rate)
        "media_container_scan": """
            SELECT doc_id,
                   (10 + doc_id % 7)::BIGINT AS aac_frames,
                   ((10 + doc_id % 7) * 1024 * 1000 // 48000)::BIGINT
                       AS aac_duration_ms,
                   'LC' AS aac_profile,
                   (2 + (1 + doc_id % 3) * (4 + doc_id % 5))::BIGINT
                       AS n_nals,
                   (1 + doc_id % 3)::BIGINT AS n_keyframes,
                   ((1 + doc_id % 3) * (4 + doc_id % 5))::BIGINT
                       AS n_slices,
                   100::BIGINT AS profile_idc, 41::BIGINT AS level_idc,
                   (200 + (doc_id % 10) * 100)::BIGINT AS mp4_duration_ms,
                   (5 + doc_id % 9)::BIGINT AS mp4_samples,
                   CASE WHEN doc_id % 2 = 1 THEN 'mp4a' ELSE 'avc1' END
                       AS mp4_codec,
                   (2 + doc_id % 4)::BIGINT AS ogg_pages,
                   ((2 + doc_id % 4) * (1 + doc_id % 3))::BIGINT
                       AS ogg_packets,
                   ((2 + doc_id % 4) * (1 + doc_id % 3) * 1024)::BIGINT
                       AS ogg_granule,
                   (CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 WHEN 3 THEN 44100
                        ELSE 48000 END)::BIGINT AS flac_rate,
                   (1 + doc_id % 2)::BIGINT AS flac_channels,
                   ((1000 + (doc_id % 7) * 500) * 1000
                    // (CASE doc_id % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                            WHEN 2 THEN 22050 WHEN 3 THEN 44100
                            ELSE 48000 END))::BIGINT AS flac_duration_ms,
                   (500 + (doc_id % 8) * 250)::BIGINT AS webm_duration_ms,
                   CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'V_VP8' END
                       AS webm_codec,
                   (1 + doc_id % 5)::BIGINT AS webm_clusters,
                   ((1 + doc_id % 5) * (2 + doc_id % 4))::BIGINT
                       AS webm_blocks,
                   (1 + doc_id % 4)::BIGINT AS fmp4_fragments,
                   ((1 + doc_id % 4) * (3 + doc_id % 6))::BIGINT
                       AS fmp4_samples,
                   ((1 + doc_id % 4) * (3 + doc_id % 6) * 40)::BIGINT
                       AS fmp4_duration_ms,
                   (4 + doc_id % 6)::BIGINT AS ivf_frames,
                   ((4 + doc_id % 6 + (2 + doc_id % 3) - 1)
                        // (2 + doc_id % 3))::BIGINT AS ivf_keyframes,
                   (160 + (doc_id % 4) * 80)::BIGINT AS ivf_width,
                   ((4 + doc_id % 6) * 1000 // 30)::BIGINT
                       AS ivf_duration_ms
            FROM documents
        """,
        # add-1 unigram LM trained on doc_id < 50; ppl = exp(mean -ln p);
        # DSIR logratio vs the target LM (English slice of the same ref)
        "lm_perplexity": """
            WITH pairs AS (
                SELECT doc_id, lang,
                       unnest(regexp_split_to_array(lower(trim(text)),
                                                    '\\s+')) AS token
                FROM documents WHERE length(text) > 0),
            lm AS (SELECT token, count(*) AS c FROM pairs
                   WHERE doc_id < 50 GROUP BY 1),
            tot AS (SELECT count(*) AS t, count(DISTINCT token) AS v
                    FROM pairs WHERE doc_id < 50),
            lmt AS (SELECT token, count(*) AS c FROM pairs
                    WHERE doc_id < 50 AND lang = 'en' GROUP BY 1),
            tott AS (SELECT count(*) AS t, count(DISTINCT token) AS v
                     FROM pairs WHERE doc_id < 50 AND lang = 'en'),
            scored AS (
                SELECT p.doc_id, lang, count(*)::BIGINT AS n_tokens,
                       round(exp(-avg(ln((coalesce(lm.c, 0) + 1.0)
                                         / (SELECT t + v FROM tot)))), 4)
                           AS ppl,
                       round(avg(ln((coalesce(lmt.c, 0) + 1.0)
                                    / (SELECT t + v FROM tott))
                                 - ln((coalesce(lm.c, 0) + 1.0)
                                      / (SELECT t + v FROM tot))), 4)
                           AS dsir_logratio,
                       (avg(ln((coalesce(lmt.c, 0) + 1.0)
                               / (SELECT t + v FROM tott))
                            - ln((coalesce(lm.c, 0) + 1.0)
                                 / (SELECT t + v FROM tot))) > 0)
                           AS dsir_keep
                FROM pairs p LEFT JOIN lm USING (token)
                     LEFT JOIN lmt USING (token)
                GROUP BY p.doc_id, lang),
            cuts AS (
                SELECT lang,
                       round(quantile_cont(ppl, 1.0/3), 6) AS c1,
                       round(quantile_cont(ppl, 2.0/3), 6) AS c2
                FROM scored GROUP BY lang)
            SELECT doc_id, n_tokens, ppl, dsir_logratio, dsir_keep,
                   lang,
                   CASE WHEN ppl <= c1 THEN 'head'
                        WHEN ppl <= c2 THEN 'middle'
                        ELSE 'tail' END AS ccnet_bucket
            FROM scored JOIN cuts USING (lang)
        """,
        # winnowing: same md5-hex gram hashes, lexicographic window min
        "winnow_fingerprint": """
            WITH d AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+')
                           AS toks
                FROM documents WHERE length(text) > 0),
            h AS (
                SELECT doc_id,
                       list_transform(range(1, len(toks) - 2),
                           i -> md5(array_to_string(
                                list_slice(toks, i, i + 3), ' ')))
                           AS hs
                FROM d WHERE len(toks) >= 7),
            w AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(hs) - 2),
                           j -> list_min(list_slice(hs, j, j + 3))))
                           AS fp
                FROM h)
            SELECT DISTINCT doc_id, fp FROM w
        """,
        # smoothed tf-idf with ln((N+1)/(df+1)); top-3 per doc by
        # (tfidf desc, token asc) — deterministic tie-break both engines
        "tfidf_topterms": """
            WITH d AS (SELECT doc_id, lower(trim(text)) AS t
                       FROM documents WHERE length(text) > 0),
            pairs AS (SELECT doc_id,
                             unnest(regexp_split_to_array(t, '\\s+'))
                                 AS token
                      FROM d),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM pairs GROUP BY 1, 2),
            dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS c FROM d),
            scored AS (
                SELECT doc_id, token, tf, df,
                       round(tf * ln(((SELECT c FROM n) + 1)::DOUBLE
                                     / (df + 1)), 6) AS tfidf
                FROM tf JOIN dfreq USING (token)),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY tfidf DESC, token ASC) AS rk
                FROM scored),
            top3 AS (SELECT doc_id, rk::BIGINT AS rk, token,
                            tf::BIGINT AS tf, df::BIGINT AS df, tfidf
                     FROM ranked WHERE rk <= 3),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
            stats AS (SELECT sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
                      FROM dl),
            bm AS (
                SELECT t.doc_id,
                       round(sum(round(
                           ln(((SELECT c FROM n)::DOUBLE - t.df + 0.5)
                              / (t.df + 0.5) + 1.0)
                           * (t.tf * 2.2)
                           / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                 / (SELECT avgdl FROM stats))), 6)), 6)
                           AS bm25
                FROM (SELECT tf.doc_id, tf.token, tf.tf, dfreq.df
                      FROM tf JOIN dfreq USING (token)
                      WHERE tf.token IN ('data', 'join', 'stream')) t
                JOIN dl ON dl.doc_id = t.doc_id
                GROUP BY t.doc_id)
            SELECT top3.*, coalesce(bm.bm25, 0.0) AS bm25
            FROM top3 LEFT JOIN bm USING (doc_id)
        """,
        # MPEG Layer I frame arithmetic is closed-form on doc_id:
        # n_samples = 1000 + (doc_id%5)*384, frames = ceil((n+64)/384),
        # CBR scan at 32 kHz mono; the L1/L2 round-trip recovers the
        # sine above the bitrate floor by construction
        "mpeg_audio": """
            SELECT doc_id,
                   ((1000 + (doc_id % 5) * 384 + 64 + 383) // 384)::BIGINT
                       AS scan_frames,
                   (CASE doc_id % 4 WHEN 0 THEN 192 WHEN 1 THEN 256
                        WHEN 2 THEN 320 ELSE 448 END)::BIGINT
                       AS bitrate_kbps,
                   (((1000 + (doc_id % 5) * 384 + 64 + 383) // 384)
                        * 384 * 1000 // 32000)::BIGINT AS scan_duration_ms,
                   (doc_id % 3 + 1)::BIGINT AS layer,
                   32000::BIGINT AS sample_rate,
                   1::BIGINT AS channels, true AS snr_ok,
                   ((1000 + (doc_id % 5) * 384 + 2047) // 1024
                        + 1)::BIGINT AS aac_frames
            FROM documents
        """,
        # streaming availableNow + watermark sentinel == plain batch agg
        # (hour windows are epoch-aligned, so date_trunc matches F.window)
        "streaming_conv_stats": f"""
            SELECT date_trunc('hour', ts)::TIMESTAMP AS win_start, conv_id,
                   count(*) AS n_turns,
                   sum(length(text))::BIGINT AS total_chars
            FROM {tr}
            GROUP BY 1, 2
        """,
        # audio dominant freq / duration and video frame stats are the
        # closed form of the same doc_id seeds (sine on an exact FFT bin;
        # constant-luma frames)
        "av_features": """
            SELECT doc_id,
                   250::BIGINT AS duration_ms,
                   (200 + (doc_id % 20) * 20)::BIGINT AS dom_freq,
                   (3 + doc_id % 4)::BIGINT AS n_frames,
                   ((3 + doc_id % 4 + 1) // 2)::BIGINT AS n_sampled,
                   round(list_avg(list_transform(
                       range(0, (3 + doc_id % 4)::INT, 2),
                       j -> (doc_id * 7 + j * 11) % 256)), 4) AS mean_luma,
                   (3 + doc_id % 4)::BIGINT AS h264_frames,
                   (3 + doc_id % 4)::BIGINT AS vp9_frames
            FROM documents
        """,
        "role_lang_rollup": f"""
            SELECT role, regexp_matches(text, '<[a-zA-Z!]') AS is_htmlish,
                   count(*) AS n_turns,
                   sum(length(text))::BIGINT AS total_chars
            FROM {tr}
            GROUP BY ROLLUP (role, is_htmlish)
        """,
        "turn_length_quantiles": f"""
            SELECT role, count(*) AS n_turns,
                   round(quantile_cont(length(text), 0.5), 4) AS p50,
                   round(quantile_cont(length(text), 0.9), 4) AS p90,
                   round(quantile_cont(length(text), 0.99), 4) AS p99
            FROM {tr} GROUP BY role
        """,
        # the PDF writer/extractor pair is exact by construction: recovered
        # layout text == source text, one page, ok=true for every document
        "pdf_roundtrip": """
            SELECT doc_id, coalesce(text, '') AS pdf_text,
                   1::INT AS n_pages, true AS pdf_ok
            FROM documents
        """,
        "doc_simhash": r"""
            WITH t AS (
                SELECT doc_id,
                       unnest(list_distinct(regexp_split_to_array(
                           trim(lower(text)), '\s+'))) AS tok
                FROM documents WHERE length(text) > 0),
            h AS (
                SELECT doc_id,
                       ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv
                FROM t),
            v AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                FROM h, range(60) r(b) GROUP BY doc_id, b)
            SELECT doc_id,
                   sum(CASE WHEN vote > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT
                       AS simhash
            FROM v GROUP BY doc_id
        """,
        # composite: IVF nearest-cell assignment + hyperplane LSH bucket
        "ann_partitions": """
            WITH c AS (SELECT vec_id - 1 AS cell, embedding AS ce
                       FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
                 d AS (SELECT e.vec_id, c.cell,
                              list_distance(e.embedding, c.ce) AS dist
                       FROM embeddings e, c),
                 r AS (SELECT vec_id, cell, dist,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY dist ASC, cell ASC) AS rn
                       FROM d),
                 iv AS (SELECT vec_id, cell, round(dist, 4) AS dist
                        FROM r WHERE rn = 1),
                 planes AS (
                     SELECT vec_id - 10 AS b, embedding AS pe
                     FROM embeddings WHERE vec_id BETWEEN 10 AND 17),
                 lb AS (
                     SELECT e.vec_id,
                            sum(CASE WHEN list_dot_product(e.embedding, p.pe) >= 0
                                     THEN 1 << b ELSE 0 END)::INT AS lsh_bucket
                     FROM embeddings e, planes p
                     GROUP BY e.vec_id),
                 seg AS (
                     SELECT e.vec_id, s.s AS sub,
                            list_slice(e.embedding, s.s * 16 + 1,
                                       s.s * 16 + 16) AS seg
                     FROM embeddings e, range(4) s(s)),
                 b0 AS (SELECT sub, vec_id - 1 AS code, seg AS ce
                        FROM seg WHERE vec_id BETWEEN 1 AND 4),
                 pa1 AS (
                     SELECT vec_id, sub, seg, code FROM (
                         SELECT g.vec_id, g.sub, g.seg, b.code,
                                row_number() OVER (
                                    PARTITION BY g.vec_id, g.sub
                                    ORDER BY list_distance(g.seg, b.ce) ASC,
                                             b.code ASC) AS rn
                         FROM seg g JOIN b0 b USING (sub)) WHERE rn = 1),
                 pm1 AS (SELECT sub, code, p, round(avg(seg[p + 1]), 6) AS m
                         FROM pa1, range(16) t(p) GROUP BY sub, code, p),
                 b1m AS (SELECT sub, code, list(m ORDER BY p) AS ce
                         FROM pm1 GROUP BY sub, code),
                 b1 AS (SELECT b0.sub, b0.code,
                               coalesce(b1m.ce, b0.ce) AS ce
                        FROM b0 LEFT JOIN b1m
                            ON b0.sub = b1m.sub AND b0.code = b1m.code),
                 pqc AS (
                     SELECT vec_id, sub, code FROM (
                         SELECT g.vec_id, g.sub, b.code,
                                row_number() OVER (
                                    PARTITION BY g.vec_id, g.sub
                                    ORDER BY list_distance(g.seg, b.ce) ASC,
                                             b.code ASC) AS rn
                         FROM seg g JOIN b1 b USING (sub)) WHERE rn = 1),
                 pq AS (
                     SELECT vec_id,
                            sum(code * (1 << (2 * sub)))::BIGINT AS pq_code
                     FROM pqc GROUP BY vec_id),
                 qseg AS (SELECT sub, seg FROM seg WHERE vec_id = 0),
                 lut AS (
                     SELECT b1.sub, b1.code,
                            round(sum(pow(q.seg[p + 1]::DOUBLE
                                          - b1.ce[p + 1]::DOUBLE, 2)),
                                  6) AS d2
                     FROM b1 JOIN qseg q USING (sub), range(16) t(p)
                     GROUP BY b1.sub, b1.code),
                 adc AS (
                     SELECT c.vec_id, round(sum(l.d2), 6) AS adc_dist2
                     FROM pqc c JOIN lut l
                         ON c.sub = l.sub AND c.code = l.code
                     GROUP BY c.vec_id),
                 probe AS (SELECT cell FROM r
                           WHERE vec_id = 0 AND rn <= 2),
                 adck AS (SELECT a.vec_id, a.adc_dist2
                          FROM adc a
                          JOIN iv ON iv.vec_id = a.vec_id
                          JOIN probe ON iv.cell = probe.cell
                          ORDER BY a.adc_dist2 ASC, a.vec_id ASC
                          LIMIT 10),
                 sc0 AS (SELECT vec_id - 1 AS cell, embedding AS ce
                         FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
                 sa1 AS (SELECT vec_id, embedding, cell FROM (
                           SELECT e.vec_id, e.embedding, c.cell,
                                  row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_distance(e.embedding, c.ce) ASC,
                                               c.cell ASC) AS rn
                           FROM embeddings e, sc0 c) WHERE rn = 1),
                 sm1 AS (SELECT cell, p, round(avg(embedding[p + 1]), 6) AS m
                         FROM sa1, range(64) t(p) GROUP BY cell, p),
                 sc1m AS (SELECT cell, list(m ORDER BY p) AS ce
                          FROM sm1 GROUP BY cell),
                 sc1 AS (SELECT sc0.cell, coalesce(sc1m.ce, sc0.ce) AS ce
                         FROM sc0 LEFT JOIN sc1m ON sc0.cell = sc1m.cell),
                 sa2 AS (SELECT vec_id, cell FROM (
                           SELECT e.vec_id, c.cell,
                                  row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_distance(e.embedding, c.ce) ASC,
                                               c.cell ASC) AS rn
                           FROM embeddings e, sc1 c) WHERE rn = 1),
                 ssub AS (SELECT vec_id, cell,
                                 (row_number() OVER (PARTITION BY cell
                                      ORDER BY vec_id ASC) - 1) // 48 AS sub
                          FROM sa2),
                 semdup AS (
                     SELECT DISTINCT ib.vec_id
                     FROM ssub ia JOIN ssub ib
                       ON ia.cell = ib.cell AND ia.sub = ib.sub
                          AND ia.vec_id < ib.vec_id
                     JOIN embeddings ea ON ea.vec_id = ia.vec_id
                     JOIN embeddings eb ON eb.vec_id = ib.vec_id
                     WHERE round(list_dot_product(ea.embedding, eb.embedding)
                           / (sqrt(list_dot_product(ea.embedding, ea.embedding))
                              * sqrt(list_dot_product(eb.embedding, eb.embedding))),
                           4) >= 0.45)
            SELECT iv.vec_id, iv.cell, iv.dist, lb.lsh_bucket,
                   pq.pq_code, adck.adc_dist2,
                   (semdup.vec_id IS NULL) AS semdedup_keep
            FROM iv JOIN lb USING (vec_id) JOIN pq USING (vec_id)
            LEFT JOIN adck USING (vec_id)
            LEFT JOIN semdup USING (vec_id)
        """,
        "conv_flatten": f"""
            WITH flat AS (
                SELECT conv_id, count(*) AS n_turns,
                       string_agg('[' || role || '] ' || coalesce(text, ''),
                                  chr(10) ORDER BY turn_idx) AS doc
                FROM {tr} GROUP BY conv_id)
            SELECT conv_id, n_turns, md5(doc) AS doc_md5,
                   length(doc) AS doc_chars
            FROM flat
        """,
        "doc_quality": r"""
            WITH q AS (
                SELECT doc_id, length(text) AS n_chars,
                       len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
                       round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                             / length(text), 4) AS letter_ratio,
                       round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                             / length(text), 4) AS punct_ratio,
                       round(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                             x -> x in ('the','of','and','to','a','in','is','it','that','for')))::DOUBLE
                             / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4)
                           AS stopword_ratio,
                       round(length(text)::DOUBLE
                             / len(regexp_split_to_array(trim(lower(text)), '\s+')), 4)
                           AS chars_per_token
                FROM documents WHERE length(text) > 0),
            t AS (
                SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                FROM documents
            ), h AS (
                SELECT doc_id,
                       len(list_filter(toks, x -> x in ('the','of','and','to','a','in','is','it','that','for'))) AS hits_en,
                       len(list_filter(toks, x -> x in ('el','la','de','que','y','en','un','los','se','por'))) AS hits_es,
                       len(list_filter(toks, x -> x in ('der','die','und','das','nicht','von','sie','ist','des','ein'))) AS hits_de,
                       len(list_filter(toks, x -> x in ('le','la','et','les','des','en','un','du','une','que'))) AS hits_fr
                FROM t),
            lid AS (
                SELECT doc_id,
                       CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'unknown'
                            WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
                            WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
                            WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
                            ELSE 'fr' END AS lang_guess,
                       hits_en, hits_es, hits_de, hits_fr
                FROM h),
            c4 AS (
                SELECT doc_id,
                       list_filter(string_split(text, chr(10)),
                                   x -> length(trim(x)) > 0) AS ls,
                       contains(text, '{') AS has_curly,
                       contains(lower(text), 'lorem ipsum') AS has_lorem,
                       contains(lower(text), 'javascript')
                           AS has_javascript
                FROM documents WHERE length(text) > 0),
            c4m AS (
                SELECT doc_id, len(ls)::BIGINT AS n_lines,
                       CASE WHEN len(ls) > 0 THEN round(
                           len(list_filter(ls, x -> regexp_matches(
                               trim(x), '[.!?"]$')))::DOUBLE / len(ls), 4)
                       END AS frac_lines_end_punct,
                       CASE WHEN len(ls) > 0 THEN round(
                           len(list_filter(ls, x -> len(
                               regexp_split_to_array(trim(x), '\s+'))
                               < 3))::DOUBLE / len(ls), 4)
                       END AS frac_lines_short,
                       has_curly, has_lorem, has_javascript
                FROM c4)
            SELECT q.doc_id, q.n_chars, q.n_tokens, q.letter_ratio,
                   q.punct_ratio, q.stopword_ratio, q.chars_per_token,
                   lid.lang_guess, lid.hits_en, lid.hits_es, lid.hits_de,
                   lid.hits_fr, c4m.n_lines, c4m.frac_lines_end_punct,
                   c4m.frac_lines_short, c4m.has_curly, c4m.has_lorem,
                   c4m.has_javascript
            FROM q JOIN lid USING (doc_id) JOIN c4m USING (doc_id)
        """,
        # same bucketed-LSH algorithm as the Spark side: 4 tables x 4 bits
        # (planes = embeddings 10..25), candidates share a (table, bucket),
        # exact cosine only within buckets
        "embedding_neardup": """
            WITH planes AS (
                SELECT (vec_id - 10) // 4 AS tbl, (vec_id - 10) % 4 AS bit,
                       embedding AS pe
                FROM embeddings WHERE vec_id BETWEEN 10 AND 25),
            sigs AS (
                SELECT e.vec_id, p.tbl,
                       sum(CASE WHEN list_dot_product(e.embedding, p.pe) >= 0
                                THEN 1 << p.bit ELSE 0 END) AS bucket
                FROM embeddings e, planes p GROUP BY e.vec_id, p.tbl),
            cand AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                FROM sigs a JOIN sigs b
                  ON a.tbl = b.tbl AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id),
            scored AS (
                SELECT c.id_a, c.id_b,
                       round(list_dot_product(ea.embedding, eb.embedding)
                             / (sqrt(list_dot_product(ea.embedding, ea.embedding))
                                * sqrt(list_dot_product(eb.embedding, eb.embedding))), 4)
                           AS cos_sim
                FROM cand c
                JOIN embeddings ea ON ea.vec_id = c.id_a
                JOIN embeddings eb ON eb.vec_id = c.id_b)
            SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.45
        """,
        # r8 composite: exact cosine top-10 (query 0) UNION the
        # int8-quantized top-5 (queries 1-3); rank implied by
        # (query_id, score DESC, vec_id)
        "knn_cosine": """
            WITH q0 AS (SELECT embedding AS qe FROM embeddings
                        WHERE vec_id = 0),
            exact AS (
                SELECT 0::BIGINT AS query_id, vec_id::BIGINT AS vec_id,
                       round(list_dot_product(embedding, qe)
                             / (sqrt(list_dot_product(embedding, embedding))
                                * sqrt(list_dot_product(qe, qe))),
                             4)::DOUBLE AS score,
                       'cosine' AS method
                FROM embeddings, q0
                WHERE vec_id <> 0
                ORDER BY score DESC, vec_id ASC
                LIMIT 10),
            dims AS (
                SELECT unnest(range(len(embedding))) AS dim,
                       unnest(embedding) AS v
                FROM embeddings),
            st AS (SELECT dim, min(v) AS lo,
                          greatest(max(v) - min(v), 1e-30) AS r
                   FROM dims GROUP BY dim),
            q AS (
                SELECT vec_id, dim,
                       least(255, greatest(0,
                           floor((v - lo) / r * 255)))::BIGINT AS qv
                FROM (SELECT vec_id,
                             unnest(range(len(embedding))) AS dim,
                             unnest(embedding) AS v
                      FROM embeddings) x JOIN st USING (dim)),
            dots AS (
                SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                       sum(a.qv * b.qv)::BIGINT AS qdot
                FROM q a JOIN q b USING (dim)
                WHERE a.vec_id IN (1, 2, 3) AND b.vec_id != a.vec_id
                GROUP BY 1, 2),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY qdot DESC, vec_id ASC) AS rk
                FROM dots),
            i8 AS (
                SELECT query_id::BIGINT AS query_id,
                       vec_id::BIGINT AS vec_id,
                       qdot::DOUBLE AS score, 'int8' AS method
                FROM ranked WHERE rk <= 5)
            SELECT * FROM exact UNION ALL SELECT * FROM i8
        """,
        # r8: the end-to-end corpus-prep DAG — the same five stages as
        # chained CTEs, with expected_extraction.parquet standing in for
        # the (separately-proven) extraction stage. Role comes from a
        # transcripts join (Spark carries it through extracted_df).
        "corpus_prep": rf"""
            WITH ext0 AS (
                SELECT e.conv_id, e.turn_idx, t.role, e.text,
                       regexp_split_to_array(trim(lower(e.text)), '\s+')
                           AS toks
                FROM {ee} e
                JOIN {tr} t USING (conv_id, turn_idx)
                WHERE e.extract_ok AND length(e.text) > 0),
            gated AS (
                SELECT * FROM (
                    SELECT *, len(toks) AS n,
                           round(len(list_filter(toks,
                               x -> x in ('the','of','and','to','a','in',
                                          'is','it','that','for')))::DOUBLE
                                 / len(toks), 4) AS sw,
                           CASE WHEN len(toks) >= 2 THEN
                               round(1.0 - len(list_distinct(
                                   list_transform(range(1, len(toks)),
                                       i -> array_to_string(
                                           list_slice(toks, i, i + 1),
                                           ' '))))::DOUBLE
                                     / (len(toks) - 1), 4)
                           ELSE 0.0 END AS dupf
                    FROM ext0)
                WHERE n >= 30 AND sw >= 0.01 AND dupf <= 0.1),
            deduped AS (
                SELECT * FROM gated
                QUALIFY row_number() OVER (
                    PARTITION BY md5(text)
                    ORDER BY conv_id, turn_idx) = 1),
            ids AS (SELECT DISTINCT conv_id
                    FROM {tr} WHERE turn_idx = 0
                    ORDER BY conv_id LIMIT 3),
            bench AS (
                SELECT list(DISTINCT array_to_string(list_slice(
                           regexp_split_to_array(trim(lower(e.text)),
                                                 '\s+'),
                           1, 8), ' ')) AS grams
                FROM {ee} e JOIN ids USING (conv_id)
                WHERE e.turn_idx = 0 AND e.extract_ok
                  AND length(e.text) > 0
                  AND len(regexp_split_to_array(trim(lower(e.text)),
                                                '\s+')) >= 8),
            clean AS (
                SELECT d.* FROM deduped d CROSS JOIN bench b
                WHERE NOT coalesce(list_has_any(
                    CASE WHEN d.n >= 8 THEN
                        list_transform(range(1, d.n - 6),
                            i -> array_to_string(
                                list_slice(d.toks, i, i + 7), ' '))
                    ELSE [] END, b.grams), false)),
            pos AS (
                SELECT role, tok,
                       row_number() OVER (PARTITION BY role
                                          ORDER BY conv_id, turn_idx, i)
                           - 1 AS gpos
                FROM (SELECT role, conv_id, turn_idx,
                             unnest(toks) AS tok,
                             unnest(range(len(toks))) AS i
                      FROM clean))
            SELECT role, (gpos // 128)::BIGINT AS seq_idx,
                   count(*)::BIGINT AS n_tokens,
                   min_by(tok, gpos) AS first_tok,
                   max_by(tok, gpos) AS last_tok
            FROM pos GROUP BY role, seq_idx
        """,
    }
