"""The corpus-prep chain as a resumable spark-submit JOB (round 9).

``q_corpus_prep`` (``__spark_entry__.py``) proves the chain's correctness
and plan shape as an oracled query; this module is the entry point a real
user actually submits — an input, an output, and a resume guarantee:

    extract → quality gate → exact dedup [→ near-dedup] → decontaminate
    → [ExactSubstr span cut →] seq-pack

(near-dedup is the optional MinHash/LSH + connected-components stage,
--near-dedup-jaccard; the span cut is the optional ExactSubstr
duplicate-substring removal, --exact-substr-window — together with
exact dedup these are the three Lee et al. 2022 dedup modes.)

Launch (cluster deployment, the north-rule path)::

    spark-submit --py-files snacktory_spark.zip \
        scripts/submit_corpus_prep.py \
        --input <transcripts parquet / iceberg identifier> \
        --output <dir> [--bench-grams <parquet of 8-gram strings>]

or locally, straight from the package::

    python -m snacktory_spark.pipeline.corpus_prep_job \
        --input data/synth/sf0.001/transcripts.parquet --output /tmp/prep

Checkpoint/resume layout (three commit levels, coarsest blast radius
first — a killed job resumes from the last committed level):

    <out>/extracted/   bucket=N parquet + per-bucket _manifest/ — the
                       expensive stage, delegated to run_extract's
                       per-bucket records + anti-join resume (waves
                       sized from the input's bytes bound the in-flight
                       loss; see extract_job.py)
    <out>/survivors/   every quality-gate survivor annotated with its
                       is_keeper (exact-dedup election) and contaminated
                       (benchmark 8-gram overlap) decisions — the
                       auditable per-row lineage of stages 2-4, certified
                       by parquet _SUCCESS + a config-stamped
                       _manifest/survivors.json
    <out>/packed/      fixed-length sequence stats (stage 5), certified
                       by _SUCCESS + _manifest/chain.json

A record is reused only when its stamped config matches the requested
run AND its _SUCCESS marker exists AND no earlier stage re-ran;
anything else recomputes forward from the last valid level. The
survivors record is stamped with only the keys its contents depend on
(input, bucket count, gate thresholds, benchmark table path + content
fingerprint), the packed record with the full config — so changing the
pack-only seq_len re-runs packing alone, never the expensive stages
2-4. All manifest I/O follows the output path's filesystem scheme
(local or Hadoop), so resume state lands next to the data on clusters.

Each level's figures are counted by the write that commits it
(extract_job.write_observed, a DataFrame.observe in the write's result
stage): the extraction waves' manifests, the survivors record's
gate/dedup/near/clean rows and the packed record's sequence and token
counts. No level is read back to be counted: the one read of extracted/
is stage 2's input, and the one read of survivors/ is packing's input.

Stage shapes (the 100-TB audit):
  1. extraction — pushed-down scan → salted repartition → MapInPandas
     (the audited extract_turns plan, BENCH/skew_salt.md);
  2-3. quality gate and exact dedup — corpus_ops.gate_survivors and
     with_keeper, the same calls q_corpus_prep makes;
  4. decontamination — the PRODUCTION shape (VERDICT r8 what's-wrong #3
     closed): each survivor's word 8-grams are enumerated JVM-side
     (zip_grams — narrow), exploded, and broadcast-HASH-joined against
     the configurable benchmark-gram table; hits reduce to a distinct
     (conv_id, turn_idx) set that anti-joins the survivors. One hash
     probe per doc gram — never a nested-loop contains scan;
  5. packing — corpus_ops.pack_sequences keyed by role, ordered by
     (conv_id, turn_idx), over the MATERIALIZED survivors parquet, so no
     stage is recomputed across its branches. Its range split points
     are sampled from the raw input scan's turn-0 rows (one per
     conv_id), never from the survivors or the cut text.

The survivor/packed sinks inherit the chain's determinism: reruns with
the same config byte-reproduce them (modulo parquet file split layout),
and tests assert the packed rows equal q_corpus_prep's exactly.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .corpus_ops import (exact_substr_spans, gate_survivors,
                         pack_sequences, tokens_expr, with_keeper,
                         zip_grams)
from .extract_job import (DEFAULT_N_BUCKETS, DEFAULT_SALT_SPAN,
                          build_session, read_extracted, read_transcripts,
                          run_extract, write_observed)
from .jobfs import JobFS

_SURVIVOR_COLS = ("role", "conv_id", "turn_idx", "text",
                  "is_keeper", "near_dup", "contaminated")


def _bench_fingerprint(bench: DataFrame | None) -> dict | None:
    """Cheap content fingerprint of the benchmark-gram table: resuming
    against a table whose CONTENT changed at the same path must re-run
    decontamination, not silently skip (same principle as run_extract's
    input_path manifest stamp). The table is benchmark-sized (~1e4 rows)
    by contract, so one scan is negligible."""
    if bench is None:
        return None
    row = bench.agg(F.count("*").alias("n"),
                    F.sum(F.crc32("gram")).alias("crc")).collect()[0]
    return {"n": int(row["n"]), "crc": int(row["crc"] or 0)}


def run_corpus_prep(spark: SparkSession, input_path: str, output_path: str,
                    n_buckets: int = DEFAULT_N_BUCKETS,
                    seq_len: int = 128,
                    bench_grams_path: str | None = None,
                    gram_width: int = 8,
                    salt_span: int = DEFAULT_SALT_SPAN,
                    partitions: int | None = None,
                    resume: bool = True,
                    near_dedup_jaccard: float | None = None,
                    exact_substr_window: int | None = None,
                    min_tokens: int = 30,
                    min_stopword_ratio: float = 0.01,
                    max_bigram_dup: float = 0.1) -> dict:
    """Run (or resume) the five-stage corpus-prep chain. Returns metrics.

    `bench_grams_path` points at a parquet table with a string column
    ``gram`` (space-joined lowercase `gram_width`-token n-grams); rows
    sharing any such gram are dropped in stage 4. None/empty skips
    decontamination. `near_dedup_jaccard` (e.g. 0.6) adds stage 3b:
    MinHash/LSH near-duplicate election among the exact-dedup keepers —
    LSH-bucketed candidate pairs verified at shingle-Jaccard ≥ the
    threshold, connected components, smallest (conv_id, turn_idx) kept
    per cluster (the Lee et al. 2022 chain order: exact, then near).
    None (default) skips it. `exact_substr_window` (e.g. 50) applies
    the ExactSubstr duplicate-SPAN cut (Lee et al. 2022 §4.1) to the
    clean set as part of the PACKING level: token positions whose
    W-token window occurs ≥2 times anywhere in the clean corpus are
    removed before sequences are cut (a pack-level knob — changing it
    re-runs packing only, like seq_len). None (default) packs the full
    texts. Remaining knobs mirror run_extract (stage 1) and
    corpus_gate_pred (stage 2)."""
    out = output_path.rstrip("/")

    # ---- stage 1: extraction (per-bucket manifest + anti-join resume) ----
    ex = run_extract(spark, input_path, out + "/extracted",
                     n_buckets=n_buckets, salt_span=salt_span,
                     partitions=partitions, resume=resume)

    bench = None
    if bench_grams_path:
        bench = (spark.read.parquet(bench_grams_path)
                 .select("gram").filter(F.col("gram").isNotNull())
                 .distinct())
    # Two stamps (r9 review finding): seq_len is a PACK-only knob — a
    # packing change must not invalidate the much more expensive
    # gate/dedup/decontaminate level, so the survivors record is
    # stamped with only the keys its contents depend on and the packed
    # record with the full config.
    surv_config = {"input_path": input_path, "n_buckets": n_buckets,
                   "bench_grams_path": bench_grams_path,
                   "bench_fingerprint": _bench_fingerprint(bench),
                   "gram_width": gram_width,
                   "near_dedup_jaccard": near_dedup_jaccard,
                   "min_tokens": min_tokens,
                   "min_stopword_ratio": min_stopword_ratio,
                   "max_bigram_dup": max_bigram_dup}
    config = dict(surv_config, seq_len=seq_len,
                  exact_substr_window=exact_substr_window)

    fs = JobFS(spark, out)
    metrics: dict = {"extract": ex}

    # ---- stages 2-4: gate + dedup election + decontamination flags ----
    srec = fs.read_json("_manifest/survivors.json") if resume else None
    survivors_valid = (bool(ex.get("skipped")) and srec is not None
                       and srec.get("config") == surv_config
                       and fs.exists("survivors/_SUCCESS"))
    if not survivors_valid:
        flagged = _survivor_flags(spark, out, bench, surv_config)
        keeper = F.col("is_keeper") & ~F.col("near_dup")
        srec = {"config": surv_config,
                "metrics": write_observed(flagged, out + "/survivors", {
                    "gate_rows": F.count(F.lit(1)),
                    "dedup_rows": F.count_if(F.col("is_keeper")),
                    "near_rows": F.count_if(keeper),
                    "clean_rows": F.count_if(
                        keeper & ~F.col("contaminated"))})}
        fs.write_json("_manifest/survivors.json", srec)
        metrics["survivors_written"] = True
    metrics.update(srec["metrics"])

    # ---- stage 5: fixed-length sequence packing ----
    crec = fs.read_json("_manifest/chain.json") if resume else None
    packed_valid = (survivors_valid and crec is not None
                    and crec.get("config") == config
                    and fs.exists("packed/_SUCCESS"))
    if not packed_valid:
        clean = (spark.read.parquet(out + "/survivors")
                 .filter(F.col("is_keeper") & ~F.col("near_dup")
                         & ~F.col("contaminated")))
        if exact_substr_window:
            # pack-level ExactSubstr cut: spans of W-token windows that
            # occur >=2 times in the CLEAN corpus are removed; the cut
            # text (same whitespace tokenizer) feeds the prefix sum.
            # Deterministic int64 row ids via xxhash64 (the near-dedup
            # collision note applies; a collision merges two docs' span
            # sets — conservative for dedup)
            keyed = clean.withColumn("nd_id",
                                     F.xxhash64("conv_id", "turn_idx"))
            cut = exact_substr_spans(
                keyed.select(F.col("nd_id").alias("doc_id"),
                             tokens_expr().alias("toks")),
                W=exact_substr_window)
            clean = (keyed.join(
                cut.select(F.col("doc_id").alias("nd_id"), "cut_text"),
                "nd_id")
                .select("role", "conv_id", "turn_idx",
                        F.col("cut_text").alias("text"))
                # a fully-covered doc cuts to "" — drop it, else
                # split("") would pack one bogus empty token
                .filter(F.length("text") > 0))
            # cut_text is already normalized tokens rejoined with single
            # spaces, so tokens_expr re-splits it losslessly
        packed = pack_sequences(
            clean, "role", ["conv_id", "turn_idx"], seq_len,
            bounds_from=read_transcripts(spark, input_path)
            .filter(F.col("turn_idx") == 0).select("conv_id"))
        crec = {"config": config,
                "metrics": write_observed(packed, out + "/packed", {
                    "n_sequences": F.count(F.lit(1)),
                    "n_tokens_packed": F.coalesce(F.sum("n_tokens"),
                                                  F.lit(0))})}
        fs.write_json("_manifest/chain.json", crec)
        metrics["packed_written"] = True
    metrics.update(crec["metrics"])

    if packed_valid and survivors_valid:
        metrics["skipped"] = True
    return metrics


def _survivor_flags(spark: SparkSession, out: str, bench: DataFrame | None,
                    config: dict) -> DataFrame:
    """Stages 2-4 as ONE annotated frame over the extracted parquet:
    quality-gate survivors with their dedup-election and contamination
    decisions as columns. Writing decisions instead of just the clean
    set makes the intermediate auditable (which near-threshold rows the
    gate cut, which duplicate lost to which keeper's key, which bench
    gram fired) — the per-partition lineage the north rule asks for.

    Flagging contamination on gate survivors (pre-dedup) instead of on
    keepers is semantics-preserving: the flag depends only on the row's
    text, and q_corpus_prep's post-dedup filter removes exactly the
    keepers whose text is contaminated — the same final set."""
    # stage 1 always leaves the directory (its write creates it, and its
    # manifests live inside it), so a read failure here is real and must
    # fail the job: swallowing it would certify empty survivors/packed
    # sinks that every resume then skips forward
    flagged = with_keeper(gate_survivors(
        read_extracted(spark, out + "/extracted"),
        min_tokens=config["min_tokens"],
        min_stopword_ratio=config["min_stopword_ratio"],
        max_bigram_dup=config["max_bigram_dup"]))

    # stage 3b (optional): near-duplicate election among the exact
    # keepers — MinHash/LSH bucketed candidate pairs (never all-pairs),
    # exact shingle-Jaccard verification, connected components, keep
    # the smallest (conv_id, turn_idx) per cluster. All three are the
    # repo's proven dedup operators (textops; recall table in
    # BENCH/minhash_recall.md). Rows get a deterministic int64 id via
    # xxhash64(conv_id, turn_idx) — a collision (≈2^-64 per pair) could
    # at worst merge two rows into one cluster, dropping a non-dup row:
    # the conservative direction for dedup.
    thr = config.get("near_dedup_jaccard")
    if thr is not None:
        from ..textops import (connected_components, jaccard_pairs,
                               lsh_candidate_pairs)
        keepers = (flagged.filter(F.col("is_keeper"))
                   .select("conv_id", "turn_idx", "text")
                   .withColumn("nd_id",
                               F.xxhash64("conv_id", "turn_idx")))
        pairs = (jaccard_pairs(keepers,
                               lsh_candidate_pairs(keepers,
                                                   id_col="nd_id"),
                               id_col="nd_id")
                 .filter(F.col("jaccard") >= thr))
        comp = connected_components(pairs)
        w_nd = (Window.partitionBy("component")
                .orderBy("conv_id", "turn_idx"))
        losers = (keepers.join(comp,
                               keepers["nd_id"] == comp["doc_id"])
                  .withColumn("_rn", F.row_number().over(w_nd))
                  .filter(F.col("_rn") > 1)
                  .select("conv_id", "turn_idx")
                  .withColumn("_nd", F.lit(True)))
        flagged = (flagged.join(losers, ["conv_id", "turn_idx"], "left")
                   .withColumn("near_dup",
                               F.coalesce(F.col("_nd"), F.lit(False)))
                   .drop("_nd"))
    else:
        flagged = flagged.withColumn("near_dup", F.lit(False))

    # stage 4: production decontamination — exploded grams, broadcast
    # hash join, distinct hit keys, anti-ish left join back
    if bench is not None:
        w = config["gram_width"]
        n = F.size("toks").cast("long")
        m = F.greatest(n - (w - 1), F.lit(0)).cast("int")
        # bind the toks column BEFORE the explode so zip_grams' slices
        # read a real column, never re-run split(text) per element
        grams = (flagged.withColumn("toks", tokens_expr())
                 .select("conv_id", "turn_idx",
                         F.explode(zip_grams(F.col("toks"), w, m))
                         .alias("gram")))
        hits = (grams.join(F.broadcast(bench), "gram", "left_semi")
                .select("conv_id", "turn_idx").distinct()
                .withColumn("_hit", F.lit(True)))
        flagged = (flagged.join(hits, ["conv_id", "turn_idx"], "left")
                   .withColumn("contaminated",
                               F.coalesce(F.col("_hit"), F.lit(False)))
                   .drop("_hit"))
    else:
        flagged = flagged.withColumn("contaminated", F.lit(False))
    return flagged.select(*_SURVIVOR_COLS)


def main(argv=None) -> None:
    import argparse

    p = argparse.ArgumentParser(
        prog="python -m snacktory_spark.pipeline.corpus_prep_job",
        description="snacktory corpus-prep chain: extract -> quality gate "
                    "-> exact dedup -> decontaminate -> sequence-pack, "
                    "resumable at three commit levels")
    p.add_argument("--input", required=True,
                   help="transcripts parquet dir or iceberg identifier")
    p.add_argument("--output", required=True,
                   help="job output root (local path or scheme'd URI)")
    p.add_argument("--buckets", type=int, default=DEFAULT_N_BUCKETS)
    p.add_argument("--seq-len", type=int, default=128)
    p.add_argument("--bench-grams", default=None,
                   help="parquet with a `gram` string column; rows sharing "
                        "any such n-gram are dropped (decontamination)")
    p.add_argument("--gram-width", type=int, default=8)
    p.add_argument("--salt-span", type=int, default=DEFAULT_SALT_SPAN)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--near-dedup-jaccard", type=float, default=None,
                   help="enable MinHash/LSH near-duplicate removal at "
                        "this shingle-Jaccard threshold (e.g. 0.6); "
                        "default off")
    p.add_argument("--exact-substr-window", type=int, default=None,
                   help="apply the ExactSubstr duplicate-span cut at "
                        "this token-window width (e.g. 50) before "
                        "packing; default off")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--min-tokens", type=int, default=30)
    p.add_argument("--min-stopword-ratio", type=float, default=0.01)
    p.add_argument("--max-bigram-dup", type=float, default=0.1)
    p.add_argument("--master", default=None,
                   help="spark master for `python -m` runs (spark-submit "
                        "sets its own)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)

    spark = build_session(app="snacktory-corpus-prep", master=args.master,
                          shuffle_partitions=args.shuffle_partitions)
    metrics = run_corpus_prep(
        spark, args.input, args.output,
        n_buckets=args.buckets, seq_len=args.seq_len,
        bench_grams_path=args.bench_grams, gram_width=args.gram_width,
        salt_span=args.salt_span, partitions=args.partitions,
        resume=not args.no_resume,
        near_dedup_jaccard=args.near_dedup_jaccard,
        exact_substr_window=args.exact_substr_window,
        min_tokens=args.min_tokens,
        min_stopword_ratio=args.min_stopword_ratio,
        max_bigram_dup=args.max_bigram_dup)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
