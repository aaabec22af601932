"""Shared corpus-prep expression machinery (round 9).

The stages of the corpus-prep chain — the quality gate
(`gate_survivors`), the exact-dedup keeper election (`with_keeper`) and
the packer (`pack_sequences`) — live here once, so the production job
(`corpus_prep_job.run_corpus_prep`) and the oracled queries
(q_corpus_prep / q_seq_pack / q_token_pack) execute the SAME code: two
hand-kept copies of plan-shape-sensitive machinery drift.
``__spark_entry__`` imports them back under its historical private names.

Everything here builds JVM-side Catalyst expressions (higher-order
functions, windows, joins) — no Python executes per row, so none of this
needs to ship to executor Python workers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

#: quality-gate stopword probe (SURVEY §2 quality ops; tiny by design —
#: the gate measures "has SOME function words", not language ID)
DEFAULT_STOPWORDS = ("the", "of", "and", "to", "a", "in", "is", "it",
                     "that", "for")


def tokens_expr(col: str = "text"):
    """The corpus-prep whitespace tokenizer, as one shared expression:
    lower → trim → split on runs of whitespace. Every stage of the chain
    (gate, grams, packing) must tokenize identically or survivors drift
    between stages."""
    return F.split(F.trim(F.lower(F.col(col))), r"\s+")


def zip_grams(toks_expr, k: int, m):
    """k-gram array as k shifted slices zip_with-ed together, O(k·n)
    per row. The transform-over-sequence construction is O(n²) when the
    token source is an INLINE expression: catalyst's filter pushdown
    substitutes column aliases into HOF lambda bodies, so
    slice(split(text), i, k) re-runs the split once per element
    (measured: 79s → 9s on corpus_prep at sf0.1). Here split(text)
    appears only as the k slice arguments — evaluated k times per row,
    never per element — and the lambda body touches lambda vars only.
    `m` is the gram-count expression (n-k+1, clamped ≥0)."""
    acc = F.slice(toks_expr, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(acc, F.slice(toks_expr, j, m),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return acc


def corpus_gate_pred(stopwords=DEFAULT_STOPWORDS, min_tokens: int = 30,
                     min_stopword_ratio: float = 0.01,
                     max_bigram_dup: float = 0.1):
    """Quality-gate predicate over a bound token-array lambda variable —
    token count, stopword ratio, bigram-repetition fraction, all narrow
    JVM HOF expressions (zero shuffles). Use as
    ``df.filter(F.forall(F.array(toks), corpus_gate_pred()))`` — the
    forall(array(·)) wrapper is a let-binding so the tokenization runs
    ONCE per row (catalyst inlines column aliases into filters; measured
    ~160µs/row x ~8 re-evaluations without it)."""
    stop = F.array(*[F.lit(w) for w in stopwords])

    def pred(t):
        # t is a bound lambda variable carrying the token array — every
        # reference is a cheap variable read
        n = F.size(t).cast("long")
        sw = F.round(
            F.size(F.filter(t, lambda x: F.array_contains(stop, x)))
            / n, 4)
        # bigrams as xxhash64(tok_i, tok_i+1) LONGS, not concat_ws
        # strings (r10): only the distinct COUNT matters here, and a
        # long array gets cheap construction (two element_at reads, no
        # string allocation) AND the fast atomic-type array_distinct
        # path. Measured at sf1.0 on the documents corpus: string
        # zip_grams 1.7s → 1.25s; struct pairs were tried first and are
        # SLOWER than strings (3.1s — complex-type distinct). A 64-bit
        # within-doc collision shifts the distinct count by 1 with
        # P≈n²·2⁻⁶⁴ per doc (~1e-16) — the same hashed-key design as the
        # ExactSubstr/decontaminate grams, oracle-hash-verified. The
        # lambda bodies only touch lambda variables (i, and the OUTER
        # bound var t — legal nested-lambda scoping), never an inline
        # column expression — see zip_grams' O(n²) warning.
        bigrams = F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1)).cast("int")),
            lambda i: F.xxhash64(F.element_at(t, i.cast("int")),
                                 F.element_at(t, (i + 1).cast("int"))))
        dupf = F.when(
            n >= 2,
            F.round(1.0 - F.size(F.array_distinct(bigrams))
                    / (n - 1), 4)).otherwise(F.lit(0.0))
        return ((n >= min_tokens) & (sw >= min_stopword_ratio)
                & (dupf <= max_bigram_dup))

    return pred


def gate_survivors(extracted: DataFrame, min_tokens: int = 30,
                   min_stopword_ratio: float = 0.01,
                   max_bigram_dup: float = 0.1) -> DataFrame:
    """Stages 1-2 of the chain: the extraction survivors (`extract_ok`,
    non-empty text) as (role, conv_id, turn_idx, text), passed through
    the `corpus_gate_pred` quality gate — narrow JVM HOFs, zero
    shuffles. No toks/n column leaves this frame: the packer recomputes
    them above the dedup exchange (see pack_sequences)."""
    return (extracted
            .filter(F.col("extract_ok") & (F.length("text") > 0))
            .select("role", "conv_id", "turn_idx", "text")
            .filter(F.forall(F.array(tokens_expr()),
                             corpus_gate_pred(
                                 min_tokens=min_tokens,
                                 min_stopword_ratio=min_stopword_ratio,
                                 max_bigram_dup=max_bigram_dup))))


def with_keeper(gated: DataFrame) -> DataFrame:
    """Stage 3, exact dedup: adds `is_keeper`, true for the smallest
    (conv_id, turn_idx) per md5(text). One row_number window
    hash-partitioned on a uniform key; duplicate groups are tiny."""
    w = Window.partitionBy(F.md5("text")).orderBy("conv_id", "turn_idx")
    return gated.withColumn("is_keeper", F.row_number().over(w) == 1)


def seed_bench_grams(tr: DataFrame, gram_width: int = 8,
                     n_seeds: int = 3) -> list[str]:
    """The demo benchmark set used by the oracled q_corpus_prep AND the
    job's equality tests: the first-`gram_width`-token gram of the
    EXTRACTED text of turn 0 of the `n_seeds` smallest conv_ids. Bounded
    by construction: two driver collects of ≤ n_seeds rows (the
    turn_idx/conv_id filters push to the parquet scan), then the seed
    rows are extracted ON THE DRIVER with `extract_row` — no UDF stage
    runs. Production jobs pass a real benchmark-gram table instead
    (run_corpus_prep's bench_grams_path).

    Driver extraction (r10): a full mapInPandas job for 3 rows cost
    ~0.4s of pure stage/worker overhead per corpus_prep call; the driver
    call is ~1 ms. It must match the chain's extraction exactly, so it
    calls `extract_row(text, "")` as extract_map_in_pandas does for every
    row. The gram itself still evaluates through the SHARED JVM
    `tokens_expr` on a local 1-stage DataFrame — a Python
    re-tokenization here could drift from the chain's tokenizer."""
    ids = [r[0] for r in (tr.filter(F.col("turn_idx") == 0)
                          .select("conv_id").distinct()
                          .orderBy("conv_id").limit(n_seeds).collect())]
    seed_rows = (tr.filter((F.col("turn_idx") == 0)
                           & F.col("conv_id").isin(ids))
                 .select("text").collect())
    from ..udf import extract_row
    # url="": what extract_map_in_pandas passes for every row
    extracted = [extract_row(r["text"], "") for r in seed_rows]
    texts = [e["text"] for e in extracted if e["extract_ok"] and e["text"]]
    if not texts:
        return []
    btoks = tokens_expr()
    loc = tr.sparkSession.createDataFrame([(t,) for t in texts],
                                          "text string")
    rows = (loc.select(F.when(F.size(btoks) >= gram_width,
                              F.concat_ws(" ", F.slice(btoks, 1, gram_width)))
                       .alias("gram"))
            .filter(F.col("gram").isNotNull()).collect())
    return sorted({r["gram"] for r in rows})


#: driver-sampled keys per prefix-sum range (the bounds only set balance)
_SAMPLE_PER_RANGE = 64


def _range_bounds(bounds_from: DataFrame, key: str, n_ranges: int) -> list:
    """`n_ranges`-1 sorted split points of `key`, from a bounded,
    deterministic driver sample of `bounds_from`: the K = 64·n_ranges
    keys with the smallest xxhash64 (ties by key), one TakeOrdered
    collect. The same frame yields the same bounds on every run."""
    k = _SAMPLE_PER_RANGE * n_ranges
    sample = sorted({r[0] for r in (bounds_from.select(key)
                                    .filter(F.col(key).isNotNull())
                                    .orderBy(F.xxhash64(key), key)
                                    .limit(k).collect())})
    if not sample:
        return []
    return sorted({sample[i * len(sample) // n_ranges]
                   for i in range(1, n_ranges)})


def _range_id(col: Column, bounds: list, lo: int = 0,
              hi: int | None = None) -> Column:
    """Number of `bounds` ≤ col (bisect_right) as a balanced F.when tree
    over literal bounds: ~log2 P comparisons per row, and a pure
    function of the row — no shuffle or partition id is involved."""
    if hi is None:
        hi = len(bounds)
    if lo == hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return F.when(col < F.lit(bounds[mid]), _range_id(col, bounds, lo, mid)
                  ).otherwise(_range_id(col, bounds, mid + 1, hi))


def exclusive_prefix_sum(narrow: DataFrame, group_col: str, order_cols,
                         *, bounds_from: DataFrame) -> DataFrame:
    """Per-group exclusive running sum of `n` in `order_cols` order, as a
    distributed two-level prefix sum — the ONE implementation behind
    q_token_pack, q_seq_pack, q_corpus_prep stage 5 and run_corpus_prep.

    `narrow` carries (group_col, *order_cols, n); the result is the same
    rows plus `gstart`, the sum of `n` over the group's earlier rows.
    Level 1: every row gets `_pid`, its range of the LEADING order key
    among P-1 split points (P = defaultParallelism), and per-(_pid,
    group) totals reduce to ≤ P×G tiny rows. Level 2: per-group
    exclusive offsets by a window over those totals, broadcast back, plus
    each row's local running sum in a window partitioned by (_pid, group)
    — P×G concurrent sorts, never one global sort of the data.
    offset[_pid] + local_before is exact wherever the split points land
    (a row's _pid is monotone in its order key); they only set balance.

    The split points are driver literals sampled from `bounds_from`
    (a frame with the leading order key's column), so `_pid` is a pure
    function of the row: the totals and cumsum branches agree on it
    whether or not any exchange is reused, and with AQE on or off.
    `bounds_from` must be a CHEAP frame — never downstream of extraction
    or the ExactSubstr cut, which the sampling collect would run an
    extra time at build time."""
    order_cols = list(order_cols)
    n_ranges = max(narrow.sparkSession.sparkContext.defaultParallelism, 2)
    key = order_cols[0]
    bounds = _range_bounds(bounds_from, key, n_ranges)
    parts = narrow.withColumn("_pid", _range_id(F.col(key), bounds))
    totals = parts.groupBy("_pid", group_col).agg(F.sum("n").alias("_tot"))
    w_off = (Window.partitionBy(group_col).orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        "_pid", group_col,
        F.coalesce(F.sum("_tot").over(w_off), F.lit(0))
        .cast("long").alias("_off"))
    w_local = (Window.partitionBy("_pid", group_col).orderBy(*order_cols)
               .rowsBetween(Window.unboundedPreceding, -1))
    local_before = F.coalesce(F.sum("n").over(w_local), F.lit(0))
    return (parts.withColumn("_lb", local_before)
            .join(F.broadcast(offsets), ["_pid", group_col])
            .select(group_col, *order_cols, "n",
                    (F.col("_off") + F.col("_lb")).cast("long")
                    .alias("gstart")))


def pack_sequences(texts: DataFrame, group_col: str, order_cols,
                   seq_len: int, *, bounds_from: DataFrame) -> DataFrame:
    """Fixed-length packing: each group's `tokens_expr` tokens of
    `text`, concatenated in `order_cols` order, are cut into
    `seq_len`-token sequences; emits per-sequence token count and
    boundary tokens. Shared by q_seq_pack, q_corpus_prep stage 5 and
    run_corpus_prep.

    `texts` carries (group_col, *order_cols, text). Two frames are
    built from it: `base` with the token array and its size (toks, n)
    and `narrow` with the size only. The prefix sum
    (exclusive_prefix_sum, which documents `bounds_from`) runs on
    `narrow`, so token arrays never ride through its exchanges. Both
    frames tokenize ABOVE whatever exchange produced `texts`: when
    `texts` ends in a shuffle (q_corpus_prep's md5 dedup exchange), the
    subtree below it is byte-identical in every branch, so AQE reuses
    that exchange and the expensive extraction runs once; a toks/n
    column carried through the exchange would differ per branch after
    column pruning and defeat the reuse. Each row's global start offset
    then rejoins its tokens on order_cols, explodes to the ~n/seq_len
    sequences it overlaps, and a hash agg on (group, seq_idx) sums
    them."""
    order_cols = list(order_cols)
    keys = [group_col, *order_cols]
    toks = tokens_expr()
    base = (texts.withColumn("toks", toks)
            .withColumn("n", F.size("toks").cast("long"))
            .select(*keys, "toks", "n"))
    narrow = texts.select(*keys, F.size(toks).cast("long").alias("n"))
    starts = exclusive_prefix_sum(narrow, group_col, order_cols,
                                  bounds_from=bounds_from)
    g = base.join(starts.select(*order_cols, "gstart"), order_cols)
    s0 = F.floor(F.col("gstart") / seq_len)
    s1 = F.floor((F.col("gstart") + F.col("n") - 1) / seq_len)
    spans = (g.select(group_col, "toks", "n", "gstart",
                      F.explode(F.sequence(s0, s1)).alias("seq_idx"))
             .withColumn("lo", F.greatest(F.col("gstart"),
                                          F.col("seq_idx") * seq_len))
             .withColumn("hi", F.least(F.col("gstart") + F.col("n") - 1,
                                       F.col("seq_idx") * seq_len
                                       + (seq_len - 1))))
    at = (lambda pos: F.element_at(
        "toks", (pos - F.col("gstart") + 1).cast("int")))
    spans = spans.select(
        group_col, F.col("seq_idx").cast("long").alias("seq_idx"),
        (F.col("hi") - F.col("lo") + 1).alias("cnt"),
        F.col("lo").alias("lo_gpos"), at(F.col("lo")).alias("lo_tok"),
        F.col("hi").alias("hi_gpos"), at(F.col("hi")).alias("hi_tok"))
    return (spans.groupBy(group_col, "seq_idx")
            .agg(F.sum("cnt").cast("long").alias("n_tokens"),
                 F.min_by("lo_tok", "lo_gpos").alias("first_tok"),
                 F.max_by("hi_tok", "hi_gpos").alias("last_tok")))


def _win_at(k: int):
    """(0-based pos, xxhash64-of-k-token-window) struct at position i,
    as a HOF lambda. The gram STRING exists only inside this expression
    — what leaves the projection (and therefore what transits the
    explode, the occurrence hash-agg, and the duplicate-position
    equi-join) is the 8-byte hash (VERDICT r8 #2: at production W≈50
    BPE tokens a string gram is ~250 bytes, making that join the
    pipeline's largest shuffle at 100 TB; the hash cuts it ~30×). A
    64-bit collision merges two grams' occurrence counts — at 10^12
    windows P(any collision affecting a unique window) is ~1e-7-grade;
    Lee et al. 2022 likewise dedups on hashes. Closure factory; the
    lambda body slices a real COLUMN ("toks"), never an inline
    expression — see zip_grams' O(n²) alias-substitution warning."""
    def g(i):
        return F.struct(i.alias("pos"),
                        F.xxhash64(F.concat_ws(" ", F.slice("toks", i + 1, k)))
                         .alias("gram"))
    return g


def _win_at_str(k: int):
    """String-gram twin of _win_at (the pre-r9 shuffle key) — kept only
    so scripts/exact_substr_bench.py can measure the shuffle-byte cost
    the hashed key removes."""
    def g(i):
        return F.struct(i.alias("pos"),
                        F.concat_ws(" ", F.slice("toks", i + 1, k))
                         .alias("gram"))
    return g


def _span_str(x):
    """'s-e' rendering of a span struct, as a HOF lambda."""
    return F.concat_ws("-", x["s"].cast("string"), x["e"].cast("string"))


def _pos_uncovered(spans_col):
    """HOF lambda: position p is outside every (s, e) span. Closure
    factory (nested higher-order lambdas; no default-arg captures)."""
    def g(p):
        def covers(sp):
            return (p >= sp["s"]) & (p <= sp["e"])
        return ~F.exists(spans_col, covers)
    return g


def _tok_at_pos(p):
    """HOF lambda: the token at 0-based position p."""
    return F.element_at("toks", (p + 1).cast("int"))


def exact_substr_spans(tok_docs: DataFrame, W: int = 50,
                       hashed: bool = True) -> DataFrame:
    """ExactSubstr span extraction (Lee et al. 2022 §4.1) over a
    pre-tokenized (doc_id, toks:array<string>) frame — W is the window
    width in TOKENS of whatever tokenizer produced `toks` (whitespace
    words in the oracled demo, BPE-ish regex tokens at production
    settings, see scripts/exact_substr_bench.py). Returns per doc: span
    count, covered-token count/fraction, the canonical "s-e;s-e" span
    list, and `cut_text` — the tokens outside every span, rejoined (the
    artifact a removal pass emits). hashed=False keeps the raw gram
    string as the shuffle key (the pre-r9 shape) — retained ONLY for
    the shuffle-bytes A/B; production always hashes.

    Scale shape: window enumeration is a narrow map emitting xxhash64
    grams (8-byte fixed shuffle keys); occurrence counting one
    partial+final hash agg; duplicate positions a shuffle equi-join
    (corpus-proportional sides never broadcast); span merging the
    lag/cumsum islands window partitioned by doc_id. Every shuffle key
    is high-cardinality and unskewed — survives 100× as-is."""
    win = _win_at(W) if hashed else _win_at_str(W)
    gram_t = "bigint" if hashed else "string"
    wins = F.when(
        F.size("toks") >= W,
        F.transform(F.sequence(F.lit(0), F.size("toks") - W), win)
    ).otherwise(F.array().cast(f"array<struct<pos:int,gram:{gram_t}>>"))
    pos_df = (tok_docs.select("doc_id", F.explode(wins).alias("w"))
              .select("doc_id", F.col("w.pos").alias("pos"),
                      F.col("w.gram").alias("gram")))
    occ = pos_df.groupBy("gram").agg(F.count("*").alias("occ"))
    dup_pos = (pos_df.join(occ, "gram")
               .filter(F.col("occ") >= 2).select("doc_id", "pos"))
    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    islands = (dup_pos
               .withColumn("new_span",
                           F.when(F.col("pos") - F.lag("pos").over(by_doc)
                                  <= W, F.lit(0)).otherwise(F.lit(1)))
               .withColumn("island", F.sum("new_span").over(
                   by_doc.rowsBetween(Window.unboundedPreceding, 0))))
    spans = (islands.groupBy("doc_id", "island")
             .agg(F.min("pos").alias("s"),
                  (F.max("pos") + F.lit(W - 1)).alias("e")))
    per_doc = (spans.groupBy("doc_id")
               .agg(F.count("*").alias("n_dup_spans"),
                    F.sum(F.col("e") - F.col("s") + 1)
                     .alias("dup_span_tokens"),
                    F.sort_array(F.collect_list(F.struct("s", "e")))
                     .alias("_spans")))
    # the APPLIED cut: normalized tokens outside every span, rejoined —
    # the artifact a span-removal pass actually emits (O(n·n_spans)
    # narrow per-row work; spans stay tiny per doc)
    spans_or_empty = F.coalesce(
        "_spans", F.array().cast("array<struct<s:int,e:int>>"))
    kept = F.filter(F.sequence(F.lit(0), F.col("_nt") - 1),
                    _pos_uncovered(spans_or_empty))
    return (tok_docs.select("doc_id", "toks", F.size("toks").alias("_nt"))
            .join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                     .alias("n_dup_spans"),
                    F.coalesce("dup_span_tokens", F.lit(0)).cast("long")
                     .alias("dup_span_tokens"),
                    F.round(F.coalesce("dup_span_tokens", F.lit(0))
                            / F.col("_nt"), 4).alias("dup_span_frac"),
                    F.coalesce(
                        F.array_join(F.transform("_spans", _span_str), ";"),
                        F.lit("")).alias("dup_spans"),
                    F.array_join(F.transform(kept, _tok_at_pos), " ")
                     .alias("cut_text")))
