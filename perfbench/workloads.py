"""Seeded workload generator.

Every workload is a seeded sample of the committed synthetic transcripts
(``data/synth/sf1.0``); nothing is regenerated. The program under test only
ever sees the parquet files written here.

Run as a script (``python3 perfbench/workloads.py --workload W --seed N
--size N --out DIR``) so the multi-hundred-MB source table is read in a
process of its own and its memory never counts against the benchmarked
process tree. It writes into DIR:

* ``transcripts.parquet``  the input the program reads;
* ``expected.parquet``     the golden assertions of every sampled markup turn;
* ``grams.parquet``        (corpus_prep only) the benchmark-gram table;
* ``replay.parquet``       a seeded row sample for the traced replay;
* ``shares.json``          the traffic shares of the input.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SYNTH_DIR = os.path.join("data", "synth", "sf1.0")
GRAM_WIDTH = 8          # run_corpus_prep's default gram_width
N_GRAMS = 10_000        # benchmark-gram table size
HIT_GRAMS = 300         # grams drawn from sampled turns' expected text
REPLAY_ROWS = 1000      # enough for a p99 with 10 samples beyond it

WORKLOADS = ("chat_turns", "corpus_prep")


def _markup_mask(text: pa.ChunkedArray) -> pa.ChunkedArray:
    return pc.match_substring(text, "<")


def sample_turns(table: pa.Table, workload: str, seed: int,
                 size: int) -> pa.Table:
    """Every turn (chat_turns: every plain-text turn) of a seeded sample of
    conversations, taken in shuffled order until `size` turns are in; the
    last conversation is cut to its first turns so exactly `size` are."""
    if workload == "chat_turns":
        table = table.filter(pc.invert(_markup_mask(table.column("text"))))
    counts = table.group_by("conv_id").aggregate([("turn_idx", "count")])
    conv = counts.column("conv_id").to_numpy(zero_copy_only=False)
    n = counts.column("turn_idx_count").to_numpy()
    order = np.argsort(conv, kind="stable")   # group_by order is unspecified
    conv, n = conv[order], n[order]
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    perm = rng.permutation(len(conv))
    take = int(np.searchsorted(np.cumsum(n[perm]), size)) + 1
    picked = pa.array(conv[perm[:take]])
    out = table.filter(pc.is_in(table.column("conv_id"), value_set=picked))
    out = out.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    excess = out.num_rows - size
    if excess > 0:
        last = conv[perm[take - 1]]
        in_last = pc.equal(out.column("conv_id"), last)
        turns = pc.filter(out.column("turn_idx"), in_last)
        cut = pc.greater(out.column("turn_idx"),
                         np.sort(turns.to_numpy())[-excess - 1])
        out = out.filter(pc.invert(pc.and_(in_last, cut)))
    return out


def traffic_shares(table: pa.Table) -> dict:
    text = table.column("text")
    rows = table.num_rows
    markup = pc.sum(_markup_mask(text)).as_py() or 0
    distinct = pc.count_distinct(text).as_py()
    per_conv = table.group_by("conv_id").aggregate([("turn_idx", "count")])
    return {
        "rows": rows,
        "mb": round(pc.sum(pc.binary_length(text)).as_py() / 1e6, 3),
        "markup_row_share": round(markup / rows, 4),
        "plain_text_share": round((rows - markup) / rows, 4),
        "duplicate_text_share": round(1 - distinct / rows, 4),
        "max_conversation_turns": int(pc.max(
            per_conv.column("turn_idx_count")).as_py()),
        "conversations": per_conv.num_rows,
    }


def _grams_of(text: str) -> list[str]:
    """Word 8-grams under corpus_ops.tokens_expr's tokenizer
    (lower → trim → split on whitespace runs)."""
    toks = text.lower().split()
    return [" ".join(toks[i:i + GRAM_WIDTH])
            for i in range(len(toks) - GRAM_WIDTH + 1)]


def bench_grams(expected: pa.Table, seed: int) -> pa.Table:
    """About 10^4 benchmark 8-grams. HIT_GRAMS of them come from the
    expected extracted text of sampled markup turns, so decontamination
    drops a nonzero share; the rest are seeded word salad that matches
    nothing."""
    rng = np.random.default_rng([seed, len(WORKLOADS)])
    texts = [t for t in expected.column("exp_text_full").to_pylist() if t]
    grams: list[str] = []
    for i in rng.permutation(len(texts))[:HIT_GRAMS]:
        g = _grams_of(texts[i])
        if g:
            grams.append(g[int(rng.integers(len(g)))])
    vocab = [f"zq{i:04d}" for i in range(5000)]
    while len(grams) < N_GRAMS:
        grams.append(" ".join(vocab[j] for j in
                              rng.integers(len(vocab), size=GRAM_WIDTH)))
    return pa.table({"gram": pa.array(sorted(set(grams)), pa.string())})


def replay_rows(sample: pa.Table, seed: int, path: str) -> pa.Table:
    """REPLAY_ROWS seeded rows in the columns the extraction UDF receives
    (the write path adds the input_file lineage column)."""
    rng = np.random.default_rng([seed, len(WORKLOADS) + 1])
    idx = np.sort(rng.permutation(sample.num_rows)[:REPLAY_ROWS])
    rows = sample.take(pa.array(idx))
    return rows.append_column(
        "input_file", pa.array([path] * rows.num_rows, pa.string()))


def generate(workload: str, seed: int, size: int, out: str) -> dict:
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    src = pq.read_table(os.path.join(SYNTH_DIR, "transcripts.parquet"))
    sample = sample_turns(src, workload, seed, size)
    del src
    expected = pq.read_table(os.path.join(SYNTH_DIR, "expected.parquet"))
    keys = sample.select(["conv_id", "turn_idx"])
    # a hash join's output order varies from run to run; bench_grams draws
    # from this table by position, so fix the order
    expected = (expected.join(keys, ["conv_id", "turn_idx"], join_type="inner")
                .sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")]))
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "transcripts.parquet")
    pq.write_table(sample, path, row_group_size=4096)
    pq.write_table(replay_rows(sample, seed, path),
                   os.path.join(out, "replay.parquet"))
    pq.write_table(expected, os.path.join(out, "expected.parquet"))
    shares = traffic_shares(sample)
    shares["expected_rows"] = expected.num_rows
    if workload == "corpus_prep":
        grams = bench_grams(expected, seed)
        pq.write_table(grams, os.path.join(out, "grams.parquet"))
        shares["bench_grams"] = grams.num_rows
    with open(os.path.join(out, "shares.json"), "w") as f:
        json.dump(shares, f)
    return shares


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--size", type=int, required=True,
                   help="number of turns in the sample")
    p.add_argument("--out", required=True)
    a = p.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.size, a.out)))


if __name__ == "__main__":
    main()
