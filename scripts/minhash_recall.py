"""MinHash/LSH recall vs brute-force ground truth (VERDICT r2 item 6).

Builds a seeded corpus with planted near-duplicates across the Jaccard
range, computes exact 3-word-shingle Jaccard for ALL pairs in plain
Python (independent of the Spark implementation), runs
lsh_candidate_pairs at the demonstration parameters (8 hashes / 4 bands)
and the production parameters (128 hashes / 32 bands), and writes the
per-Jaccard-bucket recall table to BENCH/minhash_recall.md.

Theory: a pair with Jaccard j becomes a candidate with probability
1-(1-j^r)^b, r = hashes/bands rows per band. 8/4 (r=2,b=4) gives 0.93 at
j=0.7 and decays fast below; 128/32 (r=4,b=32) gives >0.9998 at j=0.7
and 0.87 even at j=0.5 — that's why production near-dup dedup runs wide
signatures.
"""

from __future__ import annotations

import random
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VOCAB_SIZE = 4000
DOC_TOKENS = 80
K = 3  # shingle words, matching textops.SHINGLE_WORDS
# replacement rates chosen to land pairs across the Jaccard range
MUTATION_RATES = [0.01, 0.03, 0.06, 0.10, 0.16, 0.25]
BUCKETS = [(0.3, 0.5), (0.5, 0.6), (0.6, 0.7), (0.7, 0.8),
           (0.8, 0.9), (0.9, 1.01)]


def build_corpus(n_base: int, seed: int = 42):
    rng = random.Random(seed)
    vocab = [f"w{i:04d}" for i in range(VOCAB_SIZE)]
    rows = []
    doc_id = 0
    for i in range(n_base):
        toks = [rng.choice(vocab) for _ in range(DOC_TOKENS)]
        rows.append((doc_id, " ".join(toks)))
        doc_id += 1
        rate = MUTATION_RATES[i % len(MUTATION_RATES)]
        mut = list(toks)
        for p in range(len(mut)):
            if rng.random() < rate:
                mut[p] = rng.choice(vocab)
        rows.append((doc_id, " ".join(mut)))
        doc_id += 1
    return rows


def shingle_set(text: str) -> frozenset:
    """Replicates textops.shingles_col: distinct k-word shingles of the
    lowercased whitespace split; whole doc if shorter than k."""
    toks = text.lower().split()
    if len(toks) < K:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + K]) for i in range(len(toks) - K + 1))


def ground_truth(rows, min_j: float = 0.3):
    sets = {i: shingle_set(t) for i, t in rows}
    ids = sorted(sets)
    truth = {}
    for ai in range(len(ids)):
        a = ids[ai]
        sa = sets[a]
        for b in ids[ai + 1:]:
            sb = sets[b]
            inter = len(sa & sb)
            if not inter:
                continue
            j = inter / len(sa | sb)
            if j >= min_j:
                truth[(a, b)] = j
    return truth


def recall_table(truth, candidates):
    out = []
    for lo, hi in BUCKETS:
        in_bucket = [p for p, j in truth.items() if lo <= j < hi]
        if not in_bucket:
            out.append((lo, hi, 0, 0, float("nan")))
            continue
        hit = sum(1 for p in in_bucket if p in candidates)
        out.append((lo, hi, len(in_bucket), hit, hit / len(in_bucket)))
    return out


def main():
    from pyspark.sql import SparkSession
    from snacktory_spark.textops import lsh_candidate_pairs

    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 250
    rows = build_corpus(n_base)
    truth = ground_truth(rows)
    print(f"corpus: {len(rows)} docs, {len(truth)} true pairs with j>=0.3")

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .appName("minhash-recall").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    configs = [("demo 8 hashes / 4 bands (r=2)", 8, 4),
               ("production 128 hashes / 32 bands (r=4)", 128, 32)]
    results = {}
    for label, nh, nb in configs:
        cands = {(r["doc_a"], r["doc_b"])
                 for r in lsh_candidate_pairs(docs, n_hashes=nh,
                                              n_bands=nb).collect()}
        results[label] = (cands, recall_table(truth, cands))
        print(f"{label}: {len(cands)} candidate pairs")

    lines = [
        "# MinHash/LSH recall vs brute-force ground truth",
        "",
        "Generated by `scripts/minhash_recall.py` (seeded corpus of "
        f"{len(rows)} docs: {n_base} bases + 1 mutant each at replacement "
        f"rates {MUTATION_RATES}; ground truth = exact 3-word-shingle "
        "Jaccard over ALL pairs, computed in plain Python independently "
        "of the Spark path).",
        "",
        "Candidate probability for a pair with Jaccard j is "
        "`1-(1-j^r)^b` (r rows/band, b bands): widening the signature "
        "from the demonstration 8/4 to the production 128/32 moves the "
        "s-curve threshold from ~0.55 to ~0.35 and pushes recall at "
        "j>=0.7 to ~1.",
        "",
    ]
    for label, (cands, table) in results.items():
        lines += [f"## {label}", "",
                  f"{len(cands)} candidate pairs emitted.", "",
                  "| Jaccard bucket | true pairs | candidates hit | recall |",
                  "|---|---|---|---|"]
        for lo, hi, n, hit, rec in table:
            rec_s = f"{rec:.3f}" if n else "—"
            hi_s = "1.0" if hi > 1 else f"{hi}"
            lines.append(f"| [{lo}, {hi_s}) | {n} | {hit} | {rec_s} |")
        lines.append("")
    with open(os.path.join(REPO, "BENCH", "minhash_recall.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote BENCH/minhash_recall.md")


if __name__ == "__main__":
    main()
