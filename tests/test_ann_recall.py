"""Production-shaped IVF-PQ recall floor (VERDICT r7 #2).

The registered `ann_partitions` oracle runs a deliberately small
configuration (k=4 cells / 4 codes per subspace) so the DuckDB training
oracle stays tractable; this test runs the SAME textops training and
search path (kmeans_fit -> pq_train -> probe -> ADC shortlist -> exact
rerank) at production-shaped parameters — IVF k=64, PQ k=64 — and
asserts a recall floor on a seeded clustered corpus, the way
tests/test_textops_streaming.py::test_minhash_production_params_recall
does for LSH. Full sweep tables (incl. the uniform-noise honest
negative and the k=16/256 codebook columns): BENCH/pq_recall.md,
regenerated by scripts/pq_recall.py.
"""

import os
import sys

import pytest

from conftest import REPO  # noqa: E402
sys.path.insert(0, os.path.join(REPO, "scripts"))

pytestmark = pytest.mark.usefixtures()


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .appName("ann-recall-test").getOrCreate())
    yield s


def test_ivfpq_production_recall_floor(spark):
    """IVF k=64 + PQ k=64 + rerank(R=50) on the seeded clustered corpus:
    recall@10 >= 0.90 while scanning <= 5% of the corpus at nprobe=2,
    and the nprobe knob buys monotone recall at nprobe=8."""
    from pq_recall import build_clustered_corpus, sweep_prod, train_prod

    ids, X = build_clustered_corpus()
    assert len(X) == 2000
    cell, C, books = train_prod(spark, ids, X, pq_k=64)
    # every cell is used and the books have the production shape
    assert len(set(cell.tolist())) > 32
    assert len(books) == 4 and all(len(b) == 64 for b in books)
    out = sweep_prod(ids, X, cell, C, books, nprobes=(2, 8))
    # the asserted floor (measured 0.972 / 0.040 — deterministic corpus
    # and training, so the margin is real, not luck)
    assert out[2]["r10_rerank"] >= 0.90
    assert out[2]["frac"] <= 0.05
    # more probes must not hurt, and reach the documented 0.99 tier
    assert out[8]["r10_rerank"] >= out[2]["r10_rerank"] - 0.005
    assert out[8]["r10_rerank"] >= 0.95
    # rerank is the production answer: it must beat raw ADC@10 clearly
    assert out[2]["r10_rerank"] >= out[2]["r10"] + 0.2


def test_semdedup_recall_floor(spark):
    """SemDeDup dup-recall floor (VERDICT r7 #4) on the planted-dup
    corpus: with k sized to the max_cluster knob (the paper's k-scaling
    prescription), the guard is a no-op and recall is complete;
    precision is 1.0 by construction. Full configuration table:
    BENCH/semdedup_recall.md (scripts/semdedup_recall.py)."""
    from semdedup_recall import (build_dup_corpus, measured_dups,
                                 trained_centroids, true_dups)

    ids, X = build_dup_corpus()
    truth = true_dups(X, threshold=0.9)
    assert len(truth) == 120          # every planted copy is a true dup
    sized = trained_centroids(spark, ids, X, 32)
    got = measured_dups(spark, ids, X, sized, 0.9, max_cluster=48)
    assert got <= truth               # precision 1.0
    assert len(got & truth) / len(truth) >= 0.95   # measured 1.000
    # and the matched guard-off control: the guard costs nothing at
    # the prescribed k (same flag set, not merely similar recall)
    off = measured_dups(spark, ids, X, sized, 0.9, max_cluster=None)
    assert got == off
