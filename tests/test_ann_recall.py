"""Graded ANN recall on a HARD clustered fixture (round-7 verdict item 3).

Every earlier recall assertion ran on corpora where the coarse
quantizer could not be wrong (cells built 1:1 with well-separated
blobs), so recall pinned at 1.0 and the nprobe/rescore knobs looked
free.  This fixture is the regime the knobs exist for: a Gaussian
mixture OVERSHARDED by the quantizer (cells ≈ 2·√n ≫ blobs), so each
blob splits across many cells and true neighbors straddle boundaries.

The tests pin the SHAPE of the trade, with loose floors so KMeans
float-order jitter can't flake them:
  * hardness: nprobe=1 recall is strictly below 1.0 (the fixture bends);
  * exactness: nprobe=n_cells recall IS 1.0 (probing everything
    degenerates to the exact scan);
  * monotonicity: more probes never lose recall (same assignment);
  * PQ: rescoring with the exact vectors at rescore_factor=8 beats the
    raw ADC ranking by a wide margin (ADC alone is lossy at sub=32).

The full curves (3072-d, the reference's width) live in SCALING.md via
tools/bench_ann_recall.py — these tests keep the fixture honest in CI.
"""

from __future__ import annotations

import numpy as np
import pytest

# Recall-QUALITY statistics over the hard planted corpus (curve bends,
# rescore lifts) — the exactness/semantics of every probe operator is
# pinned by the oracle entries and the batch-vs-loop equivalence tests;
# these curves are slow quality soaks (r13: excluded from the default
# run, select with -m slow).
pytestmark = pytest.mark.slow

from readwise_vector_db_spark.operators import pq
from readwise_vector_db_spark.operators import quantizer
from readwise_vector_db_spark.operators import similarity as sim

N, D, CENTERS, SIGMA = 1_500, 256, 12, 0.9
K = 10


@pytest.fixture(scope="module")
def hard_corpus(spark):
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((CENTERS, D)).astype(np.float32)
    labels = rng.integers(0, CENTERS, N)
    x = (centers[labels] + SIGMA * rng.standard_normal((N, D))).astype(np.float32)
    q = (
        centers[rng.integers(0, CENTERS, 8)]
        + SIGMA * rng.standard_normal((8, D))
    ).astype(np.float32)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = qn @ xn.T
    truth = [
        set(int(i) for i in np.argpartition(-row, K - 1)[:K]) for row in sims
    ]
    embs = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(N)],
        "vec_id long, embedding array<float>",
    ).repartition(8).persist()
    embs.count()
    yield embs, x, q, truth
    embs.unpersist()


def _recall(got: set, want: set) -> float:
    return len(got & want) / len(want)


def test_ivf_recall_curve_bends_and_converges(spark, hard_corpus):
    embs, x, q, truth = hard_corpus
    n_cells = max(32, int(2 * N ** 0.5))  # overshard: ~77 cells, 12 blobs
    assigned, cents = sim.build_ivf_index(
        embs, n_clusters=n_cells, fit_sample_rows=N, seed=5
    )
    assigned = assigned.persist()
    assigned.count()
    try:
        means = {}
        for nprobe in (1, 4, n_cells):
            recalls = []
            for qi in range(len(q)):
                got = {
                    int(r["neighbor_id"])
                    for r in sim.ivf_search(
                        assigned, cents, [float(v) for v in q[qi]],
                        k=K, nprobe=nprobe,
                    ).collect()
                }
                recalls.append(_recall(got, truth[qi]))
            means[nprobe] = float(np.mean(recalls))
        # hardness: one probe misses real neighbors on this fixture
        assert means[1] < 0.98, means
        # the fixture is hard, not broken: one probe still finds most
        assert means[1] > 0.25, means
        # monotone in nprobe, and full probing IS the exact result
        assert means[1] <= means[4] + 1e-9 <= means[n_cells] + 1e-9, means
        assert means[n_cells] == 1.0, means
    finally:
        assigned.unpersist()


def test_pq_rescore_lifts_hard_fixture_recall(spark, hard_corpus):
    embs, x, q, truth = hard_corpus
    books = quantizer.train_pq_codebooks(embs, m=8, k=64, sample_rows=N, seed=5)
    codes = quantizer.pq_encode(embs, books).persist()
    codes.count()
    try:
        def run(rescore, rf):
            recalls = []
            for qi in range(len(q)):
                got = {
                    int(r["vec_id"])
                    for r in pq.pq_search(
                        codes, [float(v) for v in q[qi]], books,
                        k=K, rescore=rescore, rescore_factor=rf,
                    ).collect()
                }
                recalls.append(_recall(got, truth[qi]))
            return float(np.mean(recalls))

        raw = run(None, 4)
        rescored = run(embs, 8)
        # ADC at sub=32 is lossy here (the honest floor), and the
        # two-phase rescore buys a wide margin back
        assert raw < 0.9, raw
        assert rescored >= raw + 0.1, (raw, rescored)
        assert rescored >= 0.5, rescored
    finally:
        codes.unpersist()
