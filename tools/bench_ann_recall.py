"""Honest ANN recall curves on a HARD clustered corpus + IVF-PQ staleness.

Round-6 verdict items 3 and 7: every 3072-d recall number this repo had
published read 1.000 because the synthetic fixture embeddings are
near-uniform — the regime where any probe that lands in the right cell
finds everything.  This tool builds the corpus ANN indexes exist FOR —
a Gaussian mixture whose clusters OVERLAP (within-cluster sigma ~ the
center scale), so true nearest neighbors straddle coarse-quantizer
cells — and publishes recall@10 curves that actually bend:

  sweep mode:  recall@10 vs nprobe (IVF, single- and multi-assign) and
               vs m / rescore_factor (PQ ADC), at the reference's
               3072-d width.
  drift mode:  recall@10 vs appended-increment fraction when increments
               come from a SHIFTED mixture and the IVF-PQ model stays
               frozen (append_to_ivfpq_index's documented staleness
               question), against a same-corpus retrain control.
  opq mode:    (round 8 — the published fix for the r7 0.39 floor)
               plain-PQ vs OPQ-rotated codebooks, and fixed rf=8 vs the
               margin-probe-sized rescore factor, on the SAME hard
               fixture the floor was measured on — plus each model's
               quantization error, the mechanism the rotation improves.

Usage:
  python tools/bench_ann_recall.py sweep  [n] [d] [centers] [sigma]
  python tools/bench_ann_recall.py drift  [n] [d] [centers] [sigma]
  python tools/bench_ann_recall.py opq    [n] [d] [centers] [sigma]

Methodology: ground truth is the exact cosine top-10 computed in numpy
on the driver (the corpus fits by construction); recall is id-set
overlap averaged over held-out mixture queries.  Corpus/queries are
fully deterministic (seeded numpy) and written to parquet via pyarrow
so Spark reads the same bytes every run.  One JSON line per config.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

WORK = os.environ.get("RWVDB_ANN_RECALL_DIR", "/tmp/ann_recall_bench")


def make_mixture(
    n: int,
    d: int,
    n_centers: int,
    sigma: float,
    seed: int,
    centers: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(vectors, centers): a Gaussian mixture with unit-scale centers
    and within-cluster noise ``sigma`` — at sigma ~ 0.8-1.0 the clusters
    overlap and a point's true neighbors straddle cells (the hard case);
    at sigma -> 0 every neighbor shares a cell (the easy case the old
    fixtures accidentally measured)."""
    rng = np.random.default_rng(seed)
    if centers is None:
        centers = rng.standard_normal((n_centers, d)).astype(np.float32)
    labels = rng.integers(0, len(centers), n)
    x = centers[labels] + sigma * rng.standard_normal((n, d)).astype(np.float32)
    return x.astype(np.float32), centers


def write_corpus(x: np.ndarray, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq_pa

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    ids = pa.array(np.arange(len(x), dtype=np.int64))
    emb = pa.array(list(x), type=pa.list_(pa.float32()))
    # several row groups so Spark parallelizes the scan
    step = max(1, len(x) // 8)
    for i, lo in enumerate(range(0, len(x), step)):
        hi = min(len(x), lo + step)
        pq_pa.write_table(
            pa.table({"vec_id": ids[lo:hi], "embedding": emb[lo:hi]}),
            f"{path}/part-{i:03d}.parquet",
        )


def exact_topk_ids(x: np.ndarray, queries: np.ndarray, k: int = 10) -> list[set]:
    """Ground truth: exact cosine top-k id sets per query, numpy."""
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    qn = queries / np.maximum(
        np.linalg.norm(queries, axis=1, keepdims=True), 1e-12
    )
    sims = qn @ xn.T  # (Q, n)
    out = []
    for row in sims:
        top = np.argpartition(-row, k - 1)[:k]
        out.append(set(int(i) for i in top[np.argsort(-row[top])]))
    return out


def recall(got: set, want: set) -> float:
    return len(got & want) / len(want)


def emit(**kv) -> None:
    print(json.dumps(kv), flush=True)


def run_sweep(n: int, d: int, n_centers: int, sigma: float) -> None:
    from readwise_vector_db_spark.operators import pq
    from readwise_vector_db_spark.operators import quantizer
    from readwise_vector_db_spark.operators import similarity as sim
    from readwise_vector_db_spark.session import get_spark

    spark = get_spark("ann_recall_sweep")
    x, centers = make_mixture(n, d, n_centers, sigma, seed=3)
    n_q = 16
    q, _ = make_mixture(n_q, d, n_centers, sigma, seed=17, centers=centers)
    truth = exact_topk_ids(x, q)
    corpus_path = f"{WORK}/sweep_corpus"
    write_corpus(x, corpus_path)
    embs = spark.read.parquet(corpus_path)
    # THE hard-fixture lever: the coarse quantizer is OVERSHARDED
    # relative to the mixture (cells ≈ 2·√n over n_centers blobs, the
    # production IVF sizing — FAISS recommends 4·√n..16·√n nlist), so
    # each blob splits across many cells and a point's true neighbors
    # straddle cell boundaries.  The r6 measurements read 1.000 because
    # cells were built 1:1 with blobs — the quantizer could not be
    # wrong.  One cell per blob is the toy case; cells ≪ blobs is
    # underfitting; cells ≫ blob count is what k≈√n sizing produces on
    # any real corpus.
    n_cells = max(32, int(2 * n ** 0.5))
    emit(
        corpus="clustered", n=n, d=d, centers=n_centers, sigma=sigma,
        quantizer_cells=n_cells,
    )

    # --- IVF: recall@10 vs nprobe, single- and multi-assign -------------
    for n_assign in (1, 2):
        t0 = time.monotonic()
        assigned, cents = sim.build_ivf_index(
            embs, n_clusters=n_cells, n_assign=n_assign,
            fit_sample_rows=min(n, 8000),
        )
        assigned = assigned.persist()
        assigned.count()
        build_s = time.monotonic() - t0
        for nprobe in sorted({1, 2, 4, 8, 16, 32, n_cells}):
            recalls = []
            for qi in range(n_q):
                got = {
                    int(r["neighbor_id"])
                    for r in sim.ivf_search(
                        assigned, cents, [float(v) for v in q[qi]],
                        k=10, nprobe=nprobe, multi_assigned=n_assign > 1,
                    ).collect()
                }
                recalls.append(recall(got, truth[qi]))
            emit(
                config=f"ivf_na{n_assign}_np{nprobe}",
                nprobe=nprobe, n_assign=n_assign, n_cells=n_cells,
                recall_at_10=round(float(np.mean(recalls)), 3),
                recall_min=round(float(np.min(recalls)), 3),
                build_s=round(build_s, 1),
            )
        assigned.unpersist()

    # --- PQ: recall@10 vs m and rescore_factor --------------------------
    q_rows = [(int(1_000_000 + i), [float(v) for v in q[i]]) for i in range(n_q)]
    q_df = spark.createDataFrame(q_rows, "query_id long, query_vec array<double>")
    m_list = sorted({m for m in (d // 96, d // 48) if m > 0 and d % m == 0})
    for m in m_list:  # 3072-d -> m=32 (sub 96), m=64 (sub 48)
        t0 = time.monotonic()
        books = quantizer.train_pq_codebooks(embs, m=m, k=256, sample_rows=8000)
        codes = quantizer.pq_encode(embs, books).persist()
        codes.count()
        build_s = time.monotonic() - t0
        for rf in (None, 2, 4, 8):
            got_join = pq.pq_knn_join(
                codes, q_df, books, k=10,
                rescore=None if rf is None else embs,
                rescore_factor=rf or 4,
            ).collect()
            per_q: dict[int, set] = {}
            for r in got_join:
                per_q.setdefault(int(r["query_id"]) - 1_000_000, set()).add(
                    int(r["neighbor_id"])
                )
            recalls = [recall(per_q.get(i, set()), truth[i]) for i in range(n_q)]
            emit(
                config=f"pq_m{m}_rf{rf or 0}",
                m=m, rescore_factor=rf or 0,
                recall_at_10=round(float(np.mean(recalls)), 3),
                recall_min=round(float(np.min(recalls)), 3),
                build_s=round(build_s, 1),
            )
        codes.unpersist()

    # --- IVF-PQ composed -------------------------------------------------
    m = m_list[-1]
    assigned, cents = sim.build_ivf_index(
        embs, n_clusters=n_cells, fit_sample_rows=min(n, 8000)
    )
    books = quantizer.train_pq_codebooks(embs, m=m, k=256, sample_rows=8000)
    icodes = quantizer.ivfpq_encode(embs, cents, books).persist()
    icodes.count()
    for nprobe in (4, 8, 16):
        for rf in (4, 8):
            recalls = []
            for qi in range(n_q):
                got = {
                    int(r["vec_id"])
                    for r in pq.ivfpq_search(
                        icodes, cents, books, [float(v) for v in q[qi]],
                        k=10, nprobe=nprobe, rescore=embs, rescore_factor=rf,
                    ).collect()
                }
                recalls.append(recall(got, truth[qi]))
            emit(
                config=f"ivfpq_np{nprobe}_rf{rf}",
                nprobe=nprobe, rescore_factor=rf,
                recall_at_10=round(float(np.mean(recalls)), 3),
                recall_min=round(float(np.min(recalls)), 3),
            )
    icodes.unpersist()


def run_opq(n: int, d: int, n_centers: int, sigma: float) -> None:
    """Plain PQ vs OPQ, fixed vs auto rescore factor — same corpus,
    queries, and truth construction as sweep mode (seeds 3/17), so the
    rows compare directly against the round-7 floor measurements."""
    from readwise_vector_db_spark.operators import pq
    from readwise_vector_db_spark.operators import quantizer
    from readwise_vector_db_spark.session import get_spark

    spark = get_spark("ann_recall_opq")
    x, centers = make_mixture(n, d, n_centers, sigma, seed=3)
    n_q = 16
    q, _ = make_mixture(n_q, d, n_centers, sigma, seed=17, centers=centers)
    truth = exact_topk_ids(x, q)
    corpus_path = f"{WORK}/opq_corpus"
    write_corpus(x, corpus_path)
    embs = spark.read.parquet(corpus_path)
    q_rows = [(int(1_000_000 + i), [float(v) for v in q[i]]) for i in range(n_q)]
    q_df = spark.createDataFrame(q_rows, "query_id long, query_vec array<double>")
    m = max(8, d // 48)
    err_sample = x[:4000]
    emit(corpus="clustered", mode="opq", n=n, d=d, centers=n_centers,
         sigma=sigma, m=m)

    models = {}
    t0 = time.monotonic()
    models["plain"] = (
        None, quantizer.train_pq_codebooks(embs, m=m, k=256, sample_rows=8000)
    )
    t_plain = time.monotonic() - t0
    t0 = time.monotonic()
    rot, obooks = quantizer.train_opq(embs, m=m, k=256, sample_rows=8000, opq_iters=8)
    models["opq"] = (rot, obooks)
    t_opq = time.monotonic() - t0

    for label, (rotation, books) in models.items():
        qe = quantizer.quantization_error(err_sample, books, rotation=rotation)
        codes = quantizer.pq_encode(embs, books, rotation=rotation).persist()
        codes.count()
        t0 = time.monotonic()
        rf_auto = pq.estimate_rescore_factor(
            embs, books, rotation=rotation, k=10, sample_corpus=8000,
            n_queries=24,
        )
        probe_s = time.monotonic() - t0
        for rf in sorted({0, 8, rf_auto}):
            got_join = pq.pq_knn_join(
                codes, q_df, books, k=10,
                rescore=None if rf == 0 else embs,
                rescore_factor=rf or 4,
                rotation=rotation,
            ).collect()
            per_q: dict[int, set] = {}
            for r in got_join:
                per_q.setdefault(int(r["query_id"]) - 1_000_000, set()).add(
                    int(r["neighbor_id"])
                )
            recalls = [recall(per_q.get(i, set()), truth[i]) for i in range(n_q)]
            emit(
                config=f"{label}_m{m}_rf{rf}",
                model=label, rescore_factor=rf,
                rf_is_auto=rf == rf_auto and rf != 8,
                rf_auto=rf_auto,
                quant_err=round(qe, 5),
                recall_at_10=round(float(np.mean(recalls)), 3),
                recall_min=round(float(np.min(recalls)), 3),
                train_s=round(t_plain if label == "plain" else t_opq, 1),
                rf_probe_s=round(probe_s, 1),
            )
        codes.unpersist()

    # --- composed: IVF-PQ with the OPQ rotation + auto rf ---------------
    # The serving-shaped config: coarse cells prune the scan (original
    # space — rotation never touches the layout), rotated ADC shortlists
    # inside the probed cells, margin-sized rescore.  This is the row a
    # real deployment runs.
    from readwise_vector_db_spark.operators import similarity as sim

    n_cells = max(32, int(2 * n ** 0.5))
    rot, obooks = models["opq"]
    _, cents = sim.build_ivf_index(
        embs, n_clusters=n_cells, fit_sample_rows=min(n, 8000)
    )
    icodes = quantizer.ivfpq_encode(embs, cents, obooks, rotation=rot).persist()
    icodes.count()
    for nprobe in (8, 16):
        recalls = []
        for qi in range(n_q):
            got = {
                int(r["vec_id"])
                for r in pq.ivfpq_search(
                    icodes, cents, obooks, [float(v) for v in q[qi]],
                    k=10, nprobe=nprobe, rescore=embs,
                    rescore_factor="auto", rotation=rot,
                ).collect()
            }
            recalls.append(recall(got, truth[qi]))
        emit(
            config=f"ivfpq_opq_np{nprobe}_rfauto",
            nprobe=nprobe, n_cells=n_cells,
            recall_at_10=round(float(np.mean(recalls)), 3),
            recall_min=round(float(np.min(recalls)), 3),
        )
    icodes.unpersist()


def run_drift(n: int, d: int, n_centers: int, sigma: float) -> None:
    """Staleness: frozen IVF-PQ model vs increments from a SHIFTED
    mixture.  Emits recall on shifted-distribution queries after each
    cumulative append (frozen model) and the same-corpus retrain
    control, so the gap IS the staleness cost."""
    from readwise_vector_db_spark.operators import pq
    from readwise_vector_db_spark.operators import quantizer
    from readwise_vector_db_spark.operators import similarity as sim
    from readwise_vector_db_spark.session import get_spark

    spark = get_spark("ann_recall_drift")
    base, centers_a = make_mixture(n, d, n_centers, sigma, seed=5)
    # drifted regime: NEW centers (a new crawl source / domain shift)
    rng = np.random.default_rng(29)
    centers_b = rng.standard_normal((n_centers, d)).astype(np.float32)
    n_q = 16
    q_b, _ = make_mixture(n_q, d, n_centers, sigma, seed=31, centers=centers_b)
    q_a, _ = make_mixture(n_q, d, n_centers, sigma, seed=37, centers=centers_a)

    m = max(8, d // 48)
    n_cells = max(32, int(2 * n ** 0.5))  # same overshard as sweep mode
    base_path = f"{WORK}/drift_base"
    write_corpus(base, base_path)
    base_df = spark.read.parquet(base_path)
    assigned, cents = sim.build_ivf_index(
        base_df, n_clusters=n_cells, fit_sample_rows=min(n, 8000)
    )
    books = quantizer.train_pq_codebooks(base_df, m=m, k=256, sample_rows=8000)
    idx_path = f"{WORK}/drift_ivfpq"
    shutil.rmtree(idx_path, ignore_errors=True)
    pq.save_ivfpq_index(
        quantizer.ivfpq_encode(base_df, cents, books), cents, books, idx_path
    )

    corpus = base
    appended = 0
    for frac in (0.0, 0.25, 0.5, 1.0):
        target = int(frac * n)
        if target > appended:
            inc, _ = make_mixture(
                target - appended, d, n_centers, sigma,
                seed=41 + target, centers=centers_b,
            )
            inc_ids = n + appended + np.arange(len(inc))
            inc_path = f"{WORK}/drift_inc"
            write_corpus(inc, inc_path)
            inc_df = spark.read.parquet(inc_path).withColumn(
                "vec_id", F.col("vec_id") + F.lit(int(n + appended))
            )
            pq.append_to_ivfpq_index(inc_df, idx_path)
            corpus = np.vstack([corpus, inc])
            appended = target
            del inc_ids

        full_path = f"{WORK}/drift_full"
        write_corpus(corpus, full_path)
        full_df = spark.read.parquet(full_path)
        icodes, icents, ibooks = pq.load_ivfpq_index(spark, idx_path)

        def recall_set(queries: np.ndarray, codes, cts, bks) -> float:
            truth = exact_topk_ids(corpus, queries)
            recs = []
            for qi in range(len(queries)):
                got = {
                    int(r["vec_id"])
                    for r in pq.ivfpq_search(
                        codes, cts, bks, [float(v) for v in queries[qi]],
                        k=10, nprobe=8, rescore=full_df, rescore_factor=8,
                    ).collect()
                }
                recs.append(recall(got, truth[qi]))
            return float(np.mean(recs))

        frozen_b = recall_set(q_b, icodes, icents, ibooks)
        frozen_a = recall_set(q_a, icodes, icents, ibooks)

        # retrain control: model refit on the CURRENT corpus
        r_assigned, r_cents = sim.build_ivf_index(
            full_df, n_clusters=n_cells,
            fit_sample_rows=min(len(corpus), 8000),
        )
        r_books = quantizer.train_pq_codebooks(full_df, m=m, k=256, sample_rows=8000)
        r_codes = quantizer.ivfpq_encode(full_df, r_cents, r_books).persist()
        r_codes.count()
        retrain_b = recall_set(q_b, r_codes, r_cents, r_books)
        r_codes.unpersist()

        emit(
            mode="drift", increment_frac=frac,
            corpus_rows=len(corpus),
            recall_frozen_shifted=round(frozen_b, 3),
            recall_frozen_base=round(frozen_a, 3),
            recall_retrained_shifted=round(retrain_b, 3),
            staleness_gap=round(retrain_b - frozen_b, 3),
        )


def run_remediate(
    n: int,
    d: int,
    n_centers: int,
    sigma: float,
    drift_centers: int | None = None,
) -> None:
    """Round 10 (r9 verdict item 3): measure targeted drift remediation.
    Same shifted-mixture regime as drift mode — a drifted increment
    that FAILS the append gate — then three ways forward, each with
    shifted-query recall@10 (rescored) and bytes rewritten:

      forced:      max_distortion_ratio=None force-append (the r9-era
                   only alternative to a rebuild)
      recluster:   pq.recluster_cells on the offending cells, then the
                   same append (now gate-clean)
      retrain:     full model rebuild on the combined corpus (the upper
                   bound, at full-rewrite cost)
    """
    from readwise_vector_db_spark.operators import pq
    from readwise_vector_db_spark.operators import quantizer
    from readwise_vector_db_spark.operators import similarity as sim
    from readwise_vector_db_spark.session import get_spark

    spark = get_spark("ann_recall_remediate")
    base, centers_a = make_mixture(n, d, n_centers, sigma, seed=5)
    rng = np.random.default_rng(29)
    # drift WIDTH is the economics knob: a single new crawl source is a
    # FEW new blobs (localized — few offending cells, bytes_rewritten ≪
    # rebuild); drift_centers=n_centers is whole-distribution shift
    # (most cells offend and remediation honestly approaches retrain
    # cost).  Default: localized.
    if drift_centers is None:
        drift_centers = max(2, n_centers // 8)
    centers_b = rng.standard_normal((drift_centers, d)).astype(np.float32)
    n_inc = max(200, (n * drift_centers) // (2 * n_centers))
    inc, _ = make_mixture(n_inc, d, drift_centers, sigma, seed=41, centers=centers_b)
    n_q = 16
    q_b, _ = make_mixture(n_q, d, drift_centers, sigma, seed=31, centers=centers_b)

    m = max(8, d // 48)
    n_cells = max(32, int(2 * n ** 0.5))
    base_path = f"{WORK}/rem_base"
    write_corpus(base, base_path)
    base_df = spark.read.parquet(base_path)
    _, cents = sim.build_ivf_index(
        base_df, n_clusters=n_cells, fit_sample_rows=min(n, 8000)
    )
    books = quantizer.train_pq_codebooks(base_df, m=m, k=256, sample_rows=8000)

    inc_path = f"{WORK}/rem_inc"
    write_corpus(inc, inc_path)
    inc_df = spark.read.parquet(inc_path).withColumn(
        "vec_id", F.col("vec_id") + F.lit(int(n))
    )
    corpus = np.vstack([base, inc])
    full_path = f"{WORK}/rem_full"
    write_corpus(corpus, full_path)
    full_df = spark.read.parquet(full_path)
    truth = exact_topk_ids(corpus, q_b)

    def recall_set(codes, cts, bks) -> float:
        recs = []
        for qi in range(len(q_b)):
            got = {
                int(r["vec_id"])
                for r in pq.ivfpq_search(
                    codes, cts, bks, [float(v) for v in q_b[qi]],
                    k=10, nprobe=8, rescore=full_df, rescore_factor=8,
                ).collect()
            }
            recs.append(recall(got, set(int(i) for i in truth[qi])))
        return float(np.mean(recs))

    def build(path):
        shutil.rmtree(path, ignore_errors=True)
        pq.save_ivfpq_index(
            quantizer.ivfpq_encode(base_df, cents, books), cents, books, path,
            base_vecs=base_df, rf_ks=(),
        )

    # gate trips?  Probed on a SCRATCH copy: when the gate does NOT
    # trip this append COMMITS, and reusing that layout would land the
    # increment twice after the unconditional append below (r10 review)
    scratch = f"{WORK}/rem_gate_probe"
    build(scratch)
    try:
        pq.append_to_ivfpq_index(inc_df, scratch)
        gate_tripped = False
    except ValueError:
        gate_tripped = True
    idx = f"{WORK}/rem_idx"
    build(idx)

    # forced control
    forced = f"{WORK}/rem_forced"
    build(forced)
    pq.append_to_ivfpq_index(inc_df, forced, max_distortion_ratio=None)
    r_forced = recall_set(*pq.load_ivfpq_index(spark, forced))

    # targeted remediation
    t0 = time.time()
    stats = pq.recluster_cells(spark, idx, drifted_vecs=inc_df, n_splits=4)
    pq.append_to_ivfpq_index(inc_df, idx)
    wall_recluster = time.time() - t0
    r_reclustered = recall_set(*pq.load_ivfpq_index(spark, idx))

    # retrain upper bound
    t0 = time.time()
    _, r_cents = sim.build_ivf_index(
        full_df, n_clusters=n_cells, fit_sample_rows=min(len(corpus), 8000)
    )
    r_books = quantizer.train_pq_codebooks(full_df, m=m, k=256, sample_rows=8000)
    r_codes = quantizer.ivfpq_encode(full_df, r_cents, r_books).persist()
    r_codes.count()
    wall_retrain = time.time() - t0
    r_retrain = recall_set(r_codes, r_cents, r_books)
    r_codes.unpersist()

    emit(
        mode="remediate", n=n, d=d, centers=n_centers, sigma=sigma,
        drift_centers=drift_centers, inc_rows=n_inc,
        gate_tripped=gate_tripped,
        cells_split=len(stats["cells_split"]),
        new_cells=len(stats["new_cells"]),
        rows_rewritten=stats["rows_rewritten"],
        bytes_rewritten=stats["bytes_rewritten"],
        bytes_total=stats["bytes_total"],
        rewrite_fraction=round(
            stats["bytes_rewritten"] / max(1, stats["bytes_total"]), 4
        ),
        recall_forced=round(r_forced, 3),
        recall_reclustered=round(r_reclustered, 3),
        recall_retrained=round(r_retrain, 3),
        wall_recluster_s=round(wall_recluster, 2),
        wall_retrain_s=round(wall_retrain, 2),
    )


def run_remediate_ivf(
    n: int, d: int, n_centers: int, sigma: float, drift_centers: int | None = None
) -> None:
    """IVF-family sibling of remediate mode: raw-vector layout, no
    append gate (plain partition append), exact in-cell scores — so
    shifted-query recall at small nprobe isolates CELL-SELECTION loss,
    and recluster_ivf_cells' recovery is measured directly against the
    unremediated copy and a full rebuild."""
    from readwise_vector_db_spark.operators import similarity as sim
    from readwise_vector_db_spark.session import get_spark

    spark = get_spark("ann_recall_remediate_ivf")
    base, centers_a = make_mixture(n, d, n_centers, sigma, seed=5)
    rng = np.random.default_rng(29)
    if drift_centers is None:
        drift_centers = max(2, n_centers // 8)
    centers_b = rng.standard_normal((drift_centers, d)).astype(np.float32)
    n_inc = max(200, (n * drift_centers) // (2 * n_centers))
    inc, _ = make_mixture(n_inc, d, drift_centers, sigma, seed=41, centers=centers_b)
    n_q = 16
    q_b, _ = make_mixture(n_q, d, drift_centers, sigma, seed=31, centers=centers_b)

    n_cells = max(32, int(2 * n ** 0.5))
    base_path = f"{WORK}/remivf_base"
    write_corpus(base, base_path)
    base_df = spark.read.parquet(base_path)
    assigned, cents = sim.build_ivf_index(
        base_df, n_clusters=n_cells, fit_sample_rows=min(n, 8000)
    )
    inc_path = f"{WORK}/remivf_inc"
    write_corpus(inc, inc_path)
    inc_df = spark.read.parquet(inc_path).withColumn(
        "vec_id", F.col("vec_id") + F.lit(int(n))
    )
    corpus = np.vstack([base, inc])
    truth = exact_topk_ids(corpus, q_b)

    def build(p):
        shutil.rmtree(p, ignore_errors=True)
        sim.save_ivf_index(assigned, cents, p)
        sim.assign_cells(inc_df, cents).write.mode("append").partitionBy(
            "cluster"
        ).parquet(f"{p}/assigned")

    def recall_at(p, nprobe=8) -> float:
        loaded, cts = sim.load_ivf_index(spark, p)
        recs = []
        for qi in range(len(q_b)):
            got = {
                int(r["neighbor_id"])
                for r in sim.ivf_search(
                    loaded, cts, [float(v) for v in q_b[qi]], k=10, nprobe=nprobe
                ).collect()
            }
            recs.append(recall(got, set(int(i) for i in truth[qi])))
        return float(np.mean(recs))

    before = f"{WORK}/remivf_before"
    build(before)
    r_before = recall_at(before)

    idx = f"{WORK}/remivf_idx"
    build(idx)
    t0 = time.time()
    stats = sim.recluster_ivf_cells(spark, idx, drifted_vecs=inc_df, n_splits=4)
    wall_recluster = time.time() - t0
    r_after = recall_at(idx)

    # rebuild upper bound
    full_path = f"{WORK}/remivf_full"
    write_corpus(corpus, full_path)
    full_df = spark.read.parquet(full_path)
    t0 = time.time()
    r_assigned, r_cents = sim.build_ivf_index(
        full_df, n_clusters=n_cells, fit_sample_rows=min(len(corpus), 8000)
    )
    rebuilt = f"{WORK}/remivf_rebuilt"
    shutil.rmtree(rebuilt, ignore_errors=True)
    sim.save_ivf_index(r_assigned, r_cents, rebuilt)
    wall_rebuild = time.time() - t0
    r_rebuilt = recall_at(rebuilt)

    emit(
        mode="remediate_ivf", n=n, d=d, centers=n_centers, sigma=sigma,
        drift_centers=drift_centers, inc_rows=n_inc,
        cells_split=len(stats["cells_split"]),
        new_cells=len(stats["new_cells"]),
        rows_rewritten=stats["rows_rewritten"],
        bytes_rewritten=stats["bytes_rewritten"],
        bytes_total=stats["bytes_total"],
        rewrite_fraction=round(
            stats["bytes_rewritten"] / max(1, stats["bytes_total"]), 4
        ),
        recall_before=round(r_before, 3),
        recall_reclustered=round(r_after, 3),
        recall_rebuilt=round(r_rebuilt, 3),
        wall_recluster_s=round(wall_recluster, 2),
        wall_rebuild_s=round(wall_rebuild, 2),
    )


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "sweep"
    if mode == "sweep":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
        d = int(sys.argv[3]) if len(sys.argv) > 3 else 3072
        c = int(sys.argv[4]) if len(sys.argv) > 4 else 64
        s = float(sys.argv[5]) if len(sys.argv) > 5 else 0.9
        run_sweep(n, d, c, s)
    elif mode == "drift":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000
        d = int(sys.argv[3]) if len(sys.argv) > 3 else 768
        c = int(sys.argv[4]) if len(sys.argv) > 4 else 32
        s = float(sys.argv[5]) if len(sys.argv) > 5 else 0.9
        run_drift(n, d, c, s)
    elif mode == "opq":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
        d = int(sys.argv[3]) if len(sys.argv) > 3 else 3072
        c = int(sys.argv[4]) if len(sys.argv) > 4 else 64
        s = float(sys.argv[5]) if len(sys.argv) > 5 else 0.9
        run_opq(n, d, c, s)
    elif mode == "remediate":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000
        d = int(sys.argv[3]) if len(sys.argv) > 3 else 768
        c = int(sys.argv[4]) if len(sys.argv) > 4 else 32
        s = float(sys.argv[5]) if len(sys.argv) > 5 else 0.9
        dc = int(sys.argv[6]) if len(sys.argv) > 6 else None
        run_remediate(n, d, c, s, drift_centers=dc)
    elif mode == "remediate_ivf":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 8_000
        d = int(sys.argv[3]) if len(sys.argv) > 3 else 768
        c = int(sys.argv[4]) if len(sys.argv) > 4 else 32
        s = float(sys.argv[5]) if len(sys.argv) > 5 else 0.9
        dc = int(sys.argv[6]) if len(sys.argv) > 6 else None
        run_remediate_ivf(n, d, c, s, drift_centers=dc)
    else:
        raise SystemExit(
            f"unknown mode {mode!r}: use sweep|drift|opq|remediate|remediate_ivf"
        )


if __name__ == "__main__":
    main()
