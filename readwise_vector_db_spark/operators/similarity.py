"""Similarity search: batch k-NN join and IVF-pruned ANN.

The reference's ANN story is a pgvector HNSW index probed per query
(reference migration ``6e900a582819:43-50``, with an L2-ops/cosine-query
mismatch noted in SURVEY §2.3 K3).  Spark has no vector index; the
Spark-native decomposition is:

- **exact top-k** per query: ``TakeOrderedAndProject`` (search.py) — the
  correctness baseline at any scale.
- **k-NN join** (many queries at once): broadcast the query side,
  cross-join, per-query window rank.  One shuffle on query_id.
- **IVF** (inverted-file) for 100 TB: cluster the corpus once with
  MLlib KMeans (index build = data layout, exactly how the reference's
  HNSW is a secondary structure), write partitioned by cluster id, then
  at query time probe only the ``nprobe`` nearest centroids —
  partition pruning turns a full scan into reading nprobe/k of the data.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from readwise_vector_db_spark.functions.vector import cosine_distance, l2_norm

SCORE_DECIMALS = 6

# Selectivity estimates for ivf_search's filtered-probe router, keyed on
# (corpus plan semantic hash, rendered predicate): the metadata-only
# approx_count_distinct scan runs once per distinct (corpus, filter),
# not once per request.  LRU-evicted (move_to_end on hit) so a burst of
# distinct filters can't flush the hot entries.  Entries EXPIRE after
# _EST_MATCHES_TTL_SEC: a plan hash cannot see the data at the same
# path growing/shrinking, and a stale count silently flips the
# exact-vs-index routing decision — the TTL bounds that window.
_EST_MATCHES_CACHE: OrderedDict[tuple[int, str], tuple[float, int]] = OrderedDict()
_EST_MATCHES_LOCK = threading.Lock()
_EST_MATCHES_MAX = 64
_EST_MATCHES_TTL_SEC = 600.0


def _cached_match_estimate(assigned: DataFrame, pred, id_col: str) -> int:
    import time as _time

    key = (assigned.semanticHash(), str(pred))
    now = _time.monotonic()
    with _EST_MATCHES_LOCK:
        hit = _EST_MATCHES_CACHE.get(key)
        if hit is not None and now - hit[0] < _EST_MATCHES_TTL_SEC:
            _EST_MATCHES_CACHE.move_to_end(key)
            return hit[1]
    # approx distinct ids: multi-assigned copies don't inflate the
    # estimate, and the partial aggregate never shuffles data; reads
    # ONLY the filter/id columns (column pruning drops the vectors)
    matches = int(
        assigned.filter(pred)
        .agg(F.approx_count_distinct(id_col).alias("m"))
        .first()["m"]
    )
    with _EST_MATCHES_LOCK:
        _EST_MATCHES_CACHE[key] = (now, matches)
        _EST_MATCHES_CACHE.move_to_end(key)
        while len(_EST_MATCHES_CACHE) > _EST_MATCHES_MAX:
            _EST_MATCHES_CACHE.popitem(last=False)
    return matches


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """For every query row, the k nearest corpus rows by cosine distance.

    Broadcast the (small) query side so the corpus never shuffles for the
    join; the only exchange is the window rank on query_id.  Output:
    (query_id, neighbor_id, cos_dist, rn).
    """
    # norms are precomputed per SIDE (Q + N folds) so the N×Q cross-join hot
    # loop does exactly one fold per pair (the dot product), not three
    q = F.broadcast(
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qv"))
        .withColumn("q_norm", l2_norm("qv"))
    )
    c = (
        corpus.select(F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cv"))
        .filter(F.col("cv").isNotNull())
        .withColumn("c_norm", l2_norm("cv"))
    )
    dist = cosine_distance(
        F.col("cv"), F.col("qv"), a_norm=F.col("c_norm"), b_norm=F.col("q_norm")
    )
    # rank on the ROUNDED distance (ties by id): the emitted cos_dist is the
    # rounded value, so ranking on anything finer would let sub-6dp noise
    # order rows in a way the output itself cannot justify (or reproduce
    # cross-engine)
    w = W.partitionBy("qid").orderBy(
        F.asc(F.round(F.col("dist"), SCORE_DECIMALS)), F.asc("cid")
    )
    return (
        c.crossJoin(q)
        .withColumn("dist", dist)
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            F.round(F.col("dist"), SCORE_DECIMALS).alias("cos_dist"),
            "rn",
        )
    )


def knn_join_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "id",
    corpus_vec: str = "embedding",
    margin: int = 16,
) -> DataFrame:
    """BLAS-blocked k-NN join — the many-query scale path.

    ``knn_join`` scores pairs in codegen and shuffles ALL N×Q scored rows
    into the per-query rank.  Here each executor partition scores a whole
    Arrow batch against every query with ONE numpy matmul (BLAS beats a
    per-pair fold once Q is more than a handful), keeps a local
    top-(k+margin) per query, and emits only partitions×Q×(k+margin)
    candidate rows — the final rank shuffles thousands of rows where the
    window plan shuffles billions.

    Determinism: BLAS accumulation order is unspecified (SIMD/pairwise),
    so BLAS distances can differ from the engine's sequential fold by
    ulps — enough to flip a 6-dp rounding boundary (observed in the
    round-1 driver check).  BLAS is therefore used ONLY to *select*
    candidates (with ``margin`` extra per partition to absorb boundary
    flips); the emitted ``cos_dist`` and the final rank are recomputed
    with the same JVM sequential fold every other operator uses, so the
    output is bit-identical with both ``knn_join`` and the SQL oracle.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(query_id, query_vec).collect()
    qids = [r[0] for r in q_rows]
    qmat = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)  # Q×d
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat, qnorm))
    keep = k + max(margin, 0)

    out_schema = "qid LONG, cid LONG, cv ARRAY<DOUBLE>"

    def score_partition(batches):
        ids_, qm, qn = bc.value
        nq = len(ids_)
        # per-query running top-(k+margin) over the partition: (dist, cid, vec)
        best: list[list[tuple[float, int, list]]] = [[] for _ in range(nq)]
        for pdf in batches:
            if pdf.empty:
                continue
            vecs = [list(v) for v in pdf["cv"]]
            emb = np.asarray(vecs, dtype=np.float64)
            cnorm = np.linalg.norm(emb, axis=1)
            cnorm[cnorm == 0] = 1.0
            # B×Q similarity in one BLAS call
            dist = 1.0 - (emb @ qm.T) / np.outer(cnorm, qn)
            cids = pdf["cid"].to_numpy()
            for qi in range(nq):
                # selection key approximates the global (rounded dist, cid)
                # sort key; the margin absorbs any BLAS-vs-fold ulp flip
                col = np.round(dist[:, qi], 6)
                order = np.lexsort((cids, col))[:keep]
                best[qi].extend(
                    (float(col[i]), int(cids[i]), vecs[i]) for i in order
                )
                best[qi].sort(key=lambda t: (t[0], t[1]))
                del best[qi][keep:]
        rows = [
            (ids_[qi], cid, vec)
            for qi in range(nq)
            for _, cid, vec in best[qi]
        ]
        yield pd.DataFrame(rows, columns=["qid", "cid", "cv"])

    c = corpus.select(
        F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cv")
    ).filter(F.col("cv").isNotNull())
    candidates = c.mapInPandas(score_partition, schema=out_schema)
    # exact rescoring of the tiny candidate set with the sequential fold —
    # carries the vector through the Arrow boundary so the corpus is never
    # scanned twice
    q = F.broadcast(
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qv"))
        .withColumn("q_norm", l2_norm("qv"))
    )
    dist = cosine_distance(
        F.col("cv"), F.col("qv"), a_norm=l2_norm("cv"), b_norm=F.col("q_norm")
    )
    w = W.partitionBy("qid").orderBy(
        F.asc(F.round(F.col("dist"), SCORE_DECIMALS)), F.asc("cid")
    )
    return (
        candidates.join(q, "qid")
        .withColumn("dist", dist)
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            F.round(F.col("dist"), SCORE_DECIMALS).alias("cos_dist"),
            "rn",
        )
    )


# --- IVF ---------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    n_assign: int = 1,
    max_iter: int = 8,
    init_steps: int = 1,
    tol: float = 1e-3,
    fit_sample_rows: int | None = None,
):
    """KMeans-cluster the corpus; returns (assigned_df, centroids).

    ``fit_sample_rows`` fits the KMeans on a map-only random SAMPLE and
    only the cheap transform touches the full corpus — the 100 TB
    shape: a coarse quantizer's centroids saturate at thousands of
    training rows (the FAISS practice, same argument as PQ codebooks),
    while Lloyd iterations over the full corpus cost max_iter full
    passes.  Default None = fit on everything (fixture-scale behavior,
    unchanged plans for every oracle row).

    ``assigned_df`` carries a ``cluster`` column — at scale you'd
    ``.write.partitionBy("cluster")`` so probes read only matching
    partitions (the parquet-layout analogue of an IVF index).
    ``centroids`` is a small python list [(cluster_id, [floats]), ...] —
    index metadata, broadcast to queries.

    ``n_assign > 1`` writes each vector into its ``n_assign`` nearest
    cells (multi-assignment, the spill-tree/SPANN overlap trick):
    storage ×n_assign buys recall that single-assignment can't reach on
    boundary-heavy spaces, because a true neighbor is retrievable if ANY
    of its cells is probed.  Measured on the near-uniform 64-d fixture
    (IVF's worst case — no cluster structure): recall@10 at nprobe=6/16
    jumps 0.68 → 0.92 for 2× storage.  On a real clustered corpus the
    same trick is much cheaper per unit recall.  Search must then
    collapse duplicates — pass ``multi_assigned=True`` to
    :func:`ivf_search`.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    prepared = corpus.filter(F.col(vec_col).isNotNull()).withColumn(
        "_features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    # Coarse-quantizer economics: IVF centroids only PARTITION the
    # corpus — every probe re-scores candidates with exact cosine, so
    # Lloyd convergence past a coarse fit buys recall nothing.  Capped
    # iterations + single-step k-means|| init halve the build's data
    # passes (measured 2.4 s → 1.3 s at sf0.1; recall@10 0.945 → 0.935
    # under the bench's n_assign=2/nprobe=8 config).
    fit_frame = prepared
    if fit_sample_rows is not None:
        total = prepared.count()
        if total > fit_sample_rows:
            fit_frame = prepared.sample(
                False, min(1.0, 1.25 * fit_sample_rows / total), seed
            ).limit(fit_sample_rows)
    model = KMeans(
        k=n_clusters,
        seed=seed,
        featuresCol="_features",
        predictionCol="cluster",
        maxIter=max_iter,
        initSteps=init_steps,
        tol=tol,
    ).fit(fit_frame)
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    if n_assign <= 1:
        assigned = model.transform(prepared).drop("_features")
        return assigned, centroids

    # multi-assignment: rank all (vector, centroid) squared-euclidean
    # distances per vector, keep the n_assign nearest.  One broadcast
    # cross-join + one rank shuffle — index-BUILD cost, paid once; at
    # 100 TB the distance fan-out would run through the BLAS-blocked
    # mapInPandas scorer instead (same shape as knn_join_blocked).
    cent_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            [(cid, vec) for cid, vec in centroids],
            "cluster int, _cvec array<double>",
        )
    )
    sq = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("_cvec"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = W.partitionBy(id_col).orderBy(F.asc("_cdist"), F.asc("cluster"))
    assigned = (
        prepared.drop("_features")
        .crossJoin(cent_df)
        .withColumn("_cdist", sq)
        .withColumn("_crank", F.row_number().over(w))
        .filter(F.col("_crank") <= n_assign)
        .drop("_cvec", "_cdist", "_crank")
    )
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_assigned: bool = False,
    pred=None,
    est_matches: int | None = None,
    route_filtered: bool = False,
) -> DataFrame:
    """Probe the ``nprobe`` clusters whose centroids are nearest the query,
    then exact top-k within them.

    The cluster filter is a literal IN-list → partition pruning when the
    corpus is written partitioned by cluster: a 100 TB scan becomes
    nprobe/n_clusters of the data before any vector math.

    ``multi_assigned=True`` (index built with ``n_assign > 1``)
    collapses a vector found in several probed cells to one row,
    deterministically (min cos_dist — identical across copies — and min
    cluster id).

    ``pred`` (an optional boolean Column over the assigned corpus's
    metadata columns) makes this a FILTERED ANN probe — the reference's
    ``/search`` filter semantics composed with the index.  This is
    post-filtering in ANN terms, but it applies INSIDE the pruned scan
    (cluster IN-list and the predicate both push into the parquet read),
    before any distance math.

    **Selectivity routing** (round 7 — the SCALING operating rule in
    code): a selective predicate can STARVE k within the probed cells —
    matching rows may live in unprobed clusters — so below ~k·n_clusters
    expected corpus-wide matches the index prunes more recall than cost
    and the right plan is the exact filtered scan (predicate pushes into
    the parquet read; at 0.1 % selectivity that scan is tiny).  With
    ``route_filtered=True`` the probe estimates the match count —
    ``est_matches`` if the serving layer has per-filter stats, else one
    ``approx_count_distinct`` aggregate that reads ONLY the filter/id
    columns (never the vectors) — and routes: ``matches < k·n_clusters``
    → exact filtered scan (result is exact, not approximate);
    otherwise → the pruned index probe.

    Routing is OPT-IN (round 8, advisor): the default ``False`` keeps
    every existing filtered caller on the bounded nprobe/n_clusters
    read — turning it on puts an eager corpus-metadata aggregate (and
    possibly a full exact scan) inside the request path, a latency
    contract the CALLER must accept, the way the serving layer does
    with its cached per-filter stats.  The live estimate is memoized
    per (corpus plan, rendered predicate) in a small LRU, so repeated
    probes with the same filter pay the metadata scan once — the same
    discipline as the serving layer's ``_filter_id_set`` cache.
    """
    import numpy as np

    qv = np.asarray(query_vec, dtype=float)

    def cos_dist(c: list[float]) -> float:
        cv = np.asarray(c)
        denom = float(np.linalg.norm(cv) * np.linalg.norm(qv))
        return 1.0 - float(cv @ qv) / denom if denom > 0 else 1.0

    probe = sorted(centroids, key=lambda t: (cos_dist(t[1]), t[0]))[:nprobe]
    probe_ids = [cid for cid, _ in probe]

    from readwise_vector_db_spark.operators.search import vector_literal

    q_lit = vector_literal(query_vec)  # one JVM-parsed expr, not d py4j lits
    # sequential fold (not np.linalg.norm) so the literal is bit-identical
    # with what the in-engine aggregate() would produce
    acc = 0.0
    for x in query_vec:
        acc += float(x) * float(x)
    q_norm = F.lit(acc ** 0.5)
    use_index = True
    if pred is not None and route_filtered:
        matches = est_matches
        if matches is None:
            matches = _cached_match_estimate(assigned, pred, id_col)
        use_index = matches >= k * len(centroids)
    pruned = assigned
    if use_index:
        pruned = pruned.filter(F.col("cluster").isin(probe_ids))
    if pred is not None:
        pruned = pruned.filter(pred)
    probed = pruned.withColumn(
        "cos_dist",
        F.round(
            cosine_distance(F.col(vec_col), q_lit, b_norm=q_norm), SCORE_DECIMALS
        ),
    )
    if multi_assigned:
        probed = probed.groupBy(id_col).agg(
            F.min("cos_dist").alias("cos_dist"), F.min("cluster").alias("cluster")
        )
    return (
        probed.orderBy(F.asc("cos_dist"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col).alias("neighbor_id"), "cos_dist", "cluster")
    )


def save_ivf_index(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
) -> None:
    """Persist the IVF index as a serving artifact: the assigned corpus
    written ``partitionBy("cluster")`` (the layout that turns a probe's
    cluster IN-filter into partition pruning — ``ivf_search`` over the
    loaded index reads nprobe/n_clusters of the directories, nothing
    else) plus the centroid table.  The build (KMeans + assignment) is
    the offline job; serving processes only ever ``load_ivf_index``.
    This is the reference's "HNSW index exists in the database" split
    (migration 6e900a582819) re-expressed as a parquet layout.
    """
    from readwise_vector_db_spark.layout import stamp_layout

    spark = assigned.sparkSession
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{path}/assigned"
    )
    spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    stamp_layout(path, "ivf")  # last: a half-written build is never stamped


def load_ivf_index(spark, path: str) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """(assigned, centroids) from a :func:`save_ivf_index` layout.
    ``assigned`` scans the partitioned parquet — cluster predicates
    prune directories; ``centroids`` is driver-side index metadata
    (n_clusters rows).  Tombstoned ids (``pq.delete_from_index`` — the
    tombstone/compaction machinery is shared across the three persisted
    index families) are excluded from the returned scan; compact with
    ``pq.compact_index(spark, path, subdir="assigned")``."""
    from readwise_vector_db_spark.layout import check_layout
    from readwise_vector_db_spark.operators.pq import _apply_tombstones
    from readwise_vector_db_spark.storage import recover_swap

    check_layout(path, "ivf")
    recover_swap(path, "assigned")
    assigned = _apply_tombstones(
        spark, path, spark.read.parquet(f"{path}/assigned")
    )
    cent = spark.read.parquet(f"{path}/centroids").collect()
    centroids = sorted(
        (int(r["cluster"]), [float(x) for x in r["centroid"]]) for r in cent
    )
    return assigned, centroids


def recluster_ivf_cells(
    spark,
    path: str,
    drifted_vecs: DataFrame | None = None,
    cells=None,
    n_splits: int = 2,
    max_distortion_ratio: float = 2.0,
    vec_col: str = "embedding",
    min_cell_rows: int = 10,
    sample_per_cell: int = 4_000,
    seed: int = 7,
    lease_wait: float = 0.0,
) -> dict:
    """Targeted drift remediation for a :func:`save_ivf_index` layout —
    the raw-vector sibling of ``pq.recluster_cells`` (round 10, r9
    verdict item 3 covers both persisted families): split ONLY the
    cells a drifted increment lands in, rewrite only their partitions.

    Two ways this family is SIMPLER than IVF-PQ: the layout stores raw
    vectors, so sub-centroid training and row re-assignment are EXACT
    (no PQ reconstruction, no scale correction), and the drift baseline
    is SELF-CALIBRATED — the MEDIAN of the index's own per-cell mean
    distortions replaces the ``distortion.json`` sidecar the code-only
    layout needs (median, not mean: the increment is usually already
    appended when remediation runs, and a mean would be inflated by the
    very drift being detected; the median holds while drifted cells are
    a minority — whole-distribution shift is retrain territory).  Crash ordering matches the PQ variant:
    centroids publish FIRST (a centroid without a partition is
    harmless; the reverse is silently unsearchable), then the offending
    partitions rewrite via dynamic partition overwrite.  Tombstones
    ride through untouched (id-based anti-join).  Multi-assign layouts
    work per copy: an offending cell's copies re-assign among its
    splits; copies living in healthy cells are never touched.
    Mutual exclusion with compact/other maintainers is structural
    (round 11): the layout's maintenance lease is held throughout."""
    from readwise_vector_db_spark.layout import maintenance_lease

    with maintenance_lease(path, "recluster", wait=lease_wait):
        return _recluster_ivf_cells_locked(
            spark, path, drifted_vecs, cells, n_splits, max_distortion_ratio,
            vec_col, min_cell_rows, sample_per_cell, seed,
        )


def _recluster_ivf_cells_locked(
    spark,
    path: str,
    drifted_vecs: DataFrame | None,
    cells,
    n_splits: int,
    max_distortion_ratio: float,
    vec_col: str,
    min_cell_rows: int,
    sample_per_cell: int,
    seed: int,
) -> dict:
    import shutil as _shutil

    import numpy as np

    from readwise_vector_db_spark.operators.pq import (
        _dir_bytes,
        _kmeans_np,
        _uniform_vector_sample,
        cell_distortion_frame,
    )

    assigned, centroids = load_ivf_index(spark, path)
    cent_by_id = {int(c): [float(x) for x in v] for c, v in centroids}

    if cells is None:
        if drifted_vecs is None:
            raise ValueError("recluster_ivf_cells: pass drifted_vecs or cells")
        # Self-calibrated baseline, ROBUST to the usual call order (the
        # drifted increment is already appended): a plain mean over the
        # index rows would be inflated by the very drift being detected
        # — a large increment dilutes mean_dist/base below the threshold
        # and the remediation silently no-ops (r10 review).  The MEDIAN
        # of per-cell mean distortions stays anchored to the healthy
        # majority as long as drift is a minority of CELLS; whole-
        # distribution shift (most cells drifted) breaks any
        # self-calibration and is retrain territory anyway.
        idx_cells = cell_distortion_frame(
            assigned, centroids, vec_col=vec_col
        ).collect()
        means = sorted(float(r["mean_dist"]) for r in idx_cells)
        if not means:
            raise ValueError("recluster_ivf_cells: empty index")
        base = means[len(means) // 2]
        rows = cell_distortion_frame(
            drifted_vecs, centroids, vec_col=vec_col
        ).collect()
        cells = [
            int(r["cluster"])
            for r in rows
            if r["n"] >= min_cell_rows
            and base > 0
            and float(r["mean_dist"]) / base > max_distortion_ratio
        ]
    cells = sorted(set(int(c) for c in cells))
    unknown = [c for c in cells if c not in cent_by_id]
    if unknown:
        raise ValueError(f"recluster_ivf_cells: unknown cell ids {unknown}")
    if not cells:
        return {
            "cells_split": [], "new_cells": [], "rows_rewritten": 0,
            "bytes_rewritten": 0, "bytes_total": _dir_bytes(f"{path}/assigned"),
        }

    # bounded drifted sample, assigned driver-side (raw space throughout)
    drift_sample: dict[int, "np.ndarray"] = {}
    if drifted_vecs is not None:
        samp = _uniform_vector_sample(
            drifted_vecs, vec_col, sample_per_cell * max(1, len(cells)), seed
        )
        if samp:
            x = np.asarray([list(v) for v in samp], dtype=np.float64)
            ids_sorted = np.asarray(sorted(cent_by_id), dtype=np.int64)
            cmat = np.asarray(
                [cent_by_id[int(c)] for c in ids_sorted], dtype=np.float64
            )
            assign = ids_sorted[
                np.argmin((cmat * cmat).sum(1)[None, :] - 2.0 * (x @ cmat.T), 1)
            ]
            for c in cells:
                mask = assign == c
                if mask.any():
                    drift_sample[c] = x[mask][:sample_per_cell]

    # per-cell EXACT vector samples from the pruned partitions
    counts = {
        int(r["cluster"]): int(r["n"])
        for r in assigned.filter(F.col("cluster").isin(cells))
        .groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    frac_map = []
    for c in cells:
        frac_map.extend(
            [F.lit(c), F.lit(min(1.0, sample_per_cell / max(1, counts.get(c, 0))))]
        )
    sample_rows = (
        assigned.filter(F.col("cluster").isin(cells))
        .withColumn("_f", F.element_at(F.create_map(*frac_map), F.col("cluster")))
        .filter(F.rand(seed) < F.col("_f"))
        .select("cluster", F.col(vec_col).cast("array<double>").alias("_v"))
        .collect()
    )
    existing: dict[int, "np.ndarray"] = {}
    for c in cells:
        vs = [list(r["_v"]) for r in sample_rows if r["cluster"] == c]
        if vs:
            existing[c] = np.asarray(vs, dtype=np.float64)

    next_id = max(cent_by_id) + 1
    split_cents: dict[int, tuple] = {}
    new_cells: list[int] = []
    for c in cells:
        parts = [a for a in (existing.get(c), drift_sample.get(c))
                 if a is not None and len(a)]
        if not parts:
            continue
        x = np.concatenate(parts, axis=0)
        k = min(n_splits, len(x))
        sub = _kmeans_np(x, k, iters=10, seed=seed)  # raw space: exact
        ids = np.asarray(
            [c] + list(range(next_id, next_id + k - 1)), dtype=np.int64
        )
        next_id += k - 1
        new_cells.extend(int(i) for i in ids[1:])
        split_cents[c] = (ids, sub)
    if not split_cents:
        return {
            "cells_split": [], "new_cells": [], "rows_rewritten": 0,
            "bytes_rewritten": 0, "bytes_total": _dir_bytes(f"{path}/assigned"),
        }

    # centroids FIRST (crash ordering — see docstring)
    new_centroids = [(cid, v) for cid, v in centroids if cid not in split_cents]
    for c, (ids, sub) in split_cents.items():
        new_centroids.extend(
            (int(i), [float(x) for x in sub[j]]) for j, i in enumerate(ids)
        )
    spark.createDataFrame(
        sorted(new_centroids), "cluster int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")

    cols = assigned.columns
    splits_bc = {c: (ids.copy(), sub.copy()) for c, (ids, sub) in split_cents.items()}

    def reassign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_cluster = pdf["cluster"].to_numpy().copy()
            vecs = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            for c, (ids, sub) in splits_bc.items():
                mask = pdf["cluster"].to_numpy() == c
                if not mask.any():
                    continue
                xv = vecs[mask]
                d2 = (sub * sub).sum(1)[None, :] - 2.0 * (xv @ sub.T)
                out_cluster[mask] = ids[d2.argmin(1)]
            pdf = pdf.assign(cluster=out_cluster.astype(np.int32))
            yield pdf[cols]

    touched = assigned.filter(F.col("cluster").isin(list(split_cents)))
    reassigned = touched.mapInPandas(
        reassign, schema=assigned.schema
    ).localCheckpoint(eager=True)
    written_cells = {
        int(r["cluster"]) for r in reassigned.select("cluster").distinct().collect()
    }
    n_rewritten = reassigned.count()
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        reassigned.write.mode("overwrite").partitionBy("cluster").parquet(
            f"{path}/assigned"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    for c in split_cents:
        if c not in written_cells:
            _shutil.rmtree(f"{path}/assigned/cluster={c}", ignore_errors=True)

    bytes_rewritten = sum(
        _dir_bytes(f"{path}/assigned/cluster={c}")
        for c in written_cells | set(split_cents)
    )
    return {
        "cells_split": sorted(split_cents),
        "new_cells": sorted(new_cells),
        "rows_rewritten": int(n_rewritten),
        "bytes_rewritten": int(bytes_rewritten),
        "bytes_total": int(_dir_bytes(f"{path}/assigned")),
    }


def save_quantizer(
    spark, centroids: list[tuple[int, list[float]]], path: str
) -> None:
    """Persist a trained coarse quantizer (the centroid table alone) as
    a serving artifact.  The IVF artifact (:func:`save_ivf_index`)
    couples centroids to an assigned CORPUS layout; a quantizer is the
    corpus-independent half — SemDeDup and other cell-partitioned
    operators re-assign each new batch against fixed centroids
    (:func:`assign_cells`), paying probe cost instead of KMeans build
    cost on every run (round-5 verdict item 3)."""
    from readwise_vector_db_spark.layout import stamp_layout

    spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    stamp_layout(path, "quantizer")


def load_quantizer(spark, path: str) -> list[tuple[int, list[float]]]:
    """Centroid list from a :func:`save_quantizer` (or
    :func:`save_ivf_index` / :func:`save_ivfpq_index` — the centroid
    table is the corpus-independent half all three persist) layout —
    driver-side index metadata, n_clusters rows."""
    from readwise_vector_db_spark.layout import check_layout

    check_layout(path, ("quantizer", "ivf", "ivfpq"))
    cent = spark.read.parquet(f"{path}/centroids").collect()
    return sorted(
        (int(r["cluster"]), [float(x) for x in r["centroid"]]) for r in cent
    )


def assign_cells(
    frame: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cell_col: str = "cluster",
    method: str = "auto",
) -> DataFrame:
    """Nearest-centroid cell per row — the APPLY half of the coarse
    quantizer, map-only (no shuffle, no ML pipeline).  Same assignment
    semantics as ``KMeans.transform`` (nearest euclidean centroid) up
    to float-summation order on exact boundary ties — irrelevant for a
    quantizer that only PARTITIONS comparisons, since identical vectors
    always co-assign.

    Two routes, picked by ``method`` (``"auto"`` = by centroid count):

    - ``"expr"`` (k < 32): each centroid inlines as one JVM-parsed
      literal (``vector_literal`` — the string-split trick, not d py4j
      lits) and ``array_min`` over (sq_dist, cell) structs picks the
      argmin with ties broken by cell id.  One pass, k interpreted
      folds of d per row — fine at serving-index cell counts.
    - ``"blas"`` (k ≥ 32): one Arrow batch → one numpy gemm against
      the centroid matrix (‖x−c‖² = ‖x‖² − 2x·c + ‖c‖², argmin over
      the c-terms; np.argmin's first-hit rule IS the smallest-cell-id
      tie-break).  Measured at k=64, d=64, 2 k rows: the expr route
      costs 1.8 s (k py4j-built fold expressions dominate — the same
      plan-build pathology the curate funnel hit) vs 0.3 s BLAS; at
      SemDeDup's k≈√n this is the only route that scales.  NULL
      vectors get NULL cells (callers filter NOT NULL first, same as
      the expr route's NULL-fold behavior).
    """
    if method == "auto":
        method = "blas" if len(centroids) >= 32 else "expr"
    if method == "blas":
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import IntegerType, StructField, StructType

        ordered = sorted(centroids)
        cell_ids = np.asarray([int(c) for c, _ in ordered], dtype=np.int64)
        cmat = np.asarray([v for _, v in ordered], dtype=np.float64)
        c_sq = (cmat * cmat).sum(axis=1)
        out_schema = StructType(
            list(frame.schema) + [StructField(cell_col, IntegerType())]
        )

        def assign(batches):
            for pdf in batches:
                live = pdf[vec_col].notna()
                cells = pd.array([None] * len(pdf), dtype="Int64")
                if live.any():
                    mat = np.asarray(
                        [list(v) for v in pdf.loc[live, vec_col]], dtype=np.float64
                    )
                    # ‖x‖² is argmin-invariant; skip it
                    d = c_sq[None, :] - 2.0 * (mat @ cmat.T)
                    cells[np.nonzero(live.to_numpy())[0]] = cell_ids[
                        np.argmin(d, axis=1)
                    ]
                pdf = pdf.copy()
                pdf[cell_col] = cells
                yield pdf

        return frame.mapInPandas(assign, schema=out_schema)

    from readwise_vector_db_spark.operators.search import vector_literal

    v = F.col(vec_col).cast("array<double>")
    cand = [
        F.struct(
            F.aggregate(
                F.zip_with(v, vector_literal(c), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.lit(int(cid)).alias("c"),
        )
        for cid, c in centroids
    ]
    # NULL vector → NULL cell (matching the BLAS route); without the
    # guard the struct-min over NULL distances leaks the lowest cell id
    return frame.withColumn(
        cell_col,
        F.when(F.col(vec_col).isNotNull(), F.array_min(F.array(*cand))["c"]),
    )


def ivf_search_many(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_assigned: bool = False,
    preds: dict[int, Column] | None = None,
) -> DataFrame:
    """Batched :func:`ivf_search`: N queries share ONE pruned scan over
    the union of their probed cells (round 12, guide §1.2 — one pass
    instead of N overlapping ones).  Returns (query_id, neighbor_id,
    cos_dist, cluster) — for every query exactly the rows its
    individual ``ivf_search`` call returns:

    - centroid ranking per query is the identical driver-side sort;
    - the scan filter is the UNION of all probe lists (partition
      pruning still applies — each probed directory is read once);
      each query is restricted to its own cells by an equi-join on
      cluster against the exploded (query, cell) table (n_queries ×
      nprobe rows, broadcast);
    - cos_dist is the same rounded double fold: the query vector and
      its driver-computed sequential-fold norm ride the broadcast
      frame as columns carrying the exact values the single-query
      literals would.

    ``preds`` (round 13 — the FILTERED batch probe): optional map of
    query_id → boolean Column over the assigned corpus's metadata
    columns, the batch face of ``ivf_search(pred=...)``.  Applied to
    the joined (row, query) pairs as an OR of
    ``(query_id = qid) AND pred_qid`` clauses — each row carries
    exactly one query_id, so per pair this evaluates precisely that
    query's predicate, with the same NULL-drops-row semantics as the
    per-query ``filter(pred)``.  A query_id absent from the map is
    unfiltered.  The probe list stays centroid-only, exactly like the
    single-query path (predicates never move which cells are probed).
    """
    import numpy as np

    if not queries:
        raise ValueError("ivf_search_many needs at least one query")
    if len({int(qid) for qid, _ in queries}) != len(queries):
        raise ValueError(
            "ivf_search_many: duplicate query_id in queries — the per-query "
            "top-k window would merge both candidate sets"
        )
    rows = []
    for qid, qvec in queries:
        qv = np.asarray(qvec, dtype=float)

        def cos_dist(c: list[float]) -> float:
            cv = np.asarray(c)
            denom = float(np.linalg.norm(cv) * np.linalg.norm(qv))
            return 1.0 - float(cv @ qv) / denom if denom > 0 else 1.0

        probe = sorted(centroids, key=lambda t: (cos_dist(t[1]), t[0]))[:nprobe]
        # sequential fold (not np.linalg.norm) so the value is
        # bit-identical with the single-query literal path
        acc = 0.0
        for x in qvec:
            acc += float(x) * float(x)
        for cid, _ in probe:
            rows.append((int(qid), int(cid), [float(x) for x in qvec], acc ** 0.5))
    spark = assigned.sparkSession
    qcells = spark.createDataFrame(
        rows, "query_id long, cluster int, _qvec array<double>, _qnorm double"
    )
    union_cells = sorted({r[1] for r in rows})
    pruned = assigned.filter(F.col("cluster").isin(union_cells))
    joined = pruned.join(
        F.broadcast(qcells),
        pruned["cluster"].cast("int") == qcells["cluster"],
    )
    if preds:
        known = {int(qid) for qid, _ in queries}
        unknown = sorted(set(map(int, preds)) - known)
        if unknown:
            raise ValueError(
                f"ivf_search_many: preds for unknown query_ids {unknown}"
            )
        cond = None
        for qid, p in preds.items():
            clause = (F.col("query_id") == F.lit(int(qid))) & p
            cond = clause if cond is None else (cond | clause)
        unfiltered = sorted(known - set(map(int, preds)))
        if unfiltered:
            cond = cond | F.col("query_id").isin(unfiltered)
        joined = joined.filter(cond)
    probed = joined.select(
        "query_id",
        pruned[id_col].alias(id_col),
        pruned["cluster"].alias("cluster"),
        F.round(
            cosine_distance(
                F.col(vec_col), F.col("_qvec"), b_norm=F.col("_qnorm")
            ),
            SCORE_DECIMALS,
        ).alias("cos_dist"),
    )
    if multi_assigned:
        probed = probed.groupBy("query_id", id_col).agg(
            F.min("cos_dist").alias("cos_dist"), F.min("cluster").alias("cluster")
        )
    w = W.partitionBy("query_id").orderBy(F.asc("cos_dist"), F.asc(id_col))
    return (
        probed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "cos_dist", "cluster"
        )
    )
