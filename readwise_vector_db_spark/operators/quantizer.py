"""Vector quantizers: the coarse cells of the IVF and IVF-PQ indexes and
the product-quantization codec (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).

Which centroid is nearest is decided here only, by two kernels kept
apart because each family's stored outputs depend on its arithmetic
(merging them would move codes and cells at near-ties):

- **coarse cells** (:class:`CoarseCells`): float64
  ``argmin(‖c‖² − 2·x·cᵀ)`` over centroids sorted by cell id, so ties go
  to the smallest id; plus the cosine distance to the nearest centroid
  the drift statistics use.
- **product / Lloyd** (:func:`sq_dists`, :func:`pq_codes`): the full
  ``‖x‖² − 2·x·cᵀ + ‖c‖²`` expansion in the input's dtype, behind
  k-means, OPQ, PQ encoding and the reconstruction error.

Layout persistence and ADC search live in ``operators/pq.py``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- distance kernels ----------------------------------------------------------


class CoarseCells:
    """A coarse quantizer's centroid table in assignment form: ``cell_ids``
    sorted ascending, the float64 centroid matrix ``cmat`` in that order,
    and each centroid's squared norm ``c_sq``."""

    def __init__(self, centroids):
        ordered = sorted(centroids)
        self.cell_ids = np.asarray([int(c) for c, _ in ordered], dtype=np.int64)
        self.cmat = np.asarray([v for _, v in ordered], dtype=np.float64)
        self.c_sq = (self.cmat * self.cmat).sum(axis=1)

    def assign(self, x: np.ndarray) -> np.ndarray:
        """Nearest-centroid cell id per row of the float64 matrix ``x``
        (squared euclidean; ties go to the smallest cell id)."""
        d = self.c_sq[None, :] - 2.0 * (x @ self.cmat.T)
        return self.cell_ids[np.argmin(d, 1)]

    def cos_dist(self, x: np.ndarray) -> np.ndarray:
        """Cosine distance from each row of the float64 matrix ``x`` to the
        centroid nearest it by angle — the drift statistics' measure."""
        c = self.cmat
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return 1.0 - (xn @ cn.T).max(axis=1)


def sq_dists(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(n, k) squared euclidean distances from the rows of ``x`` to the
    rows of ``c``, by the expansion ‖x‖² − 2·x·cᵀ + ‖c‖², in the inputs'
    dtype."""
    return (x**2).sum(1)[:, None] - 2 * x @ c.T + (c**2).sum(1)[None, :]


def pq_codes(x: np.ndarray, books: list[np.ndarray]) -> np.ndarray:
    """(n, m) int32 PQ codes: subvector j of each row of ``x`` goes to
    its nearest centroid in ``books[j]``, computed in ``x``'s dtype."""
    sub = books[0].shape[1]
    codes = np.empty((x.shape[0], len(books)), dtype=np.int32)
    for j, b in enumerate(books):
        d2 = sq_dists(x[:, j * sub : (j + 1) * sub], np.asarray(b, dtype=x.dtype))
        codes[:, j] = d2.argmin(1)
    return codes


def pq_reconstruct(
    codes: np.ndarray, books: list[np.ndarray], rotation: np.ndarray | None
) -> np.ndarray:
    """Decode (n, m) PQ codes to the normalized-space vectors ADC
    scores — concat of per-subspace centroids, rotated back to the
    original frame when the layout is OPQ (orthogonal: inverse = Tᵀ)."""
    x = np.concatenate(
        [books[j][codes[:, j]] for j in range(len(books))], axis=1
    ).astype(np.float64)
    if rotation is not None:
        x = x @ np.asarray(rotation, dtype=np.float64).T
    return x


def kmeans_np(
    x: np.ndarray, k: int, iters: int, seed: int, init: np.ndarray | None = None
) -> np.ndarray:
    """Deterministic Lloyd's k-means (numpy): k centroids of x.
    ``init`` warm-starts from given centroids (the OPQ alternation
    refreshes codebooks incrementally instead of re-seeding)."""
    rng = np.random.RandomState(seed)
    n = x.shape[0]
    if init is not None:
        cents = init.copy()
    elif n <= k:
        # degenerate: every point its own centroid, pad by repeating
        reps = x[rng.choice(n, size=k, replace=True)]
        reps[: min(n, k)] = x[: min(n, k)]
        return reps
    else:
        cents = x[rng.choice(n, size=k, replace=False)]
    for _ in range(iters):
        # d2 stays bound through the update loop: dropping the (n, k)
        # matrix right after the argmin measured ~7 % slower at k=256
        # (the allocator releases and re-faults its pages every round)
        d2 = sq_dists(x, cents)
        assign = d2.argmin(1)
        for j in range(k):
            mask = assign == j
            if mask.any():
                cents[j] = x[mask].mean(0)
    return cents


# --- training ------------------------------------------------------------------


def uniform_vector_sample(
    vecs: DataFrame,
    vec_col: str,
    sample_rows: int,
    seed: int,
    with_total: bool = False,
):
    """Uniform sample (without replacement) of a vector column in a
    SINGLE map-only pass — the bottom-k sketch behind PQ codebook
    training, ``coarse_distortion`` and the recluster's drifted
    sample.  Each row draws a U(0,1) key from a partition-seeded RNG and
    each partition keeps its bottom-``quota`` keys (globally, the rows
    with the smallest keys ARE a uniform sample without replacement);
    the driver trims to the global bottom ``sample_rows``.  The
    per-partition quota carries 2.5× slack over the balanced share;
    fixed-width vector tables under ``maxPartitionBytes`` splitting are
    row-balanced, so the sketch loses nothing.  NOT ``limit()`` (and
    not ``sample(fraction).limit()``): limit takes the first partitions
    — a spatially biased slice (one ingest epoch, one source).

    ``with_total=True`` returns ``(sample, total_rows)`` — each
    partition also emits its non-null row count in the SAME pass, so
    callers needing the population size (e.g. the rescore-factor
    probe's corpus/sample scaling) pay no extra scan."""
    live = vecs.select(F.col(vec_col).cast("array<float>").alias("v")).filter(
        F.col("v").isNotNull()
    )
    # Partition count from the UNFILTERED input (r9): a filtered plan's
    # RDD partition count can diverge from the scan's under AQE.  This
    # deliberately stays the plan's ACTUAL count, not an upper bound
    # like defaultParallelism: quota must be ≥ 2.5× the balanced share
    # over the partitions that really run (2.5·S/actual) — dividing by
    # a 32-way parallelism cap when the scan has 4 partitions keeps
    # 4·(2.5·S/32) ≈ 0.3·S rows total and silently starves the sample.
    # The .rdd conversion is one driver-side plan analysis immediately
    # before a full scan job — noise against the job it sizes.
    nparts = max(1, vecs.rdd.getNumPartitions())
    quota = max(1, -(-int(2.5 * sample_rows) // nparts))

    def bottomk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rng = None
        kept_k: np.ndarray | None = None
        kept_v: list | None = None
        seen = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen += len(pdf)
            if rng is None:
                rng = np.random.default_rng(
                    seed * 1_000_003 + int(pdf["pid"].iloc[0])
                )
            keys = rng.random(len(pdf))
            if kept_k is None:
                kk, kv = keys, list(pdf["v"])
            else:
                kk = np.concatenate([kept_k, keys])
                kv = kept_v + list(pdf["v"])
            if len(kk) > quota:
                sel = np.argpartition(kk, quota - 1)[:quota]
                kept_k, kept_v = kk[sel], [kv[i] for i in sel]
            else:
                kept_k, kept_v = kk, kv
        if kept_k is not None:
            # summary row (k=2.0 > any U(0,1) key — never in the bottom-k)
            yield pd.DataFrame(
                {
                    "k": list(kept_k.astype(float)) + [2.0],
                    "v": kept_v + [None],
                    "cnt": [0] * len(kept_v) + [seen],
                }
            )

    rows = (
        live.withColumn("pid", F.spark_partition_id())
        .mapInPandas(bottomk, schema="k double, v array<float>, cnt long")
        .collect()
    )
    total = sum(r["cnt"] for r in rows)
    rows = [r for r in rows if r["v"] is not None]
    rows.sort(key=lambda r: r["k"])  # global bottom-k = the uniform sample
    sample = [r["v"] for r in rows[:sample_rows]]
    return (sample, total) if with_total else sample


def train_pq_codebooks(
    vecs: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    sample_rows: int = 20_000,
    iters: int = 12,
    seed: int = 7,
) -> list[np.ndarray]:
    """Learn ``m`` codebooks of ``k`` centroids each from (a sample of)
    the corpus.  Vectors are l2-normalized before splitting so ADC
    inner products sum to the cosine; d must divide by m.  Returns a
    list of (k, d/m) float32 arrays — the whole model is m·k·(d/m) =
    k·d floats, broadcastable anywhere.

    Sampling is a SINGLE map-only pass via the bottom-k sketch
    (:func:`uniform_vector_sample`) — no ``count()`` pre-pass, no
    first-partitions bias."""
    sample = uniform_vector_sample(vecs, vec_col, sample_rows, seed)
    x = np.asarray(sample, dtype=np.float32)
    if x.ndim != 2 or x.shape[0] == 0:
        raise ValueError("train_pq_codebooks needs a non-empty vector column")
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    sub = d // m
    return [
        kmeans_np(
            np.ascontiguousarray(x[:, j * sub : (j + 1) * sub], dtype=np.float64),
            k,
            iters,
            seed + j,
        ).astype(np.float32)
        for j in range(m)
    ]


def train_opq(
    vecs: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    sample_rows: int = 20_000,
    iters: int = 12,
    opq_iters: int = 10,
    inner_iters: int = 2,
    seed: int = 7,
) -> tuple[np.ndarray, list[np.ndarray]]:
    """OPQ: learn an orthogonal rotation R that minimizes quantization
    error BEFORE subspace splitting, then the codebooks on the rotated
    sample — the non-parametric alternation of Ge, He, Ke, Sun,
    "Optimized Product Quantization" (CVPR 2013, public).  Plain PQ
    quantizes each d/m-dim slice independently, so when variance/
    correlation is unevenly spread across the NATIVE axes (every real
    embedding model; the margin-concentrated regime where the round-7
    curves measured raw ADC at 0.06–0.24 recall@10) some subspaces
    carry most of the error.  The alternation:

        repeat: codebooks ← Lloyd refresh on X·R (warm-started)
                Y ← per-subspace reconstruction of X·R
                R ← argmin_R ||X·R − Y||_F  =  U·Vᵀ of SVD(Xᵀ·Y)
                (orthogonal Procrustes — the closed-form step)

    Returns ``(rotation, codebooks)``; encode/search take ``rotation=``
    and apply it to rows and queries symmetrically — R is orthogonal so
    rotated inner products EQUAL original inner products, and ADC scores
    remain approximate cosines of the ORIGINAL vectors.  Everything is
    driver-side on the same bottom-k uniform sample as
    :func:`train_pq_codebooks` (model fitting is sample-bounded; the
    corpus pass stays one vectorized encode).  Cost at 3072-d/20 k rows:
    the XᵀY gemm + d×d SVD per alternation — seconds, offline."""
    sample = uniform_vector_sample(vecs, vec_col, sample_rows, seed)
    x = np.asarray(sample, dtype=np.float64)
    if x.ndim != 2 or x.shape[0] == 0:
        raise ValueError("train_opq needs a non-empty vector column")
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    sub = d // m
    rot = np.eye(d)
    books: list[np.ndarray] | None = None
    for _ in range(max(1, opq_iters)):
        xr = x @ rot
        books = [
            kmeans_np(
                np.ascontiguousarray(xr[:, j * sub : (j + 1) * sub]),
                k,
                inner_iters,
                seed + j,
                init=books[j] if books is not None else None,
            )
            for j in range(m)
        ]
        y = pq_reconstruct(pq_codes(xr, books), books, None)
        u, _, vt = np.linalg.svd(x.T @ y)
        rot = u @ vt
    # final polish: full Lloyd budget on the converged rotation
    xr = x @ rot
    books = [
        kmeans_np(
            np.ascontiguousarray(xr[:, j * sub : (j + 1) * sub]),
            k,
            iters,
            seed + j,
            init=books[j],
        ).astype(np.float32)
        for j in range(m)
    ]
    return rot.astype(np.float32), books


def quantization_error(
    x: np.ndarray, codebooks: list[np.ndarray], rotation: np.ndarray | None = None
) -> float:
    """Mean squared reconstruction error of (rotated) rows against the
    codebooks — the objective both trainers minimize; used to verify
    OPQ's rotation actually helps on a given sample."""
    x = np.asarray(x, dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    if rotation is not None:
        x = x @ np.asarray(rotation, dtype=np.float64)
    sub = codebooks[0].shape[1]
    err = 0.0
    for j, b in enumerate(codebooks):
        d2 = sq_dists(x[:, j * sub : (j + 1) * sub], np.asarray(b, dtype=np.float64))
        err += float(np.maximum(d2.min(1), 0.0).sum())
    return err / x.shape[0]


# --- map-only encoders ---------------------------------------------------------


def _encode(
    vecs: DataFrame,
    codebooks: list[np.ndarray],
    id_col: str,
    vec_col: str,
    rotation: np.ndarray | None,
    cells: CoarseCells | None,
    who: str,
) -> DataFrame:
    """The one Arrow pass behind :func:`pq_encode` and
    :func:`ivfpq_encode`: dim check, l2-normalize, rotate, PQ code, and
    (with ``cells``) the coarse cell of the raw vector."""
    books = [np.asarray(b, dtype=np.float32) for b in codebooks]
    rot32 = None if rotation is None else np.asarray(rotation, dtype=np.float32)
    d_expect = len(books) * books[0].shape[1]
    out_cols = ["pq_id"] + (["cluster"] if cells is not None else []) + ["pq_code"]
    fields = [T.StructField("pq_id", vecs.schema[id_col].dataType, False)]
    if cells is not None:
        fields.append(T.StructField("cluster", T.IntegerType(), False))
    fields.append(T.StructField("pq_code", T.ArrayType(T.IntegerType()), False))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({c: [] for c in out_cols})
                continue
            lens = pdf["v"].map(len)
            if (lens != d_expect).any():
                bad = pdf["id"][lens != d_expect].iloc[0]
                raise ValueError(
                    f"{who}: vector id={bad} has dim"
                    f" {lens[lens != d_expect].iloc[0]}, model expects {d_expect}"
                )
            x = np.asarray(list(pdf["v"]), dtype=np.float32)
            out = {"pq_id": pdf["id"].values}
            if cells is not None:
                # cell on the RAW vector (KMeans.transform semantics)
                out["cluster"] = cells.assign(x.astype(np.float64)).astype(np.int32)
            x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            if rot32 is not None:
                x = x @ rot32
            out["pq_code"] = list(pq_codes(x, books))
            yield pd.DataFrame(out)

    base = vecs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<float>").alias("v"),
    ).filter(F.col("v").isNotNull())
    return base.mapInPandas(run, schema=T.StructType(fields)).select(
        F.col("pq_id").alias(id_col), *out_cols[1:]
    )


def pq_encode(
    vecs: DataFrame,
    codebooks: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """(id, pq_code array<int>): each vector l2-normalized, split into
    m subvectors, each assigned its nearest codebook centroid — one
    vectorized gemm per subspace per Arrow batch, map-only.  The id
    column keeps its input type (long, string, UUID — anything Arrow
    round-trips).  ``rotation`` (from :func:`train_opq`) is applied
    after normalization and before splitting; it ships to executors
    once (d² float32 — 36 MB at 3072-d, broadcast-sized)."""
    return _encode(vecs, codebooks, id_col, vec_col, rotation, None, "pq_encode")


def ivfpq_encode(
    vecs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[np.ndarray],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """(id, cluster, pq_code): coarse-quantizer cell + PQ byte code in
    ONE map-only Arrow pass (a gemm against the centroid matrix for the
    cell — :class:`CoarseCells`, the rule ``assign_cells`` uses — plus
    one gemm per subspace for the code).  No join, no shuffle; the
    write side partitions by ``cluster`` so probes prune directories.

    This is FAISS IVF-PQ's layout half (Jégou et al. 2011) over parquet:
    codes are computed on the l2-normalized vector (not the residual) so
    the same codebooks serve both the flat and the IVF-composed scan and
    ADC sums stay cosines.  ``rotation`` (OPQ) applies to the CODE side
    only — the coarse cell stays in the original space, so the probe's
    centroid ranking, the persisted layout, and the drift statistics
    are all rotation-invariant."""
    if not centroids:
        raise ValueError("ivfpq_encode needs a non-empty centroid list")
    return _encode(
        vecs, codebooks, id_col, vec_col, rotation, CoarseCells(centroids),
        "ivfpq_encode",
    )
