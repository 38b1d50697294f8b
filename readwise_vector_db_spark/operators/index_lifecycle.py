"""Coarse-cell index lifecycle shared by the IVF and IVF-PQ families.

Both persisted coarse-cell layouts — raw-vector IVF
(``operators/similarity.py``: ``{path}/assigned``) and IVF-PQ
(``operators/pq.py``: ``{path}/codes``, Jégou et al., TPAMI 2011) — are
a ``cluster``-partitioned parquet table plus a centroid table.  What
does not depend on how a row stores its vector lives here, once:

- the centroid table (:func:`write_centroids` / :func:`read_centroids`)
  and the probe rule that ranks it against a query (:func:`probe_cells`);
- tombstone deletes and compaction (:func:`delete_from_index`,
  :func:`apply_tombstones`, :func:`compact_index` — also used by the
  flat PQ layout);
- drift remediation by cell split (:func:`recluster`), parameterized by
  a small per-family :class:`CellCodec`;
- the family-agnostic helpers: :func:`cell_distortion_frame` and
  :func:`dir_bytes`.

Which cell a vector belongs to is ``quantizer.CoarseCells``'s rule, the
one the IVF-PQ encoder and ``similarity.assign_cells`` use.

The reference keeps one vector index with one lifecycle: Postgres
builds it, maintains it in place and can REINDEX it (migration
``6e900a582819``).  Every mutation here holds the layout's maintenance
lease (``layout.maintenance_lease``, re-entrant per thread, so a
composed maintainer such as ``maintain_index`` passes straight through).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Iterator, NamedTuple, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from readwise_vector_db_spark import storage
from readwise_vector_db_spark.layout import maintenance_lease
from readwise_vector_db_spark.operators.quantizer import (
    CoarseCells,
    kmeans_np,
    uniform_vector_sample,
)

# --- family-agnostic helpers -------------------------------------------------


def cell_distortion_frame(
    vecs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster, n, mean_dist) per ASSIGNED coarse cell — the
    cell-granular twin of ``pq.grouped_distortion_frame``: one
    vectorized map pass (assignment + distance share the same gemm)
    plus one tiny shuffle of (cell, partials).  This is the statistic
    :func:`recluster` localizes drift with: not "the increment is
    drifted" but "cells 3 and 17 are where the drifted mass lands"."""
    coarse = CoarseCells(centroids)
    schema = "cluster int, _cd double"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            raw = np.asarray(list(pdf["_v"]), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "cluster": coarse.assign(raw).astype(np.int32),
                    "_cd": coarse.cos_dist(raw),
                }
            )

    return (
        vecs.select(F.col(vec_col).cast("array<float>").alias("_v"))
        .filter(F.col("_v").isNotNull())
        .mapInPandas(run, schema=schema)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("_cd").alias("mean_dist"))
    )


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path`` (0 when it is missing)."""
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


# --- centroid table and probe rule -------------------------------------------


def write_centroids(
    spark, centroids: list[tuple[int, list[float]]], path: str
) -> None:
    """Write ``{path}/centroids``: one small parquet file of
    (cluster, centroid) — the driver-side index metadata every
    coarse-cell layout (ivf, ivfpq, quantizer) persists."""
    spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def read_centroids(spark, path: str) -> list[tuple[int, list[float]]]:
    """The centroid table at ``{path}/centroids`` as a list of
    (cluster id, centroid) sorted by cluster id."""
    cent = spark.read.parquet(f"{path}/centroids").collect()
    return sorted(
        (int(r["cluster"]), [float(x) for x in r["centroid"]]) for r in cent
    )


def probe_cells(
    centroids: list[tuple[int, list[float]]], query, nprobe: int
) -> list[int]:
    """Ids of the ``nprobe`` cells whose centroids are nearest ``query``
    by cosine distance, ties broken by cell id — the driver-side probe
    rule of every coarse-cell search.  A zero-norm centroid or query
    ranks at distance 1.  Ranking is in the original space, matching how
    rows were assigned to cells."""
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    def cos_dist(c: list[float]) -> float:
        cv = np.asarray(c, dtype=np.float64)
        denom = float(np.linalg.norm(cv)) * qn
        return 1.0 - float(cv @ q) / denom if denom > 0 else 1.0

    probe = sorted(centroids, key=lambda t: (cos_dist(t[1]), t[0]))[:nprobe]
    return [cid for cid, _ in probe]


# --- tombstones and compaction -----------------------------------------------


def delete_from_index(spark, path: str, ids, id_col: str = "vec_id") -> int:
    """Tombstone-delete ids from a persisted index layout (pq, ivfpq or
    ivf — round 9, the right-to-be-forgotten path; deletes previously
    meant a full rebuild).  Two-phase, the Delta/Iceberg delete-vector
    pattern re-expressed on plain parquet:

    1. ``delete_from_index`` appends the ids to ``{path}/tombstones``
       (one string column, O(delete) write) — every subsequent
       ``load_*_index`` anti-joins its scan against the tombstone set
       (:func:`apply_tombstones`), so deleted ids stop serving
       IMMEDIATELY, with no touch of the data files.
    2. :func:`compact_index` physically rewrites the data minus the
       tombstones and clears the set — run it when the tombstone
       fraction warrants (the bytes stay on disk until then — stated
       honestly; the serving contract is step 1, the storage contract
       is step 2).

    ``ids`` is a list or a single-column DataFrame.  Returns the number
    of tombstones written.  Catalyst auto-broadcasts the file-backed
    tombstone set for the anti-join while compaction keeps it small
    (the normal regime) and falls back to a shuffle join if a neglected
    layout accumulates a broadcast-unsafe set — the scan's partition
    pruning is unchanged either way."""
    if isinstance(ids, DataFrame):
        tomb = ids.select(F.col(ids.columns[0]).cast("string").alias(id_col))
    else:
        ids = list(ids)
        tomb = spark.createDataFrame(
            [(str(i),) for i in ids], f"{id_col} string"
        )
    n = tomb.count()
    if n:
        tomb.coalesce(1).write.mode("append").parquet(f"{path}/tombstones")
    return n


def apply_tombstones(spark, path: str, codes: DataFrame) -> DataFrame:
    """Anti-join a loaded index frame against the layout's tombstone
    set, if any — id compared as string so long/uuid ids both match."""
    if not os.path.isdir(f"{path}/tombstones") or not any(
        files for _, _, files in os.walk(f"{path}/tombstones")
    ):
        return codes
    tomb = spark.read.parquet(f"{path}/tombstones").distinct()
    tcol = tomb.columns[0]
    if tcol not in codes.columns:
        # Never guess a join key: anti-joining on an arbitrary column
        # (a custom id_col, or a layout whose first column is cluster/
        # embedding) matches nothing, so deleted ids would silently
        # keep serving — defeating the delete contract.
        raise ValueError(
            f"tombstone column {tcol!r} not present in codes schema "
            f"{codes.columns}; the layout at {path!r} was written with a "
            "different id_col than its tombstones"
        )
    # no forced broadcast hint: the tombstone set is file-backed, so
    # Catalyst auto-broadcasts while it's small (the normal regime,
    # bounded by compaction cadence) and falls back to a shuffle join
    # if a neglected layout accumulates a broadcast-unsafe set — slower
    # probes then, never an executor OOM
    return codes.join(
        tomb,
        codes[tcol].cast("string") == tomb[tcol],
        "left_anti",
    )


def compact_index(
    spark, path: str, partition_cluster: bool | None = None,
    subdir: str = "codes", lease_wait: float = 0.0,
) -> int:
    """Physically remove tombstoned rows: rewrite ``{path}/{subdir}``
    (``codes`` for pq/ivfpq, ``assigned`` for ivf) minus the tombstone
    set into a staging dir, swap it into place, then drop exactly the
    tombstone FILES the rewrite consumed — a :func:`delete_from_index`
    landing mid-compaction keeps its tombstone and still applies on the
    next load (no resurrection).  The swap is two renames (POSIX has no
    atomic directory exchange); a crash between them is self-healed by
    ``storage.recover_swap`` at the next load or compaction
    (roll-forward to the counted stage), so serving never regresses
    past one touch.  ``partition_cluster`` controls whether the rewrite
    keeps the cluster partitioning (auto-detected from the schema when
    None).  Returns surviving row count.

    Mutual exclusion is STRUCTURAL (round 11): the layout's maintenance
    lease (``layout.maintenance_lease``) is held for the duration — a
    concurrent compact/recluster/append refuses with
    ``MaintenanceBusy`` (or waits up to its own ``lease_wait``), and a
    crashed holder's lease is recovered by pid-liveness."""
    with maintenance_lease(path, "compact", wait=lease_wait):
        storage.recover_swap(path, subdir)
        # an interrupted RESERVOIR purge must also self-heal BEFORE the
        # tombstone accounting below (round-12 review): if the reservoir
        # were left swapped-away, the purge block's isdir gate would skip
        # it while the final loop still dropped the tombstone files —
        # deleted ids' raw vectors retained forever and resurrectable
        if subdir == "codes":
            storage.recover_swap(path, "reservoir")
        # the data dir exists now and we are the single writer: aborted
        # stage/old dirs from prior crashed runs (any pid) are garbage —
        # clear them so they can never be mistaken for a committed stage
        storage.clean_orphans(path, subdir)
        # snapshot the tombstone files BEFORE the rewrite: only these are
        # guaranteed applied by the stage job; later arrivals must survive
        tomb_dir = f"{path}/tombstones"
        pre_files: list[str] = []
        if os.path.isdir(tomb_dir):
            for root, _, files in os.walk(tomb_dir):
                pre_files.extend(os.path.join(root, fn) for fn in files)
        codes = apply_tombstones(
            spark, path, spark.read.parquet(f"{path}/{subdir}")
        )
        if partition_cluster is None:
            partition_cluster = "cluster" in codes.columns
        stage_name = storage.swap_stage_name(subdir)
        stage = f"{path}/{stage_name}"
        shutil.rmtree(stage, ignore_errors=True)
        w = codes.write.mode("overwrite")
        if partition_cluster:
            w = w.partitionBy("cluster")
        w.parquet(stage)
        n = spark.read.parquet(stage).count()
        # commit the stage: recovery only ever rolls FORWARD to the stage
        # named in the intent marker (see storage.recover_swap)
        storage.swap_dir(path, subdir, stage_name)
        # Physically purge tombstoned rows from the ivfpq raw-vector
        # reservoir too (round 12) — it stores RAW vectors, so leaving
        # deleted rows' bytes behind would break the right-to-be-forgotten
        # contract compaction completes for the codes.  Runs BEFORE the
        # tombstone files are dropped: a crash in between leaves the
        # tombstones in place, so reservoir loads keep filtering and the
        # next compaction finishes the purge — never a resurrection
        # window.  Same staged double-rename as the codes swap.
        if subdir == "codes" and os.path.isdir(f"{path}/reservoir") and pre_files:
            storage.clean_orphans(path, "reservoir")
            res_clean = apply_tombstones(
                spark, path, spark.read.parquet(f"{path}/reservoir")
            )
            rstage_name = storage.swap_stage_name("reservoir")
            res_clean.write.mode("overwrite").parquet(f"{path}/{rstage_name}")
            meta_src = f"{path}/reservoir/_meta.json"
            if os.path.isfile(meta_src):
                shutil.copy(meta_src, f"{path}/{rstage_name}/_meta.json")
            storage.swap_dir(path, "reservoir", rstage_name)
        for fp_ in pre_files:
            try:
                os.remove(fp_)
            except FileNotFoundError:
                pass
        try:
            os.rmdir(tomb_dir)  # only if no concurrent delete landed
        except OSError:
            pass
        return int(n)


# --- drift remediation by cell split -----------------------------------------


class CellCodec(NamedTuple):
    """What :func:`recluster` needs to know about one coarse-cell family.

    - ``name``: the family's public entry point, used in error messages;
    - ``subdir``: the cluster-partitioned data dir (``assigned`` /
      ``codes``);
    - ``code_col``: the column a row's vector is decoded from;
    - ``unit_space``: train sub-centroids on unit-normalized vectors and
      rescale each to the cell's raw norm (IVF-PQ, whose decoded rows
      live in the normalized space ADC scores) instead of on the raw
      vectors as they are (IVF);
    - ``load(spark, path) -> (rows, centroids, decode)``: the layout's
      tombstone-filtered rows, its centroids, and ``decode(values)``
      turning a sequence of ``code_col`` values into a float64 matrix in
      the training space;
    - ``baseline(spark, path, rows, centroids) -> float``: the drift
      baseline a drifted cell's mean distortion is compared against.
    """

    name: str
    subdir: str
    code_col: str
    unit_space: bool
    load: Callable
    baseline: Callable


def _no_split(path: str, subdir: str) -> dict:
    return {
        "cells_split": [], "new_cells": [], "rows_rewritten": 0,
        "bytes_rewritten": 0, "bytes_total": dir_bytes(f"{path}/{subdir}"),
    }


def recluster(
    spark,
    path: str,
    codec: CellCodec,
    drifted_vecs: DataFrame | None = None,
    cells: Sequence[int] | None = None,
    n_splits: int = 2,
    max_distortion_ratio: float = 2.0,
    vec_col: str = "embedding",
    min_cell_rows: int = 10,
    sample_per_cell: int = 4_000,
    seed: int = 7,
    lease_wait: float = 0.0,
) -> dict:
    """Targeted drift remediation for a coarse-cell layout: split ONLY
    the offending cells and rewrite only their partitions — the body
    behind ``pq.recluster_cells`` and ``similarity.recluster_ivf_cells``.

    Offending cells: explicit ``cells=``, or located from
    ``drifted_vecs`` via :func:`cell_distortion_frame` — the cells where
    the drifted rows' mean distortion exceeds ``max_distortion_ratio`` ×
    the family's baseline (and at least ``min_cell_rows`` drifted rows
    land).  Each offending cell is k-means-split into ``n_splits``
    sub-centroids trained on a bounded union sample of the cell's
    existing rows (decoded by the codec) and the drifted rows assigned
    there; the first sub-centroid REUSES the old cell id (so dynamic
    partition overwrite replaces that directory), the rest take fresh
    ids past the current max.

    Crash ordering: the new centroid table publishes FIRST (a centroid
    without a partition is harmless; a partition whose cluster id is
    missing from the table is silently unsearchable), then the
    offending partitions rewrite via dynamic partition overwrite.
    Tombstones ride through untouched (id-based anti-join at load).
    Multi-assign layouts work per copy: an offending cell's copies
    re-assign among its splits; copies in healthy cells are never
    touched.  The layout's maintenance lease is held throughout.

    Returns ``cells_split``, ``new_cells``, ``rows_rewritten``,
    ``bytes_rewritten`` and ``bytes_total``."""
    with maintenance_lease(path, "recluster", wait=lease_wait):
        rows_all, centroids, decode = codec.load(spark, path)
        cent_by_id = {int(c): [float(x) for x in v] for c, v in centroids}

        # --- locate the offending cells ----------------------------------
        if cells is None:
            if drifted_vecs is None:
                raise ValueError(f"{codec.name}: pass drifted_vecs or cells")
            base = codec.baseline(spark, path, rows_all, centroids)
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
            raise ValueError(f"{codec.name}: unknown cell ids {unknown}")
        if not cells:
            return _no_split(path, codec.subdir)

        # --- bounded drifted sample, assigned driver-side ----------------
        drift_sample: dict[int, np.ndarray] = {}
        drift_scale: dict[int, float] = {}
        if drifted_vecs is not None:
            samp = uniform_vector_sample(
                drifted_vecs, vec_col, sample_per_cell * max(1, len(cells)), seed
            )
            if samp:
                x = np.asarray([list(v) for v in samp], dtype=np.float64)
                assign = CoarseCells(centroids).assign(x)
                if codec.unit_space:
                    raw_norms = np.maximum(np.linalg.norm(x, axis=1), 1e-12)
                    x = x / raw_norms[:, None]
                for c in cells:
                    mask = assign == c
                    if mask.any():
                        drift_sample[c] = x[mask][:sample_per_cell]
                        if codec.unit_space:
                            drift_scale[c] = float(raw_norms[mask].mean())

        # --- per-cell counts + existing-row samples (partition-pruned) ---
        counts = {
            int(r["cluster"]): int(r["n"])
            for r in rows_all.filter(F.col("cluster").isin(cells))
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        frac_map = []
        for c in cells:
            frac_map.extend(
                [F.lit(c), F.lit(min(1.0, sample_per_cell / max(1, counts.get(c, 0))))]
            )
        sample_rows = (
            rows_all.filter(F.col("cluster").isin(cells))
            .withColumn("_f", F.element_at(F.create_map(*frac_map), F.col("cluster")))
            .filter(F.rand(seed) < F.col("_f"))
            .select("cluster", codec.code_col)
            .collect()
        )
        existing: dict[int, np.ndarray] = {}
        for c in cells:
            vals = [r[codec.code_col] for r in sample_rows if r["cluster"] == c]
            if vals:
                existing[c] = decode(vals)

        # --- train the splits --------------------------------------------
        next_id = max(cent_by_id) + 1
        split_cents: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        new_cells: list[int] = []
        for c in cells:
            parts = [a for a in (existing.get(c), drift_sample.get(c))
                     if a is not None and len(a)]
            if not parts:
                continue
            x = np.concatenate(parts, axis=0)
            k = min(n_splits, len(x))
            sub = kmeans_np(x, k, iters=10, seed=seed)
            if codec.unit_space:
                # Encode-side assignment is raw-euclidean against
                # centroids at the corpus's RAW scale — a unit-norm
                # sub-centroid next to norm-‖μ‖ originals would skew every
                # cross-centroid distance.  Rescale each sub-centroid to
                # the raw scale observed in the cell: the drifted rows'
                # mean raw norm when we have it, else the original
                # centroid's own norm (a k-means centroid is the mean of
                # its raw rows).
                if c in drift_scale:
                    s = drift_scale[c]
                else:
                    s = float(np.linalg.norm(np.asarray(cent_by_id[c])))
                norms = np.maximum(np.linalg.norm(sub, axis=1, keepdims=True), 1e-12)
                sub = sub / norms * s
            ids = np.asarray(
                [c] + list(range(next_id, next_id + k - 1)), dtype=np.int64
            )
            next_id += k - 1
            new_cells.extend(int(i) for i in ids[1:])
            split_cents[c] = (ids, sub)
        if not split_cents:
            return _no_split(path, codec.subdir)

        # --- publish the new centroid table FIRST (crash ordering) -------
        # pre-rewrite rows stay in their old cell id, which the new table
        # keeps (sub0 reuses it); re-running the recluster completes it
        new_centroids = [(cid, v) for cid, v in centroids if cid not in split_cents]
        for c, (ids, sub) in split_cents.items():
            new_centroids.extend(
                (int(i), [float(x) for x in sub[j]]) for j, i in enumerate(ids)
            )
        write_centroids(spark, sorted(new_centroids), path)

        # --- re-assign ONLY the offending cells' rows --------------------
        cols = rows_all.columns
        code_col = codec.code_col
        splits_bc = {
            c: CoarseCells(zip(ids, sub)) for c, (ids, sub) in split_cents.items()
        }

        def reassign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cluster = pdf["cluster"].to_numpy()
                out_cluster = cluster.copy()
                codes = pdf[code_col].to_numpy()
                for c, split in splits_bc.items():
                    mask = cluster == c
                    if not mask.any():
                        continue
                    out_cluster[mask] = split.assign(decode(codes[mask]))
                pdf = pdf.assign(cluster=out_cluster.astype(np.int32))
                yield pdf[cols]

        data_dir = f"{path}/{codec.subdir}"
        touched = rows_all.filter(F.col("cluster").isin(list(split_cents)))
        # eager localCheckpoint: materializes the reassignment AND truncates
        # lineage, so the overwrite below doesn't read the directory it is
        # rewriting (Spark refuses a write whose plan scans the target path)
        reassigned = touched.mapInPandas(
            reassign, schema=rows_all.schema
        ).localCheckpoint(eager=True)
        written_cells = {
            int(r["cluster"])
            for r in reassigned.select("cluster").distinct().collect()
        }
        n_rewritten = reassigned.count()
        old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            reassigned.write.mode("overwrite").partitionBy("cluster").parquet(data_dir)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
        # a split whose old id received NO rows isn't in the written set, so
        # dynamic overwrite didn't replace its directory — drop it explicitly
        # (its rows were all rewritten under other ids)
        for c in split_cents:
            if c not in written_cells:
                shutil.rmtree(f"{data_dir}/cluster={c}", ignore_errors=True)

        bytes_rewritten = sum(
            dir_bytes(f"{data_dir}/cluster={c}")
            for c in written_cells | set(split_cents)
        )
        return {
            "cells_split": sorted(split_cents),
            "new_cells": sorted(new_cells),
            "rows_rewritten": int(n_rewritten),
            "bytes_rewritten": int(bytes_rewritten),
            "bytes_total": int(dir_bytes(data_dir)),
        }
