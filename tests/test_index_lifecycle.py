"""The coarse-cell lifecycle shared by the IVF and IVF-PQ families
(``operators/index_lifecycle.py``): one recluster body behind both
family entry points, pinned here on a small fixture per family."""

import hashlib
from pathlib import Path

import numpy as np
import pytest

from readwise_vector_db_spark.operators import index_lifecycle as lifecycle
from readwise_vector_db_spark.operators import pq
from readwise_vector_db_spark.operators import quantizer
from readwise_vector_db_spark.operators import similarity as sim

FAMILIES = {
    # family: (data subdir, recluster entry point)
    "ivf": ("assigned", sim.recluster_ivf_cells),
    "ivfpq": ("codes", pq.recluster_cells),
}


def _build(spark, family: str, path: str):
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((4, 16)).astype(np.float32)
    x = centers[rng.integers(0, 4, 320)] + 0.3 * rng.standard_normal(
        (320, 16)
    ).astype(np.float32)
    base = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<float>",
    )
    assigned, cents = sim.build_ivf_index(base, n_clusters=4)
    if family == "ivf":
        sim.save_ivf_index(assigned, cents, path)
    else:
        books = quantizer.train_pq_codebooks(base, m=4, k=16, sample_rows=320)
        pq.save_ivfpq_index(
            quantizer.ivfpq_encode(base, cents, books), cents, books, path,
            base_vecs=base, rf_ks=(), reservoir_per_cell=0,
        )
    return base


def _cell_files(data_dir: str) -> dict[str, dict[str, str]]:
    """cluster dir -> {file name: sha1 of its bytes}."""
    return {
        part.name: {
            f.name: hashlib.sha1(f.read_bytes()).hexdigest()
            for f in part.iterdir()
        }
        for part in Path(data_dir).iterdir()
        if part.name.startswith("cluster=")
    }


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_recluster_contract(spark, tmp_path, family):
    from pyspark.sql import functions as F

    subdir, recluster = FAMILIES[family]
    path = str(tmp_path / family)
    base = _build(spark, family, path)
    data_dir = f"{path}/{subdir}"

    # neither cells nor drifted_vecs: nothing to locate cells from
    with pytest.raises(ValueError, match="pass drifted_vecs or cells"):
        recluster(spark, path)
    # an unknown cell id is named
    with pytest.raises(ValueError, match="999"):
        recluster(spark, path, cells=[999])
    # in-distribution rows offend no cell: the zero result
    assert recluster(spark, path, drifted_vecs=base) == {
        "cells_split": [], "new_cells": [], "rows_rewritten": 0,
        "bytes_rewritten": 0, "bytes_total": lifecycle.dir_bytes(data_dir),
    }
    assert lifecycle.dir_bytes(data_dir) > 0

    # an explicit cell: exactly its rows move, every other cell stays
    counts = {
        int(r["cluster"]): int(r["count"])
        for r in spark.read.parquet(data_dir).groupBy("cluster").count().collect()
    }
    c = max(counts, key=lambda k: (counts[k], -k))
    before = _cell_files(data_dir)
    stats = recluster(spark, path, cells=[c], n_splits=2)
    assert stats["cells_split"] == [c]
    assert stats["rows_rewritten"] == counts[c]
    after = _cell_files(data_dir)
    for part, files in before.items():
        if part != f"cluster={c}":
            assert after.get(part) == files, f"untouched {part} changed"
    moved = spark.read.parquet(data_dir).filter(
        F.col("cluster").isin([c] + stats["new_cells"])
    )
    assert moved.count() == counts[c]
    # the new centroid table lists every cell that now holds rows
    cells = {cid for cid, _ in lifecycle.read_centroids(spark, path)}
    assert {int(p.split("=")[1]) for p in after} <= cells
