"""Measure the index autovacuum at study scale (round 11).

Corpus note: the replicated fixture embeddings (/tmp/sfx10) are
unit-norm near-orthogonal noise — no cluster structure, so "localized
drift" cannot exist there by construction (measured: pairwise cosine
≈ 0.001, base coarse distortion 0.68).  The policy study therefore
runs on the CLUSTERED synthetic corpus the r10 remediation benchmark
established (tools/bench_ann_recall.py's blob regime): n points from
``centers`` Gaussian modes, drift = a disjoint 2-mode source.

Three questions a 100 TB operator asks of `maintenance.maintain_index`:

1. **What does the health scan (ANALYZE) cost?**  One decode pass over
   the codes + a cells-sized shuffle — timed at sample_fraction 1.0 vs
   0.25 (per-cell means converge long before a full pass, so sampling
   is the scale lever; note it also thins small cells below
   ``min_cell_rows`` — populated-cell counts are reported).
2. **What does policy-driven remediation cost vs the blunt tool?**
   Force-append the drifted source, let maintain_index decide and
   execute recluster (hint path — the increment is in hand); record
   wall + bytes_rewritten/bytes_total against a full rebuild's wall.
3. **What does the decision itself cost?**  The none-branch wall on a
   healthy layout (scan + three scalars + a log line).

Usage: python tools/bench_maintenance_policy.py [n] [d] [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
    d = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    n_centers, sigma = 32, 0.4
    work = "/tmp/maint_policy"

    from readwise_vector_db_spark.maintenance import (
        MaintenancePolicy,
        maintain_index,
    )
    from readwise_vector_db_spark.operators import pq
    from readwise_vector_db_spark.operators import quantizer
    from readwise_vector_db_spark.operators import similarity as sim
    from readwise_vector_db_spark.session import get_spark

    spark = get_spark("bench_maint_policy")

    rng = np.random.default_rng(3)
    centers = rng.standard_normal((n_centers, d)).astype(np.float32)
    base = centers[rng.integers(0, n_centers, n)] + sigma * rng.standard_normal(
        (n, d)
    ).astype(np.float32)
    base_df = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).repartition(32).persist()
    base_df.count()
    print(f"# clustered corpus: n={n} d={d} centers={n_centers}", flush=True)

    shutil.rmtree(work, ignore_errors=True)
    _, cents = sim.build_ivf_index(base_df, n_clusters=n_centers)
    books = quantizer.train_pq_codebooks(base_df, m=8, k=256, sample_rows=5000)
    t0 = time.monotonic()
    pq.save_ivfpq_index(
        quantizer.ivfpq_encode(base_df, cents, books), cents, books, f"{work}/idx",
        base_vecs=base_df, rf_ks=(),
    )
    rebuild_wall = time.monotonic() - t0

    # 1+3. health scan / none-decision cost, full vs sampled
    for frac in (1.0, 0.25):
        walls = []
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            rec = maintain_index(
                spark, f"{work}/idx", execute=False, sample_fraction=frac
            )
            walls.append(time.monotonic() - t0)
        print(
            json.dumps(
                {
                    "metric": "health_scan",
                    "sample_fraction": frac,
                    "wall_min_s": round(min(walls), 3),
                    "action": rec["action"],
                    "cells": rec["measurements"].get("cells_populated"),
                }
            ),
            flush=True,
        )

    # 2. localized drift (2 disjoint modes, ~10 % of corpus) → policy
    rng2 = np.random.default_rng(91)
    d_centers = rng2.standard_normal((2, d)).astype(np.float32)
    n_inc = n // 10
    drifted = d_centers[rng2.integers(0, 2, n_inc)] + sigma * rng2.standard_normal(
        (n_inc, d)
    ).astype(np.float32)
    drifted_df = spark.createDataFrame(
        [(10_000_000 + i, [float(v) for v in drifted[i]]) for i in range(n_inc)],
        "vec_id long, embedding array<float>",
    )
    pq.append_to_ivfpq_index(
        drifted_df, f"{work}/idx", max_distortion_ratio=None
    )
    spark.catalog.clearCache()
    t0 = time.monotonic()
    rec = maintain_index(
        spark, f"{work}/idx", policy=MaintenancePolicy(),
        drifted_vecs=drifted_df,
    )
    wall = time.monotonic() - t0
    res = rec.get("result", {})
    print(
        json.dumps(
            {
                "metric": "policy_recluster",
                "action": rec["action"],
                "executed": rec["executed"],
                "wall_s": round(wall, 3),
                "rebuild_wall_s": round(rebuild_wall, 3),
                "cells_split": len(res.get("cells_split", [])),
                "rows_rewritten": res.get("rows_rewritten"),
                "bytes_rewritten": res.get("bytes_rewritten"),
                "bytes_total": res.get("bytes_total"),
                "rewrite_frac": round(
                    (res.get("bytes_rewritten") or 0)
                    / max(1, res.get("bytes_total") or 1),
                    4,
                ),
            }
        ),
        flush=True,
    )
    # the gate the repair exists to restore
    t0 = time.monotonic()
    more = spark.createDataFrame(
        [(20_000_000 + i, [float(v) for v in drifted[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    try:
        pq.append_to_ivfpq_index(more, f"{work}/idx")
        gate = "pass"
    except ValueError:
        gate = "still-rejecting"
    print(
        json.dumps(
            {"metric": "post_recluster_gate", "result": gate,
             "wall_s": round(time.monotonic() - t0, 3)}
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
