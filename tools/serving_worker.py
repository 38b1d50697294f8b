"""One serving process = one SparkSession JVM over the shared warm layout.

The scale-out unit for tools/bench_scaleout.py (round-5 verdict item 2):
the warm index is files + catalog DDL, so any number of processes can
open it; this script is what "add an executor behind the balancer"
means on one box.

Modes:
  http <sf_dir> <port> <cores> [exact|ivf[:nprobe[:cells]]]
      Open the warm layout, serve POST /search on <port>, print READY.
      ``ivf`` serves every unfiltered request through the IVF probe
      path (SearchService ann_nprobe) — the composed two-lever config:
      processes × approximate index.
  inproc <sf_dir> <users> <reps> <cores> [exact|ivf]
      Run <users> concurrent threads x <reps> warm served_search_sql
      requests (stored query vectors, k=10) and print one JSON line of
      latencies — the 3072-d concurrency harness, where HTTP would
      change the embedding dimension.  ``ivf`` passes nprobe=4 of 16
      cells to served_search_sql (the reference-HNSW-analogue
      approximate mode) and reports recall@10 of each query vs the
      exact path next to the latencies.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    mode, sf_dir = sys.argv[1], sys.argv[2]
    if mode == "http":
        port, cores = int(sys.argv[3]), sys.argv[4]
    else:
        users, reps, cores = int(sys.argv[3]), int(sys.argv[4]), sys.argv[5]
    os.environ["SPARK_GRAFT_CPUS"] = cores

    from readwise_vector_db_spark.session import get_spark

    spark = get_spark(f"serving_worker_{os.getpid()}")

    if mode == "http":
        from readwise_vector_db_spark.api.http_server import serve
        from readwise_vector_db_spark.api.service import SearchService

        variant = sys.argv[5] if len(sys.argv) > 5 else "exact"
        nprobe = None
        if variant.startswith("ivf"):
            # "ivf" = nprobe 4 (of served_search_sql's 16 cells);
            # "ivf:8" = nprobe 8 — the cell count stays the serving
            # default so the artifact is shared across workers
            parts = variant.split(":")
            nprobe = int(parts[1]) if len(parts) > 1 else 4
        service = SearchService(spark, sf_dir, warm=True, ann_nprobe=nprobe)
        server = serve(service, port=port)
        print(f"READY {server.server_address[1]}", flush=True)
        server.serve_forever()
        return

    # --- inproc concurrency mode ---------------------------------------
    import concurrent.futures

    from readwise_vector_db_spark.operators.search import SearchParams
    from readwise_vector_db_spark.sources.search_index import (
        served_search_sql,
        stored_query_vector,
        warm_tables,
    )

    variant = sys.argv[6] if len(sys.argv) > 6 else "exact"
    warm_tables(spark, sf_dir)
    qvs = [v for v in (stored_query_vector(sf_dir, str(q)) for q in range(1, 6)) if v]
    params = SearchParams(k=10)

    nprobe, n_cells = None, 16
    if variant.startswith("ivf"):
        # "ivf" = nprobe 4 of 16 cells; "ivf:8:64" = nprobe 8 of 64
        parts = variant.split(":")
        nprobe = int(parts[1]) if len(parts) > 1 else 4
        n_cells = int(parts[2]) if len(parts) > 2 else 16

    def request(qv):
        return served_search_sql(
            spark, sf_dir, qv, params, nprobe=nprobe, n_clusters=n_cells
        )

    recall = None
    if variant.startswith("ivf"):
        # recall@10 vs the exact path (index build + both paths warm
        # before measurement starts) — on the stored corpus vectors
        # (IVF's easy case: the query co-clusters with itself) AND on
        # perturbed non-corpus queries (each stored vector + deterministic
        # N(0, 0.05·std) noise — a query NEAR the corpus but not in it,
        # the regime where boundary-straddling neighbors get missed)
        import random

        def _recall(vecs) -> float | None:
            hits, want_n = 0, 0
            for qv in vecs:
                want = {
                    r["id"]
                    for r in served_search_sql(spark, sf_dir, qv, params).collect()
                }
                got = {r["id"] for r in request(qv).collect()}
                hits += len(want & got)
                want_n += len(want)
            return round(hits / want_n, 3) if want_n else None

        rng = random.Random(97)
        scale = 0.05 * (sum(x * x for x in qvs[0]) / len(qvs[0])) ** 0.5
        perturbed = [
            [x + rng.gauss(0.0, scale) for x in qv] for qv in qvs
        ]
        recall = {"stored": _recall(qvs), "perturbed": _recall(perturbed)}
    for i in range(3):  # codegen warm-up, unmeasured
        request(qvs[i % len(qvs)]).write.format("noop").mode("overwrite").save()
    print("WARMED", flush=True)
    # wait for the orchestrator's go signal so two workers start together
    sys.stdin.readline()

    def user_loop(uid: int) -> list[float]:
        out = []
        for i in range(reps):
            qv = qvs[(uid + i) % len(qvs)]
            t0 = time.perf_counter()
            request(qv).write.format("noop").mode("overwrite").save()
            out.append(time.perf_counter() - t0)
        return out

    t0 = time.perf_counter()
    with concurrent.futures.ThreadPoolExecutor(max_workers=users) as ex:
        lat = sorted(x for res in ex.map(user_loop, range(users)) for x in res)
    wall = time.perf_counter() - t0
    print(
        "RESULT "
        + json.dumps({"lat": lat, "wall": wall, "variant": variant, "recall": recall}),
        flush=True,
    )


if __name__ == "__main__":
    main()
