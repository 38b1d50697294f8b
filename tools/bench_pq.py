"""Measure PQ/IVF-PQ serving probes against the exact scan and plain IVF.

Usage: python tools/bench_pq.py [corpus_dir] [reps]

Corpus = an embeddings.parquet dir (default the 3072-d ×10 replica at
/tmp/sf3072_x10 — the reference-width regime where bytes-per-row is the
whole story: a raw row is 12 KB of floats, a PQ code is m ints).

Methodology (SCALING.md "host noise"): artifacts are built ONCE
offline, probes timed with caches drained between reps, MIN of reps
reported.  Each timed call is one query vector end-to-end (candidate
scan + exact rescore where the config does one), exactly the per-probe
shape the ann_ivf_probe/pq_probe bench rows measure.  Recall@10 is
measured per config against the exact fold scan over 5 stored queries.

Emits one JSON line per config: {config, wall_min_s, recall_at_10,
bytes_scanned_approx}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    corpus_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf3072_x10"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    art_root = os.environ.get("RWVDB_PQ_BENCH_DIR", "/tmp/pq_bench_artifacts")

    from readwise_vector_db_spark.operators import pq
    from readwise_vector_db_spark.operators import quantizer
    from readwise_vector_db_spark.operators import similarity as sim
    from readwise_vector_db_spark.operators.search import vector_literal
    from readwise_vector_db_spark.functions.vector import cosine_distance
    from readwise_vector_db_spark.session import get_spark

    spark = get_spark("bench_pq")
    embs = spark.read.parquet(f"{corpus_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n, d = embs.count(), len(embs.first()["embedding"])
    # subspace width 48 keeps ADC informative at reference width; at
    # 64-d the flat fixture uses the suite's m=8
    m = 8 if d <= 64 else d // 48
    print(f"# corpus {corpus_dir}: n={n} d={d} -> PQ m={m}, k=256", flush=True)

    qrows = embs.filter(F.col("vec_id") < 5).collect()
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]

    def exact_topk(qv: list[float], k: int = 10):
        q_lit = vector_literal(qv)
        acc = 0.0
        for x in qv:
            acc += float(x) * float(x)
        return (
            embs.filter(F.col("embedding").isNotNull())
            .select(
                "vec_id",
                F.round(
                    cosine_distance(
                        F.col("embedding"), q_lit, b_norm=F.lit(acc**0.5)
                    ),
                    6,
                ).alias("cos_dist"),
            )
            .orderBy(F.asc("cos_dist"), F.asc("vec_id"))
            .limit(k)
        )

    # ---- offline builds (once; not timed as serving) -------------------
    key = os.path.basename(os.path.normpath(corpus_dir))
    art = f"{art_root}/{key}-m{m}"
    if not os.path.exists(f"{art}/_BUILT"):
        shutil.rmtree(art, ignore_errors=True)
        t0 = time.monotonic()
        assigned, centroids = sim.build_ivf_index(embs, n_clusters=16)
        sim.save_ivf_index(assigned, centroids, f"{art}/ivf")
        t1 = time.monotonic()
        books = quantizer.train_pq_codebooks(embs, m=m, k=256, sample_rows=5000)
        pq.save_pq_index(quantizer.pq_encode(embs, books), books, f"{art}/pq")
        t2 = time.monotonic()
        pq.save_ivfpq_index(
            quantizer.ivfpq_encode(embs, centroids, books), centroids, books,
            f"{art}/ivfpq",
        )
        t3 = time.monotonic()
        # the composed headline stack (round 9): OPQ rotation + IVF-PQ,
        # auto-rf SIZED AT BUILD into the layout's rescore.json — the
        # serving probe below then resolves rescore_factor="auto" with
        # zero sampling jobs (r9's persisted-rf machinery, measured here
        # at the ×10 corpus)
        rot, obooks = quantizer.train_opq(embs, m=m, k=256, sample_rows=5000)
        pq.save_ivfpq_index(
            quantizer.ivfpq_encode(embs, centroids, obooks, rotation=rot),
            centroids, obooks, f"{art}/ivfpq_opq",
            base_vecs=embs, rotation=rot, rf_ks=(10,),
        )
        t4 = time.monotonic()
        open(f"{art}/_BUILT", "w").close()
        print(
            f"# build walls: ivf {t1-t0:.1f}s  pq {t2-t1:.1f}s  "
            f"ivfpq {t3-t2:.1f}s  ivfpq_opq+auto_rf {t4-t3:.1f}s",
            flush=True,
        )

    ivf_assigned, ivf_cents = sim.load_ivf_index(spark, f"{art}/ivf")
    pq_codes, pq_books = pq.load_pq_index(spark, f"{art}/pq")
    ipq_codes, ipq_cents, ipq_books = pq.load_ivfpq_index(spark, f"{art}/ivfpq")
    opq_codes, opq_cents, opq_books = pq.load_ivfpq_index(spark, f"{art}/ivfpq_opq")
    opq_rot = pq.load_rotation(spark, f"{art}/ivfpq_opq")

    def du(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    raw_bytes = du(f"{corpus_dir}/embeddings.parquet")

    configs = {
        "exact_fold_scan": (
            lambda qv: exact_topk(qv),
            raw_bytes,
        ),
        "ivf_probe_np4": (
            lambda qv: sim.ivf_search(ivf_assigned, ivf_cents, qv, k=10, nprobe=4),
            du(f"{art}/ivf/assigned") * 4 // 16,
        ),
        "pq_adc_flat": (
            lambda qv: pq.pq_search(
                pq_codes, qv, pq_books, k=10, rescore=embs, rescore_factor=8
            ),
            du(f"{art}/pq/codes"),
        ),
        "ivfpq_probe_np4": (
            lambda qv: pq.ivfpq_search(
                ipq_codes, ipq_cents, ipq_books, qv, k=10, nprobe=4,
                rescore=embs, rescore_factor=8,
            ),
            du(f"{art}/ivfpq/codes") * 4 // 16,
        ),
        # the composed serving stack at ×10 (round 9): OPQ frame +
        # persisted auto-rf (read from rescore.json — no probe) + the
        # wider nprobe=8 the r8 recall study served at
        "ivfpq_opq_autorf_np8": (
            lambda qv: pq.ivfpq_search(
                opq_codes, opq_cents, opq_books, qv, k=10, nprobe=8,
                rescore=embs, rescore_factor="auto", rotation=opq_rot,
            ),
            du(f"{art}/ivfpq_opq/codes") * 8 // 16,
        ),
    }

    # ---- batch many-query join: exact BLAS vs ADC-over-codes -----------
    # swept in Q: the exact join's per-batch work is a (batch × d) @ (d
    # × Q) gemm over RAW vectors, ADC's is Q gathers over m-byte codes —
    # the Q-scaling slope is the batch-retrieval story
    for n_q in (10, 100):
        q_df = embs.filter(F.col("vec_id") < n_q).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        exact_join = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.knn_join_blocked(
                q_df, embs, k=5, corpus_id="vec_id"
            ).collect()
        }

        def adc_join():
            return pq.pq_knn_join(
                pq_codes, q_df, pq_books, k=5, rescore=embs, rescore_factor=8
            ).collect()

        for name, fn in (
            (
                "knn_join_blocked_exact",
                lambda: sim.knn_join_blocked(
                    q_df, embs, k=5, corpus_id="vec_id"
                ).collect(),
            ),
            ("pq_knn_join_adc", adc_join),
        ):
            walls = []
            for _ in range(reps):
                spark.catalog.clearCache()
                t0 = time.monotonic()
                rows = fn()
                walls.append(time.monotonic() - t0)
            rec = (
                len({(r["query_id"], r["neighbor_id"]) for r in rows} & exact_join)
                / len(exact_join)
            )
            print(
                json.dumps(
                    {
                        "config": name,
                        "n_queries": n_q,
                        "wall_min_s": round(min(walls), 3),
                        "walls_s": [round(w, 3) for w in walls],
                        "recall_vs_exact_join": round(rec, 3),
                    }
                ),
                flush=True,
            )

    exact_ids = {
        qid: [r["vec_id"] for r in exact_topk(qv).collect()] for qid, qv in queries
    }

    for name, (fn, bytes_scanned) in configs.items():
        # recall@10 over the 5 stored queries (id-set overlap vs exact)
        recalls = []
        for qid, qv in queries:
            got = [r[0] for r in fn(qv).select("vec_id" if name != "ivf_probe_np4" else "neighbor_id").collect()] if name != "exact_fold_scan" else exact_ids[qid]
            recalls.append(len(set(got) & set(exact_ids[qid])) / 10)
        walls = []
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            fn(queries[0][1]).collect()
            walls.append(time.monotonic() - t0)
        print(
            json.dumps(
                {
                    "config": name,
                    "wall_min_s": round(min(walls), 3),
                    "walls_s": [round(w, 3) for w in walls],
                    "recall_at_10": round(sum(recalls) / len(recalls), 3),
                    "bytes_scanned_approx": bytes_scanned,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
