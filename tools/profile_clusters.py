"""One-off profiler for the dedup_clusters bench regression (round 4).

Breaks the registered query into stages and times each with a noop-write
action, plus counts CC rounds.  Run: python tools/profile_clusters.py
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def wall(df, label):
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"{label:35s} {dt:7.3f}s", flush=True)
    return dt


def main():
    from pyspark.sql import functions as F

    from readwise_vector_db_spark.functions.text import fingerprint_md5
    from readwise_vector_db_spark.operators import dedup as dd
    from readwise_vector_db_spark.operators.graph import resolve_clusters
    from readwise_vector_db_spark.session import get_spark
    from readwise_vector_db_spark.suites.dedup import augmented_docs

    spark = get_spark("profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for rep in range(2):
        print(f"--- rep {rep} ---", flush=True)
        docs = augmented_docs(spark, SF_DIR)
        fps = docs.select("doc_id", fingerprint_md5("text").alias("fp"))
        groups = (
            fps.groupBy("fp")
            .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .drop("n")
        )
        exact_edges = (
            fps.join(groups, "fp")
            .filter(F.col("doc_id") != F.col("keep_id"))
            .select(F.col("keep_id").alias("id_a"), F.col("doc_id").alias("id_b"))
        )
        wall(exact_edges, "exact_edges")
        mh = dd.minhash_lsh_pairs(docs, threshold=0.6, base_hash="md5").select(
            "id_a", "id_b"
        )
        wall(mh, "mh_edges (md5)")
        spark.catalog.clearCache()
        mh_x = dd.minhash_lsh_pairs(docs, threshold=0.6, base_hash="xxhash64").select(
            "id_a", "id_b"
        )
        wall(mh_x, "mh_edges (xxhash64)")
        spark.catalog.clearCache()

        # full query with CC, timed whole + round count via monkeypatch
        import readwise_vector_db_spark.operators.graph as G

        orig_cut_calls = []
        t0 = time.perf_counter()
        edges = exact_edges.unionByName(
            dd.minhash_lsh_pairs(docs, threshold=0.6, base_hash="md5").select(
                "id_a", "id_b"
            )
        )
        out = resolve_clusters(edges)
        wall(out, "full dedup_clusters")
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    # round count: instrument connected_components manually
    from pyspark.sql import DataFrame

    docs = augmented_docs(spark, SF_DIR)
    fps = docs.select("doc_id", fingerprint_md5("text").alias("fp"))
    groups = (
        fps.groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .drop("n")
    )
    exact_edges = (
        fps.join(groups, "fp")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select(F.col("keep_id").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    mh = dd.minhash_lsh_pairs(docs, threshold=0.6, base_hash="md5").select("id_a", "id_b")
    edges = exact_edges.unionByName(mh)

    e = (
        edges.select(F.col("id_a").cast("long").alias("u"), F.col("id_b").cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    )
    t0 = time.perf_counter()
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct().localCheckpoint(eager=True)
    print(f"sym checkpoint: {time.perf_counter()-t0:.3f}s  rows={sym.count()}", flush=True)
    t0 = time.perf_counter()
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("id"), F.least("u", "mv").alias("label"))
        .localCheckpoint(eager=True)
    )
    print(f"init labels: {time.perf_counter()-t0:.3f}s  rows={labels.count()}", flush=True)
    prev = labels.agg(F.sum("label")).collect()[0][0]
    for rnd in range(25):
        t0 = time.perf_counter()
        nbr = sym.join(labels, sym["v"] == labels["id"]).select(
            sym["u"].alias("id"), labels["label"]
        )
        prop = labels.unionByName(nbr).groupBy("id").agg(F.min("label").alias("label"))
        right = prop.select(F.col("id").alias("r_id"), F.col("label").alias("r_label"))
        hop = prop.join(right, prop["label"] == right["r_id"], "left").select(
            prop["id"],
            F.least(prop["label"], F.coalesce(right["r_label"], prop["label"])).alias("label"),
        )
        labels = hop.localCheckpoint(eager=True)
        new = labels.agg(F.sum("label")).collect()[0][0]
        print(f"round {rnd}: {time.perf_counter()-t0:.3f}s  sum={new}", flush=True)
        if new == prev:
            break
        prev = new


if __name__ == "__main__":
    main()
