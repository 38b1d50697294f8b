import pytest
from pyspark.sql import functions as F

from readwise_vector_db_spark.functions.embedder import (
    deterministic_embedder,
    embed_text_local,
)
from readwise_vector_db_spark.operators import similarity as sim
from readwise_vector_db_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def embs(spark):
    df = load_table(spark, SF_SMOKE, "embeddings")
    df.cache().count()
    return df


def test_knn_join_self_is_rank1(spark, embs):
    queries = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim.knn_join(queries, embs, k=5, corpus_id="vec_id").collect()
    assert len(out) == 50
    rank1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rn"] == 1}
    assert rank1 == {i: i for i in range(10)}


@pytest.mark.slow  # recall statistic (r13: excluded from the default run)
def test_ivf_recall_vs_exact(spark, embs):
    """nprobe=4/16 must recover most of the exact top-10 (IVF is lossy by
    design; recall floor asserts the index isn't degenerate)."""
    assigned, centroids = sim.build_ivf_index(embs, n_clusters=16)
    assert len(centroids) == 16
    recalls = []
    for qid in range(5):
        qv = [float(x) for x in embs.filter(F.col("vec_id") == qid).first()["embedding"]]
        approx = {r["neighbor_id"] for r in sim.ivf_search(assigned, centroids, qv, k=10, nprobe=4).collect()}
        queries = spark.createDataFrame([(0, qv)], "query_id int, query_vec array<double>")
        exact = {
            r["neighbor_id"]
            for r in sim.knn_join(queries, embs, k=10, corpus_id="vec_id").collect()
        }
        recalls.append(len(approx & exact) / 10)
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.5, f"IVF avg recall {avg} ({recalls})"


def test_ivf_prunes_scan(spark, embs):
    assigned, centroids = sim.build_ivf_index(embs, n_clusters=16)
    qv = [float(x) for x in embs.first()["embedding"]]
    probed = sim.ivf_search(assigned, centroids, qv, k=10, nprobe=4)
    clusters = {r["cluster"] for r in probed.collect()}
    assert len(clusters) <= 4


def test_ivf_multi_assign_improves_recall_no_dupes(spark, embs):
    """n_assign=2 must (a) emit each vector at most once from search,
    (b) strictly contain the single-assignment candidate set, so recall
    can only go up at equal nprobe."""
    a1, c1 = sim.build_ivf_index(embs, n_clusters=16, n_assign=1)
    a2, c2 = sim.build_ivf_index(embs, n_clusters=16, n_assign=2)
    # same KMeans seed → same centroids
    assert [c for c, _ in c1] == [c for c, _ in c2]
    n = embs.filter(F.col("embedding").isNotNull()).count()
    assert a2.count() == 2 * n
    # every (vec, primary cluster) row of a1 is present in a2
    assert a1.select("vec_id", "cluster").exceptAll(
        a2.select("vec_id", "cluster")
    ).count() == 0
    qv = [float(x) for x in embs.first()["embedding"]]
    out = sim.ivf_search(a2, c2, qv, k=10, nprobe=4, multi_assigned=True).collect()
    ids = [r["neighbor_id"] for r in out]
    assert len(ids) == len(set(ids)) == 10


def test_deterministic_embedder_is_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "spark window merge"), (2, ""), (3, None)], "id int, text string"
    )
    emb = deterministic_embedder(dim=16)
    a = {r["id"]: r["v"] for r in df.select("id", emb(F.col("text")).alias("v")).collect()}
    b = {r["id"]: r["v"] for r in df.select("id", emb(F.col("text")).alias("v")).collect()}
    assert a == b
    assert a[3] is None
    assert a[2] == [0.0] * 16
    # UDF output matches the driver-side single-text path bit-for-bit
    assert a[1] == embed_text_local("spark window merge", dim=16)


def test_embedder_l2_normalized(spark):
    v = embed_text_local("the quick brown fox", dim=64)
    norm = sum(x * x for x in v) ** 0.5
    assert norm == pytest.approx(1.0, abs=1e-3)


def test_openai_embedder_fails_fast_without_key(monkeypatch):
    from readwise_vector_db_spark.functions.embedder import openai_embedder

    monkeypatch.delenv("OPENAI_API_KEY", raising=False)
    with pytest.raises(RuntimeError, match="OPENAI_API_KEY"):
        openai_embedder()


def test_ivf_partitioned_layout_prunes_scan(spark, embs, tmp_path):
    """The IVF 'index' is a data layout: written partitionBy(cluster), a
    probe reads only matching partitions — PartitionFilters in the scan,
    the 100 TB story in miniature."""
    import contextlib
    import io

    assigned, _ = sim.build_ivf_index(embs, n_clusters=8)
    out = str(tmp_path / "ivf_layout")
    assigned.write.partitionBy("cluster").mode("overwrite").parquet(out)
    idx = spark.read.parquet(out)
    probe = idx.filter(F.col("cluster").isin([1, 3]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cluster" in pf[0], f"no partition pruning in plan: {pf}"
    assert probe.count() == assigned.filter(F.col("cluster").isin([1, 3])).count()


def test_sq8_quantized_search_recall(spark, embs):
    """SQ8 codes are 8x smaller; their top-10 must substantially agree
    with the exact float cosine top-10 (and quantization must be lossless
    enough that the query vector finds itself first)."""
    from readwise_vector_db_spark.functions.vector import (
        cosine_distance,
        int_cosine_distance,
        sq8_quantize,
    )

    codes = embs.select("vec_id", sq8_quantize("embedding").alias("c"))
    qq = codes.filter(F.col("vec_id") == 2).select(F.col("c.q").alias("qq"))
    approx = (
        codes.crossJoin(F.broadcast(qq))
        .select("vec_id", int_cosine_distance(F.col("c.q"), F.col("qq")).alias("d"))
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(10)
        .collect()
    )
    qv = embs.filter(F.col("vec_id") == 2).first()["embedding"]
    exact = (
        embs.select(
            "vec_id",
            cosine_distance(
                F.col("embedding"),
                F.array(*[F.lit(float(x)) for x in qv]).cast("array<double>"),
            ).alias("d"),
        )
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(10)
        .collect()
    )
    approx_ids = [r["vec_id"] for r in approx]
    exact_ids = [r["vec_id"] for r in exact]
    assert approx_ids[0] == 2 == exact_ids[0]  # self-match survives quantization
    overlap = len(set(approx_ids) & set(exact_ids))
    assert overlap >= 7, f"recall@10 too low: {overlap}/10"


def test_knn_blocked_equals_codegen_path(spark, embs):
    """The BLAS-blocked path and the codegen cross-join path must agree
    on ids and 6-dp distances."""
    queries = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = sim.knn_join(queries, embs, k=5, corpus_id="vec_id")
    b = sim.knn_join_blocked(queries, embs, k=5, corpus_id="vec_id")
    rows_a = {(r["query_id"], r["rn"]): (r["neighbor_id"], r["cos_dist"]) for r in a.collect()}
    rows_b = {(r["query_id"], r["rn"]): (r["neighbor_id"], r["cos_dist"]) for r in b.collect()}
    assert rows_a == rows_b


def test_ivf_save_load_roundtrip_same_results(spark, embs, tmp_path):
    """The persisted IVF layout is a serving artifact: load_ivf_index
    must reproduce the in-memory index's search results exactly, and the
    loaded probe must prune partitions (nprobe directories, not a full
    scan)."""
    import contextlib
    import io

    assigned, centroids = sim.build_ivf_index(embs, n_clusters=8, n_assign=2)
    out = str(tmp_path / "ivf_idx")
    sim.save_ivf_index(assigned, centroids, out)
    l_assigned, l_centroids = sim.load_ivf_index(spark, out)
    assert l_centroids == sorted((c, [float(x) for x in v]) for c, v in centroids)

    q = [float(x) for x in embs.filter(F.col("vec_id") == 7).first()["embedding"]]
    mem = sim.ivf_search(assigned, centroids, q, k=10, nprobe=4, multi_assigned=True)
    disk_df = sim.ivf_search(
        l_assigned, l_centroids, q, k=10, nprobe=4, multi_assigned=True
    )
    mem_rows = [(r["neighbor_id"], r["cos_dist"]) for r in mem.collect()]
    disk_rows = [(r["neighbor_id"], r["cos_dist"]) for r in disk_df.collect()]
    assert mem_rows == disk_rows and len(mem_rows) == 10

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        disk_df.explain("formatted")
    pf = [l for l in buf.getvalue().splitlines() if "PartitionFilters" in l]
    assert pf and "cluster" in pf[0], f"probe not partition-pruned: {pf}"


def test_ivf_filtered_probe_binds_predicate(spark, embs):
    """ivf_search(pred=...) must exclude a distance-0 decoy that fails
    the predicate — and WITHOUT the predicate the decoy must appear,
    proving the planted oracle construction has teeth."""
    q0 = embs.orderBy("vec_id").first()
    qid, qlab = int(q0["vec_id"]), int(q0["label"])
    plants = spark.createDataFrame(
        [
            (qid + 1_000_000, list(q0["embedding"]), qlab),
            (qid + 2_000_000, list(q0["embedding"]), -999),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = embs.select("vec_id", "embedding", "label").unionByName(plants)
    assigned, centroids = sim.build_ivf_index(corpus, n_clusters=8)
    assigned = assigned.persist()
    qv = [float(x) for x in q0["embedding"]]

    plain = {
        r["neighbor_id"]
        for r in sim.ivf_search(assigned, centroids, qv, k=10, nprobe=3)
        .filter(F.col("cos_dist") == 0.0)
        .collect()
    }
    assert plain == {qid, qid + 1_000_000, qid + 2_000_000}

    filtered = {
        r["neighbor_id"]
        for r in sim.ivf_search(
            assigned, centroids, qv, k=10, nprobe=3,
            pred=F.col("label") == F.lit(qlab),
        )
        .filter(F.col("cos_dist") == 0.0)
        .collect()
    }
    assert filtered == {qid, qid + 1_000_000}
    assigned.unpersist()


def test_ivf_filtered_selectivity_routing(spark):
    """The SCALING operating rule in code: below ~k·n_clusters expected
    matches a filtered probe must route to the exact filtered scan (the
    index would starve — matching rows live in unprobed cells); above
    it, the index path still prunes.  Corpus: 400 'a' rows clustered
    around the query direction, 4 'r' rows in an orthogonal blob the
    nprobe=1 probe never visits."""
    rows = [
        (i, [10.0 + (i % 7) * 0.01, (i % 5) * 0.01, 0.0, 0.0], "a")
        for i in range(400)
    ] + [
        (1000 + j, [0.0, 0.0, 10.0 + j * 0.01, 1.0], "r") for j in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    assigned, cents = sim.build_ivf_index(df, n_clusters=8)
    assigned = assigned.persist()
    q = [10.0, 0.0, 0.0, 0.0]
    rare = F.col("label") == "r"

    # 4 matches << k·n_clusters = 40 → the router falls back to the
    # exact filtered scan and returns EVERY matching row, exactly
    # (routing is opt-in since round 8: route_filtered=True)
    routed = sim.ivf_search(
        assigned, cents, q, k=5, nprobe=1, pred=rare, route_filtered=True
    )
    assert {r["neighbor_id"] for r in routed.collect()} == {1000, 1001, 1002, 1003}

    # the pinned index path starves at the same selectivity — proving
    # the fallback (not luck) produced the exact result above
    starved = sim.ivf_search(
        assigned, cents, q, k=5, nprobe=1, pred=rare, route_filtered=False
    )
    assert starved.count() < 4

    # caller-supplied stats take precedence over the live estimate
    forced = sim.ivf_search(
        assigned, cents, q, k=5, nprobe=1, pred=rare,
        est_matches=10_000, route_filtered=True,
    )
    assert forced.count() == starved.count()

    # ~99% selectivity: the router keeps the index path — identical
    # rows to the pinned probe, and results span ≤ nprobe clusters
    common = F.col("label") == "a"
    auto = sim.ivf_search(
        assigned, cents, q, k=5, nprobe=2, pred=common, route_filtered=True
    ).collect()
    pinned = sim.ivf_search(
        assigned, cents, q, k=5, nprobe=2, pred=common, route_filtered=False
    ).collect()
    assert [(r["neighbor_id"], r["cos_dist"]) for r in auto] == [
        (r["neighbor_id"], r["cos_dist"]) for r in pinned
    ]
    assert len({r["cluster"] for r in auto}) <= 2

    # default is the pinned index path: no routing, no estimate job —
    # identical rows to route_filtered=False at the same selectivity
    default_rows = sim.ivf_search(
        assigned, cents, q, k=5, nprobe=1, pred=rare
    ).collect()
    assert [(r["neighbor_id"], r["cos_dist"]) for r in default_rows] == [
        (r["neighbor_id"], r["cos_dist"]) for r in starved.collect()
    ]
    assigned.unpersist()


def test_ivf_routing_estimate_is_cached(spark):
    """The live selectivity estimate is memoized per (corpus plan,
    rendered pred): a second identical filtered probe consults the
    cache instead of re-scanning.  Proven by poisoning the cached value
    after the first call — the second call's routing decision follows
    the poisoned number, so no fresh estimate can have run."""
    rows = [
        (i, [10.0 + (i % 7) * 0.01, (i % 5) * 0.01, 0.0, 0.0], "a")
        for i in range(400)
    ] + [
        (1000 + j, [0.0, 0.0, 10.0 + j * 0.01, 1.0], "r") for j in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    assigned, cents = sim.build_ivf_index(df, n_clusters=8)
    assigned = assigned.persist()
    q = [10.0, 0.0, 0.0, 0.0]
    rare = F.col("label") == "r"
    sim._EST_MATCHES_CACHE.clear()
    routed = sim.ivf_search(
        assigned, cents, q, k=5, nprobe=1, pred=rare, route_filtered=True
    )
    assert routed.count() == 4  # exact-scan route (4 matches << 40)
    assert len(sim._EST_MATCHES_CACHE) == 1
    import time as _time

    key = next(iter(sim._EST_MATCHES_CACHE))
    # poison: "plenty of matches"
    sim._EST_MATCHES_CACHE[key] = (_time.monotonic(), 10_000)
    second = sim.ivf_search(
        assigned, cents, q, k=5, nprobe=1, pred=rare, route_filtered=True
    )
    # index path starves at nprobe=1 → the poisoned estimate was used,
    # i.e. the second call ran no estimate job of its own
    assert second.count() < 4
    assert sim._EST_MATCHES_CACHE[key][1] == 10_000
    # TTL: an expired entry re-probes instead of trusting a stale count
    sim._EST_MATCHES_CACHE[key] = (
        _time.monotonic() - 2 * sim._EST_MATCHES_TTL_SEC, 10_000,
    )
    third = sim.ivf_search(
        assigned, cents, q, k=5, nprobe=1, pred=rare, route_filtered=True
    )
    assert third.count() == 4  # fresh estimate routed to the exact scan
    assert sim._EST_MATCHES_CACHE[key][1] != 10_000
    sim._EST_MATCHES_CACHE.clear()
    assigned.unpersist()


def test_ivf_sampled_fit(spark, embs):
    """fit_sample_rows fits KMeans on a sample but still assigns EVERY
    corpus row; a planted duplicate pair still co-assigns and is
    retrievable at distance 0."""
    q0 = embs.orderBy("vec_id").first()
    plant = spark.createDataFrame(
        [(int(q0["vec_id"]) + 1_000_000, list(q0["embedding"]))],
        "vec_id long, embedding array<float>",
    )
    corpus = embs.select("vec_id", "embedding").unionByName(plant)
    assigned, centroids = sim.build_ivf_index(
        corpus, n_clusters=8, fit_sample_rows=64
    )
    assert len(centroids) == 8
    assert assigned.count() == corpus.count()
    rows = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert rows[int(q0["vec_id"])] == rows[int(q0["vec_id"]) + 1_000_000]
    got = sim.ivf_search(
        assigned, centroids, [float(x) for x in q0["embedding"]], k=10, nprobe=3
    ).filter(F.col("cos_dist") == 0.0)
    assert {r["neighbor_id"] for r in got.collect()} == {
        int(q0["vec_id"]), int(q0["vec_id"]) + 1_000_000
    }


def test_ivf_layout_tombstone_delete_and_compaction(spark, tmp_path):
    """The tombstone machinery is shared across index families: deletes
    on a save_ivf_index layout stop serving at the next load, and
    compact_index(subdir='assigned') physically removes them keeping
    the cluster partitioning."""
    import os

    import numpy as np

    from readwise_vector_db_spark.operators import index_lifecycle as lifecycle
    from readwise_vector_db_spark.operators import similarity as sim

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(300)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, centroids = sim.build_ivf_index(embs, n_clusters=4)
    path = str(tmp_path / "ivf_del")
    sim.save_ivf_index(assigned, centroids, path)

    loaded, cents = sim.load_ivf_index(spark, path)
    q = rows[0][1]
    top = [r["neighbor_id"] for r in sim.ivf_search(loaded, cents, q, k=5, nprobe=4).collect()]
    assert top[0] == 0
    lifecycle.delete_from_index(spark, path, [top[0]])
    loaded2, _ = sim.load_ivf_index(spark, path)
    assert loaded2.count() == 299
    got = [r["neighbor_id"] for r in sim.ivf_search(loaded2, cents, q, k=5, nprobe=4).collect()]
    assert top[0] not in got and got[0] == top[1]
    assert lifecycle.compact_index(spark, path, subdir="assigned") == 299
    assert not os.path.isdir(f"{path}/tombstones")
    assert any(d.startswith("cluster=") for d in os.listdir(f"{path}/assigned"))
    loaded3, _ = sim.load_ivf_index(spark, path)
    assert [
        r["neighbor_id"] for r in sim.ivf_search(loaded3, cents, q, k=5, nprobe=4).collect()
    ] == got


@pytest.mark.slow  # remediation e2e soak (r13: excluded from the default run)
def test_recluster_ivf_cells_targeted_remediation(spark, tmp_path):
    """r10: the raw-vector sibling of pq.recluster_cells — a drifted
    batch's cells split with EXACT vectors and a SELF-CALIBRATED
    baseline (no distortion.json sidecar); untouched partitions stay
    bit-identical; shifted-query recall at small nprobe beats the
    unremediated index."""
    import os

    import numpy as np

    d, n, n_centers, sigma = 32, 2400, 10, 0.4
    rng = np.random.default_rng(11)
    centers_a = rng.standard_normal((n_centers, d)).astype(np.float32)
    base = centers_a[rng.integers(0, n_centers, n)] + sigma * rng.standard_normal(
        (n, d)
    ).astype(np.float32)
    rng2 = np.random.default_rng(37)
    centers_b = rng2.standard_normal((n_centers, d)).astype(np.float32)
    n_inc = n // 3
    drifted = centers_b[rng2.integers(0, n_centers, n_inc)] + (
        sigma * rng2.standard_normal((n_inc, d)).astype(np.float32)
    )

    def to_df(x, id0=0):
        return spark.createDataFrame(
            [(id0 + i, [float(v) for v in x[i]]) for i in range(len(x))],
            "vec_id long, embedding array<float>",
        )

    base_df = to_df(base)
    drifted_df = to_df(drifted, id0=1_000_000)
    assigned, cents = sim.build_ivf_index(base_df, n_clusters=20)

    def build(p):
        sim.save_ivf_index(assigned, cents, p)
        # the increment lands via plain partition append (the ivf
        # family has no gated append; remediation is what fixes fit)
        inc_assigned = sim.assign_cells(drifted_df, cents)
        inc_assigned.write.mode("append").partitionBy("cluster").parquet(
            f"{p}/assigned"
        )

    before = str(tmp_path / "ivf_before")
    build(before)
    path = str(tmp_path / "ivf_rem")
    build(path)

    def part_files(p):
        return {
            f"{root}/{fn}": os.path.getmtime(f"{root}/{fn}")
            for root, _, files in os.walk(f"{p}/assigned")
            for fn in files
        }

    pre = part_files(path)
    stats = sim.recluster_ivf_cells(spark, path, drifted_vecs=drifted_df, n_splits=4)
    assert stats["cells_split"] and stats["new_cells"]
    assert 0 < stats["bytes_rewritten"] < stats["bytes_total"]
    touched = {f"cluster={c}" for c in stats["cells_split"] + stats["new_cells"]}
    post = part_files(path)
    for f, mt in pre.items():
        part = f.split("/assigned/")[1].split("/")[0]
        if part not in touched:
            assert post.get(f) == mt, f"untouched partition rewritten: {f}"

    # recall on shifted queries at small nprobe: remediated beats before
    full = np.vstack([base, drifted])
    ids = np.concatenate([np.arange(n), 1_000_000 + np.arange(n_inc)])
    queries = drifted[:10]
    xn = full / np.maximum(np.linalg.norm(full, axis=1, keepdims=True), 1e-12)

    def exact_top(qi):
        q = queries[qi] / np.linalg.norm(queries[qi])
        return set(ids[np.argsort(-(xn @ q))[:10]].tolist())

    def recall(p):
        loaded, cts = sim.load_ivf_index(spark, p)
        rs = []
        for qi in range(len(queries)):
            got = {
                r["neighbor_id"]
                for r in sim.ivf_search(
                    loaded, cts, [float(v) for v in queries[qi]], k=10, nprobe=3
                ).collect()
            }
            rs.append(len(got & exact_top(qi)) / 10)
        return sum(rs) / len(rs)

    r_before, r_after = recall(before), recall(path)
    assert stats["rows_rewritten"] > 0
    assert r_after > r_before, (r_before, r_after)
    assert r_after >= 0.8, r_after


def test_ivf_search_many_matches_per_query_loop(spark, embs):
    """Round-12 batched IVF probe: one pruned scan over the union of
    probed cells must return exactly the per-query ivf_search rows
    (same cells probed, same rounded distances, same top-k ties)."""
    from readwise_vector_db_spark.operators import similarity as sim

    assigned, cents = sim.build_ivf_index(embs, n_clusters=4)
    assigned = assigned.persist()
    qrows = (
        embs.filter(F.col("vec_id") < 4).select("vec_id", "embedding").collect()
    )
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    batch = {
        (int(r["query_id"]), int(r["neighbor_id"]), float(r["cos_dist"]))
        for r in sim.ivf_search_many(
            assigned, cents, queries, k=5, nprobe=2
        ).collect()
    }
    loop = set()
    for qid, qvec in queries:
        for r in sim.ivf_search(assigned, cents, qvec, k=5, nprobe=2).collect():
            loop.add((qid, int(r["neighbor_id"]), float(r["cos_dist"])))
    assert batch == loop


def test_ivf_search_many_preds_match_loop(spark, embs):
    """Round-13 filtered batch probe (r12 verdict item 4): per-query
    predicate composition in ivf_search_many must return exactly the
    per-query ivf_search(pred=...) rows — same pruned cells, same
    filter semantics, same rounded distances and top-k ties."""
    from readwise_vector_db_spark.operators import similarity as sim

    assigned, cents = sim.build_ivf_index(embs, n_clusters=4)
    assigned = assigned.persist()
    qrows = (
        embs.filter(F.col("vec_id") < 4)
        .select("vec_id", "embedding", "label")
        .collect()
    )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows
    ]
    preds = {
        int(r["vec_id"]): F.col("label") == F.lit(int(r["label"]))
        for r in qrows
    }
    batch = {
        (int(r["query_id"]), int(r["neighbor_id"]), float(r["cos_dist"]))
        for r in sim.ivf_search_many(
            assigned, cents, queries, k=5, nprobe=2, preds=preds
        ).collect()
    }
    loop = set()
    for r in qrows:
        qid = int(r["vec_id"])
        for row in sim.ivf_search(
            assigned,
            cents,
            [float(x) for x in r["embedding"]],
            k=5,
            nprobe=2,
            pred=F.col("label") == F.lit(int(r["label"])),
        ).collect():
            loop.add((qid, int(row["neighbor_id"]), float(row["cos_dist"])))
    assert batch == loop
    assigned.unpersist()
