"""SemDeDup-style semantic dedup (operators/dedup.py:semantic_dedup_pairs).

Pins: exact-duplicate recall 1.0 (identical vectors co-cluster by
construction), pair parity with the brute-force all-pairs baseline on
planted corpora, transitive survivor resolution, and near-boundary
behavior for perturbed (not identical) vectors.
"""

import pytest
from pyspark.sql import functions as F

from readwise_vector_db_spark.operators import dedup as dd
from tests.conftest import SF_SMOKE


def _augmented(spark):
    from readwise_vector_db_spark.sources.tables import load_table

    embs = load_table(spark, SF_SMOKE, "embeddings")
    dups = embs.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    return embs.unionByName(dups)


def _pairs_set(df):
    return {(r["id_a"], r["id_b"], r["cos_sim"]) for r in df.collect()}


def test_matches_brute_force_on_planted_corpus(spark):
    aug = _augmented(spark)
    got = _pairs_set(dd.semantic_dedup_pairs(aug, threshold=0.999))
    want = _pairs_set(dd.embedding_cosine_pairs(aug, threshold=0.999))
    assert got == want and len(want) > 0
    assert all(abs(s - 1.0) < 1e-9 for _, _, s in got)  # planted = identical


def test_survivors_drop_clones_keep_min_id(spark):
    aug = _augmented(spark)
    survivors = dd.semantic_dedup(aug, threshold=0.999)
    ids = {r["vec_id"] for r in survivors.select("vec_id").collect()}
    originals = {
        r["vec_id"] for r in aug.filter(F.col("vec_id") < 1000000).collect()
    }
    assert ids == originals  # every planted clone (min-id loser's twin) gone


def test_transitive_groups_resolve_to_one_survivor(spark):
    # a≈b and b≈c but a-c below threshold: CC still collapses all three.
    # threshold 0.9995 ⇒ max angle ≈ 1.81°; steps of 1.5° chain under it
    # while the 3.0° endpoint pair (cos ≈ 0.99863) falls outside.
    import math

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0]

    rows = [
        (1, unit(0.0)),
        (2, unit(1.5)),
        (3, unit(3.0)),
        (9, [0.0, 0.0, 1.0]),  # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = dd.semantic_dedup_pairs(df, threshold=0.9995, n_clusters=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (2, 3) in got and (1, 3) not in got
    survivors = dd.semantic_dedup(df, threshold=0.9995, n_clusters=2)
    assert {r["vec_id"] for r in survivors.collect()} == {1, 9}


def test_perturbed_near_duplicate_found(spark):
    aug = _augmented(spark)
    first = aug.filter(F.col("vec_id") == 1).first()
    perturbed = [float(x) * (1.0 + 1e-7) for x in first["embedding"]]
    extra = spark.createDataFrame(
        [(2000000, perturbed)], "vec_id bigint, embedding array<float>"
    )
    got = _pairs_set(
        dd.semantic_dedup_pairs(
            aug.select("vec_id", "embedding").unionByName(extra), threshold=0.999
        )
    )
    assert any(a == 1 and b == 2000000 for a, b, _ in got)


def test_null_embeddings_ignored(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [1.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    pairs = dd.semantic_dedup_pairs(df, threshold=0.999, n_clusters=2)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 3)}


def test_replica_corpus_routes_through_fanout_and_matches_brute_force(spark):
    """≥25 % byte-identical vectors trips the cost probe: detection runs
    over distinct representatives and verdicts fan back out — output
    must equal the brute-force all-pairs baseline on the full corpus."""
    import math
    import random

    rng = random.Random(7)
    originals = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)
    ]
    rows = list(originals)
    for copy in range(1, 10):  # 90 % replicas
        rows += [(i + copy * 1000, v) for i, v in originals]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = _pairs_set(dd.semantic_dedup_pairs(df, threshold=0.999, n_clusters=4))
    want = _pairs_set(dd.embedding_cosine_pairs(df, threshold=0.999))
    assert got == want
    # every original has 10 byte-identical members → C(10,2) intra pairs
    assert len(want) >= 40 * math.comb(10, 2)


def test_fanout_zero_norm_groups_emit_no_intra_pairs(spark):
    rows = [(i, [0.0, 0.0]) for i in range(10)] + [
        (100 + i, [1.0, float(i % 2)]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = _pairs_set(dd.semantic_dedup_pairs(df, threshold=0.999, n_clusters=2))
    # zero-vectors pair with nothing (NULL cosine), even though they are
    # byte-identical replicas of each other
    assert all(a >= 100 and b >= 100 for a, b, _ in got)
    assert len(got) > 0


def test_survivors_with_string_ids(spark):
    """Non-numeric ids must resolve through the densified CC mapping —
    not silently cast to NULL and keep everything."""
    rows = [
        ("doc_c", [1.0, 0.0]),
        ("doc_a", [1.0, 0.0]),
        ("doc_b", [1.0, 0.0]),
        ("doc_z", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    survivors = dd.semantic_dedup(df, threshold=0.999, n_clusters=2)
    assert {r["vec_id"] for r in survivors.collect()} == {"doc_a", "doc_z"}


@pytest.mark.slow  # boundary recall statistic (r13: excluded from the default run)
def test_boundary_recall_measured(spark):
    """Pairs straddling a cluster boundary are the documented miss mode;
    on the fixture corpus with planted identical pairs recall must be
    exactly 1.0 (co-clustering is guaranteed for identical vectors)."""
    aug = _augmented(spark)
    planted = dd.embedding_cosine_pairs(aug, threshold=0.999).count()
    found = dd.semantic_dedup_pairs(aug, threshold=0.999).count()
    assert planted > 0
    assert found / planted == pytest.approx(1.0)


def test_persisted_quantizer_probe_matches_brute_force(spark, tmp_path):
    """Round-6: the probe path (fixed persisted centroids, assign_cells
    map-only argmin — no per-call KMeans) finds the same planted pair
    set as the brute-force baseline, through a save/load round-trip."""
    from readwise_vector_db_spark.operators import similarity as sim

    aug = _augmented(spark)
    q = dd.train_semantic_quantizer(aug)
    path = str(tmp_path / "semq")
    sim.save_quantizer(spark, q, path)
    loaded = sim.load_quantizer(spark, path)
    assert loaded == [(int(c), [float(x) for x in v]) for c, v in q]
    got = _pairs_set(dd.semantic_dedup_pairs(aug, threshold=0.999, quantizer=loaded))
    want = _pairs_set(dd.embedding_cosine_pairs(aug, threshold=0.999))
    assert got == want and len(want) > 0


def test_assign_cells_matches_kmeans_partitioning(spark):
    """assign_cells against the centroids build_ivf_index trained must
    reproduce the KMeans transform's cells (nearest-euclidean argmin) —
    and be a map-only plan (no Exchange)."""
    from readwise_vector_db_spark.operators import similarity as sim

    base = _augmented(spark).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    ).filter(F.col("v").isNotNull())
    assigned, centroids = sim.build_ivf_index(
        base, id_col="id", vec_col="v", n_clusters=8
    )
    want = {r["id"]: r["cluster"] for r in assigned.select("id", "cluster").collect()}
    probe = sim.assign_cells(base, centroids, vec_col="v")
    got = {r["id"]: r["cluster"] for r in probe.select("id", "cluster").collect()}
    assert got == want
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.mark.slow  # scorer equivalence at size (r13: excluded from the default run)
def test_blas_scorer_output_identical_to_fold_path(spark):
    """Round-6 BLAS within-cell scorer contract: identical pair set AND
    identical rounded cos_sim vs the interpreted-fold equi-join path, on
    a corpus with near-boundary perturbed pairs (where a candidate-cut
    mistake would show), string ids (ordering contract), and zero-norm
    vectors (dropped up front vs NULL-scored)."""
    import math
    import random

    rng = random.Random(13)

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    rows = [
        ("a0", unit(0.0)),
        ("a1", unit(1.5)),  # cos 0.99966 vs a0 — just over 0.999
        ("a2", unit(2.5)),  # cos 0.99905 vs a0 — within 1e-3 of the cut
        ("a3", unit(2.57)),  # cos ≈ 0.998994 vs a0 — just UNDER
        ("z0", [0.0, 0.0, 0.0, 0.0]),  # zero norm
        ("z1", [0.0, 0.0, 0.0, 0.0]),
    ] + [
        (f"r{i}", [rng.gauss(0, 1) for _ in range(4)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    blas = _pairs_set(
        dd.semantic_dedup_pairs(df, threshold=0.999, n_clusters=3, pair_scorer="blas")
    )
    fold = _pairs_set(
        dd.semantic_dedup_pairs(df, threshold=0.999, n_clusters=3, pair_scorer="fold")
    )
    assert blas == fold
    assert ("a0", "a1") in {(a, b) for a, b, _ in blas}
    assert all(a < b for a, b, _ in blas)  # id ordering contract holds


@pytest.mark.slow  # route equivalence at size (r13: excluded from the default run)
def test_assign_cells_blas_route_matches_expr_route(spark):
    """The k>=32 BLAS route (one gemm against the centroid matrix) must
    reproduce the expr route's assignment exactly, including NULL cells
    for NULL vectors — and stay Exchange-free (map-only contract)."""
    from readwise_vector_db_spark.operators import similarity as sim

    base = _augmented(spark).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v")
    )
    q = dd.train_semantic_quantizer(_augmented(spark), n_clusters=40)
    expr_out = {
        r["id"]: r["cluster"]
        for r in sim.assign_cells(base, q, vec_col="v", method="expr").collect()
    }
    blas = sim.assign_cells(base, q, vec_col="v", method="blas")
    blas_out = {r["id"]: r["cluster"] for r in blas.collect()}
    assert blas_out == expr_out and len(blas_out) > 0
    assert sim.assign_cells(base, q, vec_col="v", method="auto") is not None
    plan = blas._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # NULL vector → NULL cell on both routes
    nulls = spark.createDataFrame([(1, None)], "id bigint, v array<float>")
    for m in ("expr", "blas"):
        got = sim.assign_cells(nulls, q, vec_col="v", method=m).collect()
        assert got[0]["cluster"] is None


def _plan_node_names(plan) -> list[str]:
    """Names of the operators a physical plan EXECUTES: AQE wrappers and
    query stages are unwrapped, a cache scan is a leaf (its cached plan
    ran once, when the cache filled)."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _plan_node_names(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _plan_node_names(plan.plan())
    kids = plan.children()
    return [plan.nodeName()] + [
        n for i in range(kids.size()) for n in _plan_node_names(kids.apply(i))
    ]


def test_string_id_densify_scores_pairs_once(spark, monkeypatch):
    """The string-id path reads the pair list three times (both vertex
    branches and the id-mapping joins) before the CC; the scorer must
    not run once per read.  Survivors equal the numeric-id path's."""
    import random

    from readwise_vector_db_spark.operators import graph

    rng = random.Random(0)
    vecs = [[rng.gauss(0.0, 1.0) for _ in range(8)] for _ in range(200)]
    vecs += [vecs[i] for i in range(0, 200, 5)]  # 40 planted copies
    cc_inputs = []
    real_cc = graph.connected_components

    def spy(edges, **kw):
        cc_inputs.append(edges)
        return real_cc(edges, **kw)

    monkeypatch.setattr(graph, "connected_components", spy)
    str_df = spark.createDataFrame(
        [(f"d{i:04d}", v) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<float>",
    )
    got = {
        r["vec_id"]
        for r in dd.semantic_dedup(str_df, threshold=0.99, n_clusters=4).collect()
    }
    plan = cc_inputs[0]._jdf.queryExecution().executedPlan()
    assert "FlatMapGroupsInPandas" not in _plan_node_names(plan)

    num_df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id bigint, embedding array<float>"
    )
    want = {
        f"d{r['vec_id']:04d}"
        for r in dd.semantic_dedup(num_df, threshold=0.99, n_clusters=4).collect()
    }
    assert got == want and len(got) == 200
