"""connected_components / resolve_clusters vs a plain union-find."""

from __future__ import annotations

import random

import pytest

from readwise_vector_db_spark.operators.graph import connected_components, resolve_clusters


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _check(spark, edges: list[tuple[int, int]]) -> None:
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["id"], r["component"])
        for r in connected_components(df).collect()
    }
    want = set(_union_find_components(edges).items())
    assert got == want


def test_two_triangles(spark):
    _check(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)])


def test_chain_converges_logarithmically(spark):
    # a 64-vertex path has diameter 63; pointer jumping must close it
    # well inside max_iter (plain propagation would need 63 rounds)
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, max_iter=10).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == 65


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for _ in range(3):
        n = rng.randrange(20, 60)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 50))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        _check(spark, edges)


def test_resolve_clusters_sizes(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    rows = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in resolve_clusters(pairs).collect()
    }
    assert rows == {
        (1, 1, 3),
        (2, 1, 3),
        (3, 1, 3),
        (7, 7, 2),
        (8, 7, 2),
    }


def test_does_not_converge_raises(spark):
    # a shuffled ring defeats the quick label phase AND cannot star-
    # contract in a single round — the safety net must fire
    rng = random.Random(3)
    ids = list(range(500, 628))
    rng.shuffle(ids)
    edges = [(ids[i], ids[(i + 1) % len(ids)]) for i in range(len(ids))]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df, max_iter=1)


def test_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches lineage truncation to reliable checkpoint():
    results are identical, checkpoint files land in the directory, and the
    returned plan is bounded (a scan of the final checkpoint, not the
    accumulated iterative plan)."""
    ckpt = str(tmp_path / "cc_ckpt")
    edges = [(i, i + 1) for i in range(64)] + [(100, 101), (101, 102)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, checkpoint_dir=ckpt)
    got = {(r["id"], r["component"]) for r in out.collect()}
    want = set(_union_find_components(edges).items())
    assert got == want
    # reliable checkpoints were actually written to the requested dir
    files = list((tmp_path / "cc_ckpt").rglob("*"))
    assert any(f.is_file() for f in files)
    # lineage is truncated: the final frame reads back a checkpointed RDD
    # rather than replaying every iteration's joins (which would put one
    # Join per round in the plan)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Join" not in plan
    assert len(plan.splitlines()) < 10


def test_shuffled_ring_converges_within_bound(spark):
    """Round-6 regression: a ring whose vertex ids are RANDOMLY permuted
    relative to adjacency (the id-vs-topology misalignment a real
    near-dup chain has — phase-adjacent embeddings get unrelated doc
    ids).  The single-jump-per-round variant needed 28 rounds on this
    shape at n=1000 and blew the max_iter=25 safety net; compression to
    fixpoint must close n=256 well inside 12 outer rounds."""
    rng = random.Random(99)
    ids = list(range(1000, 1256))
    rng.shuffle(ids)
    n = len(ids)
    edges = [(ids[i], ids[(i + 1) % n]) for i in range(n)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, max_iter=12).collect()
    assert {r["component"] for r in out} == {min(ids)}
    assert len(out) == n


@pytest.mark.parametrize("distinct_edges", [True, False])
@pytest.mark.parametrize("reliable", [False, True])
def test_edge_plan_evaluated_once(spark, tmp_path, distinct_edges, reliable):
    """The caller's edge plan runs once per call, however many times the
    algorithm reads the edges: a Python UDF in that plan bumps an
    accumulator once per input row.  The shuffled ring outlives phase 1,
    so phase 2's vertex and edge reads are covered too."""
    from pyspark.sql import functions as F

    rng = random.Random(5)
    ids = list(range(200, 264))
    rng.shuffle(ids)
    ring = [(ids[i], ids[(i + 1) % len(ids)]) for i in range(len(ids))]
    evaluated = spark.sparkContext.accumulator(0)

    def bump(v):
        evaluated.add(1)
        return v

    # nondeterministic, so the optimizer cannot copy the call into the
    # CC's null/self-loop filter (a second evaluation per row that no
    # materialization could save)
    counted = F.udf(bump, "long").asNondeterministic()

    edges = spark.createDataFrame(ring, "src long, dst long").select(
        counted("src").alias("src"), "dst"
    )
    out = connected_components(
        edges,
        checkpoint_dir=str(tmp_path / "ckpt") if reliable else None,
        distinct_edges=distinct_edges,
    ).collect()
    assert {r["component"] for r in out} == {min(ids)}
    assert evaluated.value == len(ring)
