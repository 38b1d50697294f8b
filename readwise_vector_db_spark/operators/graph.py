"""Connected components over an edge DataFrame — dedup cluster resolution.

A near-duplicate pipeline emits PAIRS (exact-fingerprint groups, Jaccard
pairs, MinHash collisions, embedding-cosine pairs…); turning pairs into
a deduped corpus needs the transitive closure: the connected component
each document belongs to, so one canonical doc per component survives.
The reference has no such operator (it dedups nothing); this is part of
the repo's training-data north star.

Algorithm: a two-phase hybrid.

Phase 1 — min-label propagation with path compression: every vertex
takes the min label over itself and its neighbours (one |E| join +
|V| agg per round), then pointer-jumps label := label(label) to
fixpoint (|V|-sized self-joins).  Star/clique/short-chain components —
the overwhelming shape of real dedup pair graphs — fixpoint at the
FUSED INIT (label = min of self and neighbours) and pay exactly one
cheap confirmation round.  Budgeted at _QUICK_ROUNDS rounds.

Phase 2 — if the graph outlives phase 1, switch to alternating star
contraction (the large-star / small-star scheme of Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — proven
O(log² n) rounds, O(log n) in practice).  large-star re-links every
vertex's strictly larger neighbors to m(u) = min(N(u) ∪ {u});
small-star re-links its smaller neighbors (and itself) to the
smallest of them; the edge set contracts to a forest of stars whose
centers are the component minima, fixpoint detected by a 1-row
(count, hash-sum) aggregate.

Why the hybrid (round 6, measured): a synthetic SemDeDup stress built
a near-dup RING whose vertex ids are uncorrelated with adjacency (the
shape chained near-duplicates actually have — successive crawl
snapshots of a page get unrelated doc ids).  Label propagation moves
the minimum ~one edge per |E|-sized round on such topologies: a
1 000-node ring needed 28 rounds (blowing the max_iter=25 safety
net), still 11 |E|-rounds + 18 |V|-jumps with full compression.  Star
contraction closes a 256-node shuffled ring in 7 rounds regardless of
id placement — but costs two groupBy+join+distinct passes per round,
measured +45 % on the star/clique-shaped dedup_clusters bench when
run unconditionally.  Hence: cheap loop first, logarithmic fallback
when it matters; tests/test_graph.py pins the shuffled-ring
regression against union-find ground truth.

Every round ends in a lineage-truncating checkpoint: iterative plans
grow EXPONENTIALLY without truncation (each round nests two
join+distinct stages — by round ~7 of the predecessor algorithm the
plan string alone crossed 2 GB and killed the driver), and persist()
does not truncate lineage, only caches results.  Local mode uses
``localCheckpoint(eager=False)``; pass ``checkpoint_dir=`` to use
reliable ``checkpoint()`` into HDFS/object storage instead, which
survives executor loss — what GraphX/GraphFrames do for exactly this
reason, and what a 1000-executor 100 TB run requires.

The DuckDB oracle for the suite entry computes the same closure with a
recursive CTE (reachability → MIN over reached ids), so the whole
operator is value-hash-checked cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Phase-1 budget: rounds of cheap min-label propagation tried before
# falling back to star contraction.  Real dedup graphs (stars, cliques,
# chains a few hops deep) converge inside it; a pathological topology
# wastes at most this many |E| joins before the logarithmic phase.
_QUICK_ROUNDS = 4


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    distinct_edges: bool = True,
) -> DataFrame:
    """(id, component) for every vertex in ``edges``; component = min
    vertex id reachable through undirected edges.

    ``distinct_edges=False`` skips the up-front canonicalize+distinct
    shuffle.  Duplicate or reversed edges are CORRECT here regardless
    (both star operations are min-aggregations, idempotent under input
    multiplicity, and each round's output is distinct) — the flag only
    trades that first |E|-sized pass against fan-out in round one.
    Pass False when the caller knows the pair list is already
    duplicate-free (e.g. detectors emitting disjoint pair sets).

    ``max_iter`` bounds the round loop; the star scheme's proven
    O(log² n) bound (O(log n) observed — 7 rounds on a 256-node
    shuffled ring, 2 on star/clique dedup groups) makes 25 a deep
    safety margin for any real graph.  Raises if the loop fails to
    converge — a safety net that fired usefully once, against the
    predecessor algorithm (module docstring).

    ``checkpoint_dir``: when given, per-round lineage truncation uses
    reliable ``checkpoint()`` into that directory (HDFS/object-store
    path on a real cluster) instead of ``localCheckpoint()``.
    localCheckpoint blocks are executor-memory/disk-resident — one lost
    executor mid-iteration kills the job at 100 TB; a reliable
    checkpoint survives executor loss at the cost of a write per round.

    ``edges`` is evaluated exactly once: its normalized form is cut()
    before anything reads it, and every later step reads that copy.
    An expensive pair plan (a band join, a UDF scorer) therefore runs
    once per call, not once per consumer.
    """
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def cut(df: DataFrame) -> DataFrame:
            # persist first: RDD checkpoint runs a SEPARATE job to write
            # the files, and without a cache that job recomputes the
            # whole plan a second time (the classic reliable-checkpoint
            # trap).  The cache is dropped as soon as the files are down
            # — the checkpointed data is the durable copy.
            df = df.persist()
            out = df.checkpoint(eager=True)
            df.unpersist()
            return out

    else:

        def cut(df: DataFrame) -> DataFrame:
            # LAZY only in its last stage: localCheckpoint executes the
            # physical plan to get its RDD, and under AQE that runs
            # every upstream shuffle stage inside this call (a cProfile
            # of dedup_clusters on 4 cores put 2.75 s of a 4.18 s op
            # inside its four localCheckpoint calls).  What eager=False
            # defers is the final, post-shuffle stage: the 1-row
            # fixpoint aggregate that follows every round runs it and
            # caches the checkpoint blocks, one job instead of a
            # separate count() job.  The lineage is truncated either
            # way (the returned frame is a LogicalRDD).
            return df.localCheckpoint(eager=False)

    e = (
        edges.select(F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    if distinct_edges:
        e = e.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        ).distinct()
    # the ONE evaluation of the caller's edge plan: sym reads e twice
    # and phase 2 reads it three more times, and an uncut e re-runs the
    # caller's whole plan (for dedup_clusters the MinHash band join and
    # the exact-edge join) on every read
    e = cut(e)

    def large_star(cur: DataFrame) -> DataFrame:
        # center u over ALL neighbors; strictly larger neighbors re-link
        # to m(u) = min(N(u) ∪ {u})
        sym = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        # center u over its SMALLER neighbors; they (and u) re-link to
        # the smallest of them
        dird = cur.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mins = dird.groupBy("u").agg(F.min("v").alias("m"))
        relinked = (
            dird.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        centers = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return (
            relinked.unionByName(centers)
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def checksum(cur: DataFrame) -> tuple[int, int]:
        # order-insensitive edge-set fingerprint; the hash sum rides a
        # decimal so ANSI mode can't overflow it (xxhash64 spans the
        # full long range — a plain sum(long) throws ARITHMETIC_OVERFLOW
        # on the second edge in the worst case)
        row = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    # --- phase 1: fused-init min-label propagation + path compression.
    # Star/clique/short-chain components — the overwhelming shape of
    # real dedup pair graphs — fixpoint at init and pay exactly one
    # cheap confirmation round (one |E| join, one 1-row agg), which the
    # star scheme cannot match (its round is two groupBy+join+distinct
    # passes; measured +45 % on the dedup_clusters bench when run
    # unconditionally).  Label sums ride long: labels are vertex ids
    # and only ever decrease, so Σlabel is an exact fixpoint detector.
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("u"), F.col("b").alias("v")).persist()
    labels = cut(
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("id"), F.least("u", "mv").alias("label"))
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = prev_sum is None  # edgeless input: nothing to resolve

    def jump(frame: DataFrame) -> DataFrame:
        # label(id) := min(label, label(label)).  The right side renames
        # instead of .alias(): self-joining a checkpointed frame through
        # alias() leaves both sides sharing attribute ids and the NEXT
        # localCheckpoint dies in resolution ("key not found: id#N").
        right = frame.select(
            F.col("id").alias("r_id"), F.col("label").alias("r_label")
        )
        return frame.join(right, frame["label"] == right["r_id"], "left").select(
            frame["id"],
            F.least(
                frame["label"], F.coalesce(right["r_label"], frame["label"])
            ).alias("label"),
        )

    quick = 0 if converged else min(_QUICK_ROUNDS, max_iter)
    for _ in range(quick):
        nbr = sym.join(labels, sym["v"] == labels["id"]).select(
            sym["u"].alias("id"), labels["label"]
        )
        prop = labels.unionByName(nbr).groupBy("id").agg(F.min("label").alias("label"))
        labels = cut(prop)
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
        for _ in range(_QUICK_ROUNDS):  # path compression to fixpoint
            hopped = cut(jump(labels))
            hop_sum = hopped.agg(F.sum("label")).collect()[0][0]
            if hop_sum == prev_sum:
                break
            labels, prev_sum = hopped, hop_sum
    sym.unpersist()
    if converged:
        return labels.select(F.col("id"), F.col("label").alias("component"))

    # --- phase 2: the graph outlived the cheap loop — a chain/ring-like
    # topology where label propagation moves the minimum ~one edge per
    # |E|-sized round.  Switch to star contraction, whose round count is
    # logarithmic regardless of topology.
    verts = cut(
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
    )
    cur = e
    prev = checksum(cur)
    converged = prev[0] == 0
    for _ in range(max_iter):
        if converged:
            break
        cur = cut(small_star(large_star(cur)))
        now = checksum(cur)
        if now == prev:
            converged = True
            break
        prev = now
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # fixpoint ⇒ ``cur`` is the star forest: (a, b) = (vertex, its
    # component minimum); minima and isolated-by-construction vertices
    # map to themselves.  The mapping is cut() so callers embed a
    # bounded checkpoint scan, not the iteration's accumulated joins —
    # the same contract the per-round truncation exists for.
    return cut(
        verts.join(cur, verts["id"] == cur["a"], "left").select(
            verts["id"], F.coalesce(cur["b"], verts["id"]).alias("component")
        )
    )


def resolve_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    distinct_edges: bool = True,
) -> DataFrame:
    """Dedup-pipeline face of :func:`connected_components`:
    (doc_id, cluster_id, cluster_size) for every doc in ≥1 pair, where
    ``cluster_id`` = the canonical (minimum) doc id of the component —
    the row a keep-one-per-cluster pass retains."""
    comp = connected_components(
        pairs,
        src=id_a,
        dst=id_b,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        distinct_edges=distinct_edges,
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            F.col("cluster_size"),
        )
    )
