"""Similarity-search suite: k-NN join + IVF ANN + free-text query search.

Everything here is value-hash oracle-checked, including the free-text path:
the embedder is deterministic pure Python, so the query vector's exact
doubles are inlined into the DuckDB oracle as string-cast literals
(``_STQ_QV_SQL``).  Only the raw ``ann_ivf`` entry is rows-only (KMeans
centroids aren't SQL-expressible); its machinery is hash-checked via the
planted-duplicate construction in ``ann_ivf_planted``."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readwise_vector_db_spark.functions.embedder import embed_text_local
from readwise_vector_db_spark.operators import search as search_ops
from readwise_vector_db_spark.operators import similarity as sim
from readwise_vector_db_spark.registry import register, register_extra
from readwise_vector_db_spark.storage import publish_dir
from readwise_vector_db_spark.sources.tables import highlights, load_table
from readwise_vector_db_spark.suites.sqlfrag import round_pos, seq_cos_dist

# Rank on the ROUNDED distance (ties by id), exactly as the Spark side
# does, so a sub-6dp ordering ambiguity can never flip ranks either way.
_KNN_DIST = seq_cos_dist("e.v", "q.qv")


@register_extra(
    "knn_join",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
               {round_pos(_KNN_DIST, 6)} AS cos_dist
        FROM q CROSS JOIN e)
    SELECT query_id, neighbor_id, cos_dist, rn FROM (
        SELECT query_id, neighbor_id, cos_dist,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_dist ASC, neighbor_id ASC) AS INT) AS rn
        FROM scored)
    WHERE rn <= 5
    """,
)
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN: 10 stored queries × corpus, top-5 each."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.knn_join(queries, embs, k=5, corpus_id="vec_id")


@register(
    "knn_join_blocked",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
        SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
               {round_pos(_KNN_DIST, 6)} AS cos_dist
        FROM q CROSS JOIN e)
    SELECT query_id, neighbor_id, cos_dist, rn FROM (
        SELECT query_id, neighbor_id, cos_dist,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_dist ASC, neighbor_id ASC) AS INT) AS rn
        FROM scored)
    WHERE rn <= 5
    """,
)
def knn_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same k-NN join through the BLAS-blocked mapInPandas path: one
    matmul per Arrow batch, local top-k, tiny shuffle.  Ranks on the
    rounded distance (ties by id) so BLAS accumulation order cannot leak
    into results — the oracle ranks identically."""
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.knn_join_blocked(queries, embs, k=5, corpus_id="vec_id")


@register_extra("ann_ivf", None)  # KMeans centroids aren't SQL-expressible
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN: KMeans(16) layout, probe 4 clusters, top-10.
    Recall vs the exact scan is asserted in tests/test_similarity.py."""
    embs = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = sim.build_ivf_index(embs, n_clusters=16)
    qv = [float(x) for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]]
    return sim.ivf_search(assigned, centroids, qv, k=10, nprobe=4)


# Exact expectation for BOTH IVF entries (build-in-query and
# persisted-artifact probe): each planted duplicate pair must come back
# at distance 0 — see ann_ivf_planted's docstring for why the oracle is
# exact regardless of nprobe.
_PLANTED_SQL = """
    SELECT vec_id AS query_id, vec_id AS neighbor_id,
           CAST(0.0 AS DOUBLE) AS cos_dist
    FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL
    UNION ALL
    SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
           CAST(0.0 AS DOUBLE) AS cos_dist
    FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL
    """


def _planted_probe_rows(spark, sf_dir, assigned, centroids) -> DataFrame:
    """Shared probe: 5 query vectors against an assigned layout in ONE
    pruned scan (round 12 — ``ivf_search_many``; previously 5
    overlapping per-query scans), keeping only the distance-0 planted
    rows the oracle expects."""
    embs = load_table(spark, sf_dir, "embeddings")
    is_query = (F.col("vec_id") < 5) & F.col("embedding").isNotNull()
    # Q=5 query vectors are index metadata — driver-sized by construction
    qrows = embs.filter(is_query).select("vec_id", "embedding").collect()
    res = sim.ivf_search_many(
        assigned,
        centroids,
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        k=10,
        nprobe=4,
    )
    return res.filter(F.col("cos_dist") == 0.0).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        # + 0.0 normalizes IEEE -0.0 (from a 1-ulp-over-1 cosine)
        (F.col("cos_dist") + F.lit(0.0)).alias("cos_dist"),
    )


@register_extra("ann_ivf_planted", _PLANTED_SQL)
def ann_ivf_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-duplicate recall check for the IVF path, hash-checked.

    Each query vector (vec_id < 5) is re-injected into the corpus as
    vec_id+1000000 before the KMeans layout is built.  An identical
    vector is assigned to the centroid nearest the query, and that
    centroid is always the first one probed, so IVF MUST retrieve both
    distance-0 rows (the original and the plant) regardless of nprobe —
    the oracle is therefore exact: {(q, q, 0.0), (q, q+1e6, 0.0)}.
    This drives the full IVF machinery (KMeans build, cluster
    assignment, centroid-pruned probe, exact rescoring, top-k) through a
    deterministic, SQL-expressible expectation; graded recall on
    non-planted neighbors stays in tests/test_similarity.py.  Retired to
    extra in round 5: it re-KMeanses per call BY CONTRACT, so as a
    bench/driver row it trends index BUILD — the serving path is
    ``ann_ivf_probe``."""
    embs = load_table(spark, sf_dir, "embeddings")
    is_query = (F.col("vec_id") < 5) & F.col("embedding").isNotNull()
    dups = embs.filter(is_query).withColumn("vec_id", F.col("vec_id") + 1000000)
    assigned, centroids = sim.build_ivf_index(embs.unionByName(dups), n_clusters=16)
    # persist: the five probe branches below each scan the assigned
    # layout — uncached, every branch re-runs the KMeans transform over
    # the corpus union
    assigned = assigned.persist()
    return _planted_probe_rows(spark, sf_dir, assigned, centroids)


# Bump when the planted-index construction changes: the serving artifact
# is cached on disk across runs, and a stale layout must never satisfy a
# newer query's expectations.
_IVF_ARTIFACT_VERSION = 1
# Repo-local by default (not a world-writable shared /tmp path): the
# artifact is this repo's serving state, same home as the warm search
# layout (sources/search_index.py), and .warm_index/ is gitignored.
_IVF_ARTIFACT_ROOT = os.environ.get(
    "RWVDB_IVF_ARTIFACT_DIR",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".warm_index",
        "ivf_artifacts",
    ),
)


def publish_artifact(sf_dir: str, recipe: str, build) -> str:
    """Build-once path of the artifact ``recipe`` for ``sf_dir``, built
    by ``build(stage)`` through ``storage.publish_dir`` on first use.
    The source fingerprint is in the key: a regenerated fixture (new
    size/mtime) must never be served by a stale artifact — the planted
    expectations would silently diverge from the corpus."""
    st = os.stat(f"{sf_dir}/embeddings.parquet")
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{st.st_size}:{int(st.st_mtime)}"
        f"|{recipe}".encode()
    ).hexdigest()[:16]
    return publish_dir(f"{_IVF_ARTIFACT_ROOT}/{key}", build)


def planted_ivf_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the saved planted IVF index for ``sf_dir``.

    The offline job: KMeans(16) over corpus ∪ plants, then
    ``save_ivf_index`` writes the cluster-partitioned parquet layout +
    centroid table.  Deterministic (seeded KMeans over a fixed corpus),
    so concurrent or repeated builds converge to the same artifact."""

    def build(stage: str) -> None:
        embs = load_table(spark, sf_dir, "embeddings")
        is_query = (F.col("vec_id") < 5) & F.col("embedding").isNotNull()
        dups = embs.filter(is_query).withColumn("vec_id", F.col("vec_id") + 1000000)
        assigned, centroids = sim.build_ivf_index(
            embs.unionByName(dups), n_clusters=16
        )
        sim.save_ivf_index(assigned, centroids, stage)

    return publish_artifact(sf_dir, f"planted16|v{_IVF_ARTIFACT_VERSION}", build)


@register("ann_ivf_probe", _PLANTED_SQL)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING path of the IVF index (SURVEY K3; the reference's entire
    ANN story is probe-over-prebuilt-HNSW — migration 6e900a582819,
    ``BASELINE.md`` latency gate): load a PERSISTED cluster-partitioned
    artifact (``save_ivf_index``/``load_ivf_index``) and probe it, no
    KMeans in the query path.  Same planted-duplicate oracle as
    ``ann_ivf_planted``, so correctness is value-hash-checked; the wall
    time is the number a 100× operator cares about — probe latency over
    an existing index, which reads nprobe/n_clusters partition
    directories and should stay search-class and ~flat as the corpus
    grows (partition pruning does the scaling)."""
    path = planted_ivf_artifact(spark, sf_dir)
    assigned, centroids = sim.load_ivf_index(spark, path)
    return _planted_probe_rows(spark, sf_dir, assigned, centroids)


# PQ planted oracle: pq_search returns SIMILARITY (1.0 for a planted
# duplicate) where the IVF entries return distance (0.0) — same exactness
# argument as _PLANTED_SQL: no natural corpus pair rounds to cosine 1.0
# at 6dp (proven by the green IVF rows), so the expectation is exact.
_PQ_PLANTED_SQL = """
    SELECT vec_id AS query_id, vec_id AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS score
    FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL
    UNION ALL
    SELECT vec_id AS query_id, vec_id + 1000000 AS neighbor_id,
           CAST(1.0 AS DOUBLE) AS score
    FROM embeddings WHERE vec_id < 5 AND embedding IS NOT NULL
    """


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ∪ plants: every query vector (vec_id < 5) re-injected as
    vec_id+1000000 — identical vectors get identical PQ codes, so both
    rows share the corpus-max ADC score and survive candidate selection."""
    embs = load_table(spark, sf_dir, "embeddings")
    is_query = (F.col("vec_id") < 5) & F.col("embedding").isNotNull()
    dups = embs.filter(is_query).withColumn("vec_id", F.col("vec_id") + 1000000)
    return embs.unionByName(dups)


def _planted_pq_rows(
    spark: SparkSession, sf_dir: str, codes: DataFrame, books, rotation=None
) -> DataFrame:
    """Shared probe: 5 queries through ADC + exact rescore over the
    planted corpus in ONE scan + ONE candidate collect (round 12 —
    ``pq_search_many``; previously a per-query loop, each with its own
    eager ADC scan and rescore scan), keeping only the similarity-1.0
    rows the oracle expects (the original and its plant)."""
    from readwise_vector_db_spark.operators import pq

    embs = load_table(spark, sf_dir, "embeddings")
    corpus = _planted_corpus(spark, sf_dir)
    is_query = (F.col("vec_id") < 5) & F.col("embedding").isNotNull()
    qrows = embs.filter(is_query).select("vec_id", "embedding").collect()
    res = pq.pq_search_many(
        codes,
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        books,
        k=10,
        rescore=corpus,
        rescore_factor=8,
        rotation=rotation,
    )
    return res.filter(F.col("score") == 1.0).select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long").alias("neighbor_id"),
        (F.col("score") + F.lit(0.0)).alias("score"),
    )


@register_extra("pq_planted", _PQ_PLANTED_SQL)
def pq_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-duplicate check for product quantization (operators/pq.py),
    hash-checked: codebooks trained and corpus encoded IN the query (the
    BUILD trend row, like ``ann_ivf_planted``), then 5 queries scanned by
    ADC with exact rescore.  A planted pair shares its original's byte
    code, so both rows carry the corpus-max true cosine and MUST come
    back at similarity 1.0; graded recall stays in tests/test_pq.py."""
    from readwise_vector_db_spark.operators import pq

    corpus = _planted_corpus(spark, sf_dir)
    books = pq.train_pq_codebooks(corpus, m=8, k=256)
    codes = pq.pq_encode(corpus, books).persist()
    return _planted_pq_rows(spark, sf_dir, codes, books)


def planted_pq_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the saved planted PQ index for ``sf_dir`` —
    published like :func:`planted_ivf_artifact`."""
    from readwise_vector_db_spark.operators import pq

    def build(stage: str) -> None:
        corpus = _planted_corpus(spark, sf_dir)
        books = pq.train_pq_codebooks(corpus, m=8, k=256)
        pq.save_pq_index(pq.pq_encode(corpus, books), books, stage)

    return publish_artifact(sf_dir, f"pq8x256|v{_IVF_ARTIFACT_VERSION}", build)


@register_extra("pq_probe", _PQ_PLANTED_SQL)
def pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING path of the PQ index: load persisted byte codes +
    codebooks (``save_pq_index``/``load_pq_index``) and ADC-scan them —
    no k-means, no encoding in the query path.  The scan ships m=8 ints
    per row instead of the 64-float vector (the compression regime that
    keeps a 100 TB corpus's vectors RAM-resident); exact rescore touches
    only the 80-row candidate set.  Same planted oracle as
    ``pq_planted``, so the probe is value-hash-checked."""
    from readwise_vector_db_spark.operators import pq

    path = planted_pq_artifact(spark, sf_dir)
    codes, books = pq.load_pq_index(spark, path)
    return _planted_pq_rows(spark, sf_dir, codes, books)


# Grouped coarse-quantizer distortion — the round-8 drift statistic as
# a VALUE-CHECKED query.  The "frozen quantizer" is the first four
# embeddings (index metadata both engines read identically from the
# same parquet); groups are a synthetic source label (vec_id % 4).
# The oracle recomputes the same statistic in SQL: per row the MIN over
# centroids of (1 - dot/(‖x‖·‖c‖)), averaged per group — mathematically
# identical to the operator's normalize-then-max-dot, with the float
# ordering noise (~1e-13) absorbed by the 6 dp round both sides apply.
_DRIFT_SQL = """
    WITH c AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS cv,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS cn
        FROM embeddings WHERE vec_id < 4 AND embedding IS NOT NULL
    ),
    e AS (
        SELECT vec_id, embedding::DOUBLE[] AS ev,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS en
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    per_row AS (
        SELECT e.vec_id % 4 AS grp,
               MIN(1 - list_dot_product(e.ev, c.cv) / (e.en * c.cn)) AS mind
        FROM e CROSS JOIN c
        GROUP BY e.vec_id
    )
    SELECT grp, ROUND(AVG(mind), 6) AS distortion
    FROM per_row GROUP BY grp ORDER BY grp
    """


@register_extra("drift_by_source", _DRIFT_SQL)
def drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source coarse-quantizer drift statistic
    (``grouped_distortion_frame`` — the distributed plan behind
    ``append_to_ivfpq_index(source_col=)``'s round-8 gate): mean cosine
    distance from each group's vectors to their nearest frozen
    centroid.  One vectorized map pass + one (group, partial-sums)
    shuffle — the whole answer is n_groups rows, which is why the gate
    can afford to run it on every append."""
    from readwise_vector_db_spark.operators import pq

    embs = load_table(spark, sf_dir, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in embs.filter(
            (F.col("vec_id") < 4) & F.col("embedding").isNotNull()
        ).select("vec_id", "embedding").collect()
    ]
    grouped = embs.withColumn("grp", (F.col("vec_id") % 4).cast("long"))
    out = pq.grouped_distortion_frame(grouped, cents, "grp")
    return out.select(
        F.col("_g").alias("grp"),
        F.round(F.col("_d"), 6).alias("distortion"),
    ).orderBy("grp")


@register_extra("opq_planted", _PQ_PLANTED_SQL)
def opq_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ end-to-end under the exact planted oracle (round 8): learn
    the rotation + codebooks (``train_opq`` — Ge et al.'s alternation),
    encode the planted corpus in the rotated frame, probe with the
    rotated query.  Because the rotation is orthogonal the ADC sums
    still approximate ORIGINAL-space cosines, so the rescored
    duplicate pair must come back at similarity exactly 1.0 — the same
    byte-exact expectation as ``pq_planted``, proving the rotated
    encode/search frames agree (a frame mismatch would hash-mismatch
    immediately)."""
    from readwise_vector_db_spark.operators import pq

    corpus = _planted_corpus(spark, sf_dir)
    rotation, books = pq.train_opq(corpus, m=8, k=256, opq_iters=4)
    codes = pq.pq_encode(corpus, books, rotation=rotation)
    return _planted_pq_rows(spark, sf_dir, codes, books, rotation=rotation)


@register_extra("ann_ivf_filtered", _PLANTED_SQL)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN: metadata predicate composed with the IVF probe (the
    reference's ``/search`` filters + index, `api/routes.py` filter
    params) — ``ivf_search(pred=label == q.label)``.

    The oracle PROVES the predicate binds, not just that retrieval
    works: each query gets TWO identical-vector plants — one sharing its
    ``label`` (vec_id+1e6) and one with an impossible label
    (vec_id+2e6).  All three rows sit at distance 0 in the probed cell,
    so an unfiltered probe would return three 0-rows and the value hash
    would MISMATCH; the expected set is exactly the original + the
    same-label plant."""
    embs = load_table(spark, sf_dir, "embeddings")
    is_query = (F.col("vec_id") < 5) & F.col("embedding").isNotNull()
    same = embs.filter(is_query).withColumn("vec_id", F.col("vec_id") + 1000000)
    diff = (
        embs.filter(is_query)
        .withColumn("vec_id", F.col("vec_id") + 2000000)
        .withColumn("label", F.lit(-999).cast("int"))
    )
    assigned, centroids = sim.build_ivf_index(
        embs.unionByName(same).unionByName(diff), n_clusters=16
    )
    assigned = assigned.persist()
    qrows = embs.filter(is_query).select("vec_id", "embedding", "label").collect()
    # Batched (round 13 — r12 verdict item 4): the 5 per-query
    # ivf_search calls each ran their own pruned scan over overlapping
    # cells; ivf_search_many shares ONE union-cell scan, with each
    # query's label predicate composed per (row, query) pair via
    # ``preds`` — identical per-query rows by the operator's batch
    # contract (pinned by test_ivf_search_many_preds_match_loop).
    res = sim.ivf_search_many(
        assigned,
        centroids,
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        k=10,
        nprobe=4,
        preds={
            int(r["vec_id"]): F.col("label") == F.lit(int(r["label"]))
            for r in qrows
        },
    )
    return res.filter(F.col("cos_dist") == 0.0).select(
        F.col("query_id"),
        F.col("neighbor_id").cast("long"),
        (F.col("cos_dist") + F.lit(0.0)).alias("cos_dist"),
    )


@register_extra("pq_knn_join_planted", _PLANTED_SQL)
def pq_knn_join_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCH many-query ADC path (``pq_knn_join``): all 5 planted
    queries scored in ONE pass over the byte codes (Q LUTs broadcast,
    (n, Q) score matrix per Arrow batch, local top-f per query, exact
    rescore of the driver-bounded candidate set) instead of 5 sequential
    probes.  Same exact planted expectation; the corpus's raw vectors
    are touched only for the ≤Q·k·factor candidates."""
    from readwise_vector_db_spark.operators import pq

    corpus = _planted_corpus(spark, sf_dir)
    books = pq.train_pq_codebooks(corpus, m=8, k=256)
    codes = pq.pq_encode(corpus, books).persist()
    embs = load_table(spark, sf_dir, "embeddings")
    queries = embs.filter(
        (F.col("vec_id") < 5) & F.col("embedding").isNotNull()
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    out = pq.pq_knn_join(
        codes, queries, books, k=10, rescore=corpus, rescore_factor=8
    )
    return out.filter(F.col("cos_dist") == 0.0).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        (F.col("cos_dist") + F.lit(0.0)).alias("cos_dist"),
    )


def planted_ivfpq_artifact(spark: SparkSession, sf_dir: str) -> str:
    """Build-once path of the saved planted IVF-PQ index for ``sf_dir``
    (coarse KMeans(16) + PQ 8×256 codebooks, codes partitioned by
    cluster) — published like the other artifacts."""
    from readwise_vector_db_spark.operators import pq

    def build(stage: str) -> None:
        corpus = _planted_corpus(spark, sf_dir)
        _, centroids = sim.build_ivf_index(corpus, n_clusters=16)
        books = pq.train_pq_codebooks(corpus, m=8, k=256)
        codes = pq.ivfpq_encode(corpus, centroids, books)
        pq.save_ivfpq_index(codes, centroids, books, stage)

    return publish_artifact(sf_dir, f"ivfpq16x8x256|v{_IVF_ARTIFACT_VERSION}", build)


@register_extra("ivfpq_probe", _PQ_PLANTED_SQL)
def ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FAISS-style serving path — IVF partition pruning ON
    TOP OF PQ byte codes (operators/pq.py ``ivfpq_search``): a probe
    reads nprobe/16 of the partition DIRECTORIES, each row m=8 ints
    instead of d floats, ADC-scans the pruned cells, and exact-rescores
    only the candidate set.  At 100 TB this is the ANN configuration
    that matters: both the fraction of data touched AND the bytes per
    row touched shrink multiplicatively.  A planted pair co-assigns with
    its original (identical vectors, identical cell), the query's
    nearest centroid is probed first, so both similarity-1.0 rows MUST
    return — the same exact oracle as ``pq_planted``."""
    from readwise_vector_db_spark.operators import pq

    path = planted_ivfpq_artifact(spark, sf_dir)
    codes, centroids, books = pq.load_ivfpq_index(spark, path)
    embs = load_table(spark, sf_dir, "embeddings")
    corpus = _planted_corpus(spark, sf_dir)
    is_query = (F.col("vec_id") < 5) & F.col("embedding").isNotNull()
    qrows = embs.filter(is_query).select("vec_id", "embedding").collect()
    # round 12: one scan over the UNION of all queries' probed cells
    # (ivfpq_search_many) instead of 5 overlapping pruned scans, each
    # with its own eager candidate collect
    res = pq.ivfpq_search_many(
        codes,
        centroids,
        books,
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows],
        k=10,
        nprobe=4,
        rescore=corpus,
        rescore_factor=8,
    )
    return res.filter(F.col("score") == 1.0).select(
        F.col("query_id").cast("long"),
        F.col("vec_id").cast("long").alias("neighbor_id"),
        (F.col("score") + F.lit(0.0)).alias("score"),
    )


_STQ_TEXT = "spark query window merge"
# The embedder is deterministic pure Python (seeded hashing projection,
# functions/embedder.py), so the query vector is computable at import time
# and its exact doubles inline into the oracle as correctly-rounded string
# casts — giving the free-text path a full value-hash check instead of the
# rows-only one it had when the floats were assumed "not SQL-expressible".
_STQ_QV = embed_text_local(_STQ_TEXT)
_STQ_QV_SQL = "[" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in _STQ_QV) + "]"
_STQ_HL = """
    SELECT CAST(d.doc_id AS VARCHAR) AS id, d.text, d.source AS source_type,
           d.lang, d.n_chars, str_split(d.text, ' ')[1:3] AS tags,
           CAST(e.embedding AS DOUBLE[]) AS emb
    FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
"""


@register(
    "search_text_query",
    f"""
    WITH h AS ({_STQ_HL}),
    q AS (SELECT {_STQ_QV_SQL} AS qv)
    SELECT h.id, h.text, h.source_type, h.lang, h.n_chars,
           array_to_string(h.tags, ',') AS tags,
           {round_pos(seq_cos_dist("h.emb", "q.qv"), 6)} AS score
    FROM h, q
    WHERE h.emb IS NOT NULL AND h.lang = 'en'
    ORDER BY score ASC, h.id ASC
    LIMIT 10
    """,
)
def search_text_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference query path G3: free-text query → deterministic
    embedder → filtered cosine top-k (reference core/search.py:189-249)."""
    hl = highlights(spark, sf_dir)
    qv = embed_text_local(_STQ_TEXT)
    params = search_ops.SearchParams(k=10, lang="en")
    out = search_ops.semantic_search(hl, qv, params)
    # string-join the tags array: the driver canon cannot hash list cells
    return out.withColumn("tags", F.array_join("tags", ","))


# ---- lexical ranking + hybrid fusion (operators/ranking.py) -----------
#
# BM25 constants must be the SAME doubles in both engines: 1.2 + 1.0 is
# a rounding-boundary sum (exactly halfway between neighbors), so the
# SQL inlines repr()s of the Python-computed values rather than retyping
# the arithmetic in SQL.
_BM25_TERMS = _STQ_TEXT.split()  # same free-text query as the vector path
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_scored_sql() -> str:
    """DuckDB CTEs ``base``/``stats``/``scored`` mirroring bm25_scores:
    per-term array-filter TFs, one stats row, 9dp-rounded contributions
    summed in query order, total rounded at 6dp."""
    tfs = ",\n               ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    k1p1, k1, one_b, b = (
        repr(_BM25_K1 + 1.0),
        repr(_BM25_K1),
        repr(1.0 - _BM25_B),
        repr(_BM25_B),
    )
    contribs = " + ".join(
        f"ROUND(ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
        f" * ((CAST(tf{i} AS DOUBLE) * {k1p1})"
        f" / (CAST(tf{i} AS DOUBLE) + {k1} * ({one_b}"
        f" + {b} * CAST(dl AS DOUBLE) / avgdl))), 9)"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    base AS (
        SELECT doc_id, len(t) AS dl,
               {tfs}
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
              FROM documents)
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl, {dfs}
        FROM base
    ),
    scored AS (
        SELECT doc_id, ROUND({contribs}, 6) AS bm25
        FROM base CROSS JOIN stats
    )"""


@register_extra(
    "bm25_topk",
    f"""
    WITH {_bm25_scored_sql()}
    SELECT doc_id, bm25, rank FROM (
        SELECT doc_id, bm25,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT)
                   AS rank
        FROM scored WHERE bm25 > 0)
    WHERE rank <= 10
    ORDER BY rank
    """,
)
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical ranked retrieval: BM25 top-10 for the suite's free-text
    query — one map-only TF pass (Q array-filter counts, no per-token
    explode/shuffle), a 1-row broadcast stats aggregate, TakeOrdered."""
    from readwise_vector_db_spark.operators import ranking

    docs = load_table(spark, sf_dir, "documents")
    return ranking.bm25_topk(docs, _BM25_TERMS, k=10, k1=_BM25_K1, b=_BM25_B)


@register_extra(
    "hybrid_search_rrf",
    f"""
    WITH {_bm25_scored_sql()},
    lex AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                       AS INT) AS rank
            FROM scored WHERE bm25 > 0)
        WHERE rank <= 20
    ),
    q AS (SELECT {_STQ_QV_SQL} AS qv),
    vec AS (
        SELECT doc_id, rank FROM (
            SELECT e.vec_id AS doc_id,
                   CAST(row_number() OVER (
                       ORDER BY {round_pos(seq_cos_dist("CAST(e.embedding AS DOUBLE[])", "q.qv"), 6)} ASC,
                                e.vec_id ASC) AS INT) AS rank
            FROM embeddings e, q WHERE e.embedding IS NOT NULL)
        WHERE rank <= 20
    ),
    fused AS (
        SELECT doc_id,
               ROUND(SUM(1.0 / (60.0 + CAST(rank AS DOUBLE))), 9) AS rrf_score,
               CAST(COUNT(*) AS INT) AS n_lists
        FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec)
        GROUP BY doc_id
    )
    SELECT doc_id, rrf_score, n_lists
    FROM fused
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 ⊕ embedded-query cosine top-20,
    fused by reciprocal-rank fusion (k=60).  Both legs run over the SAME
    free-text query (the lexical terms and the deterministic embedding
    of ``_STQ_TEXT``); each leg is serving-bounded (top-20), so fusion
    cost is independent of corpus size.  This is the retrieval shape the
    reference's vector-only /search can't express."""
    from readwise_vector_db_spark.functions.vector import cosine_distance
    from readwise_vector_db_spark.operators import ranking
    from readwise_vector_db_spark.operators.search import vector_literal
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    lex = ranking.bm25_topk(
        docs, _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B
    ).select("doc_id", "rank")

    qv = embed_text_local(_STQ_TEXT)
    q_lit = vector_literal(qv)
    acc = 0.0
    for x in qv:
        acc += float(x) * float(x)
    embs = load_table(spark, sf_dir, "embeddings")
    w = W.orderBy(F.asc("_d"), F.asc("vec_id"))
    vec = (
        embs.filter(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_distance(
                    F.col("embedding").cast("array<double>"),
                    q_lit,
                    b_norm=F.lit(acc**0.5),
                ),
                6,
            ).alias("_d"),
            F.col("vec_id"),
        )
        .orderBy(F.asc("_d"), F.asc("vec_id"))
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("doc_id", "rank")
    )
    return ranking.rrf_fuse([lex, vec], k=10)
