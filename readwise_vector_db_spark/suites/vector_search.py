"""Vector search suite (reference core/search.py:189-249; SURVEY §2.3).

The oracle-checkable query vectors are stored embeddings (vec_id 0/1) so
both engines read identical floats from parquet; the free-text path (the
deterministic embedder UDF) is exercised in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readwise_vector_db_spark.operators import search as search_ops
from readwise_vector_db_spark.registry import register, register_extra
from readwise_vector_db_spark.sources.search_index import (
    served_search_sql,
    stored_query_vector,
    warm_tables,
)
from readwise_vector_db_spark.sources.tables import corpus_split, load_table
from readwise_vector_db_spark.suites.sqlfrag import round_pos, seq_cos_dist

# Shared oracle fragments -----------------------------------------------------

HL_ORACLE = """
    SELECT CAST(d.doc_id AS VARCHAR) AS id, d.text, d.source AS source_type,
           d.lang, d.n_chars, str_split(d.text, ' ')[1:3] AS tags,
           CAST(e.embedding AS DOUBLE[]) AS emb
    FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
"""

# sequential fold, not list_dot_product: must share Spark's IEEE-754
# accumulation order or a 6-dp ROUND boundary can flip (suites/sqlfrag.py)
COS_DIST = seq_cos_dist("h.emb", "q.qv")


def _stringify_tags(df: DataFrame) -> DataFrame:
    """ARRAY output columns crash the driver's pandas-based canonicalizer
    (unhashable list); registered queries emit tags as a joined string.
    Arrays stay arrays *inside* the operators — this is output shaping only.
    """
    return df.withColumn("tags", F.array_join("tags", ","))


@register(
    "search_topk",
    f"""
    WITH h AS ({HL_ORACLE}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT h.id, h.text, h.source_type, h.lang, h.n_chars,
           array_to_string(h.tags, ',') AS tags,
           {round_pos(COS_DIST, 6)} AS score
    FROM h, q
    WHERE h.emb IS NOT NULL
    ORDER BY score ASC, h.id ASC
    LIMIT 10
    """,
)
def search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: k=10 exact cosine top-k, vector-first plan (score the
    narrow vector table, join metadata to the k winners)."""
    meta, vecs = corpus_split(spark, sf_dir)
    return _stringify_tags(
        search_ops.semantic_search_stored(meta, vecs, "0", search_ops.SearchParams(k=10))
    )


@register(
    "search_filtered",
    f"""
    WITH h AS ({HL_ORACLE}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1)
    SELECT h.id, h.text, h.source_type, h.lang, h.n_chars,
           array_to_string(h.tags, ',') AS tags,
           {round_pos(COS_DIST, 6)} AS score
    FROM h, q
    WHERE h.emb IS NOT NULL
      AND h.lang = 'en'
      AND list_has_any(h.tags, ['the', 'spark', 'fast'])
    ORDER BY score ASC, h.id ASC
    LIMIT 20
    """,
)
def search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter surface F1+F4+lang equality with correct pre-limit semantics;
    the metadata filters semi-join into the vector scan (id-only shuffle)."""
    meta, vecs = corpus_split(spark, sf_dir)
    params = search_ops.SearchParams(k=20, lang="en", tags=["the", "spark", "fast"])
    return _stringify_tags(search_ops.semantic_search_stored(meta, vecs, "1", params))


def _stored_query_vec(sf_dir: str, vecs, qid: str) -> list[float]:
    qv = stored_query_vector(sf_dir, qid)
    if qv is None:  # layout missing — distributed fallback
        qv = [float(x) for x in vecs.filter(F.col("id") == qid).first()["embedding"]]
    return qv


@register(
    "search_topk_warm",
    f"""
    WITH h AS ({HL_ORACLE}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 3)
    SELECT h.id, h.text, h.source_type, h.lang, h.n_chars,
           array_to_string(h.tags, ',') AS tags,
           {round_pos(COS_DIST, 6)} AS score
    FROM h, q
    WHERE h.emb IS NOT NULL
    ORDER BY score ASC, h.id ASC
    LIMIT 10
    """,
)
def search_topk_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``search_topk`` through the warm serving path: reads the bucketed,
    pre-normed layout (sources/search_index.py) instead of re-joining
    documents⋈embeddings and re-folding norms per query — the batch
    analogue of the reference's prebuilt-HNSW serving latency."""
    meta, vecs = warm_tables(spark, sf_dir)
    qv = _stored_query_vec(sf_dir, vecs, "3")
    return _stringify_tags(
        served_search_sql(spark, sf_dir, qv, search_ops.SearchParams(k=10))
    )


@register_extra(
    "search_filtered_warm",
    f"""
    WITH h AS ({HL_ORACLE}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 4)
    SELECT h.id, h.text, h.source_type, h.lang, h.n_chars,
           array_to_string(h.tags, ',') AS tags,
           {round_pos(COS_DIST, 6)} AS score
    FROM h, q
    WHERE h.emb IS NOT NULL
      AND h.lang = 'en'
      AND list_has_any(h.tags, ['the', 'spark', 'fast'])
    ORDER BY score ASC, h.id ASC
    LIMIT 20
    """,
)
def search_filtered_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered search on the warm layout: the metadata-filter semi-join
    and the winners' join-back are both co-located (same bucketing on id,
    no Exchange — tests/test_bucketing.py proves the layout)."""
    meta, vecs = warm_tables(spark, sf_dir)
    qv = _stored_query_vec(sf_dir, vecs, "4")
    params = search_ops.SearchParams(k=20, lang="en", tags=["the", "spark", "fast"])
    return _stringify_tags(served_search_sql(spark, sf_dir, qv, params))


@register_extra(
    "search_topk_ivf",
    f"""
    WITH h AS ({HL_ORACLE}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 5)
    SELECT h.id, h.text, h.source_type, h.lang, h.n_chars,
           array_to_string(h.tags, ',') AS tags,
           {round_pos(COS_DIST, 6)} AS score
    FROM h, q
    WHERE h.emb IS NOT NULL
    ORDER BY score ASC, h.id ASC
    LIMIT 10
    """,
)
def search_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``search_topk`` through the IVF-probe serving mode (round 6): the
    persisted cluster-partitioned warm index (``ivf_warm_index``) with
    every cell probed, so the result is exact by construction and fully
    value-hash-checkable — the oracle verifies the whole serving chain
    (KMeans artifact build/attach, batch-prunable cache, driver-side
    centroid selection, cluster IN-filter, winner fetch) loses and
    corrupts nothing.  The PRUNED configuration (``nprobe < n_clusters``
    — approximate, the reference-HNSW analogue) is covered by
    tests/test_search_serving.py and the scale-out harness, where recall
    is measured rather than asserted."""
    meta, vecs = warm_tables(spark, sf_dir)
    qv = _stored_query_vec(sf_dir, vecs, "5")
    return _stringify_tags(
        served_search_sql(
            spark, sf_dir, qv, search_ops.SearchParams(k=10), nprobe=16, n_clusters=16
        )
    )


@register(
    "corpus_stats",
    """
    SELECT d.source AS source_type,
           COUNT(*) AS n_docs,
           COUNT(e.vec_id) AS n_embedded,
           ROUND(CAST(SUM(CAST(d.n_chars AS DECIMAL(28,10))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_chars
    FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.source
    """,
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-level stats per source_type (SURVEY §2.7: the reference only
    has Prometheus counters; the engine ships real aggregates)."""
    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    return (
        docs.join(embs, docs["doc_id"] == embs["vec_id"], "left")
        .groupBy(F.col("source").alias("source_type"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("vec_id").alias("n_embedded"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_chars"),
        )
    )


_SQ8_CODES = """
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(
                   x / (CASE WHEN mx > 0 THEN mx / 127.0 ELSE 1.0 END) + 0.5
               ) AS BIGINT)) AS q
        FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
              FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE embedding IS NOT NULL))
"""


@register(
    "search_sq8",
    f"""
    WITH codes AS ({_SQ8_CODES}),
    qv AS (SELECT q AS qq FROM codes WHERE vec_id = 2),
    scored AS (
        SELECT c.vec_id AS neighbor_id,
               ROUND(1 - list_dot_product(CAST(c.q AS DOUBLE[]), CAST(qv.qq AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(c.q AS DOUBLE[]), CAST(c.q AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(qv.qq AS DOUBLE[]), CAST(qv.qq AS DOUBLE[])))),
                     6) + 0.0 AS qdist
        FROM codes c CROSS JOIN qv
    )
    SELECT neighbor_id, qdist FROM scored
    ORDER BY qdist ASC, neighbor_id ASC
    LIMIT 10
    """,
)
def search_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over SQ8-quantized codes (8× smaller scan than fp64 scoring;
    per-vector scales cancel in cosine, so this is integer cosine —
    bit-identical across engines, hence fully oracle-checked).  Recall vs
    the exact float scan is asserted in tests/test_similarity.py."""
    from readwise_vector_db_spark.functions.vector import (
        int_code_norm,
        int_cosine_distance,
        sq8_quantize,
    )

    embs = load_table(spark, sf_dir, "embeddings")
    # norms precomputed per row (and once for the broadcast query) so
    # scoring folds once per row, not three times — the norm expression
    # is identical, so qdist values are bit-unchanged (oracle-pinned)
    codes = embs.filter(F.col("embedding").isNotNull()).select(
        "vec_id",
        sq8_quantize("embedding").alias("c"),
    ).withColumn("cn", int_code_norm(F.col("c.q")))
    qrow = F.broadcast(
        codes.filter(F.col("vec_id") == 2).select(
            F.col("c.q").alias("qq"), F.col("cn").alias("qn")
        )
    )
    return (
        codes.crossJoin(qrow)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                int_cosine_distance(
                    F.col("c.q"), F.col("qq"), a_norm=F.col("cn"), b_norm=F.col("qn")
                ),
                6,
            ).alias("qdist"),
        )
        .orderBy(F.asc("qdist"), F.asc("neighbor_id"))
        .limit(10)
    )
