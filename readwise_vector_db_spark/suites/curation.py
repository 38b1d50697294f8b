"""Curation suite: cluster resolution, decontamination, PII, chunking.

Every entry plants its interesting rows deterministically with the SAME
construction on both engines (the repo-wide pattern: the fixture corpus
is clean, so contamination / PII / duplicate topology is injected by
SQL-expressible transforms and the full operator output is then
value-hash-checked cross-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readwise_vector_db_spark.functions import text as T
from readwise_vector_db_spark.functions.text import fingerprint_md5
from readwise_vector_db_spark.operators import curation as cu
from readwise_vector_db_spark.operators import dedup as dd
from readwise_vector_db_spark.operators.graph import resolve_clusters
from readwise_vector_db_spark.registry import register, register_extra
from readwise_vector_db_spark.sources.tables import load_table
from readwise_vector_db_spark.suites import text_analysis as ta
from readwise_vector_db_spark.suites.dedup import (
    AUG_DOCS_SQL,
    augmented_docs,
    minhash_pairs_ctes,
)

# --- dedup cluster resolution ----------------------------------------------
#
# A real pipeline runs SEVERAL pair detectors and must merge their pair
# lists into components before it can keep one canonical doc per
# cluster.  Edges here = exact-fingerprint groups (star edges keep_id →
# member) ∪ MinHash-LSH est-Jaccard ≥ 0.6 pairs, both over the
# augmented corpus — chains appear when detector A links x–y and
# detector B links y–z, which is precisely what makes closure
# non-trivial.  MinHash is the detector a 100 TB pipeline would feed in
# here (one shuffle, banded candidates), and its pair list is already
# hash-checked standalone by dedup_minhash_lsh; the exact-Jaccard
# detector keeps its own standalone check in dedup_ngram_jaccard.
#
# The two edge CTEs are MATERIALIZED: DuckDB otherwise inlines them into
# every step of the recursive ``reach`` and recomputes the MinHash chain
# each time (about 6x the oracle's run time at sf0.001).

_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE aug AS ({AUG_DOCS_SQL}),
    fps AS (SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM aug),
    exact_edges AS (
        SELECT g.keep_id AS u, p.doc_id AS v
        FROM (SELECT fp, MIN(doc_id) AS keep_id FROM fps
              GROUP BY fp HAVING COUNT(*) > 1) g
        JOIN fps p USING (fp)
        WHERE p.doc_id <> g.keep_id
    ),
    {minhash_pairs_ctes("aug")},
    edges0 AS MATERIALIZED (
        SELECT u, v FROM exact_edges
        UNION
        SELECT id_a AS u, id_b AS v FROM mh_pairs WHERE est_jaccard >= 0.6
    ),
    edges AS MATERIALIZED (
        SELECT u, v FROM edges0 UNION SELECT v AS u, u AS v FROM edges0
    ),
    verts AS (SELECT DISTINCT u AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM verts
        UNION
        SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r
    ),
    comp AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT id AS doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
"""


@register("dedup_clusters", _CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the union of two dedup detectors'
    pairs (exact fingerprint ∪ MinHash-LSH est-Jaccard ≥ 0.6) on the
    augmented corpus: (doc_id, cluster_id = component min,
    cluster_size).  Spark side is iterative min-label propagation +
    pointer jumping (operators/graph.py); the oracle recomputes the
    closure with a recursive CTE — same answer, different algorithm,
    hash-checked.

    Exact-dedup-first: MinHash runs only over one REPRESENTATIVE doc per
    fingerprint (the min id), while the oracle minhashes the whole
    corpus.  Same closure — identical texts have identical signatures,
    so every full-corpus mh edge (a, b) is implied by the rep edge
    (rep(a), rep(b)) plus the star edges a–rep(a), b–rep(b), and every
    dropped vertex is a ≥2-member exact-group member that keeps its star
    edge.  At 100 TB this is THE shape: a replica-heavy corpus shrinks
    ~|corpus|→|distinct texts| before the expensive shingle+signature
    stage, and C(n,2) intra-group pair emission never happens."""
    # docs feeds the fingerprint pass AND the rep-side of the MinHash
    # chain; fps feeds the group agg and the star-edge join — persist
    # both so the corpus is scanned once and fingerprinted once
    docs = augmented_docs(spark, sf_dir).persist()
    fps = docs.select("doc_id", fingerprint_md5("text").alias("fp")).persist()
    groups = fps.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    exact_edges = (
        fps.join(groups, "fp")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select(F.col("keep_id").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    # broadcast the winner-id list (8 B per distinct text) so rep
    # selection is a map-side semi join — the corpus never shuffles
    reps = docs.join(
        F.broadcast(groups.select(F.col("keep_id").alias("doc_id"))),
        "doc_id",
        "left_semi",
    )
    # dedupe_pairs=False: multi-band collisions emit duplicate edges,
    # which CC's min-aggregation absorbs — skipping the distinct saves a
    # full candidate-list shuffle
    # group_exact=False: reps are one per normalized fingerprint, so no
    # two are byte-identical — the rep indirection would find only
    # singletons
    mh_edges = dd.minhash_lsh_pairs(
        reps, threshold=0.6, base_hash="md5", dedupe_pairs=False, group_exact=False
    ).select("id_a", "id_b")
    # exact edges are keep→non-rep, mh edges are rep↔rep: disjoint by
    # construction, so the symmetric-closure distinct can be skipped
    clusters = resolve_clusters(
        exact_edges.unionByName(mh_edges), distinct_edges=False
    )
    # the CC has materialized the edge list: nothing reads these again
    fps.unpersist()
    docs.unpersist()
    return clusters


# --- decontamination --------------------------------------------------------
#
# Eval set = 400-char slices of every 83rd document (planted
# contamination: each sampled doc is guaranteed to share 8-grams with
# its own slice; near-duplicates of sampled docs get flagged too —
# exactly the transitive leak this check exists to catch).

_K_DECON = 8
_EVAL_DOCS_SQL = """
        SELECT doc_id + 2000000 AS doc_id, substr(text, 50, 400) AS text
        FROM documents WHERE doc_id % 83 = 0
"""


def _kgram_hashes_sql(k: int) -> str:
    """DuckDB expr: distinct md5-hashed k-gram longs of ``text``."""
    toks = "string_split_regex(text, '\\s+')"
    concat = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(k))
    return f"""list_distinct(list_transform(
        list_transform(range(1, len({toks}) - {k - 2}), i -> {concat}),
        s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))"""


_DECON_ORACLE = f"""
    WITH eval_docs AS ({_EVAL_DOCS_SQL}),
    eval_sh AS (
        SELECT DISTINCT h FROM (
            SELECT unnest({_kgram_hashes_sql(_K_DECON)}) AS h FROM eval_docs)
    ),
    corp_sh AS (
        SELECT doc_id, unnest({_kgram_hashes_sql(_K_DECON)}) AS h FROM documents
    )
    SELECT doc_id, COUNT(DISTINCT h) AS n_shared
    FROM corp_sh JOIN eval_sh USING (h)
    GROUP BY doc_id
"""


@register("decontaminate", _DECON_ORACLE)
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 8-gram with
    the (planted) eval set, with the count of distinct shared 8-grams.
    Broadcast collision join — the corpus never shuffles."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    eval_set = docs.filter(F.col("doc_id") % 83 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.substring("text", 50, 400).alias("text"),
    )
    return cu.decontaminate(
        docs, eval_set, k=_K_DECON, shingle_hash="md5"
    )


# --- PII redaction ----------------------------------------------------------
#
# Planted PII: every 11th doc gets an email (unique per doc), an IPv4
# and an international phone number appended — same concat on both
# engines.  Counts + md5-of-redacted-text hash-check both the counting
# and the replacement spans.

_PII_DOCS_SQL = """
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com from 10.1.2.3 call +1 555 123 4567'
                    ELSE text END AS text
        FROM documents
"""

_PII_ORACLE = f"""
    WITH pii AS ({_PII_DOCS_SQL})
    SELECT doc_id,
           len(regexp_extract_all(text, '{cu.EMAIL_RE}')) AS n_email,
           len(regexp_extract_all(text, '{cu.IPV4_RE}')) AS n_ip,
           len(regexp_extract_all(text, '{cu.PHONE_RE}')) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(
               text, '{cu.EMAIL_RE}', '<EMAIL>', 'g'),
               '{cu.IPV4_RE}', '<IP>', 'g'),
               '{cu.PHONE_RE}', '<PHONE>', 'g')) AS clean_md5
    FROM pii
"""


@register("pii_redact", _PII_ORACLE)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus with planted emails/IPs/phones: per-doc
    match counts + md5 of the redacted text.  Pure codegen projection."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com from 10.1.2.3 call +1 555 123 4567"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return cu.pii_scrub(planted)


# --- sliding-window chunking ------------------------------------------------

_CHUNK_W, _CHUNK_S = 64, 48

_CHUNK_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
               len(string_split_regex(text, '\\s+')) AS n
        FROM documents
    ),
    st AS (
        SELECT doc_id, toks, n,
               unnest(range(0, greatest(n - 1, 0) + 1, {_CHUNK_S})) AS start
        FROM t WHERE n > 0
    )
    SELECT doc_id,
           CAST(start // {_CHUNK_S} AS INT) AS chunk_idx,
           CAST(len(list_slice(toks, start + 1, least(start + {_CHUNK_W}, n))) AS INT)
               AS n_chunk_tokens,
           md5(array_to_string(
               list_slice(toks, start + 1, least(start + {_CHUNK_W}, n)), ' '))
               AS chunk_md5
    FROM st
"""


@register("chunk_overlap", _CHUNK_ORACLE)
def chunk_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (window 64, stride 48 ⇒ 16-token
    overlap): one row per chunk with its token count and text md5.
    Map-only at any scale."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return cu.chunk_overlap(docs, window=_CHUNK_W, stride=_CHUNK_S)


# --- composed curation funnel -----------------------------------------------
#
# The full training-data funnel (jobs/curate.py) as ONE driver-checked
# query: quality filter → language filter → exact dedup (min id per
# normalized-text fingerprint) → near-dup removal (MinHash-LSH pairs,
# higher id of each pair dropped).  Every stage reuses an oracle
# fragment that is already independently hash-checked (text_stats
# quality, lang_id prediction, dedup_minhash_lsh pairs), so a red row
# here localizes to stage COMPOSITION, not any one operator.  The
# portable md5 base hash replaces jobs/curate.py's production xxhash64
# so DuckDB reproduces the pair set exactly.

_CURATE_QUALITY_SQL = f"""ROUND(
      (CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 0.4 ELSE 0.0 END)
      + (CASE WHEN {ta._SW_RATIO} >= 0.05 AND {ta._SW_RATIO} <= 0.6
              THEN 0.4 ELSE 0.0 END)
      + (CASE WHEN CAST(({ta._PUNCT_N}) AS DOUBLE) / length(text) <= 0.1
              THEN 0.2 ELSE 0.0 END), 6)"""

_CURATE_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, text,
               {", ".join(f"{expr} AS s_{lang}" for lang, expr in ta._LANG_SCORES.items())}
        FROM documents
        WHERE {_CURATE_QUALITY_SQL} >= 0.4
    ),
    flagged AS (
        SELECT doc_id, text FROM scored WHERE ({ta._PRED_CASE}) = 'en'
    ),
    fps AS (
        SELECT doc_id, text,
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
        FROM flagged
    ),
    exact AS (
        SELECT f.doc_id, f.text
        FROM fps f
        JOIN (SELECT fp, MIN(doc_id) AS keep_id FROM fps GROUP BY fp) k
          ON f.fp = k.fp AND f.doc_id = k.keep_id
    ),
    {minhash_pairs_ctes("exact")},
    losers AS (SELECT DISTINCT id_b FROM mh_pairs WHERE est_jaccard >= 0.6)
    SELECT doc_id FROM exact
    WHERE doc_id NOT IN (SELECT id_b FROM losers)
"""


@register("curate_survivors", _CURATE_ORACLE)
def curate_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor ids of the composed curation funnel (jobs/curate.py
    stages, md5-portable hashing): quality ≥ 0.4, lang 'en', exact dedup,
    MinHash-LSH near-dup removal.  At 100 TB: two narrow filter maps, one
    fingerprint shuffle, one banded-LSH shuffle, one anti-join."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    flagged = docs.filter(
        (F.round(T.quality_score("text"), 6) >= 0.4) & (T.lang_id("text") == "en")
    )
    # persist: the scored+deduped survivors feed the MinHash chain AND
    # the final anti-join — without it the quality/lang scan and the
    # fingerprint dedup (the two corpus passes) execute twice
    exact = dd.exact_dedup(flagged, id_col="doc_id", text_col="text").persist()
    # dedupe_pairs=False and no distinct on losers: the anti-join is
    # idempotent under duplicate right-side rows, so both dedup shuffles
    # would only re-sort data the join ignores
    pairs = dd.minhash_lsh_pairs(
        exact, threshold=0.6, id_col="doc_id", text_col="text", base_hash="md5",
        group_exact=False,  # exact dedup above already removed byte copies
        dedupe_pairs=False,
    )
    losers = pairs.select(F.col("id_b").alias("doc_id"))
    return exact.join(losers, "doc_id", "left_anti").select("doc_id")


# --- cross-document duplicated passages -------------------------------------
#
# Document-level dedup misses the boilerplate case: distinct documents
# sharing large verbatim SPANS (licence headers, navigation chrome,
# quoted passages) — the duplication "Deduplicating Training Data Makes
# Language Models Better" (Lee et al., 2022) removes at the substring
# level with suffix arrays.  The Spark-native decomposition reuses the
# chunking layout: slide 64-token windows (stride 48, so a duplicated
# span ≥ 111 tokens MUST contain a shared aligned window regardless of
# offset), fingerprint each window, and group fingerprints across
# doc_ids — one shuffle on the chunk hash, no suffix array.  Planted
# topology: the augmented corpus's byte-copies guarantee every chunk of
# a copied doc appears in ≥2 documents.

_CHUNK_DUP_ORACLE = f"""
    WITH aug AS ({AUG_DOCS_SQL}),
    t AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS toks,
               len(string_split_regex(text, '\\s+')) AS n
        FROM aug
    ),
    st AS (
        SELECT doc_id, toks, n,
               unnest(range(0, greatest(n - 1, 0) + 1, {_CHUNK_S})) AS start
        FROM t WHERE n > 0
    ),
    chunks AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(toks, start + 1, least(start + {_CHUNK_W}, n)), ' '))
                   AS chunk_md5
        FROM st
    )
    SELECT chunk_md5,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS first_doc_id
    FROM chunks
    GROUP BY chunk_md5
    HAVING COUNT(DISTINCT doc_id) > 1
"""


@register_extra("chunk_dup_spans", _CHUNK_DUP_ORACLE)
def chunk_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim passages shared across documents: 64-token windows
    (stride 48) fingerprinted and grouped across doc_ids — (chunk_md5,
    n_docs, n_occurrences, first_doc_id) for every window seen in ≥2
    documents.  At 100 TB: one map-only chunking pass and one shuffle on
    the chunk hash with map-side combine — the substring-dedup signal
    without a suffix array."""
    docs = augmented_docs(spark, sf_dir)
    chunks = cu.chunk_overlap(docs, window=_CHUNK_W, stride=_CHUNK_S).select(
        "doc_id", "chunk_md5"
    )
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --- boilerplate removal ----------------------------------------------------
#
# Planted boilerplate: a "newsletter" header prepended to every 3rd doc
# and a "copyright" footer-phrase prepended (so word alignment is
# preserved — both phrases are exactly _BP_W words) to every 7th doc.
# With the 5 %-of-corpus df threshold the two phrases are the only
# segments crossing it at any sf; the operator must remove them from
# every planted doc while leaving all organic segments intact, and the
# full (clean_text, counts) output is value-hash-checked.

_BP_W = 8
_BP_A = "subscribe to our newsletter for daily updates now "
_BP_B = "all rights reserved copyright notice terms of service "

_BP_DOCS_SQL = f"""
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN '{_BP_B}' ELSE '' END ||
               CASE WHEN doc_id % 3 = 0 THEN '{_BP_A}' ELSE '' END ||
               text AS text
        FROM documents
"""

_BOILERPLATE_ORACLE = f"""
    WITH aug AS ({_BP_DOCS_SQL}),
    tot AS (SELECT COUNT(*) AS n FROM aug),
    segx AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, CAST(ceil(len(string_split(text, ' '))/{_BP_W}.0) AS BIGINT)),
                   i -> {{'seg_id': i,
                         'seg': array_to_string(list_slice(
                             string_split(text, ' '),
                             i*{_BP_W}+1, i*{_BP_W}+{_BP_W}), ' ')}})) AS s
        FROM aug),
    segs AS (SELECT doc_id, s.seg_id AS seg_id, s.seg AS seg FROM segx),
    common AS (
        SELECT seg
        FROM (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg) d, tot
        WHERE d.df >= CEIL(0.05 * tot.n)),
    kept AS (SELECT sg.doc_id, sg.seg_id, sg.seg
             FROM segs sg ANTI JOIN common c USING (seg)),
    agg AS (SELECT doc_id,
                   string_agg(seg, ' ' ORDER BY seg_id) AS clean_text,
                   COUNT(*) AS kept_segs
            FROM kept GROUP BY doc_id),
    totals AS (SELECT doc_id, COUNT(*) AS total_segs FROM segs GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           COALESCE(a.kept_segs, 0) AS kept_segs,
           t.total_segs - COALESCE(a.kept_segs, 0) AS dropped_segs
    FROM totals t LEFT JOIN agg a USING (doc_id)
"""


def _bp_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 7 == 0, F.lit(_BP_B)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_BP_A)).otherwise(F.lit("")),
            F.col("text"),
        ).alias("text"),
    )


@register_extra("boilerplate_removal", _BOILERPLATE_ORACLE)
def boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/C4-style boilerplate pass over the planted corpus: every
    8-word segment occurring in ≥ 5 % of documents is removed from all
    of them; (doc_id, clean_text, kept_segs, dropped_segs), full text
    value-hash-checked.  Map strategy: one df shuffle on hashed
    segments, then a map-only rebuild — the corpus text never
    shuffles (operators/curation.py:remove_boilerplate)."""
    import math

    aug = _bp_docs(spark, sf_dir)
    min_df = math.ceil(0.05 * aug.count())
    return cu.remove_boilerplate(aug, seg_words=_BP_W, min_df=min_df)
