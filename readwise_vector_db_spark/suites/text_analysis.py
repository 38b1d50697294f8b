"""Text-analysis suite over ``documents`` — language ID, quality scoring,
token counting, fingerprinting (north-star scope, SURVEY §2.7).

Every metric is a pure Column expression (functions/text.py) mirrored in
DuckDB SQL, so the whole suite is oracle-checked.
"""

from __future__ import annotations

import json as _json
import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from readwise_vector_db_spark.functions import text as T
from readwise_vector_db_spark.registry import register, register_extra
from readwise_vector_db_spark.sources.tables import load_table

_TOKS = "string_split_regex(text, '\\s+')"
_TOKS_LOWER = "string_split_regex(lower(text), '\\s+')"
_SW_LIST = "[" + ", ".join(f"'{w}'" for w in T.STOPWORDS) + "]"


def _marker_list(lang: str) -> str:
    return "[" + ", ".join(f"'{m}'" for m in T.LANG_MARKERS[lang]) + "]"


_PUNCT_N = "length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))"
_SW_RATIO = (
    f"CAST(len(list_filter({_TOKS_LOWER}, t -> list_contains({_SW_LIST}, t))) AS DOUBLE)"
    f" / len({_TOKS})"
)


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           len({_TOKS}) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n]')) AS n_tokens_re,
           ROUND(CAST(list_aggregate(list_transform({_TOKS}, t -> length(t)), 'sum') AS DOUBLE)
                 / len({_TOKS}), 6) AS avg_token_len,
           ROUND(CAST(({_PUNCT_N}) AS DOUBLE) / length(text), 6) AS punct_ratio,
           ROUND({_SW_RATIO}, 6) AS stopword_ratio,
           ROUND(
             (CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN {_SW_RATIO} >= 0.05 AND {_SW_RATIO} <= 0.6 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN CAST(({_PUNCT_N}) AS DOUBLE) / length(text) <= 0.1
                     THEN 0.2 ELSE 0.0 END), 6) AS quality
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/length/quality metrics — one narrow projection,
    no shuffle at any scale.

    The naive form (each metric calling ws_tokens independently) re-split
    ``text`` seven times per row — Catalyst does not CSE through
    higher-order-function lambdas, and the round-1 bench clocked it at
    8 s for 600 k rows.  Here the token array is bound ONCE
    (``functions/text.py:bind_once``) and
    every token metric is a field of a single per-row struct; the second
    projection only recombines struct fields.
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    sw = F.array(*[F.lit(s) for s in T.STOPWORDS])
    # one split per row; all token passes run over the bound lambda var
    tok_stats = T.bind_once(
        T.ws_tokens("text"),
        lambda toks: F.struct(
            F.size(toks).alias("n_toks"),
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("len_sum"),
            F.size(
                F.filter(toks, lambda t: F.array_contains(sw, F.lower(t)))
            ).alias("n_sw"),
        ),
    )
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[.!?,;:]", ""))
    staged = docs.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        T.n_tokens_re("text").alias("n_tokens_re"),
        tok_stats.alias("st"),
        F.when(
            F.length("text") > 0, n_punct.cast("double") / F.length("text")
        ).alias("pr"),
    )
    n_toks = F.col("st.n_toks")
    sw_ratio = F.when(n_toks > 0, F.col("st.n_sw").cast("double") / n_toks)
    len_ok = F.when(F.col("n_chars_measured").between(50, 5000), F.lit(0.4)).otherwise(
        F.lit(0.0)
    )
    sw_ok = F.when((sw_ratio >= 0.05) & (sw_ratio <= 0.6), F.lit(0.4)).otherwise(
        F.lit(0.0)
    )
    punct_ok = F.when(F.col("pr") <= 0.1, F.lit(0.2)).otherwise(F.lit(0.0))
    return staged.select(
        "doc_id",
        "n_chars_measured",
        n_toks.alias("n_tokens"),
        "n_tokens_re",
        F.round(F.when(n_toks > 0, F.col("st.len_sum") / n_toks), 6).alias(
            "avg_token_len"
        ),
        F.round(F.col("pr"), 6).alias("punct_ratio"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(len_ok + sw_ok + punct_ok, 6).alias("quality"),
    )


_LANG_SCORES = {
    lang: f"len(list_filter({_TOKS_LOWER}, t -> list_contains({_marker_list(lang)}, t)))"
    for lang in T.LANG_MARKERS
}
_MAX_SCORE = "greatest(" + ", ".join(f"s_{lang}" for lang in T.LANG_MARKERS) + ")"
_PRED_CASE = (
    "CASE WHEN " + _MAX_SCORE + " = 0 THEN 'und' "
    + " ".join(f"WHEN s_{lang} = {_MAX_SCORE} THEN '{lang}'" for lang in T.LANG_MARKERS)
    + " END"
)


@register(
    "lang_id",
    f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {", ".join(f"{expr} AS s_{lang}" for lang, expr in _LANG_SCORES.items())}
        FROM documents
    )
    SELECT doc_id, lang, {_PRED_CASE} AS lang_pred FROM scored
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID next to the fixture's labeled lang column.
    (The synthetic corpus is English-ish for every label, so the value is
    parity/determinism, not accuracy.)"""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return docs.select("doc_id", "lang", T.lang_id("text").alias("lang_pred"))


@register_extra(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return docs.select("doc_id", T.fingerprint_md5("text").alias("fp"))


@register(
    "tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS total
        FROM toks GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND((CAST(cnt AS DOUBLE) / total) * ln(CAST(n_docs AS DOUBLE) / df), 9) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, ROUND(tfidf, 6) AS tfidf, rnk FROM (
        SELECT doc_id, term, tfidf,
               CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rnk
        FROM scored)
    WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Plan: one shuffle on (doc, term), one on term for document frequency
    (map-side combined), corpus size joined in as a 1-row broadcast (no
    driver action), final per-doc rank.  Scores are pre-rounded at 9dp
    before ranking so cross-engine ln() ulp differences cannot flip the
    rank order.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = docs.select(
        "doc_id", F.explode(T.ws_tokens(F.lower(F.col("text")))).alias("term")
    )
    # persist: tf feeds both the document-frequency aggregate and the
    # scoring join — without it the tokenize+count stage runs twice
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("total", F.sum("cnt").over(W.partitionBy("doc_id")))
        .persist()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("cnt").cast("double") / F.col("total"))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                9,
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rnk")
    )


_SIM_SH_CTE = """
        SELECT doc_id AS id,
               list_distinct(list_transform(
                   range(1, len(string_split_regex(text, '\\s+')) - 1),
                   i -> string_split_regex(text, '\\s+')[i] || ' ' ||
                        string_split_regex(text, '\\s+')[i+1] || ' ' ||
                        string_split_regex(text, '\\s+')[i+2])) AS sh
        FROM documents
"""


@register_extra(
    "text_similar_topk",
    f"""
    WITH sh AS ({_SIM_SH_CTE}),
    ex AS (SELECT id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
    q AS (SELECT n_sh AS qn, shingle FROM ex WHERE id = 0),
    inter AS (
        SELECT e.id, COUNT(*) AS inter,
               any_value(e.n_sh) AS n, any_value(q.qn) AS qn
        FROM ex e JOIN q ON e.shingle = q.shingle
        WHERE e.id <> 0
        GROUP BY e.id
    )
    SELECT id, jaccard FROM (
        SELECT id, ROUND(CAST(inter AS DOUBLE) / (n + qn - inter), 6) AS jaccard
        FROM inter)
    ORDER BY jaccard DESC, id ASC
    LIMIT 10
    """,
)
def text_similar_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents most shingle-Jaccard-similar to doc 0 — lexical
    similarity SEARCH through the same inverted index the dedup operator
    builds.  The query side is one doc's shingles (a broadcast), so the
    corpus-side index never shuffles; candidates are only docs sharing a
    shingle (inner join), never the full corpus."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    sh = docs.select(
        F.col("doc_id").alias("id"), T.word_shingles("text", 3).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    ex = sh.select("id", "n_sh", F.explode("sh").alias("shingle"))
    q = F.broadcast(
        ex.filter(F.col("id") == 0).select(
            F.col("n_sh").alias("qn"), F.col("shingle").alias("q_shingle")
        )
    )
    inter = (
        ex.filter(F.col("id") != 0)
        .join(q, F.col("shingle") == F.col("q_shingle"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("n_sh").alias("n"),
            F.first("qn").alias("qn"),
        )
    )
    jac = F.col("inter") / (F.col("n") + F.col("qn") - F.col("inter"))
    return (
        inter.select("id", F.round(jac, 6).alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("id"))
        .limit(10)
    )


@register(
    "doc_fingerprint_rolling",
    f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(
                   CAST(0 AS BIGINT),
                   list_transform(
                       string_split_regex(lower(text), '\\s+'),
                       t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT))),
               (a, b) -> (a * {T.ROLL_B} + b) % {T.ROLL_P}) AS roll_fp
    FROM documents
    """,
)
def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling (Rabin-Karp) token-stream fingerprint — the incrementally
    maintainable variant of doc_fingerprint."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return docs.select("doc_id", T.rolling_fingerprint("text").alias("roll_fp"))


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters, Rae et al. 2021 —
# "MassiveText" rules): excessive repetition is the strongest single
# predictor of low-quality training text.  Computed with explode +
# two-level aggregation so the counting stays in codegen and shuffles
# only on doc_id (per-doc group state is tokens-per-doc sized).
# ---------------------------------------------------------------------------
@register(
    "repetition_stats",
    """
    WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
               FROM documents),
    base AS (SELECT doc_id, len(toks) AS n FROM t),
    uni AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    uc AS (SELECT doc_id, COUNT(*) AS c FROM uni GROUP BY doc_id, tok),
    umax AS (SELECT doc_id, MAX(c) AS mx FROM uc GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])) AS b
           FROM t WHERE len(toks) >= 2),
    bc AS (SELECT doc_id, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
    bmax AS (SELECT doc_id, MAX(c) AS mx FROM bc GROUP BY doc_id),
    tri AS (SELECT doc_id,
                   list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tg
            FROM t WHERE len(toks) >= 3),
    ts AS (SELECT doc_id, len(tg) AS n_tg, len(list_distinct(tg)) AS n_tg_d
           FROM tri)
    SELECT base.doc_id,
           base.n AS n_tokens,
           ROUND(CAST(umax.mx AS DOUBLE) / base.n, 6) AS top_unigram_frac,
           ROUND(CAST(bmax.mx AS DOUBLE) / (base.n - 1), 6) AS top_bigram_frac,
           ROUND(1.0 - CAST(ts.n_tg_d AS DOUBLE) / ts.n_tg, 6) AS dup_trigram_frac,
           (ROUND(CAST(umax.mx AS DOUBLE) / base.n, 6) <= 0.3
            AND ROUND(CAST(bmax.mx AS DOUBLE) / (base.n - 1), 6) <= 0.2
            AND ROUND(1.0 - CAST(ts.n_tg_d AS DOUBLE) / ts.n_tg, 6) <= 0.3) AS keep
    FROM base
    JOIN umax ON umax.doc_id = base.doc_id
    JOIN bmax ON bmax.doc_id = base.doc_id
    JOIN ts ON ts.doc_id = base.doc_id
    """,
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition fractions + a Gopher-style keep flag
    (top-unigram ≤ 0.30, top-bigram ≤ 0.20, duplicate-trigram ≤ 0.30;
    thresholds in the spirit of the published MassiveText rules).  Docs
    under 3 tokens are dropped (no defined trigram stats), mirroring the
    oracle's inner joins."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    toks = T.ws_tokens("text")
    base = docs.select("doc_id", toks.alias("toks")).withColumn(
        "n", F.size("toks")
    ).filter(F.col("n") >= 3).persist()

    def kgram_list(k: int) -> F.Column:
        def grams(ts):
            idx = F.sequence(F.lit(1), F.size(ts) - (k - 1))
            gram = lambda i: F.concat_ws(  # noqa: E731
                " ", *[F.element_at(ts, i + j) for j in range(k)]
            )
            return F.transform(idx, gram)

        return T.bind_once(F.col("toks"), grams)

    uni = base.select("doc_id", F.explode("toks").alias("tok"))
    umax = (
        uni.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id").agg(F.max("c").alias("u_mx"))
    )
    bg = base.select("doc_id", F.explode(kgram_list(2)).alias("b"))
    bmax = (
        bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id").agg(F.max("c").alias("b_mx"))
    )
    tg = base.select(
        "doc_id",
        F.size(kgram_list(3)).alias("n_tg"),
        F.size(F.array_distinct(kgram_list(3))).alias("n_tg_d"),
    )
    top_uni = F.round(F.col("u_mx").cast("double") / F.col("n"), 6)
    top_bi = F.round(F.col("b_mx").cast("double") / (F.col("n") - 1), 6)
    dup_tri = F.round(
        F.lit(1.0) - F.col("n_tg_d").cast("double") / F.col("n_tg"), 6
    )
    return (
        base.select("doc_id", "n")
        .join(umax, "doc_id")
        .join(bmax, "doc_id")
        .join(tg, "doc_id")
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            top_uni.alias("top_unigram_frac"),
            top_bi.alias("top_bigram_frac"),
            dup_tri.alias("dup_trigram_frac"),
            ((top_uni <= 0.3) & (top_bi <= 0.2) & (dup_tri <= 0.3)).alias("keep"),
        )
    )


@register_extra(
    "lm_quality",
    """
    WITH ref AS (
        SELECT string_split_regex(lower(text), '\\s+') AS t
        FROM documents WHERE lang = 'en' AND text IS NOT NULL
    ),
    fref AS (SELECT t FROM ref WHERE len(t) > 0),
    uni AS (
        SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(t) AS w FROM fref) GROUP BY w
        HAVING COUNT(*) >= 2
    ),
    vocab AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
    bi AS (
        SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c FROM (
            SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
            FROM fref WHERE len(t) >= 2)
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    corpus AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    cp AS (
        SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
        FROM corpus WHERE len(t) >= 2
    ),
    terms AS (
        SELECT doc_id,
               CAST(ROUND(ln((COALESCE(bi.c, 0) + 0.5)
                             / (COALESCE(uni.c, 0) + 0.5 * v)), 9)
                    AS DECIMAL(28, 9)) AS lp
        FROM cp
        LEFT JOIN bi ON bi.w1 = p[1] AND bi.w2 = p[2]
        LEFT JOIN uni ON uni.w = p[1]
        CROSS JOIN vocab
    ),
    agg AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
               ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, avg_logp,
           ROUND(exp(-avg_logp), 6) AS ppl
    FROM agg
    UNION ALL
    SELECT doc_id, 0 AS n_bigrams, CAST(NULL AS DOUBLE) AS avg_logp,
           CAST(NULL AS DOUBLE) AS ppl
    FROM corpus WHERE len(t) < 2
    """,
)
def lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: a bigram LM trained on the
    English reference slice (two counting aggregates, PRUNED at
    min_count=2 before the driver collect — the KenLM ``--prune``
    analogue, mirrored by the HAVING clauses in the oracle), then every
    document scored in ONE map-only Arrow pass — mean add-0.5-smoothed
    bigram log-prob and perplexity.  Pruned words score as unseen via
    the smoothed count floors.  The naive plan shuffles every token to
    a per-doc aggregate; here tokens never leave their row
    (operators/lm.py)."""
    from readwise_vector_db_spark.operators import lm

    docs = load_table(spark, sf_dir, "documents")
    uni, bi, v = lm.train_bigram_lm(docs.filter(F.col("lang") == "en"), min_count=2)
    return lm.lm_score_docs(docs, uni, bi, v)


# ---------------------------------------------------------------------------
# Fused per-doc quality signals (round 10 — r9 verdict item 7): LM
# perplexity + Gopher repetition fractions + duplicated-n-gram fraction
# in ONE Arrow pass + one join.  The oracle literally composes the three
# sequential SQL twins (repetition_stats, lm_quality, doc_dup_fraction)
# joined on doc_id — hash-identity of fused vs sequential is the check.
# ---------------------------------------------------------------------------
_SIGNALS_SQL = """
    WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
               FROM documents WHERE text IS NOT NULL),
    base AS (SELECT doc_id, len(toks) AS n FROM t),
    uni_r AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    uc AS (SELECT doc_id, COUNT(*) AS c FROM uni_r GROUP BY doc_id, tok),
    umax AS (SELECT doc_id, MAX(c) AS mx FROM uc GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])) AS b
           FROM t WHERE len(toks) >= 2),
    bc_ AS (SELECT doc_id, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
    bmax AS (SELECT doc_id, MAX(c) AS mx FROM bc_ GROUP BY doc_id),
    tri AS (SELECT doc_id,
                   list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tg
            FROM t WHERE len(toks) >= 3),
    ts_ AS (SELECT doc_id, len(tg) AS n_tg, len(list_distinct(tg)) AS n_tg_d
            FROM tri),
    rep AS (
        SELECT base.doc_id,
               ROUND(CAST(umax.mx AS DOUBLE) / base.n, 6) AS top_unigram_frac,
               ROUND(CAST(bmax.mx AS DOUBLE) / (base.n - 1), 6) AS top_bigram_frac,
               ROUND(1.0 - CAST(ts_.n_tg_d AS DOUBLE) / ts_.n_tg, 6) AS dup_trigram_frac
        FROM base
        JOIN umax ON umax.doc_id = base.doc_id
        JOIN bmax ON bmax.doc_id = base.doc_id
        JOIN ts_ ON ts_.doc_id = base.doc_id
        WHERE base.n >= 3
    ),
    ref AS (
        SELECT string_split_regex(lower(text), '\\s+') AS t
        FROM documents WHERE lang = 'en' AND text IS NOT NULL
    ),
    fref AS (SELECT t FROM ref WHERE len(t) > 0),
    uni AS (
        SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(t) AS w FROM fref) GROUP BY w
        HAVING COUNT(*) >= 2
    ),
    vocab AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
    bi AS (
        SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c FROM (
            SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
            FROM fref WHERE len(t) >= 2)
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    corpus AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
        FROM documents WHERE text IS NOT NULL
    ),
    cp AS (
        SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
        FROM corpus WHERE len(t) >= 2
    ),
    terms AS (
        SELECT doc_id,
               CAST(ROUND(ln((COALESCE(bi.c, 0) + 0.5)
                             / (COALESCE(uni.c, 0) + 0.5 * v)), 9)
                    AS DECIMAL(28, 9)) AS lp
        FROM cp
        LEFT JOIN bi ON bi.w1 = p[1] AND bi.w2 = p[2]
        LEFT JOIN uni ON uni.w = p[1]
        CROSS JOIN vocab
    ),
    lmagg AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
               ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        FROM terms GROUP BY doc_id
    ),
    w_ AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 8 + 1)) - 1 AS pos, toks
           FROM t WHERE len(toks) >= 8),
    w2_ AS (SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 8], ' ') AS ngram
            FROM w_),
    c_ AS (SELECT ngram FROM w2_ GROUP BY ngram HAVING COUNT(*) >= 2),
    cov AS (
        SELECT DISTINCT doc_id, i FROM (
            SELECT w2_.doc_id, unnest(generate_series(pos, pos + 7)) AS i
            FROM w2_ JOIN c_ USING (ngram))
    ),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS dup_tokens FROM cov GROUP BY doc_id)
    SELECT base.doc_id,
           CAST(base.n AS INT) AS n_tokens,
           rep.top_unigram_frac, rep.top_bigram_frac, rep.dup_trigram_frac,
           CASE WHEN rep.doc_id IS NOT NULL
                THEN (rep.top_unigram_frac <= 0.3
                      AND rep.top_bigram_frac <= 0.2
                      AND rep.dup_trigram_frac <= 0.3)
                ELSE NULL END AS rep_keep,
           COALESCE(lmagg.n_bigrams, 0) AS n_bigrams,
           lmagg.avg_logp,
           ROUND(exp(-lmagg.avg_logp), 6) AS ppl,
           COALESCE(cnt.dup_tokens, 0) AS dup_tokens,
           ROUND(CASE WHEN base.n > 0
                 THEN COALESCE(cnt.dup_tokens, 0) / CAST(base.n AS DOUBLE)
                 ELSE 0.0 END, 6) AS dup_fraction
    FROM base
    LEFT JOIN rep ON rep.doc_id = base.doc_id
    LEFT JOIN lmagg ON lmagg.doc_id = base.doc_id
    LEFT JOIN cnt ON cnt.doc_id = base.doc_id
    """


@register_extra("doc_quality_signals", _SIGNALS_SQL)
def doc_quality_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused per-doc signal row (LM ppl + repetition fractions + dup
    fraction) in one Arrow pass + one join — hash-checked against the
    composed sequential SQL twins."""
    from readwise_vector_db_spark.operators import lm
    from readwise_vector_db_spark.operators.signals import doc_quality_signals

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    uni, bi, v = lm.train_bigram_lm(docs.filter(F.col("lang") == "en"), min_count=2)
    return doc_quality_signals(docs, uni, bi, v)


# ---------------------------------------------------------------------------
# Bounded signal-distribution summary (round 11 — r10 verdict item 2):
# the ONE row the streaming quality-drift gate compares per batch.  The
# oracle wraps the fused-signals twin in the same exact-percentile
# aggregate, so the gate's input statistic is value-hash-checked
# end-to-end (NULL ppl excluded by both engines' quantile semantics,
# NULL-domain rep_keep excluded from the flagged fraction by both).
# ---------------------------------------------------------------------------
_SUMMARY_SQL = f"""
    WITH sig AS ({_SIGNALS_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(quantile_cont(ppl, 0.5), 6) AS ppl_p50,
           ROUND(quantile_cont(ppl, 0.9), 6) AS ppl_p90,
           ROUND(quantile_cont(dup_fraction, 0.5), 6) AS dup_frac_p50,
           ROUND(quantile_cont(dup_fraction, 0.9), 6) AS dup_frac_p90,
           ROUND(AVG(CASE WHEN rep_keep IS NULL THEN NULL
                          WHEN rep_keep THEN 0.0 ELSE 1.0 END), 6)
               AS rep_bad_frac,
           ROUND(AVG(CASE WHEN ppl IS NULL THEN 1.0 ELSE 0.0 END), 6)
               AS ppl_null_frac
    FROM sig
    """


@register_extra("quality_signal_summary", _SUMMARY_SQL)
def quality_signal_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One bounded distribution row over the fused signal frame — what
    the streaming gate consumes per batch, hash-checked against the
    composed sequential twins wrapped in the same exact percentiles."""
    from readwise_vector_db_spark.operators import lm
    from readwise_vector_db_spark.operators.signals import (
        doc_quality_signals,
        quality_signal_summary,
    )

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    uni, bi, v = lm.train_bigram_lm(docs.filter(F.col("lang") == "en"), min_count=2)
    return quality_signal_summary(doc_quality_signals(docs, uni, bi, v))


# ---------------------------------------------------------------------------
# Quality-classifier scoring from the deterministic artifact (round 11 —
# r10 verdict item 6): the one component that had NO value-oracle (L-BFGS
# coefficients depend on float aggregation order) gets one via the
# committed term-weight artifact: deterministic single-partition training
# (tools/train_quality_artifact.py, reproducibility pinned by test)
# exports (term → integer-nano coefficient) + intercept, and BOTH engines
# score by the same broadcast join + EXACT BIGINT sum + sigmoid.
# ---------------------------------------------------------------------------
_QLR_DIR = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "fixtures", "quality_lr_sf001",
)
try:
    with open(_os.path.join(_QLR_DIR, "model.json")) as _f:
        _QLR_INTERCEPT = int(_json.load(_f)["intercept_nano"])
except OSError:  # artifact not built — the spark fn raises loudly instead
    _QLR_INTERCEPT = 0

_QLR_SQL = f"""
    WITH t AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
    tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
        FROM documents WHERE text IS NOT NULL
    ),
    tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    w AS (SELECT term, w_nano
          FROM read_parquet('{_QLR_DIR}/terms.parquet')),
    s AS (
        SELECT tok2.doc_id,
               COALESCE(SUM(w.w_nano), 0) + {_QLR_INTERCEPT} AS m_nano
        FROM tok2 LEFT JOIN w USING (term)
        GROUP BY tok2.doc_id
    )
    SELECT t.doc_id,
           ROUND(1.0 / (1.0 + exp(-(CAST(COALESCE(s.m_nano,
                 {_QLR_INTERCEPT}) AS DOUBLE) / 1e9))), 6) AS quality_prob
    FROM t LEFT JOIN s ON s.doc_id = t.doc_id
    """


@register_extra("quality_model_scores", _QLR_SQL)
def quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P(reference-like) per document from the committed deterministic
    LR artifact — broadcast term join, exact nano-unit margin sum,
    sigmoid; hash-checked against the identical DuckDB computation."""
    from readwise_vector_db_spark.operators.quality_model import (
        score_from_artifact,
    )

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return score_from_artifact(docs, _QLR_DIR)
