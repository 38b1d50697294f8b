"""N-gram language-model quality scoring — the CCNet recipe.

CCNet (Wenzek et al., LREC 2020) ranks crawled documents by the
perplexity of a KenLM n-gram model trained on a high-quality reference
corpus; low-perplexity documents are "wiki-like".  Re-expressed
Spark-first with a bigram LM:

- **Train** = two counting aggregates over the reference corpus
  (unigram and bigram frequencies), PRUNED before they reach the
  driver.  The unigram table grows with vocabulary and the bigram
  table toward O(V²)·corpus-diversity, so an unpruned collect is NOT
  bounded — real CCNet ships a pruned, quantized KenLM artifact for
  exactly this reason.  ``min_count`` drops rare entries inside the
  aggregate (the KenLM ``--prune`` analogue), ``max_vocab`` caps the
  vocabulary at the top-N by frequency (distributed TakeOrdered), and
  a ``max_model_rows`` guard on each collect turns "the prune was too
  weak for this corpus" into a loud error instead of a driver OOM.
  The pruned dict then broadcasts as the serving artifact.
- **Score** = ONE map-only Arrow pass over the target corpus: for each
  document, the mean add-k-smoothed bigram log-probability
  ``ln((c(w1,w2) + k) / (c(w1) + k·V))`` and the derived perplexity.
  No token-level shuffle — the naive explode→join→groupBy(doc) plan
  shuffles every token in the corpus; here tokens never leave their
  document's row.

Cross-engine determinism (the oracle recomputes the LM in SQL): each
bigram's logp is rounded at 9 dp and summed EXACTLY as integer
nano-units (equivalent to the DECIMAL routing the relational suite
uses), so float summation order cannot perturb the mean; ln ulp
differences are absorbed by the 9 dp round (the tfidf/bm25 precedent).
"""

from __future__ import annotations

import math
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from readwise_vector_db_spark.functions.text import ws_tokens


def _collect_bounded(
    df: DataFrame, guard: int, what: str, msg: str | None = None
) -> list:
    """Collect at most ``guard`` rows; one row over → loud ValueError.
    ``limit(guard+1)`` bounds driver memory even in the failure case —
    the guard costs nothing when the prune did its job (limit is a
    no-op below the threshold) and never OOMs when it didn't.
    ``msg`` overrides the default overflow message so each calling path
    reports ITS user-facing bound and remediation (the fused path's
    internal guard is 2·max_model_rows+1, not the user's parameter)."""
    rows = df.limit(guard + 1).collect()
    if len(rows) > guard:
        raise ValueError(
            msg
            or (
                f"train_bigram_lm: pruned {what} table still exceeds "
                f"max_model_rows={guard}; raise min_count or lower max_vocab "
                "— collecting it would risk a driver OOM"
            )
        )
    return rows


def train_bigram_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_vocab: int | None = None,
    max_model_rows: int = 2_000_000,
) -> tuple[dict[str, int], dict[tuple[str, str], int], int]:
    """(unigram counts, bigram counts, vocab size) from the reference
    corpus — distributed counting aggregates (one fused scan+aggregate
    on the default path; two on the ``max_vocab`` path), pruned BEFORE
    collect.

    ``min_count``: drop unigrams/bigrams with count < min_count inside
    the aggregate (KenLM ``--prune``).  Because every bigram occurrence
    is also a w1 occurrence, c(w1) ≥ c(w1,w2) — so a surviving bigram's
    head word always survives the same unigram prune; the two HAVING
    clauses are mutually consistent with one threshold.

    ``max_vocab``: keep only the top-N unigrams by (count desc, word
    asc — deterministic tie-break), via distributed TakeOrdered; bigrams
    are then semi-joined (broadcast, vocab ≤ max_vocab rows) so both
    words are in-vocabulary, bounding the model at max_vocab² keys.

    ``max_model_rows``: hard guard on each collect — exceeding it
    raises instead of OOMing the driver.  Pruned words score as unseen
    (the smoothed ``uni.get(w,0)`` / ``bi.get(key,0)`` fallback), so
    pruning changes scores only through the count floors and the kept
    vocab size V, exactly as the SQL oracle twin expresses it."""
    if min_count < 1:
        raise ValueError("train_bigram_lm: min_count must be >= 1")
    toks = ref_docs.select(
        ws_tokens(F.lower(F.col(text_col))).alias("_t")
    ).filter(F.size("_t") > 0)
    if max_vocab is None:
        # ONE scan, ONE aggregate, ONE action for both pruned count
        # tables (round 12, guide §1.2): unigrams ride the same explode
        # as the bigrams tagged with a NULL w2, so the (w1, w2) hash
        # aggregate counts both tables at once (NULL groups like any
        # key) and the earlier union-of-two-aggregates' second corpus
        # scan + tokenize + exchange disappears.  Counts are integers
        # grouped on the same keys, so the model is bit-identical; only
        # the max_vocab path still needs the sequential collect (the
        # bigram semi-join depends on the collected vocabulary).
        null_w = F.lit(None).cast("string")
        grams = toks.select(
            F.explode(
                F.concat(
                    F.transform(
                        "_t",
                        lambda w: F.struct(w.alias("w1"), null_w.alias("w2")),
                    ),
                    F.zip_with(
                        F.slice("_t", 1, F.size("_t") - 1),
                        F.slice("_t", 2, F.size("_t") - 1),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                )
            ).alias("p")
        )
        tagged = (
            grams.select("p.w1", "p.w2")
            .groupBy("w1", "w2")
            .agg(F.count("*").alias("c"))
        )
        if min_count > 1:
            tagged = tagged.filter(F.col("c") >= min_count)
        rows = _collect_bounded(
            tagged,
            2 * max_model_rows + 1,
            "unigram+bigram",
            msg=(
                "train_bigram_lm: pruned unigram+bigram table exceeds "
                f"2x max_model_rows={max_model_rows}; raise min_count — "
                "collecting it would risk a driver OOM"
            ),
        )
        uni_rows = [r for r in rows if r["w2"] is None]
        bi_rows = [r for r in rows if r["w2"] is not None]
        for side, what in ((uni_rows, "unigram"), (bi_rows, "bigram")):
            if len(side) > max_model_rows:
                raise ValueError(
                    f"train_bigram_lm: pruned {what} table still exceeds "
                    f"max_model_rows={max_model_rows}; raise min_count or "
                    "lower max_vocab — collecting it would risk a driver OOM"
                )
        uni = {r["w1"]: int(r["c"]) for r in uni_rows}
        bi = {(r["w1"], r["w2"]): int(r["c"]) for r in bi_rows}
        if not uni:
            raise ValueError(
                "train_bigram_lm: reference corpus has no tokens surviving "
                "the prune — an empty vocabulary would make every smoothed "
                "probability divide by zero"
            )
        return uni, bi, len(uni)
    # --- max_vocab path: vocabulary cap needs uni collected first ------
    uni_counts = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    if min_count > 1:
        uni_counts = uni_counts.filter(F.col("c") >= min_count)
    # bigrams: zip tokens with their tail — stays inside the row until
    # the count aggregate, pruned by the same min_count before collect
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("_t", 1, F.size("_t") - 1),
                F.slice("_t", 2, F.size("_t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    )
    bi_counts = (
        pairs.select("p.w1", "p.w2").groupBy("w1", "w2").agg(F.count("*").alias("c"))
    )
    if min_count > 1:
        bi_counts = bi_counts.filter(F.col("c") >= min_count)
    # TakeOrdered: per-partition top-N, merged on the driver — never a
    # global sort of the count table
    uni_counts = uni_counts.orderBy(
        F.col("c").desc(), F.col("w").asc()
    ).limit(int(max_vocab))
    uni_rows = _collect_bounded(uni_counts, max_model_rows, "unigram")
    uni = {r["w"]: int(r["c"]) for r in uni_rows}
    if max_vocab is not None:
        # restrict to the capped vocabulary on BOTH positions — the
        # vocab side is ≤ max_vocab rows, so broadcast semi-joins (no
        # isin() literal list: the py4j per-element pathology)
        spark = ref_docs.sparkSession
        vocab_df = F.broadcast(
            spark.createDataFrame([(w,) for w in uni], "w string")
        )
        bi_counts = bi_counts.join(
            vocab_df, bi_counts["w1"] == vocab_df["w"], "left_semi"
        ).join(vocab_df, bi_counts["w2"] == vocab_df["w"], "left_semi")
    bi_rows = _collect_bounded(bi_counts, max_model_rows, "bigram")
    bi = {(r["w1"], r["w2"]): int(r["c"]) for r in bi_rows}
    if not uni:
        raise ValueError(
            "train_bigram_lm: reference corpus has no tokens surviving the "
            "prune — an empty vocabulary would make every smoothed "
            "probability divide by zero"
        )
    return uni, bi, len(uni)


def save_bigram_lm(
    path: str,
    uni: dict[str, int],
    bi: dict[tuple[str, str], int],
    vocab_size: int,
    add_k: float = 0.5,
) -> None:
    """Persist the trained LM as a serving artifact (round 10): the
    trained counts are the analogue of a KenLM binary — training runs
    in the offline job (two counting aggregates over the reference
    slice), serving processes only ever :func:`load_bigram_lm` and
    broadcast.  Without this, every batch/process that wants
    `lm_quality` / `doc_quality_signals` retrains from the corpus.

    Format: one atomic JSON (the model is vocab-bounded by
    construction — see ``train_bigram_lm(max_model_rows=)``); bigram
    keys join with a single space, unambiguous because tokens come
    from a whitespace split and cannot contain whitespace.  Layout is
    stamped family ``bigram_lm`` (readwise_vector_db_spark.layout):
    loaders refuse wrong-family/newer-engine artifacts loudly."""
    import os

    from readwise_vector_db_spark.layout import stamp_layout
    from readwise_vector_db_spark.storage import atomic_write_json

    os.makedirs(path, exist_ok=True)
    rec = {
        "add_k": float(add_k),
        "vocab_size": int(vocab_size),
        "uni": {w: int(c) for w, c in uni.items()},
        "bi": {f"{w1} {w2}": int(c) for (w1, w2), c in bi.items()},
    }
    atomic_write_json(os.path.join(path, "model.json"), rec)
    stamp_layout(path, "bigram_lm")


def load_bigram_lm(path: str) -> tuple[dict, dict, int, float]:
    """(uni, bi, vocab_size, add_k) from a :func:`save_bigram_lm`
    artifact — pass the WHOLE 4-tuple as the ``lm_model=`` where the
    consumer honors it (curate funnel, ``batch_quality_signals``): the
    artifact's add_k is part of the model, and scoring with a different
    smoothing than training silently shifts every perplexity."""
    import json
    import os

    from readwise_vector_db_spark.layout import check_layout

    check_layout(path, "bigram_lm")
    with open(os.path.join(path, "model.json")) as f:
        rec = json.load(f)
    bi = {}
    for k, c in rec["bi"].items():
        w1, w2 = k.split(" ", 1)
        bi[(w1, w2)] = int(c)
    uni = {w: int(c) for w, c in rec["uni"].items()}
    return uni, bi, int(rec["vocab_size"]), float(rec["add_k"])


def make_scorer(uni, bi, vocab_size: int, add_k: float):
    """Per-text closure → (n_bigrams, raw mean logp | None).

    Each bigram's logp is rounded at 9 dp AS INTEGER NANO-UNITS so the
    per-doc sum is exact (the DECIMAL-routing rule in executable form);
    ``total/1e9`` is then the double nearest the exact decimal sum —
    identical to the oracle's ``CAST(SUM(DECIMAL) AS DOUBLE)``.  ln()
    engine-ulp differences are absorbed by the 9 dp grain (round() here
    is scale-then-nearest-int; half-to-even applies only on exact .5
    nano boundaries, which ln cannot hit)."""
    kv = add_k * vocab_size
    # the ws_tokens/string_split_regex twin — re.ASCII because Python's
    # default \s also matches UNICODE whitespace (  etc.) that
    # Java's and RE2's \s do not (see operators/signals.py:_WS)
    ws = re.compile(r"\s+", re.ASCII)
    cache: dict[tuple[str, str], int] = {}

    def logp_nano(w1: str, w2: str) -> int:
        key = (w1, w2)
        hit = cache.get(key)
        if hit is not None:
            return hit
        p = (bi.get(key, 0) + add_k) / (uni.get(w1, 0) + kv)
        val = round(math.log(p) * 1e9)
        cache[key] = val
        return val

    def score(text: str) -> tuple[int, float | None]:
        w = ws.split(text.lower())
        n = len(w) - 1
        if n < 1:
            return 0, None
        total = sum(logp_nano(w[i], w[i + 1]) for i in range(n))
        return n, (total / 1e9) / n

    return score


def lm_ppl_udf(
    spark,
    uni: dict[str, int],
    bi: dict[tuple[str, str], int],
    vocab_size: int,
    add_k: float = 0.5,
):
    """Perplexity as a scalar Arrow ``pandas_udf`` Column — the form
    that FUSES into an existing scoring projection (the curate funnel's
    single flag pass) instead of wrapping the frame in its own
    mapInPandas stage.  NULL for texts without bigram evidence (a
    ``ppl <= max`` gate then fails them, the conservative default)."""
    from pyspark.sql.pandas.functions import pandas_udf

    bc = spark.sparkContext.broadcast((uni, bi, int(vocab_size), float(add_k)))

    @pandas_udf("double")
    def ppl(texts: pd.Series) -> pd.Series:
        score = make_scorer(*bc.value)

        def one(t):
            if t is None:
                return None
            _, raw = score(t)
            return None if raw is None else math.exp(-raw)

        return texts.map(one)

    return ppl


def lm_score_docs(
    docs: DataFrame,
    uni: dict[str, int],
    bi: dict[tuple[str, str], int],
    vocab_size: int,
    add_k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_bigrams, avg_logp, ppl): mean smoothed bigram log-prob and
    perplexity ``exp(-avg_logp)`` per document, one map-only pass with
    the broadcast LM.  Documents with <2 tokens score NULL (no bigram
    evidence).  ``avg_logp`` is built from an exact integer sum of
    9 dp-rounded per-bigram terms; the final 6 dp round and the ``exp``
    happen JVM-side so HALF_UP rounding matches the SQL twin (Python's
    ``round`` is half-to-even)."""
    if vocab_size <= 0 or add_k <= 0:
        raise ValueError("lm_score_docs needs vocab_size > 0 and add_k > 0")
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast((uni, bi, int(vocab_size), float(add_k)))

    schema = T.StructType(
        [
            T.StructField("lm_id", T.LongType(), False),
            T.StructField("n_bigrams", T.IntegerType(), False),
            T.StructField("raw_avg", T.DoubleType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        score = make_scorer(*bc.value)
        for pdf in batches:
            ids, ns, avgs = [], [], []
            for did, text in zip(pdf["id"], pdf["t"]):
                n, raw = score(text)
                ids.append(did)
                ns.append(n)
                avgs.append(raw)
            yield pd.DataFrame({"lm_id": ids, "n_bigrams": ns, "raw_avg": avgs})

    base = docs.select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("t")
    ).filter(F.col("t").isNotNull())
    scored = base.mapInPandas(run, schema=schema)
    avg = F.round(F.col("raw_avg"), 6)
    return scored.select(
        F.col("lm_id").alias(id_col),
        "n_bigrams",
        avg.alias("avg_logp"),
        F.round(F.exp(-avg), 6).alias("ppl"),
    )
