"""Model-based quality filtering — the trained-classifier stage of a
large-scale curation pipeline.

Heuristic quality scores (functions/text.py:quality_score) are the
first-pass filter; the published large-LM pipelines additionally train
a LINEAR CLASSIFIER that separates a trusted high-quality corpus from
raw crawl text and keep documents the model scores as reference-like
(the GPT-3 appendix-A recipe — a logistic classifier over hashed text
features — also used, with fasttext in place of LR, by Llama's and
CCNet's pipelines).  This module is that stage, MLlib-native:

* ``train_quality_model`` — tokenize → ``HashingTF`` (feature hashing:
  no vocabulary state to build or ship, the same trick that makes the
  shingle detectors scale) → ``LogisticRegression``.  Training runs
  distributed (MLlib's L-BFGS aggregates gradients tree-wise); in
  practice the labeled set is a tiny sample of the corpus, so this is
  minutes of work regardless of corpus size.
* ``score_quality`` — the fitted model's transform: a broadcast
  coefficient vector dotted against each document's hashed features,
  map-only at any scale; returns P(reference-like) per document.

The PARALLEL fit's coefficients depend on float aggregation order
(L-BFGS tree-aggregates gradients), so its scores are deterministic
only per-fit.  Round 11 (r10 verdict item 6) adds
``deterministic=True``: single-partition, sorted-input training —
L-BFGS over one partition folds gradients in a fixed row order, so
coefficients REPRODUCE bit-for-bit run-to-run.  On top,
``export_term_weight_artifact`` flattens the fitted model to a
(term → integer-nano weight) table + intercept: scoring from the
artifact is a broadcast join + EXACT integer sum + sigmoid — the form
BOTH engines can compute identically, which is what finally gives this
operator a value-hash oracle (``quality_model_scores``) instead of the
tests-only coverage it had.  The parallel path stays the scale path.

No reference counterpart (the reference ingests pre-curated
highlights) — north-star scope, SURVEY §2.7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_FEATURES = 1 << 18  # hashed feature space; collisions are the usual
# fasttext/VW regime and cost accuracy, not correctness


def train_quality_model(
    good: DataFrame,
    bad: DataFrame,
    text_col: str = "text",
    n_features: int = N_FEATURES,
    reg_param: float = 1e-3,
    max_iter: int = 50,
    deterministic: bool = False,
):
    """Fit the quality classifier: ``good`` = trusted reference docs
    (label 1), ``bad`` = raw/rejected docs (label 0).  Returns a fitted
    ``PipelineModel`` whose transform adds ``probability``.

    Feature hashing keeps the pipeline stateless — no vocabulary fit,
    nothing corpus-sized to broadcast; the only learned state is one
    ``n_features``-long coefficient vector.

    ``deterministic=True`` (round 11): coalesce the labeled set to ONE
    partition and sort it by (label, text) before fitting — the L-BFGS
    gradient fold then runs in a fixed sequential order, so repeated
    fits on the same data reproduce coefficients exactly (pinned by
    test).  Slow by construction (no parallel aggregation) and meant
    for BOUNDED labeled sets — which quality-classifier training sets
    are (a labeled sample, not the corpus); the default parallel path
    is the 100 TB-corpus route where per-fit determinism doesn't
    matter."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, RegexTokenizer

    labeled = good.select(
        F.col(text_col).alias("text"), F.lit(1.0).alias("label")
    ).unionByName(bad.select(F.col(text_col).alias("text"), F.lit(0.0).alias("label")))
    if deterministic:
        labeled = labeled.coalesce(1).sortWithinPartitions("label", "text")
    pipe = Pipeline(
        stages=[
            RegexTokenizer(
                inputCol="text", outputCol="_toks", pattern="\\s+", minTokenLength=1
            ),
            HashingTF(inputCol="_toks", outputCol="_feat", numFeatures=n_features),
            LogisticRegression(
                featuresCol="_feat",
                labelCol="label",
                regParam=reg_param,
                maxIter=max_iter,
            ),
        ]
    )
    return pipe.fit(labeled)


def planted_training_corpora(spark: SparkSession, sf_dir: str):
    """The DETERMINISTIC planted training split shared by the artifact
    tool, the reproducibility test, and the oracle entry: good = the
    first 200 fixture documents by id (natural word soup); bad = 200
    synthetic junk docs drawn hash-deterministically from a 50-token
    junk vocabulary disjoint from the fixture's — each class has a
    stable token DISTRIBUTION (what the classifier learns) while every
    individual document is distinct."""
    good = (
        spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .orderBy("doc_id")
        .limit(200)
        .select("doc_id", "text")
    )
    junk = F.array(*[F.lit(f"qjunk{k}") for k in range(50)])
    bad = spark.range(200).select(
        (F.col("id") + 10_000).alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda j: junk[
                    F.pmod(F.xxhash64(F.col("id"), j), F.lit(50)).cast("int")
                ],
            ),
            " ",
        ).alias("text"),
    )
    return good, bad


def export_term_weight_artifact(
    model, vocab_docs: DataFrame, out_dir: str, text_col: str = "text"
) -> dict:
    """Flatten a fitted pipeline to a SERVING/ORACLE artifact: one row
    per distinct (lowercased, whitespace-split) token of ``vocab_docs``
    with the token's coefficient as INTEGER NANO-UNITS
    (round(coef × 1e9) — the exact-decimal-sum rule every cross-engine
    float path in this repo uses), plus the intercept in model.json.

    Token→bucket goes through the model's OWN HashingTF stage
    (``indexOf`` — spark.ml's murmur3 variant differs from SQL
    ``hash()``, verified, so no hash is reimplemented).  Scoring from
    the artifact is then hash-free: tokens join terms, nano-weights
    SUM exactly, sigmoid at the end — computable identically by Spark
    and DuckDB, which is what buys the value-hash oracle.  Collisions
    keep their usual semantics: two terms in one bucket export the
    same weight, exactly what the model's dot product gives each.

    The artifact covers ``vocab_docs``'s vocabulary; scoring treats
    absent tokens as weight 0 (a stated approximation vs
    ``model.transform``, exact whenever the scoring corpus ⊆ the
    vocabulary corpus — the oracle's configuration)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq_

    from readwise_vector_db_spark.layout import stamp_layout
    from readwise_vector_db_spark.storage import atomic_write_json

    tf = model.stages[1]
    lr = model.stages[2]
    coef = lr.coefficients
    terms = [
        r["t"]
        for r in vocab_docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("t")
        )
        .filter(F.col("t") != "")
        .distinct()
        .collect()
    ]
    rows = sorted(
        (t, int(round(float(coef[tf.indexOf(t)]) * 1e9))) for t in terms
    )
    os.makedirs(out_dir, exist_ok=True)
    pq_.write_table(
        pa.table(
            {
                "term": [t for t, _ in rows],
                "w_nano": pa.array([w for _, w in rows], type=pa.int64()),
            }
        ),
        os.path.join(out_dir, "terms.parquet"),
    )
    rec = {
        "intercept_nano": int(round(float(lr.intercept) * 1e9)),
        "n_features": int(tf.getNumFeatures()),
        "n_terms": len(rows),
    }
    atomic_write_json(os.path.join(out_dir, "model.json"), rec)
    stamp_layout(out_dir, "quality_lr")
    return rec


def score_from_artifact(
    docs: DataFrame,
    artifact_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, quality_prob) from a persisted term-weight artifact — the
    production linear-text-model scoring shape: tokens explode, the
    vocabulary-bounded term table broadcast-joins them, nano-weights
    sum EXACTLY per document (BIGINT — no float-order variance), one
    sigmoid at the end.  Map + broadcast join + partial-aggregated
    sum: no corpus shuffle beyond (id, nano) pairs.  Absent tokens
    weigh 0 (see :func:`export_term_weight_artifact`).

    ONE corpus pass (round 13, guide §1.2/§2.4): token-less documents
    used to be restored by a second scan + sort-merge join (`base` left
    join `summed`).  ``explode_outer`` over the pre-filtered token
    array keeps every non-null-text document in the exploded stream
    instead — a doc with no tokens emits one NULL-term row, which
    matches nothing in the broadcast term table and sums to the bare
    intercept, exactly what the old join fallback produced.  Removes a
    scan, two exchanges and two sorts from the plan; ``id_col`` is the
    corpus's unique document key, so one group per id is one row per
    document."""
    import json
    import os

    from readwise_vector_db_spark.layout import check_layout

    check_layout(artifact_dir, "quality_lr")
    spark = docs.sparkSession
    with open(os.path.join(artifact_dir, "model.json")) as f:
        rec = json.load(f)
    terms = spark.read.parquet(os.path.join(artifact_dir, "terms.parquet"))
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        # array_remove (codegen-native, unlike a higher-order filter
        # lambda) drops the '' artifacts split() produces for leading/
        # trailing whitespace; explode_outer then emits one NULL-term
        # row for a token-less doc instead of dropping it
        F.explode_outer(
            F.array_remove(F.split(F.lower(F.col(text_col)), r"\s+"), "")
        ).alias("term"),
    )
    margin_nano = F.coalesce(F.sum("w_nano"), F.lit(0)) + F.lit(
        int(rec["intercept_nano"])
    )
    return (
        toks.join(F.broadcast(terms), "term", "left")
        .groupBy(id_col)
        .agg(margin_nano.alias("m_nano"))
        .select(
            F.col(id_col),
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-F.col("m_nano").cast("double") / F.lit(1e9))
                ),
                6,
            ).alias("quality_prob"),
        )
    )


def score_quality(
    model,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, quality_prob): P(reference-like) for every document —
    map-only scoring with the broadcast coefficient vector.  Filter
    downstream with ``quality_prob >= tau``; the GPT-3 recipe instead
    keeps docs where ``np.random.pareto(9) > 1 - prob`` (stochastic,
    favors high scores while keeping tail diversity) — both are one
    more map-side predicate."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(docs.select(F.col(id_col), F.col(text_col).alias("text")))
    return scored.select(
        F.col(id_col),
        F.round(vector_to_array("probability")[1], 6).alias("quality_prob"),
    )
