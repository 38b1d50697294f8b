"""Single-SQL serving fast path: parity with the DataFrame-built plans.

``served_search_sql`` renders each warm request as two parser-bound SQL
statements (sources/search_index.py) — these tests pin that the rendered
plans are *semantically identical* to the DataFrame twins they replace:
same rows, same bitwise scores, same edge-case behavior (zero-norm NULL
scores, empty filters, k clamping).
"""

import struct

import pytest
from pyspark.sql import functions as F

from readwise_vector_db_spark.operators.search import (
    SearchParams,
    meta_filter_sql,
    score_column,
    score_sql,
    semantic_search_served,
)
from readwise_vector_db_spark.sources import search_index as si
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def warm(spark):
    meta, vecs = si.warm_tables(spark, SF_SMOKE)
    qv = si.stored_query_vector(SF_SMOKE, "0")
    assert qv is not None
    return meta, vecs, qv


def _rows(df):
    return [r.asDict() for r in df.collect()]


def _want_rows(spark, qv, params, nprobe=None):
    """The rows of the Spark statement path, shaped as served_search_rows
    returns them."""
    return [
        r.asDict(recursive=True)
        for r in si.served_search_sql(
            spark, SF_SMOKE, qv, params, nprobe=nprobe
        ).collect()
    ]


def _spy_statements(monkeypatch) -> list:
    """Record the ``nprobe`` of every Spark winner statement from here on
    (None for an exact scan)."""
    calls = []
    real = si._select_winners

    def spy(*args, **kwargs):
        calls.append(args[5] if len(args) > 5 else kwargs.get("nprobe"))
        return real(*args, **kwargs)

    monkeypatch.setattr(si, "_select_winners", spy)
    return calls


def test_sql_path_matches_dataframe_path_unfiltered(spark, warm):
    meta, vecs, qv = warm
    params = SearchParams(k=10)
    assert _rows(si.served_search_sql(spark, SF_SMOKE, qv, params)) == _rows(
        semantic_search_served(meta, vecs, qv, params)
    )


def test_sql_path_matches_dataframe_path_filtered(spark, warm):
    meta, vecs, qv = warm
    params = SearchParams(k=20, lang="en", tags=["the", "spark", "fast"])
    got = _rows(si.served_search_sql(spark, SF_SMOKE, qv, params))
    want = _rows(semantic_search_served(meta, vecs, qv, params))
    assert got == want and len(got) > 0


def test_sql_path_source_type_and_k_clamp(spark, warm):
    meta, vecs, qv = warm
    # k clamps to 100 through the SQL renderer too
    n = si.served_search_sql(spark, SF_SMOKE, qv, SearchParams(k=5000)).count()
    assert n == min(100, vecs.filter(F.col("embedding").isNotNull()).count())
    # no-match filter → empty frame that still carries the score column
    out = si.served_search_sql(
        spark, SF_SMOKE, qv, SearchParams(k=10, source_type="no-such-source")
    )
    assert out.count() == 0 and "score" in out.columns


def test_extra_filters_fall_back_to_dataframe_path(spark, warm):
    meta, vecs, qv = warm
    params = SearchParams(k=10, extra_filters=[F.col("n_chars") > 0])
    with pytest.raises(ValueError):
        meta_filter_sql(params, meta.columns)
    got = _rows(si.served_search_sql(spark, SF_SMOKE, qv, params))
    want = _rows(semantic_search_served(meta, vecs, qv, params))
    assert got == want and len(got) == 10


def test_meta_filter_sql_datetime_range_keeps_time_component(spark):
    """datetime endpoints must render as TIMESTAMP literals — datetime
    subclasses date, and a DATE rendering silently truncates the time
    component, diverging from F.lit(datetime) in the DataFrame twin."""
    from datetime import datetime

    from readwise_vector_db_spark.operators.search import (
        apply_meta_filters,
    )

    df = spark.createDataFrame(
        [
            ("early", datetime(2026, 1, 1, 6, 0)),
            ("inside", datetime(2026, 1, 1, 15, 0)),
            ("late", datetime(2026, 1, 2, 18, 0)),
        ],
        "id string, highlighted_at timestamp",
    )
    params = SearchParams(
        highlighted_at_range=(datetime(2026, 1, 1, 12, 0), datetime(2026, 1, 2, 12, 0))
    )
    want = sorted(r["id"] for r in apply_meta_filters(df, params).collect())
    assert want == ["inside"]
    frag = meta_filter_sql(params, df.columns)
    df.createOrReplaceTempView("dtrange_t")
    got = sorted(
        r["id"] for r in spark.sql(f"SELECT id FROM dtrange_t WHERE {frag}").collect()
    )
    assert got == want


def test_score_sql_bitwise_matches_score_column(spark):
    """The rendered score expression must reproduce score_column bit for
    bit — including NULL for zero-norm vectors — over adversarial doubles
    (subnormals, extremes, negative zero, long mantissas)."""
    import math

    corpus = [
        ("a", [math.pi, -1e-308], None),
        ("b", [5e-324, 1.7976931348623157e308], None),
        ("c", [0.1, 1 / 3], None),
        ("z", [0.0, 0.0], None),  # zero norm → NULL score
        ("d", [-0.0, 6.02e23], None),
    ]
    rows = [(i, v, math.sqrt(v[0] * v[0] + v[1] * v[1])) for i, v, _ in corpus]
    df = spark.createDataFrame(
        rows, "id string, embedding array<float>, emb_norm double"
    )
    # emb_norm must be the norm of the FLOAT-cast embedding (as the real
    # layout precomputes it); recompute engine-side to stay faithful
    df = df.withColumn(
        "emb_norm",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    F.col("embedding").cast("array<double>"),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    qv = [0.1, -1 / 3]
    got = df.select("id", F.expr(score_sql(qv)).alias("s")).collect()
    want = df.select("id", score_column(qv, use_norm=True).alias("s")).collect()
    as_bits = lambda r: {  # noqa: E731
        x["id"]: (None if x["s"] is None else struct.pack("d", x["s"])) for x in r
    }
    gb, wb = as_bits(got), as_bits(want)
    assert gb == wb
    assert gb["z"] is None


def test_scoring_relation_keeps_bucketed_table_when_large(spark, monkeypatch):
    """When the layout's bytes justify >= N_BUCKETS partitions the
    relation must be the bucketed catalog table itself — nothing is
    coalesced on a cluster-scale layout.  Simulated by shrinking the
    per-partition byte target below the fixture layout's size."""
    monkeypatch.setattr(si, "_TARGET_PARTITION_BYTES", 1)
    # private memo key per fingerprint — clear so the patched target is used
    monkeypatch.setattr(si, "_SCORING_RELS", {})
    rel = si.scoring_relation(spark, SF_SMOKE)
    assert rel == f"rw_warm_vectors_{si._tag(SF_SMOKE)}"


def test_scoring_relation_right_sized_and_memoized(spark):
    """At fixture scale the scoring relation is a single-partition cached
    view (bytes ≪ one partition target); resolving twice returns the same
    relation without rebuilding; row counts match the bucketed table."""
    rel = si.scoring_relation(spark, SF_SMOKE)
    assert rel.startswith("rw_warm_scoring_")
    assert si.scoring_relation(spark, SF_SMOKE) == rel
    df = spark.table(rel)
    assert df.rdd.getNumPartitions() == 1
    _, vecs = si.warm_tables(spark, SF_SMOKE)
    assert df.count() == vecs.count()


# --- IVF-probe serving mode (round 6) -----------------------------------


def test_ivf_probe_all_cells_matches_exact_path(spark, warm):
    """nprobe >= n_clusters degenerates to the exact scan: identical rows
    (ids, scores, order) to served_search_sql — the correctness anchor
    for the approximate mode."""
    meta, vecs, qv = warm
    params = SearchParams(k=10)
    got = _rows(
        si.served_search_sql(spark, SF_SMOKE, qv, params, nprobe=16, n_clusters=16)
    )
    want = _rows(si.served_search_sql(spark, SF_SMOKE, qv, params))
    assert got == want and len(got) == 10


def test_ivf_probe_pruned_scores_are_exact_for_returned_rows(spark, warm):
    """Pruning may miss neighbors (recall trade) but must never corrupt
    a returned row: every (id, score) the probe path emits equals the
    exact path's score for that id, in score order, with the exact
    output schema."""
    meta, vecs, qv = warm
    params = SearchParams(k=10)
    exact = {r["id"]: r["score"] for r in si.served_search_sql(
        spark, SF_SMOKE, qv, SearchParams(k=100)
    ).collect()}
    out = si.served_search_sql(spark, SF_SMOKE, qv, params, nprobe=2)
    rows = _rows(out)
    assert out.columns == si.served_search_sql(spark, SF_SMOKE, qv, params).columns
    assert 0 < len(rows) <= 10
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores)
    for r in rows:
        if r["id"] in exact:  # id made exact top-100 → scores must agree
            assert r["score"] == exact[r["id"]]


def test_ivf_probe_with_metadata_filter(spark, warm):
    meta, vecs, qv = warm
    params = SearchParams(k=20, lang="en")
    got = _rows(si.served_search_sql(spark, SF_SMOKE, qv, params, nprobe=16))
    want = _rows(si.served_search_sql(spark, SF_SMOKE, qv, params))
    assert got == want and len(got) > 0


def test_ivf_index_memoized_and_persisted(spark, warm):
    """Second call reuses the in-process handle; the on-disk artifact is
    fingerprinted so a fresh process attaches instead of rebuilding."""
    rel1, cents1 = si.ivf_warm_index(spark, SF_SMOKE)
    rel2, cents2 = si.ivf_warm_index(spark, SF_SMOKE)
    assert rel1 == rel2 and cents1 is cents2
    tag = si._tag(SF_SMOKE)
    marker = si._INDEX_ROOT / tag / "ivf16" / "FINGERPRINT"
    assert marker.exists() and marker.read_text() == si._source_fingerprint(SF_SMOKE)
    # the relation carries the scoring columns plus the cell assignment
    cols = set(spark.table(rel1).columns)
    assert {"id", "embedding", "emb_norm", "cluster"} <= cols


def test_service_ann_mode_routes_through_ivf(spark):
    """ann_nprobe on the service routes requests through the probe path;
    at nprobe=n_clusters the HTTP-visible results equal the exact mode."""
    from readwise_vector_db_spark.api.models import SearchRequest
    from readwise_vector_db_spark.api.service import SearchService

    exact = SearchService(spark, SF_SMOKE, warm=True)
    ann = SearchService(spark, SF_SMOKE, warm=True, ann_nprobe=16)
    req = SearchRequest(q="vector search over highlights", k=5)
    assert ann.search(req) == exact.search(req)


def test_served_rows_match_dataframe_path(spark, warm):
    """Round-7 driver-side winner fetch: served_search_rows must return
    the SAME rows in the SAME order as the two-statement SQL path —
    unfiltered, filtered, and through the IVF probe — and decline
    (None) on extra_filters so the caller falls back."""
    meta, vecs, qv = warm

    def want(df):
        return [r.asDict(recursive=True) for r in df.collect()]

    for params in (
        SearchParams(k=10),
        SearchParams(k=20, lang="en", tags=["the", "spark", "fast"]),
        SearchParams(k=10, source_type="no-such-source"),
    ):
        rows = si.served_search_rows(spark, SF_SMOKE, qv, params)
        assert rows == want(si.served_search_sql(spark, SF_SMOKE, qv, params))

    # IVF probe winners, same local fetch
    rows = si.served_search_rows(spark, SF_SMOKE, qv, SearchParams(k=10), nprobe=16)
    assert rows == want(
        si.served_search_sql(spark, SF_SMOKE, qv, SearchParams(k=10), nprobe=16)
    )

    # extra_filters: not SQL-renderable -> the fast path declines
    params = SearchParams(k=10, extra_filters=[F.col("n_chars") > 0])
    assert si.served_search_rows(spark, SF_SMOKE, qv, params) is None


@pytest.mark.parametrize("nprobe", [None, 4])
def test_served_rows_spark_fetch_selects_winners_once(spark, warm, monkeypatch, nprobe):
    """When the driver-side layout fetch declines (a layout mid-rebuild),
    served_search_rows fetches the SAME winners through Spark: its rows
    equal served_search_sql's and the winners are selected exactly once
    — by the Spark statement (exact, or IVF with the resident scorer
    over budget) or by the resident scorer, never both."""
    meta, vecs, qv = warm
    cases = [
        (p, _want_rows(spark, qv, p, nprobe=nprobe))
        for p in (
            SearchParams(k=10),
            SearchParams(k=20, lang="en", tags=["the", "spark", "fast"]),
        )
    ]
    selections = []
    real_topk = si._LocalIvfScorer.topk

    def topk_spy(self, *args, **kwargs):
        selections.append("resident")
        return real_topk(self, *args, **kwargs)

    statements = _spy_statements(monkeypatch)
    monkeypatch.setattr(si._LocalIvfScorer, "topk", topk_spy)
    monkeypatch.setattr(si, "_winner_rows_local", lambda sf_dir, winners: None)
    budgets = ["512"] if nprobe is None else ["512", "0"]
    try:
        for budget in budgets:
            monkeypatch.setenv("SPARK_GRAFT_LOCAL_IVF_MB", budget)
            si._LOCAL_IVF_CACHE.clear()
            for params, want in cases:
                statements.clear()
                selections.clear()
                rows = si.served_search_rows(
                    spark, SF_SMOKE, qv, params, nprobe=nprobe
                )
                assert rows == want and len(rows) > 0
                if nprobe is not None and budget == "512":
                    assert (selections, statements) == (["resident"], [])
                else:
                    assert (selections, statements) == ([], [nprobe])
    finally:
        si._LOCAL_IVF_CACHE.clear()


def test_probe_count_below_one_is_rejected(spark, warm):
    """A probe count below 1 probes no cell: the served entry points and
    the service reject it by name instead of clamping it."""
    from readwise_vector_db_spark.api.service import SearchService

    meta, vecs, qv = warm
    for entry in (si.served_search_sql, si.served_search_rows):
        for bad in (0, -3):
            with pytest.raises(ValueError, match="nprobe must be >= 1"):
                entry(spark, SF_SMOKE, qv, SearchParams(k=5), nprobe=bad)
    with pytest.raises(ValueError, match="ann_nprobe must be >= 1"):
        SearchService(spark, SF_SMOKE, warm=True, ann_nprobe=0)


def test_local_ivf_scorer_engaged_and_budget_gated(spark, warm, monkeypatch):
    """The RAM-resident probe scorer must (a) actually be the serving
    path at fixture scale (not a silent fallback), (b) agree with the
    SQL statement bit-for-bit at PRUNED nprobe (same cells, same rounded
    scores, same order), and (c) decline when the corpus exceeds the
    memory budget so serving stays on the Spark statement."""
    meta, vecs, qv = warm
    scorer = si.local_ivf_scorer(spark, SF_SMOKE)
    assert scorer is not None
    # pruned probes: local rows == SQL rows (cells chosen by the same
    # tie-broken rule, scores from the exact refold)
    statements = _spy_statements(monkeypatch)
    for nprobe in (1, 4):
        want = _want_rows(spark, qv, SearchParams(k=10), nprobe=nprobe)
        statements.clear()
        rows = si.served_search_rows(
            spark, SF_SMOKE, qv, SearchParams(k=10), nprobe=nprobe
        )
        assert rows == want
        assert statements == []  # the resident scorer selected them
    # filtered probes: the filter evaluates as a per-cell MASK over the
    # scorer's resident metadata (round 8 — no Spark statement, no id
    # cap) and the local rows still match the SQL statement exactly
    # (which applies the same filter as an id IN-subquery inside the
    # probed cells) — including a no-match filter returning empty
    scorer._mask_cache.clear()
    for params in (
        SearchParams(k=10, lang="en"),
        SearchParams(k=20, lang="en", tags=["the", "spark", "fast"]),
        SearchParams(k=10, source_type="no-such-source"),
    ):
        want = _want_rows(spark, qv, params, nprobe=4)
        statements.clear()
        rows = si.served_search_rows(spark, SF_SMOKE, qv, params, nprobe=4)
        assert rows == want
        assert statements == []  # no Spark statement ran
    assert len(scorer._mask_cache) > 0     # the mask path actually served

    # a scorer WITHOUT resident metadata cannot evaluate the filter: the
    # Spark IVF statement serves it with identical rows, on every
    # request (there is no per-filter cache to hit)
    monkeypatch.setattr(scorer, "meta", {})
    want_en = _want_rows(spark, qv, SearchParams(k=10, lang="en"), nprobe=4)
    statements.clear()
    for _ in range(2):
        rows = si.served_search_rows(
            spark, SF_SMOKE, qv, SearchParams(k=10, lang="en"), nprobe=4
        )
        assert rows == want_en
    assert statements == [4, 4]  # the Spark IVF statement served

    # budget gate: 0 MB declines (fresh cache key via env + cleared memo)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_IVF_MB", "0")
    si._LOCAL_IVF_CACHE.clear()
    assert si.local_ivf_scorer(spark, SF_SMOKE) is None
    # and the serving entrypoint still answers through the Spark path
    statements.clear()
    rows = si.served_search_rows(spark, SF_SMOKE, qv, SearchParams(k=10), nprobe=4)
    assert rows is not None and len(rows) == 10
    assert statements == [4]
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_IVF_MB")
    si._LOCAL_IVF_CACHE.clear()


def test_mask_path_serves_above_id_cap_and_cache_is_lru(spark, warm, monkeypatch):
    """r7 verdict item 4: broad filters must serve in-process at ANY
    selectivity.  A filter matching most of the corpus (every such
    filter declined under the round-7 id-set cap) serves locally through
    the masks with rows identical to the SQL statement and never runs a
    Spark statement.  And the per-cell mask cache evicts LRU — a burst
    of distinct filters does not flush the hot entry."""
    meta, vecs, qv = warm
    scorer = si.local_ivf_scorer(spark, SF_SMOKE)
    assert scorer is not None and scorer.meta
    params = SearchParams(k=10, lang="en")  # broad: most of the corpus
    want = _want_rows(spark, qv, params, nprobe=4)
    statements = _spy_statements(monkeypatch)
    rows = si.served_search_rows(spark, SF_SMOKE, qv, params, nprobe=4)
    assert rows == want
    assert statements == []  # no Spark statement ran

    # LRU: hot key survives a burst of one-shot keys; oldest is evicted
    cell = next(iter(scorer.meta))
    old_max = scorer._mask_cache_max
    scorer._mask_cache.clear()
    scorer._mask_cache_max = 3

    def touch(p):
        scorer._cell_mask(cell, p, si._canon_filter_key(p))

    def cached(p):
        return (cell, si._canon_filter_key(p)) in scorer._mask_cache

    try:
        hot = SearchParams(k=5, lang="en")
        touch(hot)
        for i in range(3):
            touch(SearchParams(k=5, tags=[f"burst{i}"]))
            touch(hot)  # a hit refreshes recency
        assert cached(hot)
        assert not cached(SearchParams(k=5, tags=["burst0"]))
    finally:
        scorer._mask_cache_max = old_max
        scorer._mask_cache.clear()


def test_mask_cache_thread_safe_under_eviction(spark, warm):
    """Review finding (r8): the scorer is shared across serving threads;
    with the cache cap forced tiny so every insert evicts, concurrent
    distinct filters must never race move_to_end into a KeyError."""
    import concurrent.futures

    meta, vecs, qv = warm
    scorer = si.local_ivf_scorer(spark, SF_SMOKE)
    assert scorer is not None and scorer.meta
    old_max = scorer._mask_cache_max
    scorer._mask_cache_max = 2
    try:
        def hammer(uid: int) -> int:
            n = 0
            for i in range(200):
                p = SearchParams(k=5, tags=["the", f"nonce-{uid}-{i % 7}"])
                n += len(scorer.topk(qv, 5, 4, params=p) or [])
            return n
        with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
            results = list(ex.map(hammer, range(8)))
        assert all(r >= 0 for r in results)  # no exceptions surfaced
        assert len(scorer._mask_cache) <= 2
    finally:
        scorer._mask_cache_max = old_max
        scorer._mask_cache.clear()


def test_filters_on_absent_columns_raise_loudly(spark, warm):
    """Round-9 contract: a requested filter whose column the corpus
    lacks must raise naming the column — the old silent drop returned
    UNFILTERED results.  The warm documents layout carries
    (source_type, lang, tags) but not source_author / highlighted_at."""
    from datetime import datetime

    from readwise_vector_db_spark.operators.search import apply_meta_filters

    meta, vecs, qv = warm
    author = SearchParams(k=5, source_author="nobody")
    with pytest.raises(ValueError, match="source_author"):
        si.served_search_sql(spark, SF_SMOKE, qv, author)
    with pytest.raises(ValueError, match="source_author"):
        apply_meta_filters(meta, author)
    with pytest.raises(ValueError, match="source_author"):
        meta_filter_sql(author, meta.columns)
    dated = SearchParams(
        k=5, highlighted_at_range=(datetime(2026, 1, 1), datetime(2026, 1, 2))
    )
    with pytest.raises(ValueError, match="highlighted_at"):
        meta_filter_sql(dated, meta.columns)
    # resident filters still serve — the loud contract changed nothing
    # for evaluable requests
    ok = si.served_search_sql(
        spark, SF_SMOKE, qv, SearchParams(k=5, lang="en")
    )
    assert ok.count() > 0


def test_declared_filter_columns_drive_scorer_residency(spark, warm, monkeypatch):
    """Round 9 (r8 verdict missing #3): the layout DECLARES which
    metadata columns the resident scorer keeps, the scorer loads exactly
    that set, and supports_params checks REQUESTED filters against it —
    a filter outside the declaration routes to the Spark IVF statement
    with identical rows, never silently-unfiltered masks."""
    meta, vecs, qv = warm
    try:
        # re-declare a REDUCED residency on the existing layout
        si.ivf_warm_index(spark, SF_SMOKE, filter_columns=("lang",))
        si._LOCAL_IVF_CACHE.clear()
        scorer = si.local_ivf_scorer(spark, SF_SMOKE)
        assert scorer is not None and scorer.filter_cols == ("lang",)
        # resident filter: mask path serves, parity with the SQL twin
        scorer._mask_cache.clear()
        p_lang = SearchParams(k=10, lang="en")
        p_tags = SearchParams(k=10, tags=["the", "spark", "fast"])
        want_lang = _want_rows(spark, qv, p_lang, nprobe=4)
        want_tags = _want_rows(spark, qv, p_tags, nprobe=4)
        statements = _spy_statements(monkeypatch)
        rows = si.served_search_rows(spark, SF_SMOKE, qv, p_lang, nprobe=4)
        assert rows == want_lang
        assert len(scorer._mask_cache) > 0
        assert statements == []
        # non-resident filter (tags is in the meta TABLE but outside the
        # declaration): supports_params declines, the Spark IVF
        # statement serves
        assert not scorer.supports_params(p_tags)
        rows = si.served_search_rows(spark, SF_SMOKE, qv, p_tags, nprobe=4)
        assert rows == want_tags
        assert statements == [4]  # the Spark IVF statement served
        # unknown column: loud error, not a broken layout
        with pytest.raises(ValueError, match="nope"):
            si.ivf_warm_index(spark, SF_SMOKE, filter_columns=("nope",))
    finally:
        # restore the default declaration for the rest of the suite
        si.ivf_warm_index(
            spark, SF_SMOKE, filter_columns=si._DEFAULT_FILTER_COLUMNS
        )
        si._LOCAL_IVF_CACHE.clear()
    restored = si.local_ivf_scorer(spark, SF_SMOKE)
    assert restored is not None and restored.filter_cols == si._DEFAULT_FILTER_COLUMNS


def test_scorer_masks_custom_column_generic_semantics():
    """The generic mask evaluator handles a column the warm layout never
    carried (source_author eq, highlighted_at between) — the declaration
    mechanism is not hardwired to the documents triple."""
    from datetime import datetime

    import numpy as np

    cents = [(0, [1.0, 0.0])]
    meta = {
        0: {
            "source_author": np.asarray(["ada", "bob", None], dtype=object),
            "highlighted_at": np.asarray(
                [datetime(2026, 1, 1), datetime(2026, 2, 1), None], dtype=object
            ),
        }
    }
    scorer = si._LocalIvfScorer(
        ids={0: ["a", "b", "c"]},
        mats={0: np.asarray([[1.0, 0.0], [0.9, 0.1], [0.8, 0.2]])},
        norms={0: np.asarray([1.0, 0.905538, 0.824621])},
        centroids=cents,
        meta=meta,
        filter_cols=("source_author", "highlighted_at"),
    )
    p = SearchParams(k=3, source_author="ada")
    assert scorer.supports_params(p)
    got = scorer.topk([1.0, 0.0], 3, 1, params=p)
    assert [i for i, _ in got] == ["a"]
    p2 = SearchParams(
        k=3,
        highlighted_at_range=(datetime(2026, 1, 15), datetime(2026, 3, 1)),
    )
    assert scorer.supports_params(p2)
    got = scorer.topk([1.0, 0.0], 3, 1, params=p2)
    assert [i for i, _ in got] == ["b"]
    # a requested filter outside the declaration is NOT supported
    assert not scorer.supports_params(SearchParams(k=3, lang="en"))


def test_concurrent_force_builds_of_one_tag(spark, tmp_path, monkeypatch):
    """Two threads of one process force-building the same tag write
    through temp catalog tables of their own, so neither drops the
    other's table mid-write: both return, and the layout left behind is
    fresh and readable."""
    import threading

    monkeypatch.setattr(si, "_INDEX_ROOT", tmp_path)
    results, errors = [], []
    temp_tables: dict[int, set] = {}
    real_sql = spark.sql

    def sql(stmt, *args, **kwargs):
        if "rw_warm_build_" in stmt:
            name = stmt.split()[-1]
            temp_tables.setdefault(threading.get_ident(), set()).add(name)
        return real_sql(stmt, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", sql)

    def run():
        try:
            results.append(si.build_search_index(spark, SF_SMOKE, force=True))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and results == [True, True]
    a, b = temp_tables.values()
    assert len(a) == len(b) == 2 and not a & b
    base = tmp_path / si._tag(SF_SMOKE)
    assert si._is_fresh(base, si._source_fingerprint(SF_SMOKE))
    n_vec = spark.read.parquet(str(base / "vectors")).count()
    assert n_vec == spark.read.parquet(str(base / "metadata")).count() > 0
    assert not [
        t for t in spark.catalog.listTables() if t.name.startswith("rw_warm_build_")
    ]
