"""Unit tests for operators/curation.py (decontaminate / pii / chunk)."""

from __future__ import annotations

import hashlib

import pytest

from readwise_vector_db_spark.operators.curation import (
    chunk_overlap,
    decontaminate,
    pii_scrub,
)


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_decontaminate_flags_shared_kgrams(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about spark partitions and shuffles here"),
            (3, "the quick brown fox jumps over the moon instead of dogs"),
        ],
        "doc_id long, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "we note the quick brown fox jumps over the lazy dog often")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n_shared"]
        for r in decontaminate(corpus, eval_set, k=5).collect()
    }
    # doc 1 shares several 5-grams; doc 3 shares the leading ones; doc 2 none
    assert set(out) == {1, 3}
    assert out[1] > out[3] > 0


def test_pii_scrub_counts_and_redacts(spark):
    text = "reach me at a.b@x.org or 192.168.0.1 tel +1 23456789 end"
    docs = spark.createDataFrame([(1, text), (2, "no pii here")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert (rows[1]["n_email"], rows[1]["n_ip"], rows[1]["n_phone"]) == (1, 1, 1)
    assert rows[1]["clean_md5"] == _md5(
        "reach me at <EMAIL> or <IP> tel <PHONE> end"
    )
    assert (rows[2]["n_email"], rows[2]["n_ip"], rows[2]["n_phone"]) == (0, 0, 0)
    assert rows[2]["clean_md5"] == _md5("no pii here")


def test_chunk_overlap_windows(spark):
    toks = [f"t{i}" for i in range(100)]
    docs = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        chunk_overlap(docs, window=64, stride=48).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # starts at 0, 48, 96 → lengths 64, 52, 4
    assert [(r["chunk_idx"], r["n_chunk_tokens"]) for r in rows] == [
        (0, 64),
        (1, 52),
        (2, 4),
    ]
    assert rows[0]["chunk_md5"] == _md5(" ".join(toks[0:64]))
    assert rows[1]["chunk_md5"] == _md5(" ".join(toks[48:100]))
    assert rows[2]["chunk_md5"] == _md5(" ".join(toks[96:100]))


def test_chunk_overlap_short_doc_single_chunk(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    rows = chunk_overlap(docs, window=64, stride=48).collect()
    assert len(rows) == 1
    assert rows[0]["n_chunk_tokens"] == 3
    assert rows[0]["chunk_md5"] == _md5("a b c")


def test_chunk_overlap_rejects_bad_stride(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_overlap(docs, window=8, stride=9)


# --- remove_boilerplate -----------------------------------------------------

_BP = "one two three four"  # 4-word boilerplate segment (seg_words=4)


def _bp_docs(spark):
    # docs 1-3 share the boilerplate header; doc 4 is organic; doc 5 is
    # ONLY boilerplate (every segment dropped)
    rows = [
        (1, _BP + " alpha beta gamma delta"),
        (2, _BP + " epsilon zeta eta theta"),
        (3, _BP + " iota kappa lam mu"),
        (4, "nu xi omicron pi rho sigma tau upsilon"),
        (5, _BP),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("strategy", ["map", "shuffle"])
def test_remove_boilerplate_drops_common_segments(spark, strategy):
    from readwise_vector_db_spark.operators.curation import remove_boilerplate

    out = {
        r["doc_id"]: r
        for r in remove_boilerplate(
            _bp_docs(spark), seg_words=4, min_df=3, strategy=strategy
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1]["clean_text"] == "alpha beta gamma delta"
    assert (out[1]["kept_segs"], out[1]["dropped_segs"]) == (1, 1)
    assert out[4]["clean_text"] == "nu xi omicron pi rho sigma tau upsilon"
    assert out[4]["dropped_segs"] == 0
    # all-boilerplate doc survives as a row with empty text
    assert out[5]["clean_text"] == ""
    assert (out[5]["kept_segs"], out[5]["dropped_segs"]) == (0, 1)


def test_remove_boilerplate_map_equals_shuffle(spark):
    from readwise_vector_db_spark.operators.curation import remove_boilerplate

    docs = _bp_docs(spark)
    a = remove_boilerplate(docs, seg_words=4, min_df=2, strategy="map")
    b = remove_boilerplate(docs, seg_words=4, min_df=2, strategy="shuffle")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_remove_boilerplate_big_set_broadcast_path(spark):
    """A boilerplate set larger than _LIT_SET_MAX takes the broadcast +
    Arrow membership path (no F.lit literal, no per-segment array scan)
    and must agree exactly with the shuffle strategy; a doc that shares
    no boilerplate passes through untouched."""
    from readwise_vector_db_spark.operators.curation import (
        _LIT_SET_MAX,
        remove_boilerplate,
    )

    n_bp = _LIT_SET_MAX + 50  # 562 distinct 1-word boilerplate segments
    rows = []
    for d in range(2):  # each bp word appears in BOTH docs → df=2
        body = " ".join(f"bp{i}" for i in range(n_bp))
        rows.append((d, body + f" unique{d}a unique{d}b"))
    rows.append((9, "organic words only here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r["doc_id"]: r
        for r in remove_boilerplate(
            docs, seg_words=1, min_df=2, strategy="map"
        ).collect()
    }
    b = {
        r["doc_id"]: r
        for r in remove_boilerplate(
            docs, seg_words=1, min_df=2, strategy="shuffle"
        ).collect()
    }
    assert a[0]["clean_text"] == "unique0a unique0b"
    assert a[0]["dropped_segs"] == n_bp
    assert a[9]["clean_text"] == "organic words only here"
    assert {k: tuple(v) for k, v in a.items()} == {
        k: tuple(v) for k, v in b.items()
    }


def test_remove_boilerplate_preserves_order_and_partial_segments(spark):
    from readwise_vector_db_spark.operators.curation import remove_boilerplate

    # 2-word segments; the repeated segment sits mid-document, and doc
    # lengths are odd so the final segment is short
    docs = spark.createDataFrame(
        [
            (1, "aa bb xx yy cc"),
            (2, "dd ee xx yy ff"),
            (3, "gg hh ii"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate(docs, seg_words=2, min_df=2).collect()
    }
    assert out[1]["clean_text"] == "aa bb cc"
    assert out[2]["clean_text"] == "dd ee ff"
    assert out[3]["clean_text"] == "gg hh ii"


def test_remove_boilerplate_no_common_segments_is_identity(spark):
    from readwise_vector_db_spark.operators.curation import remove_boilerplate

    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in remove_boilerplate(docs, seg_words=2, min_df=2).collect()}
    assert out[1]["clean_text"] == "aa bb"
    assert out[2]["clean_text"] == "cc dd"
    assert all(r["dropped_segs"] == 0 for r in out.values())


def test_remove_boilerplate_map_cap_raises_and_auto_falls_back(spark):
    from readwise_vector_db_spark.operators.curation import remove_boilerplate

    # every doc is the same text -> every segment is boilerplate; with a
    # 1-segment cap the map strategy must refuse, auto must fall back
    docs = spark.createDataFrame(
        [(i, "aa bb cc dd") for i in range(4)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_broadcast_segments"):
        remove_boilerplate(
            docs, seg_words=2, min_df=2, strategy="map", max_broadcast_segments=1
        ).collect()
    out = remove_boilerplate(
        docs, seg_words=2, min_df=2, strategy="auto", max_broadcast_segments=1
    ).collect()
    assert all(r["clean_text"] == "" and r["dropped_segs"] == 2 for r in out)


def test_remove_boilerplate_rejects_bad_params(spark):
    from readwise_vector_db_spark.operators.curation import remove_boilerplate

    docs = spark.createDataFrame([(1, "aa")], "doc_id long, text string")
    with pytest.raises(ValueError):
        remove_boilerplate(docs, seg_words=0)
    with pytest.raises(ValueError):
        remove_boilerplate(docs, min_df=1)
    with pytest.raises(ValueError):
        remove_boilerplate(docs, strategy="bogus")


def test_dedup_clusters_releases_its_caches(spark):
    """dedup_clusters caches the augmented corpus and its fingerprints
    so the corpus is scanned once; once the result is consumed and the
    detector caches are released, the session caches nothing.  (Its
    rows are hash-checked against the DuckDB oracle by
    test_oracle_parity; here they only have to be well-formed clusters.)"""
    from collections import defaultdict

    from readwise_vector_db_spark.operators.dedup import release_detector_cache
    from readwise_vector_db_spark.suites.curation import dedup_clusters
    from tests.conftest import SF_SMOKE

    release_detector_cache()
    spark.catalog.clearCache()
    rows = dedup_clusters(spark, SF_SMOKE).collect()
    release_detector_cache()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    members = defaultdict(set)
    for r in rows:
        members[r["cluster_id"]].add(r["doc_id"])
    assert rows and len({r["doc_id"] for r in rows}) == len(rows)
    for r in rows:
        assert r["cluster_id"] == min(members[r["cluster_id"]])
        assert r["cluster_size"] == len(members[r["cluster_id"]]) >= 2
