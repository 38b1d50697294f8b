"""Incremental dedup: new batches against the accumulated store."""

import pytest
from pyspark.sql import functions as F

from readwise_vector_db_spark.jobs.incremental_dedup import (
    dedup_batch_against_store,
    run_incremental_dedup,
)
from readwise_vector_db_spark.sources.tables import load_table
from readwise_vector_db_spark.sources.versioned import VersionedTable
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    df = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    df.cache().count()
    return df


def test_incremental_batches_drop_historical_dups(spark, docs, tmp_path):
    table = VersionedTable(str(tmp_path / "store"))
    b1 = docs.filter(F.col("doc_id") < 30)
    s1 = dedup_batch_against_store(spark, b1, table)
    assert s1["accepted"] == s1["after_batch_exact"] > 0  # empty store accepts all

    # batch 2: fresh docs + an exact copy of a batch-1 doc (new id) + a
    # near-dup of a batch-1 doc (one word changed => high Jaccard)
    fresh = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
    exact_copy = b1.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    near = b1.filter(F.col("doc_id") == 5).select(
        (F.col("doc_id") + 900001).alias("doc_id"),
        F.concat(F.lit("zqx "), F.col("text")).alias("text"),
    )
    b2 = fresh.unionByName(exact_copy).unionByName(near)
    s2 = dedup_batch_against_store(spark, b2, table)
    assert s2["batch_raw"] == fresh.count() + 2
    assert s2["accepted"] == fresh.count()  # both planted dups dropped
    assert s2["store_version"] == 2

    store = table.read(spark)
    assert store.count() == s1["accepted"] + s2["accepted"]
    assert store.filter(F.col("doc_id") >= 900000).count() == 0
    # time travel still sees only batch 1
    assert table.read(spark, version=1).count() == s1["accepted"]


def test_incremental_in_batch_exact_dedup(spark, docs, tmp_path):
    table = VersionedTable(str(tmp_path / "store2"))
    b = docs.filter(F.col("doc_id") < 10)
    dup = b.filter(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 700000).alias("doc_id"), "text"
    )
    s = dedup_batch_against_store(spark, b.unionByName(dup), table)
    assert s["after_batch_exact"] == s["batch_raw"] - 1
    assert s["accepted"] == s["after_batch_exact"]


def test_streaming_face_drains_and_dedups(spark, docs, tmp_path):
    """foreachBatch wiring: a file-source stream of two increments ends
    with the same store a sequential batch run produces."""
    src = str(tmp_path / "incoming")
    b1 = docs.filter(F.col("doc_id") < 20)
    b1.write.mode("overwrite").parquet(src)
    store_root = str(tmp_path / "store3")

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = run_incremental_dedup(spark, stream, store_root)
    q.awaitTermination(120)

    table = VersionedTable(store_root)
    got = table.read(spark).count()
    expected = b1.dropDuplicates(["text"]).count()
    # exact_dedup normalizes whitespace/case; fixture texts are distinct
    assert got == expected


def test_append_commit_is_segment_shared(spark, tmp_path):
    """commit_append must not rewrite history: version N+1 reuses
    version N's segment files, and vacuum keeps shared segments alive."""
    import os

    table = VersionedTable(str(tmp_path / "seg"))
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    df3 = spark.createDataFrame([(3, "c")], "id long, v string")
    table.commit_append(df1)
    table.commit_append(df2)
    table.commit_append(df3)
    assert table.read(spark).count() == 3
    assert table.read(spark, version=2).count() == 2
    # vacuum(keep=1): v1/v2 segments are still referenced by v3's
    # manifest, so nothing may be deleted
    assert table.vacuum(keep=1) == []
    assert table.read(spark).count() == 3
    # a compact rewrites into one self-contained snapshot; then the old
    # segments become unreferenced and vacuum may drop them
    table.compact(spark)
    removed = table.vacuum(keep=1)
    assert removed and table.read(spark).count() == 3
    assert not any(
        os.path.basename(d) == "v=00000001" for d in os.listdir(table.root)
    ) or 1 not in removed


def test_near_dup_store_join_broadcasts_batch(spark, docs, tmp_path):
    """Plan shape at scale: the store side of the historical near-dup
    join must be probed via a broadcast of the (small) batch bands —
    a store-side shuffle would be O(corpus) per increment."""
    import contextlib
    import io

    from readwise_vector_db_spark.jobs import incremental_dedup as inc
    from readwise_vector_db_spark.operators.dedup import N_HASHES, band_keys

    table = VersionedTable(str(tmp_path / "store_p"))
    dedup_batch_against_store(spark, docs.filter(F.col("doc_id") < 30), table)
    store = table.read(spark)
    from readwise_vector_db_spark.functions.text import fingerprint_md5

    batch = inc._with_fp_sig(
        docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 35)).withColumn(
            "fp", fingerprint_md5("text")
        ),
        "doc_id", "text", 3, "xxhash64",
    )
    nb = batch.filter(F.col("sig").isNotNull()).select(
        "doc_id", F.col("sig").alias("sig_n"), F.explode(band_keys("sig")).alias("bh")
    )
    sb = store.filter(F.col("sig").isNotNull()).select(
        F.col("sig").alias("sig_s"), F.explode(band_keys("sig")).alias("bh")
    )
    joined = sb.join(F.broadcast(nb), "bh")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan


def test_bucketed_store_layout_matches_broadcast(spark, docs, tmp_path):
    """The beyond-broadcast layout must make the same accept/drop
    decisions as the broadcast path (same bands, same agreement
    verification — only the join strategy differs)."""
    results = {}
    for mode in ("broadcast", "bucketed"):
        table = VersionedTable(str(tmp_path / f"store_{mode}"))
        b1 = docs.filter(F.col("doc_id") < 30)
        dedup_batch_against_store(spark, b1, table, batch_join=mode)
        fresh = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 40))
        exact_copy = b1.filter(F.col("doc_id") == 3).select(
            (F.col("doc_id") + 900000).alias("doc_id"), "text"
        )
        near = b1.filter(F.col("doc_id") == 5).select(
            (F.col("doc_id") + 900001).alias("doc_id"),
            F.concat(F.lit("zqx "), F.col("text")).alias("text"),
        )
        b2 = fresh.unionByName(exact_copy).unionByName(near)
        s2 = dedup_batch_against_store(spark, b2, table, batch_join=mode)
        results[mode] = (
            s2["accepted"],
            sorted(r["doc_id"] for r in table.read(spark).collect()),
        )
    assert results["broadcast"] == results["bucketed"]
    assert results["bucketed"][0] > 0


def test_bucketed_band_join_never_shuffles_store(spark, docs, tmp_path):
    """Plan shape of the bucketed layout: the store's band index is
    scanned in place (Bucketed: true) and the join plans exactly ONE
    Exchange — the batch side shuffling into the index's bucketing.
    A store-side Exchange would be O(corpus) per increment."""
    import contextlib
    import io
    import re

    from readwise_vector_db_spark.jobs import incremental_dedup as inc
    from readwise_vector_db_spark.operators.dedup import band_keys

    table = VersionedTable(str(tmp_path / "store_bk"))
    dedup_batch_against_store(
        spark, docs.filter(F.col("doc_id") < 30), table, batch_join="bucketed"
    )
    name = inc.ensure_band_index(spark, table.root)
    sb = spark.table(name).select("bh", F.col("sig").alias("sig_s"))
    # a shuffle-free batch band frame, so the ONLY possible Exchange in
    # the joined plan is the one the join itself requires
    nb = spark.createDataFrame(
        [(1, list(range(64)))], "doc_id long, sig array<bigint>"
    ).select(
        "doc_id",
        F.col("sig").alias("sig_n"),
        F.explode(band_keys("sig")).alias("bh"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = sb.join(nb, "bh")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    assert "Bucketed: true" in plan, plan
    exchange_nodes = set(re.findall(r"\((\d+)\) Exchange", plan))
    assert len(exchange_nodes) == 1, plan


def test_band_index_rebuild_is_idempotent_repair(spark, docs, tmp_path):
    """A crash between commit_append and the index append leaves the
    index lagging; rebuild_band_index regenerates it from the store."""
    from readwise_vector_db_spark.jobs import incremental_dedup as inc

    table = VersionedTable(str(tmp_path / "store_rb"))
    dedup_batch_against_store(
        spark, docs.filter(F.col("doc_id") < 20), table, batch_join="bucketed"
    )
    name = inc._band_table_name(table.root)
    n_before = spark.table(name).count()
    # simulate the lag: drop half the index rows out from under it
    inc.rebuild_band_index(spark, table)
    assert spark.table(name).count() == n_before
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_streaming_compaction_cadence(spark, docs, tmp_path):
    """compact_every folds accumulated append segments on a fixed
    commit cadence, bounding read fan-in: after the drain, the latest
    snapshot must reference far fewer segments than commits made."""
    src = str(tmp_path / "in_c")
    b = docs.filter(F.col("doc_id") < 24)
    b.repartition(6).write.mode("overwrite").parquet(src)
    store_root = str(tmp_path / "store_c")
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_incremental_dedup(spark, stream, store_root, compact_every=2)
    q.awaitTermination(180)
    table = VersionedTable(store_root)
    store = table.read(spark)
    n = store.count()
    # dedup semantics are covered by the other tests (cross-increment
    # near-dups may legitimately drop rows here); this test pins the
    # cadence invariants: nothing lost beyond dedup, no exact dups
    # survive compaction, and the compacted snapshot references far
    # fewer segments than commits made
    assert 0 < n <= b.dropDuplicates(["text"]).count()
    assert store.select("fp").distinct().count() == n
    v = table.latest_version()
    assert v > 2
    assert len(table._segments(v)) < v


def test_broadcast_to_bucketed_migration_rebuilds_index(spark, docs, tmp_path):
    """ADVICE r5: a store grown under batch_join='broadcast' has no band
    index; switching to 'bucketed' must NOT probe an empty index (silent
    under-drop of all historical near-dups).  ensure_band_index detects
    the lagging _SYNCED_VERSION marker and auto-rebuilds from the store."""
    from readwise_vector_db_spark.jobs import incremental_dedup as inc

    table = VersionedTable(str(tmp_path / "store_mig"))
    seed = docs.filter(F.col("doc_id") < 30)
    dedup_batch_against_store(spark, seed, table, batch_join="broadcast")
    assert inc.synced_version(table.root) == 0  # broadcast mode: no index

    # second increment re-sends the SAME texts with shifted ids: every
    # row is a historical near/exact dup and must be dropped
    replay = seed.withColumn("doc_id", F.col("doc_id") + 10_000)
    stats = dedup_batch_against_store(spark, replay, table, batch_join="bucketed")
    assert stats["accepted"] == 0
    assert inc.synced_version(table.root) == table.latest_version()
    name = inc._band_table_name(table.root)
    assert spark.table(name).count() > 0
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_band_marker_stamps_callers_version_not_latest(spark, docs, tmp_path):
    """The sync marker must advance to the version whose rows the caller
    wrote — never the store's CURRENT latest (a peer may have committed
    mid-call; over-claiming makes a probe skip repair and silently
    under-drop)."""
    from readwise_vector_db_spark.functions.text import fingerprint_md5
    from readwise_vector_db_spark.jobs import incremental_dedup as inc
    from readwise_vector_db_spark.jobs.incremental_dedup import _with_fp_sig

    table = VersionedTable(str(tmp_path / "store_marker"))
    dedup_batch_against_store(
        spark, docs.filter(F.col("doc_id") < 20), table, batch_join="bucketed"
    )
    v1 = table.latest_version()
    # a "peer" commit lands that our in-flight append knows nothing about
    extra = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 25))
    rows = _with_fp_sig(
        extra.select("doc_id", "text", fingerprint_md5("text").alias("fp")),
        "doc_id", "text", 3, "xxhash64",
    ).select("doc_id", "fp", "sig")
    table.commit_append(rows)
    assert (table.latest_version() or 0) > v1
    # replaying v1's index append must stamp v1, NOT the peer's version
    inc.append_band_index(
        spark, table.read(spark, version=v1), table.root, synced_version=v1
    )
    assert inc.synced_version(table.root) == v1
    # so the next probe still sees the lag and repairs
    inc.ensure_band_index(spark, table.root)
    assert inc.synced_version(table.root) == table.latest_version()
    spark.sql(f"DROP TABLE IF EXISTS {inc._band_table_name(table.root)}")


def test_crash_lag_auto_repaired_on_next_probe(spark, docs, tmp_path):
    """A commit that landed without its index append (crash window) is
    detected via the marker on the next bucketed probe and repaired."""
    from readwise_vector_db_spark.jobs import incremental_dedup as inc

    table = VersionedTable(str(tmp_path / "store_lag"))
    dedup_batch_against_store(
        spark, docs.filter(F.col("doc_id") < 20), table, batch_join="bucketed"
    )
    # simulate the crash: a commit lands, the index append never runs
    extra = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 25))
    from readwise_vector_db_spark.jobs.incremental_dedup import _with_fp_sig
    from readwise_vector_db_spark.functions.text import fingerprint_md5

    rows = _with_fp_sig(
        extra.select("doc_id", "text", fingerprint_md5("text").alias("fp")),
        "doc_id", "text", 3, "xxhash64",
    ).select("doc_id", "fp", "sig")
    table.commit_append(rows)
    assert inc.synced_version(table.root) < (table.latest_version() or 0)

    name = inc.ensure_band_index(spark, table.root)  # probe path → repair
    assert inc.synced_version(table.root) == table.latest_version()
    # repaired index covers BOTH increments' signatures
    from readwise_vector_db_spark.operators.dedup import band_keys
    n_bands_per_sig = (
        table.read(spark).filter(F.col("sig").isNotNull())
        .select(F.size(band_keys("sig")).alias("nb")).agg(F.sum("nb")).collect()[0][0]
    )
    assert spark.table(name).count() == n_bands_per_sig
    spark.sql(f"DROP TABLE IF EXISTS {name}")


# --- semantic incremental dedup ---------------------------------------------


def _sem_quantizer(spark):
    from readwise_vector_db_spark.operators.dedup import train_semantic_quantizer

    embs = load_table(spark, SF_SMOKE, "embeddings")
    return train_semantic_quantizer(embs, n_clusters=4)


def _sem_batch(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_semantic_incremental_drops_historical_and_in_batch_dups(spark, tmp_path):
    """Three increments: byte-identical vectors, near-dup (1e-7 scaled)
    vectors, and fresh vectors — historical twins dropped, fresh kept,
    in-batch dups collapse before the store probe."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        semantic_dedup_batch_against_store,
    )
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    q = _sem_quantizer(spark)
    embs = load_table(spark, SF_SMOKE, "embeddings")
    seed = [(int(r["vec_id"]), list(r["embedding"])) for r in embs.limit(10).collect()]
    table = VersionedTable(str(tmp_path / "semstore"))

    s0 = semantic_dedup_batch_against_store(
        spark, _sem_batch(spark, seed), table, q
    )
    assert s0["accepted"] == 10 and s0["store_version"] == 1

    # increment 1: 3 byte-identical to store, 1 near-dup, 2 fresh, plus
    # an in-batch duplicate pair (only one of which may survive)
    fresh_a = [float(i) for i in range(len(seed[0][1]))]
    fresh_b = [float(-i) for i in range(len(seed[0][1]))]
    near = [x * (1.0 + 1e-7) for x in seed[3][1]]
    inc = [
        (101, seed[0][1]), (102, seed[1][1]), (103, seed[2][1]),  # exact twins
        (104, near),                                             # near twin
        (105, fresh_a), (106, fresh_a),                          # in-batch dup
        (107, fresh_b),
    ]
    s1 = semantic_dedup_batch_against_store(
        spark, _sem_batch(spark, inc), table, q
    )
    assert s1["after_batch_dedup"] == 6  # 105/106 collapsed in-batch
    assert s1["accepted"] == 2           # only 105, 107 survive history
    kept = {r["vec_id"] for r in table.read(spark).select("vec_id").collect()}
    assert kept == {int(i) for i, _ in seed} | {105, 107}

    # increment 2: re-sending an accepted increment drops everything
    s2 = semantic_dedup_batch_against_store(
        spark, _sem_batch(spark, [(201, fresh_a), (202, fresh_b)]), table, q
    )
    assert s2["accepted"] == 0 and s2["store_version"] == 2  # no empty commit


def test_semantic_incremental_store_never_shuffles(spark, tmp_path):
    """The historical probe's executed plan must carry no shuffle
    Exchange — the store scans in place, the batch ships as a single
    BroadcastExchange (the O(increment) contract)."""
    from readwise_vector_db_spark.functions.vector import cosine_similarity, l2_norm
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        semantic_dedup_batch_against_store,
    )
    from readwise_vector_db_spark.operators.similarity import assign_cells
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    q = _sem_quantizer(spark)
    embs = load_table(spark, SF_SMOKE, "embeddings")
    seed = [(int(r["vec_id"]), list(r["embedding"])) for r in embs.limit(20).collect()]
    table = VersionedTable(str(tmp_path / "semstore_plan"))
    semantic_dedup_batch_against_store(spark, _sem_batch(spark, seed), table, q)

    # rebuild the probe join exactly as the job does and audit its plan
    batch = _sem_batch(spark, [(300, seed[0][1])]).select(
        F.col("vec_id"), F.col("embedding").alias("v")
    )
    assigned = assign_cells(batch, q, vec_col="v").select(
        F.col("vec_id").alias("bid"), F.col("v").alias("bv"),
        l2_norm(F.col("v").cast("array<double>")).alias("bn"), "cluster",
    )
    store = table.read(spark)
    cos = F.round(
        cosine_similarity(F.col("v"), F.col("bv"), a_norm=F.col("n"), b_norm=F.col("bn")),
        6,
    )
    probe = store.join(F.broadcast(assigned), "cluster").filter(cos >= 0.999)
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan
    import re

    assert not re.search(r"Exchange (hash|range|SinglePartition)", plan), plan


def test_semantic_incremental_requires_long_ids_and_skips_nulls(spark, tmp_path):
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        semantic_dedup_batch_against_store,
    )
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    q = _sem_quantizer(spark)
    table = VersionedTable(str(tmp_path / "semstore_null"))
    rows = [(1, [1.0, 0.0, 0.0, 0.0] * 16), (2, None)]
    s = semantic_dedup_batch_against_store(spark, _sem_batch(spark, rows), table, q)
    assert s["batch_raw"] == 2 and s["accepted"] == 1


def test_semantic_streaming_face_drains_and_dedups(spark, tmp_path):
    """foreachBatch wiring for the semantic path: a file-source stream
    whose increments contain exact replicas of earlier rows ends with
    the same store a sequential batch run produces."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        run_incremental_semantic_dedup,
    )
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    q = _sem_quantizer(spark)
    embs = load_table(spark, SF_SMOKE, "embeddings")
    # remap base ids to 1..8 so the min-id survivor rule favors base
    # rows regardless of how the file source batches the increments
    base = [
        (i + 1, list(r["embedding"])) for i, r in enumerate(embs.limit(8).collect())
    ]
    # the second file replays half of file 1 under HIGHER ids plus two
    # fresh rows
    fresh = [
        (201, [float(i) for i in range(len(base[0][1]))]),
        (202, [float(-i) for i in range(len(base[0][1]))]),
    ]
    src = str(tmp_path / "vec_incoming")
    _sem_batch(spark, base).coalesce(1).write.parquet(src)
    _sem_batch(
        spark, [(100 + i, v) for i, (_, v) in enumerate(base[:4])] + fresh
    ).coalesce(1).write.mode("append").parquet(src)

    store_root = str(tmp_path / "semstream")
    stream = (
        spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_incremental_semantic_dedup(
        spark, stream, store_root, q
    ).awaitTermination(120)

    got = VersionedTable(store_root).read(spark)
    ids = {r["vec_id"] for r in got.collect()}
    # all 8 base rows + the 2 fresh rows; no replayed twin accepted
    assert {i for i, _ in base} <= ids
    assert {201, 202} <= ids
    assert len(ids) == 10


def test_span_dedup_batch_against_store(spark, tmp_path):
    """Incremental span dedup: windows accepted in earlier batches cut
    from later ones (the store's copy is the kept first occurrence);
    in-batch repeats keep the batch-global first; the store accumulates
    only the CLEANED content's fingerprints."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        span_dedup_batch_against_store,
    )
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    boiler = "all rights reserved contact the site administrator now"  # 8 toks
    table = VersionedTable(str(tmp_path / "spanstore"))

    # batch 1: boilerplate appears twice in-batch → one copy survives
    b1 = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta epsilon zeta eta theta"),
            (2, f"{boiler} one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    cleaned1, s1 = span_dedup_batch_against_store(spark, b1, table)
    out1 = {r["doc_id"]: r for r in cleaned1.collect()}
    assert out1[1]["n_tokens_removed"] == 0  # batch-first occurrence kept
    assert out1[2]["clean_text"] == "one two three four five six seven eight"
    assert s1["tokens_removed"] == 8 and s1["store_version"] == 1

    # batch 2: the SAME boilerplate arrives again → cut against the store
    b2 = spark.createDataFrame(
        [
            (10, f"{boiler} totally fresh words nine ten eleven twelve"),
            (11, "unique content with no repeats at all here today"),
        ],
        "doc_id long, text string",
    )
    cleaned2, s2 = span_dedup_batch_against_store(spark, b2, table)
    out2 = {r["doc_id"]: r for r in cleaned2.collect()}
    assert out2[10]["clean_text"] == "totally fresh words nine ten eleven twelve"
    assert out2[10]["n_tokens_removed"] == 8
    assert out2[11]["n_tokens_removed"] == 0
    assert s2["store_version"] == 2

    # batch 3: content already cleaned in batch 2 re-arrives → cut too
    # (the store compares against SURVIVING content)
    b3 = spark.createDataFrame(
        [(20, "unique content with no repeats at all here today")],
        "doc_id long, text string",
    )
    cleaned3, s3 = span_dedup_batch_against_store(spark, b3, table)
    # the 9-token doc carries TWO stored windows (pos 0 and 1), whose
    # union covers all 9 tokens — the whole document is cut
    assert cleaned3.first()["n_tokens_removed"] == 9
    assert cleaned3.first()["clean_text"] == ""
    # a fully-cut doc contributes no new windows → nothing to append,
    # but the call still reports the (unchanged) store version
    assert s3["fps_appended"] >= 0 and s3["store_version"] >= 2


def test_streaming_span_face_matches_sequential(spark, tmp_path):
    """Round-9: the span member's foreachBatch streaming face — a file
    stream of two increments ends with the same cleaned output and
    fingerprint store a sequential batch run produces."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        run_incremental_span_dedup,
        span_dedup_batch_against_store,
    )

    boiler = "all rights reserved contact the site administrator now"  # 8 toks
    rows1 = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h {boiler}")
             for i in range(10)]
    rows2 = [(100 + i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h {boiler}")
             for i in range(10)]
    schema = "doc_id LONG, text STRING"
    src = str(tmp_path / "incoming")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    store_root = str(tmp_path / "span_store_stream")
    out_dir = str(tmp_path / "cleaned_stream")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = run_incremental_span_dedup(spark, stream, store_root, out_dir)
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r["clean_text"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert len(got) == 20
    # exactly one document corpus-wide kept its boilerplate copy —
    # batch 2's occurrences were cut against the STORE, not just
    # within their own batch
    keepers = [d for d, t in got.items() if boiler in t]
    assert len(keepers) == 1 and keepers[0] < 100

    # sequential twin: same batches through the batch API
    seq_store = str(tmp_path / "span_store_seq")
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    seq_table = VersionedTable(seq_store)
    out = {}
    for rows in (rows1, rows2):
        cleaned, _ = span_dedup_batch_against_store(
            spark, spark.createDataFrame(rows, schema), seq_table
        )
        out.update({r["doc_id"]: r["clean_text"] for r in cleaned.collect()})
    assert out == got
    # and the stores carry identical fingerprint sets
    stream_fps = {
        (r["h1"], r["h2"])
        for r in VersionedTable(store_root).read(spark).collect()
    }
    seq_fps = {(r["h1"], r["h2"]) for r in seq_table.read(spark).collect()}
    assert stream_fps == seq_fps


def test_span_batch_retry_is_idempotent(spark, tmp_path):
    """r9 review finding: a re-run of a batch whose first attempt
    already committed (at-least-once foreachBatch) must cut against the
    PINNED pre-batch snapshot — not find its own windows in the store
    and cut the kept-first occurrence — and must append nothing."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        span_dedup_batch_against_store,
    )
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    boiler = "all rights reserved contact the site administrator now"
    rows = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h {boiler}")
            for i in range(6)]
    batch = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    table = VersionedTable(str(tmp_path / "retry_store"))

    base_v = table.latest_version() or 0  # what the streaming marker pins
    cleaned1, stats1 = span_dedup_batch_against_store(
        spark, batch, table, read_version=base_v
    )
    out1 = {r["doc_id"]: r["clean_text"] for r in cleaned1.collect()}
    assert stats1["fps_appended"] > 0
    assert boiler in out1[0] and all(boiler not in out1[i] for i in range(1, 6))

    # retry of the SAME batch with the SAME pinned snapshot
    cleaned2, stats2 = span_dedup_batch_against_store(
        spark, batch, table, read_version=base_v
    )
    out2 = {r["doc_id"]: r["clean_text"] for r in cleaned2.collect()}
    assert out2 == out1                      # kept-first NOT cut on retry
    assert stats2["fps_appended"] == 0       # nothing re-committed
    assert stats2["store_version"] == stats1["store_version"]


def test_span_batch_interleave_keeps_unconsumed_cache(spark, docs, tmp_path):
    """r10 verdict item 4: planning batch N+1 must NOT unpersist batch
    N's cleaned frame before the caller consumes it (the old
    drop-everything entry drain did), and the returned handle releases
    its own persist once its first action completes."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        span_dedup_batch_against_store,
    )

    table = VersionedTable(str(tmp_path / "span_interleave"))
    b1 = docs.filter(F.col("doc_id") < 30)
    b2 = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60))

    cleaned1, s1 = span_dedup_batch_against_store(spark, b1, table)
    # interleave: plan batch 2 BEFORE consuming batch 1's result
    cleaned2, s2 = span_dedup_batch_against_store(spark, b2, table)
    assert cleaned1.storageLevel.useMemory, (
        "batch-2 planning drained batch-1's unconsumed cleaned frame"
    )
    rows1 = cleaned1.collect()
    assert len(rows1) == s1["batch_raw"]  # all kept (first occurrences)
    # the handle released its own persist at action completion
    assert not cleaned1.storageLevel.useMemory
    rows2 = cleaned2.collect()
    assert len(rows2) == s2["batch_raw"]
    assert not cleaned2.storageLevel.useMemory


def test_span_dup_fraction_batch_against_store(spark, docs, tmp_path):
    """r10: incremental per-doc dup-fraction — batch windows scored
    against the accumulated span store + in-batch repeats, equivalent
    to corpus-wide doc_dup_fraction over (prior ∪ batch) restricted to
    the batch when prior batches were accepted uncut."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        span_dedup_batch_against_store,
        span_dup_fraction_batch_against_store,
    )
    from readwise_vector_db_spark.operators.dedup import doc_dup_fraction

    table = VersionedTable(str(tmp_path / "span_frac"))
    # batch 1: synthetic docs with globally-unique tokens — accepted
    # UNCUT by construction, the premise of the exact-equivalence check
    b1 = spark.createDataFrame(
        [
            (i, " ".join(f"b1d{i}w{j}" for j in range(40)))
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    cleaned1, s1 = span_dedup_batch_against_store(spark, b1, table)
    cleaned1.count()
    assert s1["tokens_removed"] == 0

    # batch 2: fresh docs + a re-labeled copy of a batch-1 doc + an
    # in-batch duplicated pair of fresh text
    fresh = spark.createDataFrame(
        [
            (25 + i, " ".join(f"b2d{i}w{j}" for j in range(40)))
            for i in range(10)
        ],
        "doc_id long, text string",
    )
    copy_of_b1 = b1.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    pair_text = " ".join(f"tok{i}" for i in range(30))
    pair = spark.createDataFrame(
        [(900100, pair_text), (900101, pair_text)], "doc_id long, text string"
    )
    b2 = fresh.unionByName(copy_of_b1).unionByName(pair)

    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in span_dup_fraction_batch_against_store(spark, b2, table).collect()
    }
    # the re-labeled copy and the in-batch pair are fully duplicated
    assert got[900003][2] == 1.0  # copy of batch-1 doc 3
    assert got[900100][2] == 1.0 and got[900101][2] == 1.0
    # equivalence with the corpus-wide operator over (b1 ∪ b2)
    want = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in doc_dup_fraction(b1.unionByName(b2)).collect()
        if r["doc_id"] in got
    }
    assert got == want


def test_batch_quality_signals_streaming_face(spark, tmp_path):
    """r10: per-batch fused signal row — persisted-LM scoring + the
    incremental dup fraction — matches the batch-corpus operator when
    the store holds exactly the prior corpus's windows."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        batch_quality_signals,
        span_dedup_batch_against_store,
    )
    from readwise_vector_db_spark.operators import lm
    from readwise_vector_db_spark.operators.signals import doc_quality_signals

    table = VersionedTable(str(tmp_path / "sig_store"))
    b1 = spark.createDataFrame(
        [(i, " ".join(f"p{i}w{j}" for j in range(30))) for i in range(12)],
        "doc_id long, text string",
    )
    cleaned1, s1 = span_dedup_batch_against_store(spark, b1, table)
    cleaned1.count()
    assert s1["tokens_removed"] == 0

    uni, bi, v = lm.train_bigram_lm(b1, min_count=1)
    art = str(tmp_path / "lm_art")
    lm.save_bigram_lm(art, uni, bi, v)
    model = lm.load_bigram_lm(art)

    b2 = spark.createDataFrame(
        [(100, " ".join(["spam"] * 30)),                      # repetitive
         (101, b1.filter(F.col("doc_id") == 2).first()["text"]),  # store dup
         (102, " ".join(f"fresh{j}" for j in range(25)))],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in batch_quality_signals(spark, b2, table, model).collect()
    }
    assert got[101]["dup_fraction"] == 1.0   # store duplicate
    assert got[102]["dup_fraction"] == 0.0   # fresh
    assert got[100]["rep_keep"] is False     # repetitive text flagged
    # per-doc half matches the batch-corpus operator over (b1 ∪ b2)
    want = {
        r["doc_id"]: r.asDict()
        for r in doc_quality_signals(
            b1.unionByName(b2), model[0], model[1], model[2]
        ).collect()
        if r["doc_id"] in got
    }
    assert got == want


def test_streaming_span_dedup_with_signals(spark, tmp_path):
    """r10: the streaming loop optionally emits the per-batch fused
    signal row, scored against the SAME pinned snapshot as the cut —
    a batch-2 copy of batch-1 content reads dup_fraction 1.0 while
    batch-1's own copy read 0 (nothing seen before it)."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        run_incremental_span_dedup,
    )
    from readwise_vector_db_spark.operators import lm

    rows1 = [(i, " ".join(f"s{i}w{j}" for j in range(20))) for i in range(8)]
    rows2 = [(100 + i, " ".join(f"t{i}w{j}" for j in range(20))) for i in range(7)]
    rows2.append((199, rows1[0][1]))  # copy of a batch-1 doc
    schema = "doc_id LONG, text STRING"
    src = str(tmp_path / "sig_incoming")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    uni, bi, v = lm.train_bigram_lm(spark.createDataFrame(rows1, schema), min_count=1)
    store_root = str(tmp_path / "sig_span_store")
    out_dir = str(tmp_path / "sig_cleaned")
    sig_dir = str(tmp_path / "sig_rows")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = run_incremental_span_dedup(
        spark, stream, store_root, out_dir,
        signals_lm=(uni, bi, v), signals_out_dir=sig_dir,
    )
    q.awaitTermination(120)

    # r11: signal rows live in a VersionedTable (retention/time travel/
    # schema evolution), one append commit per batch, batch id in meta
    sig_table = VersionedTable(sig_dir)
    sig = {r["doc_id"]: r for r in sig_table.read(spark).collect()}
    assert len(sig) == 16
    assert sig[199]["dup_fraction"] == 1.0   # batch-2 copy of batch-1 doc
    assert sig[0]["dup_fraction"] == 0.0     # the original, scored first
    assert all(sig[i]["dup_fraction"] == 0.0 for i in range(1, 8))
    # LM scoring really ran in the streaming face: every 20-token doc
    # has 19 bigram terms and a finite smoothed perplexity
    assert sig[105]["n_bigrams"] == 19 and sig[105]["ppl"] is not None
    assert {sig[0]["batch_id"], sig[105]["batch_id"]} == {0, 1}
    assert not sig[0]["quarantined"]
    metas = sig_table.commit_metas()
    assert [m["batch_id"] for _, m in metas] == [0, 1]
    assert all(m["summary"]["n_docs"] == 8 for _, m in metas)
    # cleaned output unaffected by the signals side-channel
    assert spark.read.parquet(out_dir).count() == 16


def test_streaming_signals_follow_custom_columns(spark, tmp_path):
    """r10 ADVICE: a stream configured with non-default id_col/text_col
    must score its signal rows over THOSE columns — previously the
    kwargs reached only the cut path and the signals side failed with
    AnalysisException on the missing defaults."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        run_incremental_span_dedup,
    )
    from readwise_vector_db_spark.operators import lm

    rows1 = [(i, " ".join(f"c{i}w{j}" for j in range(20))) for i in range(6)]
    rows2 = [(100, rows1[0][1]),  # copy of a batch-1 doc
             (101, " ".join(f"n1w{j}" for j in range(20)))]
    schema = "uid LONG, body STRING"
    src = str(tmp_path / "cc_incoming")
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)

    df1 = spark.createDataFrame(rows1, schema)
    uni, bi, v = lm.train_bigram_lm(df1, text_col="body", min_count=1)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    sig_dir = str(tmp_path / "cc_signals")
    q = run_incremental_span_dedup(
        spark, stream, str(tmp_path / "cc_store"), str(tmp_path / "cc_out"),
        signals_lm=(uni, bi, v), signals_out_dir=sig_dir,
        id_col="uid", text_col="body",
    )
    q.awaitTermination(120)

    sig = {r["uid"]: r for r in VersionedTable(sig_dir).read(spark).collect()}
    assert len(sig) == 8
    assert sig[100]["dup_fraction"] == 1.0  # batch-2 copy of batch-1 doc
    assert sig[101]["dup_fraction"] == 0.0
    assert sig[0]["n_bigrams"] == 19 and sig[0]["ppl"] is not None


def test_scoring_only_loop_bounds_detector_cache(spark, docs, tmp_path):
    """r10 ADVICE: span_dup_fraction_batch_against_store is a PUBLIC
    detector entry — a scoring-only per-batch loop (no cut call to bump
    the generation) must stay bounded at _KEEP_GENERATIONS batches'
    frames instead of accumulating one persisted frame per batch."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        span_dedup_batch_against_store,
        span_dup_fraction_batch_against_store,
    )
    from readwise_vector_db_spark.operators import dedup as D

    table = VersionedTable(str(tmp_path / "frac_loop"))
    seed = spark.createDataFrame(
        [(i, " ".join(f"fl{i}w{j}" for j in range(30))) for i in range(10)],
        "doc_id long, text string",
    )
    cleaned, _ = span_dedup_batch_against_store(spark, seed, table)
    cleaned.count()

    D.release_detector_cache()
    for b in range(5):
        batch = spark.createDataFrame(
            [(1000 + 10 * b + i, " ".join(f"b{b}x{i}w{j}" for j in range(25)))
             for i in range(4)],
            "doc_id long, text string",
        )
        span_dup_fraction_batch_against_store(spark, batch, table).count()
        with D._CACHED_FRAMES_LOCK:
            live = len(D._CACHED_FRAMES)
        assert live <= D._KEEP_GENERATIONS  # one `wins` frame per generation


def _lm_for(spark, rows, schema="doc_id long, text string"):
    from readwise_vector_db_spark.operators import lm

    return lm.train_bigram_lm(spark.createDataFrame(rows, schema), min_count=1)


def test_signal_commit_is_exactly_once_per_batch(spark, tmp_path):
    """r11 (verdict item 3): the batch id rides the signals commit's
    meta, so an at-least-once re-delivery of the same batch is a SKIP —
    one version, no duplicate signal rows."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        commit_batch_signals,
    )

    table = VersionedTable(str(tmp_path / "store"))
    sig_table = VersionedTable(str(tmp_path / "signals"))
    rows = [(i, " ".join(f"eo{i}w{j}" for j in range(20))) for i in range(6)]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    model = _lm_for(spark, rows)

    first = commit_batch_signals(
        spark, batch, table, sig_table, model, batch_id=0
    )
    assert first["status"] == "committed" and first["version"] == 1
    assert first["summary"]["n_docs"] == 6

    again = commit_batch_signals(
        spark, batch, table, sig_table, model, batch_id=0
    )
    assert again["status"] == "skipped" and again["version"] is None
    assert sig_table.latest_version() == 1
    assert sig_table.read(spark).count() == 6  # no duplicates


def test_quality_drift_gate_trips_on_planted_shift(spark, tmp_path):
    """r10 verdict item 2's done-criterion: a planted quality shift (a
    source turned spammy — saturated duplicated windows + flagged
    repetition) trips the gate while clean batches sail through;
    quarantine mode commits the flagged rows, diverts the batch, and
    keeps the quarantined summary OUT of future reference windows."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        commit_batch_signals,
    )
    from readwise_vector_db_spark.operators.signals import QualityDriftError

    table = VersionedTable(str(tmp_path / "store"))
    sig_table = VersionedTable(str(tmp_path / "signals"))
    gate = {"min_ref": 2, "on_drift": "raise"}

    def clean_batch(b):
        return [
            (1000 * b + i, " ".join(f"g{b}d{i}w{j}" for j in range(25)))
            for i in range(8)
        ]

    model = _lm_for(spark, clean_batch(0))
    for b in range(3):  # clean reference window — all green
        res = commit_batch_signals(
            spark, spark.createDataFrame(clean_batch(b), "doc_id long, text string"),
            table, sig_table, model, batch_id=b, gate=gate,
        )
        assert res["status"] == "committed"

    spam_text = " ".join(["buy now click here"] * 12)
    spam = spark.createDataFrame(
        [(9000 + i, spam_text) for i in range(8)], "doc_id long, text string"
    )
    with pytest.raises(QualityDriftError, match="quarantine"):
        commit_batch_signals(
            spark, spam, table, sig_table, model, batch_id=3, gate=gate,
        )
    assert sig_table.latest_version() == 3  # raise mode: nothing landed

    q = commit_batch_signals(
        spark, spam, table, sig_table, model, batch_id=3,
        gate={**gate, "on_drift": "quarantine"},
    )
    assert q["status"] == "quarantined"
    flagged = sig_table.read(spark).filter(F.col("quarantined"))
    assert flagged.count() == 8 and flagged.first()["batch_id"] == 3

    # the quarantined summary is excluded from the reference window: a
    # following clean batch still measures against CLEAN normal
    res = commit_batch_signals(
        spark, spark.createDataFrame(clean_batch(4), "doc_id long, text string"),
        table, sig_table, model, batch_id=4, gate=gate,
    )
    assert res["status"] == "committed"


@pytest.mark.slow  # multi-batch gate soak (r13: excluded from the default run)
def test_streaming_quality_gate_quarantines_spam_batch(spark, tmp_path):
    """End-to-end streaming walk: clean, clean, SPAM, clean — the spam
    micro-batch is diverted to the quarantine partition (reaching
    neither the cleaned output nor the fingerprint store) while the
    stream keeps running and the clean batches land normally."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        run_incremental_span_dedup,
    )

    def clean_rows(b):
        return [
            (1000 * b + i, " ".join(f"s{b}d{i}w{j}" for j in range(20)))
            for i in range(6)
        ]

    spam_text = " ".join(["spam spam wonderful spam"] * 10)
    batches = [
        clean_rows(0),
        clean_rows(1),
        [(9000 + i, spam_text) for i in range(6)],
        clean_rows(3),
    ]
    schema = "doc_id LONG, text STRING"
    src = str(tmp_path / "gate_incoming")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)

    model = _lm_for(spark, clean_rows(0))
    store_root = str(tmp_path / "gate_store")
    out_dir = str(tmp_path / "gate_out")
    sig_dir = str(tmp_path / "gate_signals")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = run_incremental_span_dedup(
        spark, stream, store_root, out_dir,
        signals_lm=model, signals_out_dir=sig_dir,
        signals_gate={"min_ref": 2, "on_drift": "quarantine"},
        signals_retention=16,
    )
    q.awaitTermination(180)

    out_ids = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert out_ids == {r[0] for b in (0, 1, 3) for r in batches[b]}
    # r11: the quarantine is a VersionedTable too — retention, time
    # travel, and (run_id, batch_id) exactly-once like the signal rows
    q_table = VersionedTable(f"{out_dir}_quarantine")
    quarantined = q_table.read(spark).collect()
    assert {r["doc_id"] for r in quarantined} == {9000 + i for i in range(6)}
    assert {r["batch_id"] for r in quarantined} == {2}
    assert [m["batch_id"] for _, m in q_table.commit_metas()] == [2]
    sig_table = VersionedTable(sig_dir)
    metas = {m["batch_id"]: m for _, m in sig_table.commit_metas()}
    assert set(metas) == {0, 1, 2, 3}
    assert metas[2]["quarantined"] and not metas[0]["quarantined"]
    # the WHY rides the meta (round 12): the breached band by name
    assert any(
        band in metas[2]["quarantine_reason"]
        for band in ("dup_frac", "ppl", "rep_bad")
    )
    assert "quarantine_reason" not in metas[0]
    # the spam batch's windows never reached the fingerprint store: a
    # clean batch's dup signal vs the store stays 0 for spam-free text,
    # and batch 3 committed normally after the quarantine
    assert not metas[3]["quarantined"]


def test_quality_drift_gate_trips_on_degenerate_batch():
    """Round 12 — found by the planted-drift soak's failure analysis
    (tools/bench_gate_soak.py): a batch of DEGENERATE docs (empty
    bodies / single tokens — a crawler regression) scores ppl NULL per
    doc, and its repetition/dup signals are NULL too, so NO band could
    fire — the batch was invisible to the gate.  The ppl_null_frac band
    closes it; behavior pinned with the band on, off, and under it."""
    from readwise_vector_db_spark.operators.signals import (
        QualityDriftError,
        quality_drift_gate,
    )

    refs = [
        {"ppl_p50": 10.0, "dup_frac_p90": 0.0, "rep_bad_frac": 0.0,
         "ppl_null_frac": 0.0}
        for _ in range(3)
    ]
    oov = {"ppl_p50": None, "dup_frac_p90": 0.0, "rep_bad_frac": 0.0,
           "ppl_null_frac": 1.0}
    with pytest.raises(QualityDriftError, match="ppl_null_frac"):
        quality_drift_gate(oov, refs)
    # band disabled → the pre-fix blindness, reproducible on demand
    quality_drift_gate(oov, refs, max_ppl_null_delta=2.0)
    # a batch with SOME unscorable docs under the band sails through
    quality_drift_gate(
        {**oov, "ppl_p50": 11.0, "ppl_null_frac": 0.2}, refs
    )


@pytest.mark.slow  # multi-batch quarantine/readmit soak (r13: excluded from the default run)
def test_readmit_quarantined_end_to_end(spark, tmp_path):
    """Round 12 (r11 verdict item 2): a batch quarantined under a tight
    band is READMITTED under the retuned band — the replayed cut lands
    in the normal output, its fingerprints reach the store, the signal
    rows flip to quarantined=False exactly once, the superseding meta
    puts its summary back into reference windows, and the quarantine
    view empties.  Still-drifted and idempotent-re-run paths included."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        commit_batch_signals,
        readmit_quarantined,
        run_incremental_span_dedup,
        signals_run_id_for_checkpoint,
    )
    from readwise_vector_db_spark.operators.signals import QualityDriftError

    def clean_rows(b):
        return [
            (1000 * b + i, " ".join(f"ra{b}d{i}w{j}" for j in range(20)))
            for i in range(6)
        ]

    # spam body (dup-saturated, trips the gate) + a unique per-doc tail
    # (so the replayed cut leaves committable novel content behind)
    spam_text = " ".join(["please buy cheap pills"] * 10)
    batches = [
        clean_rows(0),
        clean_rows(1),
        [
            (9000 + i, spam_text + " " + " ".join(f"uq{i}t{j}" for j in range(10)))
            for i in range(6)
        ],
        clean_rows(3),
    ]
    schema = "doc_id LONG, text STRING"
    src = str(tmp_path / "ra_incoming")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)

    model = _lm_for(spark, clean_rows(0))
    store_root = str(tmp_path / "ra_store")
    out_dir = str(tmp_path / "ra_out")
    sig_dir = f"{out_dir}_signals"
    tight = {"min_ref": 2, "on_drift": "quarantine"}
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    run_incremental_span_dedup(
        spark, stream, store_root, out_dir,
        signals_lm=model, signals_gate=tight,
    ).awaitTermination(180)

    sig_table = VersionedTable(sig_dir)
    q_table = VersionedTable(f"{out_dir}_quarantine")
    assert q_table.read(spark).count() == 6
    store_v_before = VersionedTable(store_root).latest_version()

    # still drifted under the same band: loud refusal, nothing touched
    with pytest.raises(QualityDriftError):
        readmit_quarantined(spark, store_root, out_dir, 2, gate=tight)
    assert q_table.read(spark).count() == 6

    # a batch the stream never checkpoint-committed: the redelivery
    # guard fires before anything else
    with pytest.raises(ValueError, match="not checkpoint-committed"):
        readmit_quarantined(spark, store_root, out_dir, 7, gate=tight)

    # retuned band admits the batch
    loose = {
        "min_ref": 2, "max_ppl_ratio": 1e6,
        "max_dup_frac_delta": 1.0, "max_rep_bad_delta": 1.0,
    }
    res = readmit_quarantined(spark, store_root, out_dir, 2, gate=loose)
    assert res["status"] == "readmitted"
    assert res["rows_readmitted"] == 6
    assert res["quarantine_rows_removed"] == 6

    # the replayed cut landed like a normal batch (spam is self-dup
    # heavy, so texts are mostly cut — but the DOCS are admitted)
    out_ids = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert {9000 + i for i in range(6)} <= out_ids
    # its fingerprints reached the store
    assert VersionedTable(store_root).latest_version() > store_v_before
    # the quarantine view emptied; the removal meta is flagged
    assert q_table.read(spark).count() == 0
    assert q_table.commit_metas()[-1][1]["readmitted"] is True
    # signal rows flipped exactly once — no duplicates, no flags
    sig = sig_table.read(spark)
    b2 = sig.filter(F.col("batch_id") == 2)
    assert b2.count() == 6
    assert b2.filter(F.col("quarantined")).count() == 0
    # the superseding meta is the newest for (run, 2)
    run_id = signals_run_id_for_checkpoint(f"{store_root}/_stream_checkpoint")
    newest = next(
        m for _, m in sig_table.iter_commit_metas_desc()
        if m.get("run_id") == run_id and m.get("batch_id") == 2
    )
    assert newest["quarantined"] is False and newest["readmitted"] is True

    # re-run: idempotent skip
    res2 = readmit_quarantined(spark, store_root, out_dir, 2, gate=loose)
    assert res2["status"] == "skipped"

    # a PREVIOUS incarnation's batch may not replay into out_dir (its
    # batch=<id> partition belongs to the current run — round-12
    # review); an explicit replay_out_dir is demanded up front
    with pytest.raises(ValueError, match="PREVIOUS stream incarnation"):
        readmit_quarantined(
            spark, store_root, out_dir, 2, gate=loose, run_id="ghost"
        )

    # exactly-once survives the supersede: a redelivery of batch 2
    # still skips, now carrying the admitted verdict...
    spam_df = spark.createDataFrame(batches[2], schema)
    redo = commit_batch_signals(
        spark, spam_df, VersionedTable(store_root), sig_table, model,
        batch_id=2, run_id=run_id,
    )
    assert redo["status"] == "skipped" and not redo["quarantined"]
    # ...and the out-of-order readmission meta does NOT resolve the
    # walk for other batch ids (a redelivered batch 3 is still a skip)
    redo3 = commit_batch_signals(
        spark, spark.createDataFrame(clean_rows(3), schema),
        VersionedTable(store_root), sig_table, model,
        batch_id=3, run_id=run_id,
    )
    assert redo3["status"] == "skipped"

    # the readmitted summary re-enters the reference window: a next
    # clean batch gating against min_ref metas sees it (no exception,
    # committed normally)
    nxt = commit_batch_signals(
        spark, spark.createDataFrame(clean_rows(4), schema),
        VersionedTable(store_root), sig_table, model,
        batch_id=4, run_id=run_id, gate={**loose, "on_drift": "raise"},
    )
    assert nxt["status"] == "committed"


@pytest.mark.slow  # multi-batch slow-drift soak (r13: excluded from the default run)
def test_anchor_gate_catches_slow_drift(spark, tmp_path):
    """Round 12 (residue item 3): a drift SLOWER than the band per
    window-length walks the rolling reference along with it — every
    batch passes vs the recent median while the corpus cooks.  The
    frozen anchor (first N accepted summaries) catches the cumulative
    shift; the rolling-only control never trips."""
    import numpy as np

    from readwise_vector_db_spark.jobs.incremental_dedup import (
        commit_batch_signals,
    )
    from readwise_vector_db_spark.operators.signals import QualityDriftError

    # phrase-structured clean text (the soak's lesson: a bigram LM
    # cannot anchor on structureless tokens) with doc-unique separators
    # (no in-batch window repeats), drifted by swapping each token to an
    # out-of-vocabulary one with probability 0.02·batch — slow enough
    # that every step sits inside the band vs the walking median
    prng = np.random.default_rng(17)
    vocab = [f"an{i}" for i in range(60)]
    phrases = [
        " ".join(vocab[j] for j in prng.integers(0, 60, 5))
        for _ in range(20)
    ]
    oov = [f"zz{i}" for i in range(200)]

    def one_doc(did, f_oov):
        # per-doc seeded rng: every run() sees the SAME stream
        rng = np.random.default_rng(did * 7919 + int(f_oov * 10_000))
        toks = []
        for k, j in enumerate(rng.integers(0, len(phrases), 4)):
            toks.extend(phrases[j].split())
            toks.append(f"uq{did}x{k}")
        return " ".join(
            oov[int(rng.integers(0, 200))] if rng.random() < f_oov else t
            for t in toks
        )

    def batch_rows(b, f_oov):
        return [(1000 * b + i, one_doc(1000 * b + i, f_oov)) for i in range(6)]

    schema = "doc_id long, text string"
    model = _lm_for(
        spark,
        [(10_000 + i, one_doc(10_000 + i, 0.0)) for i in range(40)],
        schema,
    )

    run_seq = [0]

    def run(gate):
        run_seq[0] += 1
        table = VersionedTable(str(tmp_path / f"st_{run_seq[0]}"))
        sig = VersionedTable(str(tmp_path / f"sg_{run_seq[0]}"))
        tripped = []
        for b in range(16):
            res = commit_batch_signals(
                spark,
                spark.createDataFrame(batch_rows(b, 0.012 * b), schema),
                table, sig, model, batch_id=b, gate=gate,
            )
            if res["status"] == "quarantined":
                tripped.append(b)
        return tripped

    rolling_only = {
        "min_ref": 2, "ref_window": 4, "on_drift": "quarantine",
    }
    # the frog boils: each step is inside the band vs the walking median
    assert run(rolling_only) == []

    with_anchor = {**rolling_only, "anchor_n": 3}
    tripped = run(with_anchor)
    # ...but the cumulative shift vs the FROZEN first-3 anchor trips,
    # and stays tripped (the drift only grows)
    assert tripped and all(b >= 4 for b in tripped)
    assert tripped[-1] == 15

    # raise mode surfaces the anchor breach loudly, named as such
    with pytest.raises(QualityDriftError):
        run({**rolling_only, "anchor_n": 3, "on_drift": "raise"})


def test_readmit_standalone_store_without_checkpoint(spark, tmp_path):
    """Round-12 review: a store populated by STANDALONE
    commit_batch_signals calls (no stream, run_id=None) has no
    checkpoint — readmission must neither mint one as a side effect nor
    demand a commits/<id> entry that can never exist."""
    import os

    from readwise_vector_db_spark.jobs.incremental_dedup import (
        commit_batch_rows,
        commit_batch_signals,
        readmit_quarantined,
    )

    store_root = str(tmp_path / "sa_store")
    out_dir = str(tmp_path / "sa_out")
    table = VersionedTable(store_root)
    sig_table = VersionedTable(f"{out_dir}_signals")
    rows = [(i, " ".join(f"sa{i}w{j}" for j in range(20))) for i in range(6)]
    model = _lm_for(spark, rows)
    gate = {"min_ref": 2, "on_drift": "quarantine"}
    for b in range(2):
        assert commit_batch_signals(
            spark, spark.createDataFrame(rows, "doc_id long, text string"),
            table, sig_table, model, batch_id=b, gate=gate,
        )["status"] == "committed"
    spam = spark.createDataFrame(
        [(900 + i, " ".join(["junk spam junk"] * 12) + f" uq{i}")
         for i in range(6)],
        "doc_id long, text string",
    )
    q = commit_batch_signals(
        spark, spam, table, sig_table, model, batch_id=2, gate=gate,
    )
    assert q["status"] == "quarantined"
    commit_batch_rows(spam, VersionedTable(f"{out_dir}_quarantine"), 2)

    loose = {
        "min_ref": 2, "max_ppl_ratio": 1e6,
        "max_dup_frac_delta": 1.0, "max_rep_bad_delta": 1.0,
        "max_ppl_null_delta": 1.0,
    }
    res = readmit_quarantined(spark, store_root, out_dir, 2, gate=loose)
    assert res["status"] == "readmitted"
    assert res["rows_readmitted"] == 6
    # no checkpoint dir was invented for the standalone store
    assert not os.path.isdir(f"{store_root}/_stream_checkpoint")


def test_readmit_refuses_uncommitted_batch(spark, tmp_path):
    """The redelivery guard: while the stream's checkpoint has no
    commits/<id> entry the batch may still be redelivered — readmission
    refuses instead of interleaving with the redelivered divert."""
    import os

    from readwise_vector_db_spark.jobs.incremental_dedup import (
        readmit_quarantined,
    )

    store_root = str(tmp_path / "g_store")
    out_dir = str(tmp_path / "g_out")
    ckpt = f"{store_root}/_stream_checkpoint"
    os.makedirs(f"{ckpt}/commits", exist_ok=True)
    with pytest.raises(ValueError, match="not checkpoint-committed"):
        readmit_quarantined(spark, store_root, out_dir, 5)


def test_signal_skip_is_scoped_to_the_stream_incarnation(spark, tmp_path):
    """r11 review (data-loss fix): metas outlive a deleted checkpoint,
    but batch ids reset with it — the skip (and any quarantine verdict)
    must bind to (run_id, batch_id), or a fresh run's clean batch 0
    would be silently skipped, or worse diverted, because a previous
    life's batch 0 was committed/quarantined."""
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        commit_batch_signals,
    )

    table = VersionedTable(str(tmp_path / "store"))
    sig_table = VersionedTable(str(tmp_path / "signals"))
    rows = [(i, " ".join(f"ri{i}w{j}" for j in range(20))) for i in range(6)]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    model = _lm_for(spark, rows)
    gate = {"min_ref": 2, "on_drift": "quarantine"}

    # run A: two clean batches, then a QUARANTINED spam batch 2
    for b in range(2):
        assert commit_batch_signals(
            spark, batch, table, sig_table, model, batch_id=b,
            gate=gate, run_id="run_a",
        )["status"] == "committed"
    spam = spark.createDataFrame(
        [(900 + i, " ".join(["junk spam junk"] * 12)) for i in range(6)],
        "doc_id long, text string",
    )
    assert commit_batch_signals(
        spark, spam, table, sig_table, model, batch_id=2,
        gate=gate, run_id="run_a",
    )["status"] == "quarantined"

    # same batch id, same run: the true at-least-once retry — skipped,
    # carrying run A's quarantine verdict
    retry = commit_batch_signals(
        spark, spam, table, sig_table, model, batch_id=2,
        gate=gate, run_id="run_a",
    )
    assert retry["status"] == "skipped" and retry["quarantined"]

    # fresh incarnation (checkpoint deleted → new run id, ids reset):
    # batch 0..2 must COMMIT, and the clean batch 2 must NOT inherit
    # run A's quarantine
    for b in range(3):
        res = commit_batch_signals(
            spark, batch, table, sig_table, model, batch_id=b,
            gate=gate, run_id="run_b",
        )
        assert res["status"] == "committed", (b, res)
        assert not res["quarantined"]


def test_signals_run_id_adopts_legacy_checkpoints(tmp_path):
    """r11 second review: a checkpoint that processed batches BEFORE
    run ids existed must adopt the legacy identity (None) so its
    redelivered batches still match their run_id-less metas; only a
    fresh checkpoint mints a uuid.  Idempotent either way."""
    import os

    from readwise_vector_db_spark.jobs.incremental_dedup import (
        signals_run_id_for_checkpoint,
    )

    fresh = str(tmp_path / "ckpt_fresh")
    rid = signals_run_id_for_checkpoint(fresh)
    assert rid is not None and len(rid) == 32
    assert signals_run_id_for_checkpoint(fresh) == rid  # persisted

    legacy = str(tmp_path / "ckpt_legacy")
    os.makedirs(f"{legacy}/offsets")
    with open(f"{legacy}/offsets/0", "w") as f:
        f.write("{}")
    assert signals_run_id_for_checkpoint(legacy) is None
    assert signals_run_id_for_checkpoint(legacy) is None  # stable


def test_meta_walk_skips_vacuumed_and_unpublished(spark, tmp_path):
    """r11 second review: the newest-first meta walk enumerates only
    metas that EXIST (one listdir) — vacuumed versions cost nothing,
    and a crashed writer's meta past the published latest is never
    surfaced."""
    import json as _json

    table = VersionedTable(str(tmp_path / "mw"))
    for b in range(6):
        table.commit_append(
            spark.createDataFrame([(b,)], "batch long"),
            meta={"batch_id": b}, retain_segments=2,
        )
    table.vacuum(keep=2)
    # a crashed claimant's meta for an unpublished version
    with open(table._meta_path(99), "w") as f:
        _json.dump({"batch_id": 999}, f)

    got = [m["batch_id"] for _, m in table.iter_commit_metas_desc()]
    # newest-first, never the crashed v99; batch 3's segment survives
    # vacuum because the kept v5 manifest still references it
    assert got == [5, 4, 3]
