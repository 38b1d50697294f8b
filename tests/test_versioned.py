"""Versioned table store: snapshot isolation, merge-without-collect,
time travel, vacuum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from readwise_vector_db_spark import storage
from readwise_vector_db_spark.sources.versioned import _CLAIM_GRACE_SEC, VersionedTable


@pytest.fixture()
def table(tmp_path):
    return VersionedTable(str(tmp_path / "tbl"))


def test_commit_and_read(spark, table):
    assert not table.exists()
    v1 = table.commit(spark.range(5).select("id", (F.col("id") * 10).alias("v")))
    assert v1 == 1 and table.exists()
    assert table.read(spark).count() == 5


def test_merge_is_a_pure_plan(spark, table):
    table.commit(spark.range(100).select("id", F.lit("old").alias("v")))
    updates = spark.range(50, 120).select("id", F.lit("new").alias("v"))
    v2 = table.merge(spark, updates, "id")
    assert v2 == 2
    out = {r["id"]: r["v"] for r in table.read(spark).collect()}
    assert len(out) == 120
    assert out[0] == "old" and out[50] == "new" and out[119] == "new"


def test_snapshot_isolation_and_time_travel(spark, table):
    table.commit(spark.range(3).select("id"))
    snapshot = table.read(spark)  # plan bound to v1's directory
    table.merge(spark, spark.range(3, 10).select("id"), "id")
    assert snapshot.count() == 3          # concurrent reader unaffected
    assert table.read(spark).count() == 10
    assert table.read(spark, version=1).count() == 3  # explicit time travel


def test_vacuum_keeps_newest(spark, table):
    for n in (1, 2, 3, 4):
        table.commit(spark.range(n).select("id"))
    removed = table.vacuum(keep=2)
    assert removed == [1, 2]
    assert table.read(spark).count() == 4
    assert table.read(spark, version=3).count() == 3
    with pytest.raises(Exception):
        table.read(spark, version=1).count()


def test_concurrent_commit_loses_optimistically(spark, table):
    """Two writers racing from the same base version: the second write to
    v=N+1 fails (errorifexists) instead of silently clobbering — the
    single-table optimistic-concurrency behavior Delta commits have."""
    table.commit(spark.range(3).select("id"))
    base_version = table.latest_version()
    df = spark.range(5).select("id")
    # writer A commits v2
    table.commit(df)
    # writer B, still believing latest == base_version, targets the same dir
    with pytest.raises(Exception):
        df.write.mode("errorifexists").parquet(table._version_dir(base_version + 1))


def test_asof_payload_validation(spark):
    from readwise_vector_db_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 1, "x")], "uid INT, ts INT, ev STRING")
    right = spark.createDataFrame([(1, 1, "v")], "uid INT, ts INT, ver STRING")
    with pytest.raises(ValueError):
        asof_join(left, right, key="uid", payload=[])
    with pytest.raises(ValueError):
        asof_join(left, right, key="uid", payload=["nope"])


def test_compact_preserves_data_as_new_snapshot(spark, table):
    import glob

    for i in range(4):  # 4 merge commits → several files
        table.merge(spark, spark.range(i * 10, i * 10 + 10).select("id"), "id")
    before = table.read(spark)
    v = table.compact(spark, target_files=1)
    assert v == table.latest_version()
    files = glob.glob(f"{table._version_dir(v)}/*.parquet")
    assert len(files) == 1
    assert sorted(r["id"] for r in table.read(spark).collect()) == sorted(
        r["id"] for r in before.collect()
    )


def test_commit_recovers_from_crashed_writer(spark, table):
    """A crash between the segment write and the pointer flip leaves a
    stray unreferenced v=N+1 directory; the next commit (e.g. a
    foreachBatch redelivery of the same micro-batch) must reclaim it
    instead of wedging on errorifexists forever."""
    import os

    table.commit_append(spark.range(5).select("id"))
    # simulate the crash: v2 segment written, manifest never flipped
    df = spark.range(5, 9).select("id")
    df.write.parquet(table._version_dir(2))
    with open(f"{table.root}/_SEGMENTS_00000002", "w") as f:
        f.write('["v=00000001", "v=00000002"]')
    assert table.latest_version() == 1  # pointer still at v1

    # retry of the same batch must succeed and publish exactly once
    v = table.commit_append(df)
    assert v == 2
    assert table.latest_version() == 2
    assert table.read(spark).count() == 9
    # and the plain-commit path recovers the same way
    stray = table._version_dir(3)
    os.makedirs(stray)
    open(os.path.join(stray, "_dead"), "w").close()
    assert table.commit(spark.range(3).select("id")) == 3
    assert table.read(spark).count() == 3


def test_two_threads_commit_concurrently_serialize(spark, table):
    """Round-6 (r5 verdict item 4): two racing committers must BOTH
    succeed — serialized by the version claim — with a linear history,
    never a wedged store or a clobbered peer segment."""
    import threading

    table.commit(spark.range(3).select("id"))
    results, errors = [], []

    def commit(n):
        try:
            df = spark.range(n).select("id")
            results.append((n, table.commit(df)))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=commit, args=(n,)) for n in (10, 20)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors
    assert sorted(v for _, v in results) == [2, 3]   # distinct versions
    assert table.latest_version() == 3
    # winner of v3 determines content; both snapshots readable (linear)
    counts = {v: table.read(spark, version=v).count() for v in (2, 3)}
    assert sorted(counts.values()) == [10, 20]
    # no claim debris left behind
    import os
    assert not [n for n in os.listdir(table.root) if n.startswith("_CLAIM")]


def test_concurrent_append_commits_serialize(spark, table):
    """commit_append under the claim: both appends land, and the final
    snapshot's segment list contains BOTH increments."""
    import threading

    table.commit_append(spark.range(5).select("id"))
    errors = []

    def append(lo, hi):
        try:
            table.commit_append(spark.range(lo, hi).select("id"))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=append, args=(5, 9)),
        threading.Thread(target=append, args=(9, 14)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors
    assert table.latest_version() == 3
    assert table.read(spark).count() == 14  # nothing lost: 5 + 4 + 5


def test_dead_claim_is_broken_live_claim_respected(spark, table):
    """Crash recovery must distinguish a dead writer's claim (break it,
    reclaim the version) from a live process's claim (wait)."""
    import json
    import os

    table.commit(spark.range(2).select("id"))
    # a claim owned by a pid that no longer exists → broken and reclaimed
    claim = table._claim_dir(2)
    os.mkdir(claim)
    with open(os.path.join(claim, "owner"), "w") as f:
        json.dump({"pid": 2 ** 22 + 11}, f)  # beyond default pid_max
    assert storage.lock_dead(claim, _CLAIM_GRACE_SEC)
    assert table.commit(spark.range(4).select("id")) == 2
    # our own (live) pid → respected
    claim3 = table._claim_dir(3)
    os.mkdir(claim3)
    with open(os.path.join(claim3, "owner"), "w") as f:
        json.dump({"pid": os.getpid()}, f)
    assert not storage.lock_dead(claim3, _CLAIM_GRACE_SEC)
    import shutil

    shutil.rmtree(claim3)


def test_claim_lands_atomically_with_owner(spark, table):
    """Round-7 claim-steal fix: the CAS is an os.rename of a fully-built
    staging dir, so (a) a visible claim ALWAYS carries its owner file —
    there is no ownerless window for a peer to age out and steal; (b) a
    claim already held (even by a stalled writer that has written
    nothing else yet) makes the rename fail rather than silently merge;
    (c) staging debris from a DEAD claimant is swept, a LIVE claimant's
    staging dir is left alone; (d) release verifies the claim's nonce,
    so a writer whose claim was displaced cannot delete its
    successor's."""
    import json
    import os
    import shutil

    table.commit(spark.range(2).select("id"))
    v = table._claim_version()
    try:
        claim = table._claim_dir(v)
        with open(os.path.join(claim, "owner")) as f:
            assert json.load(f)["pid"] == os.getpid()
        # (b) a second staging dir cannot rename onto the held claim
        stage = f"{claim}.tmp-{os.getpid()}-deadbeef"
        os.makedirs(stage)
        with open(os.path.join(stage, "owner"), "w") as f:
            json.dump({"pid": os.getpid()}, f)
        with pytest.raises(OSError):
            os.rename(stage, claim)
        shutil.rmtree(stage)
    finally:
        table._release_claim(v)
    # (c) sweep: dead-pid staging debris removed, live-pid left
    dead = os.path.join(table.root, f"_CLAIM_{99:08d}.tmp-{2 ** 22 + 13}-aa")
    live = os.path.join(table.root, f"_CLAIM_{98:08d}.tmp-{os.getpid()}-bb")
    os.makedirs(dead)
    os.makedirs(live)
    storage.sweep(table.root, "_CLAIM_")
    assert not os.path.exists(dead)
    assert os.path.exists(live)
    shutil.rmtree(live)
    # (d) our claim was displaced (reaped on a stale verdict, say) and a
    # successor now holds the version: our release leaves theirs alone
    v = table._claim_version()
    claim = table._claim_dir(v)
    shutil.rmtree(claim)
    os.makedirs(claim)
    with open(os.path.join(claim, "owner"), "w") as f:
        json.dump({"pid": os.getpid(), "nonce": "successor"}, f)
    table._release_claim(v)
    assert os.path.isdir(claim)
    with open(os.path.join(claim, "owner")) as f:
        assert json.load(f)["nonce"] == "successor"
    shutil.rmtree(claim)

def test_merge_conflict_detected_not_last_writer_wins(spark, table):
    """r7 verdict item 5: two merges racing from the SAME base snapshot
    must produce one winner and one loud VersionConflictError — not a
    silent last-writer-wins on content."""
    from readwise_vector_db_spark.sources.versioned import VersionConflictError

    table.commit(spark.range(3).select("id", F.lit("base").alias("v")))
    base_v = table.latest_version()
    # writer A: read base, merge, commit — wins
    merged_a = table.read(spark, version=base_v)
    a_updates = spark.range(1, 2).select("id", F.lit("A").alias("v"))
    from readwise_vector_db_spark.operators.upsert import merge_upsert

    assert table.commit(merge_upsert(merged_a, a_updates, "id"), expected_base=base_v) == 2

    # writer B: ALSO read base (stale), tries to commit → conflict
    merged_b = merge_upsert(
        table.read(spark, version=base_v),
        spark.range(2, 3).select("id", F.lit("B").alias("v")),
        "id",
    )
    with pytest.raises(VersionConflictError):
        table.commit(merged_b, expected_base=base_v)
    # store untouched by the loser: A's write is still the latest
    assert table.latest_version() == 2
    out = {r["id"]: r["v"] for r in table.read(spark).collect()}
    assert out[1] == "A" and "B" not in out.values()
    # no claim debris from the failed conditional commit
    import os

    assert not [n for n in os.listdir(table.root) if n.startswith("_CLAIM")]


def test_merge_retry_mode_preserves_both_writers(spark, table):
    """on_conflict='retry' re-reads the new latest and re-merges: both
    racing writers' keys survive."""
    import threading

    table.commit(spark.range(3).select("id", F.lit("base").alias("v")))
    errors = []
    barrier = threading.Barrier(2)

    def do_merge(tag, lo, hi):
        try:
            barrier.wait(timeout=30)
            table.merge(
                spark,
                spark.range(lo, hi).select("id", F.lit(tag).alias("v")),
                "id",
                on_conflict="retry",
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=do_merge, args=("A", 10, 13)),
        threading.Thread(target=do_merge, args=("B", 20, 23)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors
    out = {r["id"]: r["v"] for r in table.read(spark).collect()}
    # both increments present regardless of commit order
    assert all(out[i] == "A" for i in (10, 11, 12))
    assert all(out[i] == "B" for i in (20, 21, 22))
    assert all(out[i] == "base" for i in (0, 1, 2))


def test_merge_force_mode_is_blind_write(spark, table):
    """on_conflict='force' restores the pre-round-8 unconditional commit."""
    table.commit(spark.range(2).select("id", F.lit("base").alias("v")))
    v = table.merge(
        spark, spark.range(1).select("id", F.lit("F").alias("v")), "id",
        on_conflict="force",
    )
    assert v == 2
    with pytest.raises(ValueError):
        table.merge(spark, spark.range(1).select("id"), "id", on_conflict="nope")


def test_compact_conflicts_instead_of_rollback(spark, table):
    """A writer landing between compact's read and its commit must raise,
    not silently publish pre-compaction content over the writer."""
    from readwise_vector_db_spark.sources.versioned import VersionConflictError

    table.commit(spark.range(5).select("id"))
    df = table.read(spark)  # what compact would re-publish
    table.commit(spark.range(50).select("id"))  # concurrent writer lands
    with pytest.raises(VersionConflictError):
        table.commit(df.coalesce(1), expected_base=1)
    assert table.read(spark).count() == 50


def test_empty_legacy_claim_not_clobbered(spark, table):
    """ADVICE r8: POSIX rename atomically swaps onto an EMPTY target dir,
    so a legacy writer's just-mkdir'd (ownerless) claim could be silently
    replaced, double-assigning the version.  A pre-existing empty claim
    must take the dead/wait branch: fresh → wait for it; past the grace
    window → swept as debris, then claimed normally."""
    import os
    import threading
    import time as _time

    table.commit(spark.range(2).select("id"))
    claim = table._claim_dir(2)
    os.mkdir(claim)  # legacy-style empty claim, fresh mtime → LIVE

    got = []
    t = threading.Thread(
        target=lambda: got.append(table.commit(spark.range(4).select("id")))
    )
    t.start()
    _time.sleep(0.4)
    # the committer must still be waiting — the claim was not stolen
    assert not got and os.path.isdir(claim)
    os.rmdir(claim)  # legacy writer releases
    t.join(timeout=120)
    assert got == [2]
    assert table.read(spark).count() == 4

    # an empty claim OLDER than the grace window is debris: swept, no wait
    stale = table._claim_dir(3)
    os.mkdir(stale)
    old = _time.time() - 3600
    os.utime(stale, (old, old))
    assert table.commit(spark.range(6).select("id")) == 3


def test_disjoint_merges_both_land_without_conflict(spark, table, monkeypatch):
    """Round 9 (r8 verdict missing #2): two racing merges touching
    DISJOINT keys both land with on_conflict='error' and no retry mode —
    the loser proves disjointness from the winner's recorded key-bucket
    footprint and rebases — while an OVERLAPPING-key race still raises."""
    from readwise_vector_db_spark.sources.versioned import VersionConflictError

    table.commit(spark.range(3).select("id", F.lit("base").alias("v")))
    base_v = table.latest_version()

    # deterministic race: B's first latest_version() read is STALE —
    # it plans against base_v while A's merge has already published
    def stale_once_then_real():
        real = type(table).latest_version
        state = {"used": False}

        def fn():
            if not state["used"]:
                state["used"] = True
                return base_v
            return real(table)

        return fn

    # A lands a merge on keys {1} (records its bucket footprint)
    table.merge(spark, spark.range(1, 2).select("id", F.lit("A").alias("v")), "id")
    assert table.latest_version() == base_v + 1

    # B raced A from base_v with DISJOINT keys {2}: lands via rebase
    monkeypatch.setattr(table, "latest_version", stale_once_then_real())
    v = table.merge(
        spark, spark.range(2, 3).select("id", F.lit("B").alias("v")), "id"
    )
    monkeypatch.undo()
    assert v == base_v + 2
    out = {r["id"]: r["v"] for r in table.read(spark).collect()}
    assert out[1] == "A" and out[2] == "B" and out[0] == "base"

    # C races B from the pre-B snapshot with OVERLAPPING keys {2}: raises
    pre_c = base_v + 1  # the snapshot BEFORE B's merge landed
    state = {"used": False}
    real = type(table).latest_version

    def stale_c():
        if not state["used"]:
            state["used"] = True
            return pre_c
        return real(table)

    monkeypatch.setattr(table, "latest_version", stale_c)
    with pytest.raises(VersionConflictError):
        table.merge(
            spark, spark.range(2, 3).select("id", F.lit("C").alias("v")), "id"
        )
    monkeypatch.undo()
    # loser left no trace: B's value survives
    assert {r["id"]: r["v"] for r in table.read(spark).collect()}[2] == "B"

    # an unrecorded intermediate commit (no footprint) stays conservative
    plain_base = table.latest_version()
    table.commit(
        table.read(spark).withColumn("v", F.col("v")), expected_base=plain_base
    )
    state2 = {"used": False}

    def stale_d():
        if not state2["used"]:
            state2["used"] = True
            return plain_base
        return real(table)

    monkeypatch.setattr(table, "latest_version", stale_d)
    with pytest.raises(VersionConflictError):
        table.merge(
            spark, spark.range(50, 51).select("id", F.lit("D").alias("v")), "id"
        )


def test_disjoint_merges_threaded_race(spark, table):
    """The threaded twin: two genuinely concurrent DEFAULT-mode merges
    on disjoint key ranges must both land (whichever loses the claim
    rebases off the winner's recorded footprint)."""
    import threading

    table.commit(spark.range(3).select("id", F.lit("base").alias("v")))
    errors = []
    barrier = threading.Barrier(2)

    def do_merge(tag, lo, hi):
        try:
            barrier.wait(timeout=30)
            table.merge(
                spark,
                spark.range(lo, hi).select("id", F.lit(tag).alias("v")),
                "id",
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=do_merge, args=("A", 10, 13)),
        threading.Thread(target=do_merge, args=("B", 20, 23)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    out = {r["id"]: r["v"] for r in table.read(spark).collect()}
    assert all(out[i] == "A" for i in (10, 11, 12))
    assert all(out[i] == "B" for i in (20, 21, 22))


def test_force_merge_records_no_footprint(spark, table):
    """r9 review finding: a force commit is a blind whole-table write —
    it must NOT record a key footprint a racing merge could 'prove'
    disjointness against."""
    table.commit(spark.range(2).select("id", F.lit("base").alias("v")))
    table.merge(
        spark, spark.range(1).select("id", F.lit("F").alias("v")), "id",
        on_conflict="force",
    )
    assert table._touched_record(table.latest_version()) is None
    # a normal merge DOES record one
    table.merge(spark, spark.range(1).select("id", F.lit("M").alias("v")), "id")
    rec = table._touched_record(table.latest_version())
    assert rec is not None and rec["key"] == "id" and rec["buckets"]


# --- schema evolution (round 10 — r9 verdict item 2) ---------------------


def test_merge_evolves_schema_add_and_widen(spark, table):
    """The `documents`-grows-a-column story: merge updates carrying a
    new nullable column and a widened key type land as one evolved
    snapshot; pre-evolution rows read NULL for the new column."""
    table.merge(
        spark,
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)],
                              "id int, text string, n int"),
        key="id",
    )
    table.merge(
        spark,
        spark.createDataFrame([(2, "B", 25, "en"), (3, "c", 30, "fr")],
                              "id long, text string, n int, lang string"),
        key="id",
    )
    cur = table.read(spark)
    assert dict(cur.dtypes)["id"] == "bigint"
    out = {r["id"]: (r["text"], r["lang"]) for r in cur.collect()}
    assert out == {1: ("a", None), 2: ("B", "en"), 3: ("c", "fr")}


def test_pre_evolution_version_round_trips_under_own_schema(spark, table):
    """Time travel to a pre-evolution snapshot reads the OLD schema
    exactly as committed — no phantom columns, original types."""
    table.commit(spark.createDataFrame([(1, "a")], "id int, text string"))
    table.merge(
        spark,
        spark.createDataFrame([(2, "b", "en")],
                              "id long, text string, lang string"),
        key="id",
    )
    old = table.read(spark, version=1)
    assert old.columns == ["id", "text"]
    assert dict(old.dtypes)["id"] == "int"
    assert [tuple(r) for r in old.collect()] == [(1, "a")]
    assert table.read(spark).columns == ["id", "text", "lang"]


def test_schema_narrowing_rejected_loudly(spark, table):
    from readwise_vector_db_spark.sources.versioned import SchemaEvolutionError

    table.commit(spark.createDataFrame([(1, "a", 1.5)],
                                       "id long, text string, x double"))
    # dropped column
    with pytest.raises(SchemaEvolutionError, match="text"):
        table.merge(spark, spark.createDataFrame([(2, 2.5)],
                                                 "id long, x double"), key="id")
    # narrower incoming data is upcast, the TABLE schema never narrows
    table.commit(
        spark.createDataFrame([(1, "a", 1.5)], "id long, text string, x float")
    )
    assert dict(table.read(spark).dtypes)["x"] == "double"
    # incompatible type change
    with pytest.raises(SchemaEvolutionError, match="widening"):
        table.merge(spark, spark.createDataFrame([(2, "b", "oops")],
                                                 "id long, text string, x string"),
                    key="id")
    assert table.latest_version() == 2
    # explicit escape hatch still works for deliberate replacement
    table.commit(spark.createDataFrame([(1, 9)], "id long, n int"),
                 schema_mode="overwrite")
    assert table.read(spark).columns == ["id", "n"]
    assert table.latest_version() == 3


def test_append_evolution_omitted_column_reads_null(spark, table):
    """Append commits may omit existing columns (their rows are NULL)
    and add nullable ones — Delta mergeSchema semantics; old shared
    segments stay physically narrow but read under the evolved schema."""
    table.commit_append(spark.createDataFrame([(1, "a", 10)],
                                              "id long, text string, n int"))
    table.commit_append(spark.createDataFrame([(2, "b", "de")],
                                              "id long, text string, lang string"))
    cur = table.read(spark).orderBy("id").collect()
    assert cur[0]["n"] == 10 and cur[0]["lang"] is None
    assert cur[1]["n"] is None and cur[1]["lang"] == "de"
    # v1 still reads without lang
    assert table.read(spark, version=1).columns == ["id", "text", "n"]


def test_strict_mode_requires_exact_schema(spark, table):
    from readwise_vector_db_spark.sources.versioned import SchemaEvolutionError

    table.commit(spark.createDataFrame([(1, "a")], "id long, text string"))
    with pytest.raises(SchemaEvolutionError, match="strict"):
        table.commit(spark.createDataFrame([(1, "a", "en")],
                                           "id long, text string, lang string"),
                     schema_mode="strict")
    table.commit(spark.createDataFrame([(2, "b")], "id long, text string"),
                 schema_mode="strict")
    assert table.latest_version() == 2


def test_compact_and_vacuum_preserve_evolution(spark, table):
    """Compaction of an evolved table keeps the evolved schema (its
    commit re-records the sidecar), and vacuum drops retired versions'
    schema sidecars with their snapshots while kept versions still
    time-travel under their own schema."""
    import os

    table.commit_append(spark.createDataFrame([(1, "a", 10)],
                                              "id long, text string, n int"))
    table.commit_append(spark.createDataFrame([(2, "b", "de")],
                                              "id long, text string, lang string"))
    v_before = table.latest_version()
    table.compact(spark)
    cur = table.read(spark)
    assert cur.columns == ["id", "text", "n", "lang"]
    rows = {r["id"]: (r["n"], r["lang"]) for r in cur.collect()}
    assert rows == {1: (10, None), 2: (None, "de")}
    # pre-compaction version still reads under its own schema
    assert table.read(spark, version=1).columns == ["id", "text", "n"]
    removed = table.vacuum(keep=1)
    assert removed and v_before in removed or 1 in removed
    for v in removed:
        assert not os.path.exists(table._schema_path(v))
    assert os.path.exists(table._schema_path(table.latest_version()))
    assert table.read(spark).count() == 2


def test_commit_append_meta_and_retention(spark, table):
    """r11: append commits carry application metadata in a _META sidecar
    (batch ids, gate summaries) and can bound the CURRENT view to the
    newest R segments — the retention horizon for append-only telemetry
    tables; dropped segments stay time-travelable until vacuum."""
    import os

    for b in range(5):
        table.commit_append(
            spark.createDataFrame([(b, f"row{b}")], "batch long, text string"),
            meta={"batch_id": b, "summary": {"n_docs": 1}},
            retain_segments=3,
        )
    # metas round-trip, ascending
    metas = table.commit_metas()
    assert [m["batch_id"] for _, m in metas] == [0, 1, 2, 3, 4]
    assert table.commit_meta(3) == {"batch_id": 2, "summary": {"n_docs": 1}}
    # current view: newest 3 batches only (retention)
    assert sorted(
        r["batch"] for r in table.read(spark).collect()
    ) == [2, 3, 4]
    # time travel still sees the older batches under their own snapshots
    assert sorted(
        r["batch"] for r in table.read(spark, version=2).collect()
    ) == [0, 1]
    # vacuum reclaims the pre-retention segment dirs AND their metas
    removed = table.vacuum(keep=1)
    assert removed
    assert not os.path.exists(table._version_dir(1))
    assert not os.path.exists(table._version_dir(2))
    assert table.commit_meta(1) is None
    assert sorted(
        r["batch"] for r in table.read(spark).collect()
    ) == [2, 3, 4]
    with pytest.raises(Exception):
        table.read(spark, version=2).collect()


def test_crashed_append_meta_not_attributed_to_next_commit(spark, table):
    """A crashed claimant's _META sidecar must not describe a later
    commit that reuses its version number."""
    import json
    import os

    table.commit_append(
        spark.createDataFrame([(0,)], "batch long"), meta={"batch_id": 0}
    )
    # simulate a crashed writer that wrote meta for v2 but never published
    with open(table._meta_path(2), "w") as f:
        json.dump({"batch_id": 999}, f)
    table.commit_append(spark.createDataFrame([(1,)], "batch long"))
    assert table.commit_meta(2) is None  # stale record cleared, not reused
    assert [m["batch_id"] for _, m in table.commit_metas()] == [0]


def test_reap_dead_claim_never_kills_live_replacement(
    spark, table, tmp_path, monkeypatch
):
    """r11: dead-claim recovery is rename-to-grave under a reap mutex —
    a reaper whose verdict went stale (the dead claim was already
    replaced by a LIVE peer's) must leave the live claim untouched."""
    import json as _json
    import os
    import subprocess

    table.commit(spark.createDataFrame([(1,)], "id long"))
    proc = subprocess.Popen(["true"])
    proc.wait()
    claim = table._claim_dir(2)

    # 1. a genuinely dead claim is reaped
    os.makedirs(claim)
    with open(f"{claim}/owner", "w") as f:
        _json.dump({"pid": proc.pid}, f)
    assert storage.lock_dead(claim, _CLAIM_GRACE_SEC)
    storage.reap(claim, _CLAIM_GRACE_SEC)
    assert not os.path.exists(claim)

    # 2. the stale-verdict scenario: by the time the reaper acts, a
    # LIVE claim occupies the path — the in-mutex re-verify must
    # refuse, leaving it intact
    os.makedirs(claim)
    with open(f"{claim}/owner", "w") as f:
        _json.dump({"pid": os.getpid()}, f)  # live (this process)
    renames = []
    real_rename = os.rename
    monkeypatch.setattr(
        os, "rename", lambda a, b: (renames.append(a), real_rename(a, b))[1]
    )
    storage.reap(claim, _CLAIM_GRACE_SEC)
    monkeypatch.undo()
    assert os.path.exists(claim)  # untouched
    assert renames == []  # deadness re-verified before any grave rename
    with open(f"{claim}/owner") as f:
        assert _json.load(f)["pid"] == os.getpid()

    # 3. a reaper that crashed mid-reap leaves only a grave, whose name
    # embeds its pid — the next writer's sweep clears it
    grave = f"{claim}.tmp-{proc.pid}-gravedeadbeef"
    os.makedirs(grave)
    storage.sweep(table.root, "_CLAIM_")
    assert not os.path.exists(grave)
    # and the claim itself reaps normally once its holder dies
    with open(f"{claim}/owner", "w") as f:
        _json.dump({"pid": proc.pid}, f)  # now dead again
    storage.reap(claim, _CLAIM_GRACE_SEC)
    assert not os.path.exists(claim)


def test_dead_claim_reap_is_race_safe(table):
    """The claim-side twin of test_dead_lease_reap_is_race_safe: eight
    threads race to reap one dead claim and then cycle claim/release
    on the same version under contention — exclusion holds at every
    instant, and a crashed reaper's grave is swept, never waited out."""
    import json as _json
    import os
    import subprocess
    import threading
    import time as _time

    proc = subprocess.Popen(["true"])
    proc.wait()
    claim = table._claim_dir(1)
    os.makedirs(claim)
    with open(f"{claim}/owner", "w") as f:
        _json.dump({"pid": proc.pid}, f)
    os.makedirs(f"{claim}.grave-{proc.pid}-deadbeef")

    active = {"n": 0, "max": 0, "cycles": 0}
    lock = threading.Lock()
    errors: list[BaseException] = []

    def worker():
        try:
            for _ in range(6):
                v = table._claim_version()
                try:
                    with lock:
                        active["n"] += 1
                        active["max"] = max(active["max"], active["n"])
                        active["cycles"] += 1
                    _time.sleep(0.01)
                    with lock:
                        active["n"] -= 1
                finally:
                    table._release_claim(v)
        except BaseException as e:  # noqa: BLE001 — surface to the test
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert active["cycles"] == 48
    assert active["max"] == 1  # never two holders
    assert not os.path.isdir(claim)
    assert not os.path.isdir(f"{claim}.grave-{proc.pid}-deadbeef")
