"""Maintenance lease + autovacuum policy (layout.py maintenance_lease,
maintenance.maintain_index) — round 11, r10 verdict item 1."""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time

import numpy as np
import pytest

from readwise_vector_db_spark.layout import (
    MaintenanceBusy,
    maintenance_lease,
)
from readwise_vector_db_spark.maintenance import (
    MaintenancePolicy,
    maintain_index,
    read_maintenance_log,
)
from readwise_vector_db_spark.operators import pq
from readwise_vector_db_spark.operators import similarity as sim


# --- lease semantics ----------------------------------------------------------


def test_lease_refuses_waits_and_reenters(tmp_path):
    path = str(tmp_path / "layout")
    results: list[str] = []

    with maintenance_lease(path, "outer"):
        # a second THREAD of the same process is a foreign maintainer
        def try_acquire():
            try:
                with maintenance_lease(path, "intruder"):
                    results.append("acquired")
            except MaintenanceBusy:
                results.append("busy")

        t = threading.Thread(target=try_acquire)
        t.start()
        t.join()
        assert results == ["busy"]

        # the SAME thread re-enters its own lease (composed maintainers)
        with maintenance_lease(path, "nested"):
            assert os.path.isdir(f"{path}/_MAINT_LEASE")
        # inner exit must not release the outer holder's lease
        assert os.path.isdir(f"{path}/_MAINT_LEASE")

        # wait=N blocks until the holder finishes, then succeeds
        def wait_acquire():
            with maintenance_lease(path, "patient", wait=10.0):
                results.append("waited")

        t2 = threading.Thread(target=wait_acquire)
        t2.start()
        time.sleep(0.3)
        assert results == ["busy"]  # still held — waiter is polling
    t2.join(timeout=10)
    assert results == ["busy", "waited"]
    assert not os.path.isdir(f"{path}/_MAINT_LEASE")


def test_crashed_lease_is_recovered(tmp_path):
    """A lease whose owning pid is gone is debris — the next acquirer
    sweeps it without operator action (pid-liveness, the versioned
    store's claim-recovery rule)."""
    path = str(tmp_path / "layout")
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead_pid = proc.pid
    lease = f"{path}/_MAINT_LEASE"
    os.makedirs(lease)
    with open(f"{lease}/owner", "w") as f:
        json.dump({"pid": dead_pid, "purpose": "compact", "ts": 0}, f)
    # crashed stage dirs with a dead pid in the name are swept too
    stage = f"{path}/_MAINT_LEASE.tmp-{dead_pid}-deadbeef"
    os.makedirs(stage)

    with maintenance_lease(path, "recovered"):
        with open(f"{lease}/owner") as f:
            assert json.load(f)["pid"] == os.getpid()
    assert not os.path.isdir(lease)
    assert not os.path.isdir(stage)


def test_empty_legacy_lease_not_clobbered(tmp_path):
    """POSIX rename atomically replaces an EMPTY target dir, so a bare
    (ownerless) lease dir — a foreign maintainer's just-mkdir'd lease —
    must block the acquire instead of being silently replaced: fresh →
    busy; older than the grace window → swept as debris, then taken."""
    path = str(tmp_path / "layout")
    lease = f"{path}/_MAINT_LEASE"
    os.makedirs(lease)
    with pytest.raises(MaintenanceBusy):
        with maintenance_lease(path, "intruder"):
            pass
    assert os.path.isdir(lease) and os.listdir(lease) == []

    old = time.time() - 3600
    os.utime(lease, (old, old))
    with maintenance_lease(path, "recovered"):
        with open(f"{lease}/owner") as f:
            assert json.load(f)["pid"] == os.getpid()
    assert not os.path.isdir(lease)


# --- index fixtures -----------------------------------------------------------


def _to_df(spark, x, id0=0):
    return spark.createDataFrame(
        [(id0 + i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<float>",
    )


def _blobs(n, d, n_centers, seed, sigma=0.4):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_centers, d)).astype(np.float32)
    return centers[rng.integers(0, n_centers, n)] + sigma * rng.standard_normal(
        (n, d)
    ).astype(np.float32)


@pytest.fixture()
def ivfpq_layout(spark, tmp_path):
    d, n = 32, 2400
    base = _blobs(n, d, 10, seed=3)
    base_df = _to_df(spark, base)
    _, cents = sim.build_ivf_index(base_df, n_clusters=16)
    books = pq.train_pq_codebooks(base_df, m=8, k=32, sample_rows=2400)
    path = str(tmp_path / "ivfpq")
    pq.save_ivfpq_index(
        pq.ivfpq_encode(base_df, cents, books), cents, books, path,
        base_vecs=base_df, rf_ks=(10,),
    )
    return path, base_df, cents, books, d, n


# --- structural exclusion on the real maintainers -----------------------------


def test_maintainers_exclude_under_lease(spark, ivfpq_layout):
    """The r10 docstring contract ('don't run two concurrently') is now
    structure: every maintainer refuses while the lease is held, and
    proceeds once it's released (wait)."""
    path, base_df, cents, books, d, n = ivfpq_layout
    inc = _to_df(spark, _blobs(40, d, 10, seed=3), id0=10_000)

    with maintenance_lease(path, "simulated-compactor"):
        hold = threading.Thread(target=lambda: None)  # placeholder
        err = {}

        def in_thread(name, fn):
            def run():
                try:
                    fn()
                    err[name] = None
                except MaintenanceBusy as e:
                    err[name] = e

            t = threading.Thread(target=run)
            t.start()
            t.join()

        in_thread("compact", lambda: pq.compact_index(spark, path))
        in_thread(
            "append",
            lambda: pq.append_to_ivfpq_index(
                inc, path, max_distortion_ratio=None
            ),
        )
        in_thread(
            "recluster",
            lambda: pq.recluster_cells(spark, path, cells=[0], n_splits=2),
        )
        in_thread(
            "maintain", lambda: maintain_index(spark, path, execute=False)
        )
        assert all(isinstance(e, MaintenanceBusy) for e in err.values()), err
        hold.start(), hold.join()

    # released: the same append now lands (waits-or-refuses — both shown)
    releaser_done = threading.Event()

    def hold_briefly():
        with maintenance_lease(path, "brief"):
            time.sleep(0.4)
        releaser_done.set()

    t = threading.Thread(target=hold_briefly)
    t.start()
    time.sleep(0.1)
    assert (
        pq.append_to_ivfpq_index(
            inc, path, max_distortion_ratio=None, lease_wait=10.0
        )
        == 40
    )
    t.join()
    assert releaser_done.is_set()


# --- the policy ----------------------------------------------------------------


def test_maintain_index_policy_walk(spark, ivfpq_layout):
    """The verdict's done-criterion walk: healthy → none; drifted
    force-append → recluster (executed, gate restored); tombstone
    buildup → compact (executed, dead weight gone); healthy again →
    none.  Every decision lands in the layout's maintenance log."""
    path, base_df, cents, books, d, n = ivfpq_layout

    # 1. healthy layout: nothing to do
    rec = maintain_index(spark, path)
    assert rec["action"] == "none" and not rec["executed"]
    assert rec["measurements"]["tombstone_fraction"] == 0.0

    # 2. a LOCALIZED drifted source force-appended (gate bypassed
    # upstream): two shifted modes — the regime recluster is FOR; a
    # whole-distribution shift is the rebuild test below
    drifted = _blobs(400, d, 2, seed=91)
    drifted_df = _to_df(spark, drifted, id0=1_000_000)
    with pytest.raises(ValueError, match="stale"):
        pq.append_to_ivfpq_index(drifted_df, path)  # gate catches it...
    pq.append_to_ivfpq_index(drifted_df, path, max_distortion_ratio=None)

    # the autovacuum model: each run measures, repairs ONE thing, and
    # the next run re-measures — loop to convergence like a vacuum
    # daemon's successive passes.  The offending increment is still in
    # hand, so the hint path trains sub-centroids on raw directions
    # (codes-only remediation is bounded by reconstruction fidelity —
    # see maintain_index's docstring and the codes-only test below).
    rec2 = maintain_index(spark, path, drifted_vecs=drifted_df)
    assert rec2["action"] == "recluster" and rec2["executed"]
    assert rec2["measurements"]["drifted_cells"]
    assert rec2["measurements"]["drift_hint"] is True
    assert rec2["result"]["rows_rewritten"] > 0
    assert 0 < rec2["result"]["bytes_rewritten"] < rec2["result"]["bytes_total"]
    n_reclusters = 1
    for _ in range(4):
        r = maintain_index(spark, path, drifted_vecs=drifted_df)
        if r["action"] == "none":
            break
        assert r["action"] == "recluster"
        n_reclusters += 1
    else:
        pytest.fail("maintenance never converged to 'none'")
    # the repair restored the append gate for the drifted distribution
    more = _to_df(spark, _blobs(60, d, 2, seed=91), id0=2_000_000)
    assert pq.append_to_ivfpq_index(more, path) == 60

    # 3. tombstone buildup past the policy threshold → compact
    ids = [int(r["vec_id"]) for r in base_df.select("vec_id").collect()]
    pq.delete_from_index(spark, path, ids[: n // 2])
    rec3 = maintain_index(spark, path)
    assert rec3["action"] == "compact" and rec3["executed"]
    assert rec3["measurements"]["tombstone_fraction"] > 0.2
    assert not os.path.isdir(f"{path}/tombstones")

    # 4. healthy again
    rec4 = maintain_index(spark, path)
    assert rec4["action"] == "none"

    log = read_maintenance_log(path)
    assert [r["action"] for r in log] == (
        ["none"] + ["recluster"] * n_reclusters + ["none", "compact", "none"]
    )
    assert all(r["family"] == "ivfpq" for r in log)


@pytest.mark.slow  # recall/distortion quality stat (r13: excluded from the default run)
def test_maintain_codes_only_recluster_improves_not_restores(spark, ivfpq_layout):
    """The honest bound on hint-less remediation: a codes layout stores
    reconstructions' worth of direction information, so the autovacuum
    recluster IMPROVES the drifted layout's coarse fit (measured here:
    the gate statistic drops materially) but cannot fully restore the
    append gate — reconstructions of out-of-distribution rows are
    direction-biased toward the base manifold.  The docstring quotes
    the measured floor; this test pins the improvement AND the residual
    so neither silently changes."""
    path, base_df, cents, books, d, n = ivfpq_layout
    drifted = _blobs(400, d, 2, seed=91)
    drifted_df = _to_df(spark, drifted, id0=1_000_000)
    pq.append_to_ivfpq_index(drifted_df, path, max_distortion_ratio=None)

    def gate_ratio():
        import json as _json

        _, cents_now, _ = pq.load_ivfpq_index(spark, path)
        with open(f"{path}/distortion.json") as f:
            base = float(_json.load(f)["base_coarse_distortion"])
        return pq.coarse_distortion(drifted_df, cents_now) / base

    before = gate_ratio()
    assert before > 4.0  # badly drifted
    # codes-only: no drifted_vecs hint.  8 rounds of headroom: the
    # r12 interpolated median (ADVICE fix) anchors the self-calibrated
    # baseline slightly lower than the old upper-median, which flags
    # one borderline cell longer — measured convergence moved 5→6
    # rounds on this fixture
    for _ in range(8):
        if maintain_index(spark, path)["action"] == "none":
            break
    else:
        pytest.fail("codes-only maintenance never converged")
    after = gate_ratio()
    assert after < before * 0.7   # material improvement...
    assert after > 1.0            # ...but not full restoration (honest)


def test_maintain_index_rebuild_recommended_not_executed(spark, ivfpq_layout):
    """When drift covers more cells than the policy's rebuild fraction,
    splitting chases a moved distribution — the decision is 'rebuild',
    recorded with a reason, and the layout is NOT touched (retraining
    needs the raw corpus the codes layout doesn't store)."""
    path, base_df, cents, books, d, n = ivfpq_layout
    drifted_df = _to_df(spark, _blobs(1200, d, 8, seed=91), id0=1_000_000)
    pq.append_to_ivfpq_index(drifted_df, path, max_distortion_ratio=None)

    before = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(f"{path}/codes")
        for f in fs
    )
    rec = maintain_index(
        spark, path, policy=MaintenancePolicy(rebuild_cell_frac=0.0)
    )
    assert rec["action"] == "rebuild" and not rec["executed"]
    assert any("retrain" in s for s in rec["recommendations"])
    after = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(f"{path}/codes")
        for f in fs
    )
    assert before == after  # dry decision: no partition touched


def test_maintain_index_dry_run_and_rf_note(spark, ivfpq_layout):
    """execute=False is the ANALYZE mode: the decision is recorded but
    nothing runs; rescore-factor growth past the policy's note
    threshold surfaces as a recommendation."""
    path, base_df, cents, books, d, n = ivfpq_layout
    inc = _to_df(spark, _blobs(n, d, 10, seed=3), id0=5_000_000)
    pq.append_to_ivfpq_index(inc, path, max_distortion_ratio=None)

    ids = [int(r["vec_id"]) for r in base_df.select("vec_id").collect()]
    pq.delete_from_index(spark, path, ids[: n // 2])
    rec = maintain_index(
        spark, path, execute=False,
        policy=MaintenancePolicy(rf_growth_note=1.5),
    )
    assert rec["action"] == "compact" and not rec["executed"]
    assert os.path.isdir(f"{path}/tombstones")  # untouched — dry run
    assert rec["measurements"]["rf_growth"] >= 1.9
    assert any("size_rescore_factors" in s for s in rec["recommendations"])


def test_maintain_index_ivf_family(spark, tmp_path):
    """The raw-vector family walks the same ladder through its own
    loaders/repairers (assigned subdir, exact re-assignment)."""
    d, n = 32, 2000
    base = _blobs(n, d, 10, seed=7)
    base_df = _to_df(spark, base)
    assigned, cents = sim.build_ivf_index(base_df, n_clusters=16)
    path = str(tmp_path / "ivf")
    sim.save_ivf_index(assigned, cents, path)

    rec = maintain_index(spark, path)
    assert rec["family"] == "ivf" and rec["action"] == "none"

    # drifted rows appended straight into the layout (ivf stores raw
    # vectors; append = encode-assign + append write)
    drifted = _blobs(1000, d, 6, seed=55)
    drifted_df = _to_df(spark, drifted, id0=1_000_000)
    from readwise_vector_db_spark.operators.similarity import assign_cells

    assign_cells(drifted_df, cents, method="blas").write.mode(
        "append"
    ).partitionBy("cluster").parquet(f"{path}/assigned")

    rec2 = maintain_index(spark, path)
    assert rec2["action"] == "recluster" and rec2["executed"]
    assert rec2["result"]["rows_rewritten"] > 0
    for _ in range(4):  # converge, autovacuum-style
        if maintain_index(spark, path)["action"] == "none":
            break
    else:
        pytest.fail("ivf maintenance never converged")

    ids = [int(r["vec_id"]) for r in base_df.select("vec_id").collect()]
    pq.delete_from_index(spark, path, ids[: (n + 1000) // 3])
    rec3 = maintain_index(spark, path)
    assert rec3["action"] == "compact" and rec3["executed"]
    acts = [r["action"] for r in read_maintenance_log(path)]
    assert acts[0] == "none" and acts[1] == "recluster"
    assert acts[-2:] == ["none", "compact"]


def test_maintain_index_flat_pq_compacts_only(spark, tmp_path):
    """The flat pq family has no coarse structure — the ladder reduces
    to tombstones-vs-none."""
    d, n = 32, 1200
    base_df = _to_df(spark, _blobs(n, d, 8, seed=11))
    books = pq.train_pq_codebooks(base_df, m=8, k=32, sample_rows=1200)
    path = str(tmp_path / "pq_flat")
    pq.save_pq_index(pq.pq_encode(base_df, books), books, path)

    rec = maintain_index(spark, path)
    assert rec["family"] == "pq" and rec["action"] == "none"
    assert "drifted_cells" not in rec["measurements"]

    pq.delete_from_index(spark, path, list(range(n // 2)))
    rec2 = maintain_index(spark, path)
    assert rec2["action"] == "compact" and rec2["executed"]
    assert rec2["result"]["rows_surviving"] == n - n // 2


@pytest.mark.slow  # 8-thread lease stress (r13: excluded from the default run)
def test_dead_lease_reap_is_race_safe(tmp_path):
    """r11 review: recovering a crashed holder's lease must never
    delete a LIVE lease that landed in between (check-then-rmtree
    TOCTOU).  Eight threads race to reap one dead lease and then cycle
    acquire/release under contention — mutual exclusion must hold at
    every instant, and a crashed REAPER's mutex must not wedge
    recovery."""
    import subprocess

    path = str(tmp_path / "layout")
    proc = subprocess.Popen(["true"])
    proc.wait()
    lease = f"{path}/_MAINT_LEASE"
    os.makedirs(lease)
    with open(f"{lease}/owner", "w") as f:
        json.dump({"pid": proc.pid, "purpose": "crashed", "ts": 0}, f)
    # a crashed reaper's grave (dead pid in the name) must be swept,
    # never waited out
    os.makedirs(f"{lease}.grave-{proc.pid}-deadbeef")

    active = {"n": 0, "max": 0, "cycles": 0}
    lock = threading.Lock()
    errors: list[BaseException] = []

    def worker():
        try:
            for _ in range(6):
                with maintenance_lease(path, "stress", wait=30.0):
                    with lock:
                        active["n"] += 1
                        active["max"] = max(active["max"], active["n"])
                        active["cycles"] += 1
                    time.sleep(0.01)
                    with lock:
                        active["n"] -= 1
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
    assert not os.path.isdir(lease)
    assert not os.path.isdir(f"{lease}.grave-{proc.pid}-deadbeef")


def test_cli_maintain_and_log(spark, tmp_path, capsys):
    """rwv-spark maintain: dry-run decides without touching the layout,
    a real run executes, --log replays the decisions."""
    import json as _json

    import readwise_vector_db_spark.main as cli

    d, n = 32, 1200
    base_df = _to_df(spark, _blobs(n, d, 8, seed=21))
    books = pq.train_pq_codebooks(base_df, m=8, k=32, sample_rows=1200)
    path = str(tmp_path / "cli_pq")
    pq.save_pq_index(pq.pq_encode(base_df, books), books, path)
    pq.delete_from_index(spark, path, list(range(n // 2)))

    rc = cli.main(["maintain", "--path", path, "--dry-run"])
    assert rc == 0
    rec = _json.loads(capsys.readouterr().out)
    assert rec["action"] == "compact" and not rec["executed"]
    assert os.path.isdir(f"{path}/tombstones")  # dry: untouched

    rc = cli.main(["maintain", "--path", path])
    assert rc == 0
    rec = _json.loads(capsys.readouterr().out)
    assert rec["action"] == "compact" and rec["executed"]
    assert not os.path.isdir(f"{path}/tombstones")

    rc = cli.main(["maintain", "--path", path, "--log"])
    assert rc == 0
    lines = [
        _json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln
    ]
    assert [r["action"] for r in lines] == ["compact", "compact", "none"][:len(lines)]


def test_cli_maintain_all_sweeps_every_structure(spark, tmp_path, capsys):
    """Round 12 (r11 verdict item 3): ONE janitor verb — `maintain
    --all` discovers every persisted structure under a root (index
    layouts AND versioned stores), runs the matching janitor on each,
    emits one decision-record schema throughout, and `--all --log`
    replays every structure's log annotated with its path."""
    import json as _json

    import readwise_vector_db_spark.main as cli
    from readwise_vector_db_spark.jobs.incremental_dedup import (
        dedup_batch_against_store,
    )
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    root = str(tmp_path / "estate")
    d, n = 32, 1200
    base_df = _to_df(spark, _blobs(n, d, 8, seed=21))

    # structure 1: a flat pq layout with tombstone buildup → compact
    books = pq.train_pq_codebooks(base_df, m=8, k=32, sample_rows=1200)
    pq_path = f"{root}/indexes/pq"
    pq.save_pq_index(pq.pq_encode(base_df, books), books, pq_path)
    pq.delete_from_index(spark, pq_path, list(range(n // 2)))

    # structure 2: a healthy ivfpq layout → none
    _, cents = sim.build_ivf_index(base_df, n_clusters=8)
    ivfpq_path = f"{root}/indexes/ivfpq"
    pq.save_ivfpq_index(
        pq.ivfpq_encode(base_df, cents, books), cents, books, ivfpq_path,
        base_vecs=base_df, rf_ks=(), reservoir_per_cell=20,
    )

    # structure 3: an incremental dedup store (versioned table)
    store_root = f"{root}/stores/dedup"
    docs = spark.createDataFrame(
        [(i, " ".join(f"ma{i}w{j}" for j in range(12))) for i in range(20)],
        "doc_id long, text string",
    )
    dedup_batch_against_store(spark, docs, VersionedTable(store_root))

    rc = cli.main(["maintain", "--path", root, "--all"])
    assert rc == 0
    recs = [
        _json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln
    ]
    by_path = {r["path"]: r for r in recs}
    assert set(by_path) == {pq_path, ivfpq_path, store_root}
    # one record schema across structures
    for r in recs:
        assert {
            "ts", "family", "action", "executed", "measurements",
            "policy", "result", "recommendations", "path",
        } <= set(r)
    assert by_path[pq_path]["action"] == "compact"
    assert by_path[pq_path]["executed"]
    assert by_path[ivfpq_path]["action"] == "none"
    assert by_path[store_root]["family"] == "dedup_store"

    # a PARALLEL second sweep (round-12 residue item 4): per-structure
    # leases isolate the workers; all three structures now read healthy
    # and the results stay in discovery order
    rc = cli.main(["maintain", "--path", root, "--all", "--parallel", "4"])
    assert rc == 0
    recs2 = [
        _json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln
    ]
    assert [r["path"] for r in recs2] == sorted(r["path"] for r in recs2)
    assert all(r["action"] in ("none", "rebuild_index") for r in recs2), recs2

    # the sweep-level log view: every structure's own log, annotated
    rc = cli.main(["maintain", "--path", root, "--all", "--log"])
    assert rc == 0
    logs = [
        _json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln
    ]
    assert {r["path"] for r in logs} == {pq_path, ivfpq_path, store_root}
    assert all("action" in r and "family" in r for r in logs)


def test_rebuild_executes_blue_green_for_ivf(spark, tmp_path):
    """r11: the rebuild action EXECUTES for the raw-vector family when
    given a target — a fresh k-means over the resident rows saved as a
    NEW layout (blue/green; the drifted original is never mutated
    mid-retrain), healthy by the policy's own measure."""
    from readwise_vector_db_spark.layout import read_stamp
    from readwise_vector_db_spark.operators.similarity import (
        assign_cells,
        load_ivf_index,
    )

    d, n = 32, 2000
    base_df = _to_df(spark, _blobs(n, d, 10, seed=7))
    assigned, cents = sim.build_ivf_index(base_df, n_clusters=16)
    path = str(tmp_path / "ivf_rb")
    sim.save_ivf_index(assigned, cents, path)
    # drift in SEVERAL cells (3 shifted modes, minority of rows so the
    # median stays anchored to the healthy majority) + a policy whose
    # rebuild threshold those cells exceed — the "splitting would chase
    # it" verdict.  (A true whole-distribution append hides from ANY
    # self-calibration — documented and separately asserted below.)
    n_drift = 400
    drifted_df = _to_df(spark, _blobs(n_drift, d, 3, seed=77), id0=1_000_000)
    assign_cells(drifted_df, cents, method="blas").write.mode(
        "append"
    ).partitionBy("cluster").parquet(f"{path}/assigned")

    out = str(tmp_path / "ivf_rebuilt")
    rec = maintain_index(
        spark, path, policy=MaintenancePolicy(rebuild_cell_frac=0.05),
        rebuild_to=out,
    )
    assert rec["action"] == "rebuild" and rec["executed"]
    assert rec["result"]["rows"] == n + n_drift
    assert read_stamp(out)["family"] == "ivf"
    rebuilt, cents2 = load_ivf_index(spark, out)
    assert rebuilt.count() == n + n_drift and len(cents2) == 16
    # the fresh layout is healthy by the policy's own measure (retrained
    # centroids cover BOTH mixtures), while the original is untouched
    rec2 = maintain_index(spark, out)
    assert rec2["action"] in ("none", "recluster")  # no rebuild verdict
    orig, cents_orig = load_ivf_index(spark, path)
    assert len(cents_orig) == 16 and orig.count() == n + n_drift
    # without a target the action stays a recommendation
    rec3 = maintain_index(
        spark, path, policy=MaintenancePolicy(rebuild_cell_frac=0.05)
    )
    assert rec3["action"] == "rebuild" and not rec3["executed"]
    assert any("rebuild_to" in s for s in rec3["recommendations"])


def test_sweep_preserves_live_owner_grave(tmp_path):
    """r11 ADVICE: the reap protocol's restore-lost path preserves a
    DISPLACED LIVE lease inside a grave and raises; once the raising
    (reaper) process exits, the pid-named sweep must NOT erase that
    evidence — only graves whose OWNER is dead too are debris."""
    from readwise_vector_db_spark.storage import sweep

    root = str(tmp_path / "layout")
    os.makedirs(root)
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead = proc.pid

    # grave named by the DEAD reaper, holding a LIVE displaced owner
    grave = f"{root}/_MAINT_LEASE.grave-{dead}-deadbeef"
    os.makedirs(grave)
    with open(f"{grave}/owner", "w") as f:
        json.dump({"pid": os.getpid(), "purpose": "displaced", "ts": 0}, f)
    sweep(root, "_MAINT_LEASE")
    assert os.path.isdir(grave)  # evidence preserved

    # same grave shape with a DEAD owner is debris — swept
    grave2 = f"{root}/_MAINT_LEASE.grave-{dead}-cafebabe"
    os.makedirs(grave2)
    with open(f"{grave2}/owner", "w") as f:
        json.dump({"pid": dead, "purpose": "gone", "ts": 0}, f)
    sweep(root, "_MAINT_LEASE")
    assert not os.path.isdir(grave2)


# --- the raw-vector reservoir + executable ivfpq rebuild (round 12) ----------


def _bounded_layout(spark, tmp_path, per_cell=40):
    """An ivfpq layout with a deliberately BOUNDED reservoir (16 cells ×
    40 = 640 slots against 2400 base rows, ~27 %) so the rebuild tests
    measure recovery from a genuine sample, not a full-corpus retain."""
    d, n = 32, 2400
    base = _blobs(n, d, 10, seed=3)
    base_df = _to_df(spark, base)
    _, cents = sim.build_ivf_index(base_df, n_clusters=16)
    books = pq.train_pq_codebooks(base_df, m=8, k=32, sample_rows=2400)
    path = str(tmp_path / "ivfpq_res")
    pq.save_ivfpq_index(
        pq.ivfpq_encode(base_df, cents, books), cents, books, path,
        base_vecs=base_df, rf_ks=(), reservoir_per_cell=per_cell,
    )
    return path, base_df, base, d, n


def test_reservoir_capture_bounds_and_append(spark, tmp_path):
    """The reservoir is bounded per cell at build time, appends extend
    it with the increment's RAW vectors (the fidelity codes can't
    provide), and the load-time trim keeps the per-cell bound over the
    union of capture events."""
    from pyspark.sql import functions as F

    path, base_df, base, d, n = _bounded_layout(spark, tmp_path)
    assert pq.reservoir_per_cell(path) == 40
    res = pq._load_reservoir(spark, path)
    per_cell = {
        int(r["cluster"]): int(r["n"])
        for r in res.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_cell and all(v <= 40 for v in per_cell.values())

    drifted = _blobs(400, d, 2, seed=91)
    pq.append_to_ivfpq_index(
        _to_df(spark, drifted, id0=1_000_000), path, max_distortion_ratio=None
    )
    res2 = pq._load_reservoir(spark, path)
    per_cell2 = {
        int(r["cluster"]): int(r["n"])
        for r in res2.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(v <= 40 for v in per_cell2.values())
    appended = res2.filter(F.col("vec_id") >= 1_000_000)
    assert appended.count() > 0  # the drifted increment is represented
    # ...and RAW: the stored vector is the appended one bit-for-bit
    row = appended.first()
    np.testing.assert_allclose(
        np.asarray(row["vec"], dtype=np.float32),
        drifted[int(row["vec_id"]) - 1_000_000],
        rtol=0, atol=0,
    )


def test_reservoir_tombstones_and_compaction_purge(spark, tmp_path):
    """Deleted ids disappear from the reservoir VIEW immediately (so a
    rebuild can't resurrect them) and from the reservoir FILES at
    compaction (the right-to-be-forgotten contract extends to the raw
    bytes the reservoir retains)."""
    from pyspark.sql import functions as F

    path, base_df, base, d, n = _bounded_layout(spark, tmp_path)
    victims = [
        int(r["vec_id"])
        for r in pq._load_reservoir(spark, path).limit(5).collect()
    ]
    pq.delete_from_index(spark, path, victims)
    res = pq._load_reservoir(spark, path)
    assert res.filter(F.col("vec_id").isin(victims)).count() == 0
    # physical purge rides the codes compaction
    pq.compact_index(spark, path)
    raw = spark.read.parquet(f"{path}/reservoir")
    assert raw.filter(F.col("vec_id").isin(victims)).count() == 0
    assert pq.reservoir_per_cell(path) == 40  # meta survives the swap
    assert pq._load_reservoir(spark, path).count() > 0


def test_compaction_recovers_interrupted_reservoir_purge(spark, tmp_path):
    """Round-12 review: a crash between the reservoir purge's two
    renames must not let the NEXT compaction skip the purge (its isdir
    gate would see no reservoir) while still dropping the tombstone
    files — that would retain deleted ids' raw vectors forever and
    resurrect them on rebuild.  Compaction now self-heals the
    interrupted swap first, so the purge completes."""
    import shutil

    path, base_df, base, d, n = _bounded_layout(spark, tmp_path)
    victims = [
        int(r["vec_id"])
        for r in pq._load_reservoir(spark, path).limit(4).collect()
    ]

    # simulate the crash window: stage fully written + intent committed,
    # reservoir renamed away, stage NOT yet renamed in
    stage_name = ".reservoir_compact_999_1"
    shutil.copytree(f"{path}/reservoir", f"{path}/{stage_name}")
    with open(f"{path}/.reservoir_swap_intent", "w") as f:
        f.write(stage_name)
    os.rename(f"{path}/reservoir", f"{path}/.reservoir_old_999_1")

    pq.delete_from_index(spark, path, victims)
    pq.compact_index(spark, path)

    raw = spark.read.parquet(f"{path}/reservoir")  # bypasses tombstones
    from pyspark.sql import functions as F

    assert raw.filter(F.col("vec_id").isin(victims)).count() == 0
    assert not os.path.isdir(f"{path}/tombstones")
    assert pq.reservoir_per_cell(path) == 40  # meta survived the recovery


@pytest.mark.slow  # full blue-green ivfpq rebuild e2e (r13: excluded from the default run)
def test_maintain_index_rebuild_executes_for_ivfpq(spark, tmp_path):
    """The r11 verdict's top item, end-to-end: a whole-distribution
    drifted ivfpq layout's policy decision 'rebuild' EXECUTES blue/green
    from the bounded raw reservoir, measured probe recall on the drifted
    distribution recovers, and the new layout's append gate accepts the
    distribution the old one rejected.  The original layout is never
    mutated."""
    path, base_df, base, d, n = _bounded_layout(spark, tmp_path)
    n_drift = 1200
    drifted = _blobs(n_drift, d, 8, seed=91)
    pq.append_to_ivfpq_index(
        _to_df(spark, drifted, id0=1_000_000), path, max_distortion_ratio=None
    )

    corpus = np.concatenate([base, drifted]).astype(np.float64)
    ids = np.concatenate([np.arange(n), 1_000_000 + np.arange(n_drift)])
    corpus_n = corpus / np.maximum(
        np.linalg.norm(corpus, axis=1, keepdims=True), 1e-12
    )
    corpus_df = base_df.unionByName(
        _to_df(spark, drifted, id0=1_000_000)
    ).persist()
    corpus_df.count()
    rng = np.random.default_rng(5)
    n_q = 12
    queries = drifted[:n_q] + 0.05 * rng.standard_normal((n_q, d)).astype(
        np.float32
    )

    def recall10(layout_path):
        # the SERVING configuration: two-stage probe, exact rescore
        # against the raw base table (which the engine always has — the
        # index is derived).  Recall then measures what the index owns:
        # whether the true neighbors reach the candidate set through
        # the coarse cells + ADC ranking.
        codes, cents, books = pq.load_ivfpq_index(spark, layout_path)
        rot = pq.load_rotation(spark, layout_path)
        hits = 0
        for q in queries:
            got = {
                int(r["vec_id"])
                for r in pq.ivfpq_search(
                    codes, cents, books, [float(x) for x in q],
                    k=10, nprobe=2, rotation=rot,
                    rescore=corpus_df, rescore_factor=8,
                ).collect()
            }
            qn = np.asarray(q, dtype=np.float64)
            qn /= max(np.linalg.norm(qn), 1e-12)
            true = set(ids[np.argsort(-(corpus_n @ qn))[:10]].tolist())
            hits += len(got & true)
        return hits / (n_q * 10)

    r_old = recall10(path)
    before_files = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(f"{path}/codes") for f in fs
    )
    out = str(tmp_path / "ivfpq_rebuilt")
    rec = maintain_index(
        spark, path, policy=MaintenancePolicy(rebuild_cell_frac=0.0),
        rebuild_to=out,
    )
    assert rec["action"] == "rebuild" and rec["executed"]
    assert rec["result"]["rebuilt_to"] == out
    assert rec["result"]["rows"] == n + n_drift  # every row transcoded
    assert rec["result"]["reservoir_rows"] <= 16 * 40  # the stated bound
    from readwise_vector_db_spark.layout import read_stamp

    assert read_stamp(out)["family"] == "ivfpq"
    # original untouched (blue/green)
    after_files = sorted(
        os.path.join(r, f) for r, _, fs in os.walk(f"{path}/codes") for f in fs
    )
    assert before_files == after_files

    r_new = recall10(out)
    print(f"ivfpq rebuild recall@10 (nprobe=2, rf=8): {r_old} -> {r_new}")
    # measured recovery: the raw-trained model covers the drifted modes
    # the frozen one mis-coded.  Exact numbers live in SCALING.md; the
    # pins hold a material gap so neither side silently changes.
    assert r_new >= r_old + 0.1, (r_old, r_new)
    assert r_new >= 0.6, (r_old, r_new)

    # full-fidelity mode (round-12 residue item 1): handing the base
    # table's raw vectors removes the transcode bound — recall reaches
    # the full-retrain regime, above the reservoir rebuild's
    out_raw = str(tmp_path / "ivfpq_rebuilt_raw")
    rec_raw = maintain_index(
        spark, path, policy=MaintenancePolicy(rebuild_cell_frac=0.0),
        rebuild_to=out_raw, raw_vecs=corpus_df,
    )
    assert rec_raw["executed"] and rec_raw["result"]["mode"] == "raw"
    assert rec_raw["result"]["transcoded_rows"] == 0  # every id present
    r_raw = recall10(out_raw)
    print(f"ivfpq rebuild recall@10 raw mode: {r_raw}")
    assert r_raw >= r_new - 0.02, (r_new, r_raw)  # ≥ reservoir mode
    assert r_raw >= 0.8, r_raw                    # full-retrain regime

    # the rebuilt layouts' gates accept the drifted distribution (fresh
    # perturbed draws, not the appended rows) — the old layout rejected
    # this distribution outright
    more = _to_df(
        spark,
        drifted[100:160] + 0.05 * rng.standard_normal((60, d)).astype(np.float32),
        id0=5_000_000,
    )
    with pytest.raises(ValueError, match="stale"):
        pq.append_to_ivfpq_index(more, path)
    # full-fidelity layout: strict acceptance at the default band
    assert pq.append_to_ivfpq_index(more, out_raw) == 60
    # reservoir layout: the measured ratio sits AT the 2.0 default
    # boundary (2.00 ± 0.01 across session partitioning — the sampled
    # baseline moves a hair between runs), so the boundary-robust claim
    # is a slightly widened band, not the knife-edge default
    assert pq.append_to_ivfpq_index(more, out, max_distortion_ratio=2.5) == 60

    # rebuild without a reservoir stays a recommendation with guidance
    bare = str(tmp_path / "bare")
    base_df2 = base_df
    _, cents2 = sim.build_ivf_index(base_df2, n_clusters=8)
    books2 = pq.train_pq_codebooks(base_df2, m=8, k=32, sample_rows=2400)
    pq.save_ivfpq_index(
        pq.ivfpq_encode(base_df2, cents2, books2), cents2, books2, bare,
        base_vecs=base_df2, rf_ks=(), reservoir_per_cell=0,
    )
    with pytest.raises(ValueError, match="reservoir"):
        pq.rebuild_ivfpq_index(spark, bare, str(tmp_path / "nope"))


def test_maintain_dedup_store_walk(spark, tmp_path):
    """r11: the dedup store gets the same janitor — sync-lag repair,
    band-index compaction, store compaction — one action per run,
    converging, logged, under the store's lease."""
    from pyspark.sql import functions as F

    from readwise_vector_db_spark.jobs.incremental_dedup import (
        _synced_version,
        _write_synced_version,
        dedup_batch_against_store,
    )
    from readwise_vector_db_spark.maintenance import (
        DedupStorePolicy,
        maintain_dedup_store,
    )
    from readwise_vector_db_spark.sources.tables import load_table
    from readwise_vector_db_spark.sources.versioned import VersionedTable

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    root = str(tmp_path / "store")
    table = VersionedTable(root)
    for lo in (0, 20, 40):
        dedup_batch_against_store(
            spark,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 20)),
            table,
            batch_join="bucketed",
        )

    # healthy: in sync, few segments, modest band fan-in
    rec = maintain_dedup_store(spark, root)
    assert rec["family"] == "dedup_store" and rec["action"] == "none"
    assert rec["measurements"]["index_lag"] == 0

    # simulate the crash-between-commit-and-index-append state
    _write_synced_version(root, (table.latest_version() or 1) - 1)
    rec2 = maintain_dedup_store(spark, root)
    assert rec2["action"] == "rebuild_index" and rec2["executed"]
    assert _synced_version(root) == table.latest_version()

    # segment fan-in past the policy → compact the store; the compact
    # makes the index lag one version, which the NEXT run repairs
    rec3 = maintain_dedup_store(
        spark, root, policy=DedupStorePolicy(segments_max=2)
    )
    assert rec3["action"] == "compact_store" and rec3["executed"]
    rec4 = maintain_dedup_store(spark, root)
    assert rec4["action"] == "rebuild_index" and rec4["executed"]
    rec5 = maintain_dedup_store(spark, root)
    assert rec5["action"] == "none"

    # dedup decisions unchanged after the full maintenance cycle: a
    # replayed duplicate is still dropped against the compacted store
    dup = docs.filter(F.col("doc_id") == 5).select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    s = dedup_batch_against_store(spark, dup, table, batch_join="bucketed")
    assert s["accepted"] == 0

    acts = [r["action"] for r in read_maintenance_log(root)]
    assert acts == ["none", "rebuild_index", "compact_store",
                    "rebuild_index", "none"]

    # lease: a held store excludes the janitor (from another thread —
    # same-thread re-entry is the composed-maintainer pass-through)
    with maintenance_lease(root, "other"):
        caught: list = []

        def run():
            try:
                maintain_dedup_store(spark, root)
            except MaintenanceBusy as e:
                caught.append(e)

        t = threading.Thread(target=run)
        t.start()
        t.join()
        assert caught and isinstance(caught[0], MaintenanceBusy)
