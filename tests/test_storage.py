"""Crash-safe storage protocols (readwise_vector_db_spark/storage.py):
one crash-injection test per protocol — a child process calls
``os._exit`` at the injected step — plus racing writers and builders."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
from pathlib import Path

import pytest

from readwise_vector_db_spark import storage

_ROOT = str(Path(__file__).resolve().parents[1])


def _spawn(code: str) -> subprocess.Popen:
    env = {**os.environ, "PYTHONPATH": _ROOT}
    return subprocess.Popen([sys.executable, "-c", code], env=env)


def _run(code: str) -> int:
    proc = _spawn(code)
    return proc.wait(timeout=120)


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


# --- crash injection ----------------------------------------------------------


def test_atomic_write_killed_before_replace_keeps_old_content(tmp_path):
    target = tmp_path / "state.json"
    storage.atomic_write_json(target, {"v": 1})
    rc = _run(
        "import os\n"
        "from readwise_vector_db_spark import storage\n"
        "os.replace = lambda a, b: os._exit(17)\n"
        f"storage.atomic_write_json({str(target)!r}, {{'v': 2}})\n"
    )
    assert rc == 17
    assert json.loads(target.read_text()) == {"v": 1}
    # the torn tmp carries the target's name as a prefix, never the name
    rest = [p.name for p in tmp_path.iterdir() if p.name != "state.json"]
    assert len(rest) == 1 and rest[0].startswith("state.json.tmp.")


_BUILD_SRC = (
    "def build(stage):\n"
    "    os.makedirs(stage)\n"
    "    for i in range(4):\n"
    "        with open(os.path.join(stage, f'part-{i}'), 'w') as f:\n"
    "            f.write('x' * 1000)\n"
)


def _complete(path: Path) -> bool:
    return (path / "_BUILT").is_file() and all(
        (path / f"part-{i}").read_text() == "x" * 1000 for i in range(4)
    )


def test_publish_killed_before_rename_next_call_publishes(tmp_path):
    path = tmp_path / "artifacts" / "a1"
    rc = _run(
        "import os\n"
        "from readwise_vector_db_spark import storage\n"
        + _BUILD_SRC
        + "os.rename = lambda a, b: os._exit(17)\n"
        f"storage.publish_dir({str(path)!r}, build)\n"
    )
    assert rc == 17
    assert not path.exists()
    assert len(list(path.parent.glob("a1.stage-*"))) == 1  # the dead stage

    ns: dict = {"os": os}
    exec(_BUILD_SRC, ns)
    assert storage.publish_dir(str(path), ns["build"]) == str(path)
    assert _complete(path)
    assert list(path.parent.glob("a1.stage-*")) == []  # dead stage swept
    # published: the next call builds nothing
    storage.publish_dir(str(path), lambda stage: pytest.fail("rebuilt"))


@pytest.mark.parametrize("kill_at", [1, 2])
def test_swap_killed_mid_swap_recovers_to_one_whole_dir(tmp_path, kill_at):
    """Killed after the intent write, at rename #1 (live dir still in
    place) or at rename #2 (live dir renamed away, stage not yet in):
    the next load's recover_swap leaves one whole dir — the old one, or
    the intent-named stage rolled FORWARD."""
    root = tmp_path / "layout"
    (root / "codes").mkdir(parents=True)
    (root / "codes" / "part").write_text("old")
    stage = storage.swap_stage_name("codes")
    (root / stage).mkdir()
    (root / stage / "part").write_text("new")
    rc = _run(
        "import os\n"
        "from readwise_vector_db_spark import storage\n"
        "real, n = os.rename, [0]\n"
        "def rename(a, b):\n"
        "    n[0] += 1\n"
        f"    if n[0] == {kill_at}:\n"
        "        os._exit(17)\n"
        "    real(a, b)\n"
        "os.rename = rename\n"
        f"storage.swap_dir({str(root)!r}, 'codes', {stage!r})\n"
    )
    assert rc == 17
    assert (root / ".codes_swap_intent").read_text() == stage
    assert (root / "codes").is_dir() == (kill_at == 1)

    storage.recover_swap(str(root), "codes")
    want = "old" if kill_at == 1 else "new"
    assert (root / "codes" / "part").read_text() == want
    storage.clean_orphans(str(root), "codes")
    assert sorted(p.name for p in root.iterdir()) == ["codes"]


def test_lock_holder_killed_is_reaped_and_killed_reaper_swept(tmp_path):
    """A holder killed while holding is reaped by the next acquirer; a
    reaper killed right after its grave rename leaves a grave that the
    next sweep clears (namer and owner both dead)."""
    lock = str(tmp_path / "_LOCK")
    rc = _run(
        "import os\n"
        "from readwise_vector_db_spark import storage\n"
        f"assert storage.acquire({lock!r}, {{}}, 60.0)\n"
        "os._exit(17)\n"
    )
    assert rc == 17 and os.path.isdir(lock)
    nonce = storage.acquire(lock, {}, 60.0)
    assert nonce and storage.lock_owner(lock)["pid"] == os.getpid()
    storage.release(lock, nonce)
    assert not os.path.exists(lock)

    os.makedirs(lock)
    with open(f"{lock}/owner", "w") as f:
        json.dump({"pid": _dead_pid()}, f)
    rc = _run(
        "import os\n"
        "from readwise_vector_db_spark import storage\n"
        "real = os.rename\n"
        "def rename(a, b):\n"
        "    real(a, b)\n"
        "    os._exit(17)\n"
        "os.rename = rename\n"
        f"storage.reap({lock!r}, 60.0)\n"
    )
    assert rc == 17
    graves = list(tmp_path.glob("_LOCK.grave-*"))
    assert len(graves) == 1 and not os.path.exists(lock)
    storage.sweep(str(tmp_path), "_LOCK")
    assert list(tmp_path.iterdir()) == []


# --- races --------------------------------------------------------------------


def test_atomic_write_json_racing_threads_and_processes(tmp_path):
    """Unique tmp names: concurrent writers to one target never collide
    on a shared tmp (the fixed-name scheme raised FileNotFoundError in
    the loser's replace), and the survivor is one whole payload."""
    target = str(tmp_path / "filter_columns.json")
    payload = lambda w, i: {"writer": w, "i": i, "pad": [w] * 2000}  # noqa: E731
    procs = [
        _spawn(
            "from readwise_vector_db_spark import storage\n"
            "for i in range(200):\n"
            f"    storage.atomic_write_json({target!r}, "
            f"{{'writer': 'p{k}', 'i': i, 'pad': ['p{k}'] * 2000}})\n"
        )
        for k in range(2)
    ]
    errors: list[BaseException] = []

    def worker(w: str):
        try:
            for i in range(200):
                storage.atomic_write_json(target, payload(w, i))
        except BaseException as e:  # noqa: BLE001 — surface to the test
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(f"t{k}",)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert [p.wait(timeout=120) for p in procs] == [0, 0]
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    with open(target) as f:
        got = json.load(f)
    assert got == payload(got["writer"], got["i"])
    assert os.listdir(tmp_path) == ["filter_columns.json"]


def test_publish_dir_racing_processes_one_complete_artifact(tmp_path):
    path = tmp_path / "artifacts" / "a1"
    code = (
        "import os, time\n"
        "from readwise_vector_db_spark import storage\n"
        + _BUILD_SRC.replace("os.makedirs(stage)\n", "os.makedirs(stage)\n    time.sleep(0.5)\n")
        + f"assert storage.publish_dir({str(path)!r}, build) == {str(path)!r}\n"
    )
    procs = [_spawn(code) for _ in range(2)]
    assert [p.wait(timeout=120) for p in procs] == [0, 0]
    assert _complete(path)
    assert [p.name for p in path.parent.iterdir()] == ["a1"]


def test_warm_layout_rebuild_racing_processes_one_winner(tmp_path):
    """Two builders replace one STALE warm layout at once (the
    ivf_warm_index / build_search_index path): the live layout is never
    deleted first, both return, exactly one swap goes live, and no
    stage, old dir, intent or lease is left behind."""
    base = tmp_path / "tag" / "ivf16"
    base.mkdir(parents=True)
    (base / "FINGERPRINT").write_text("stale")
    code = (
        "import os, sys, time\n"
        "from pathlib import Path\n"
        "from readwise_vector_db_spark.sources import search_index as si\n"
        f"si._INDEX_ROOT = Path({str(tmp_path)!r})\n"
        "def build(stage):\n"
        "    os.makedirs(stage)\n"
        "    time.sleep(0.5)\n"
        "    Path(stage, 'data').write_text('built')\n"
        "    Path(stage, 'FINGERPRINT').write_text('fresh')\n"
        f"sys.exit(10 + si._install_layout(Path({str(base)!r}), 'fresh', build))\n"
    )
    procs = [_spawn(code) for _ in range(2)]
    assert sorted(p.wait(timeout=120) for p in procs) == [10, 11]
    assert (base / "FINGERPRINT").read_text() == "fresh"
    assert (base / "data").read_text() == "built"
    assert sorted(p.name for p in base.parent.iterdir()) == ["ivf16"]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["tag"]
