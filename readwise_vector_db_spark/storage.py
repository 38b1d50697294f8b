"""Crash-safe storage protocols for every on-disk mutation.

The reference keeps its highlights and its HNSW index in Postgres, so
commits, index rebuilds and writer exclusion come with the database.
This engine writes plain files and rebuilds those guarantees here, once:

- :func:`atomic_write_text` / :func:`atomic_write_json` — small files
  (pointers, sidecars, markers): a unique sibling tmp file, then
  ``os.replace``.  A reader sees the old bytes or the new ones.
- :func:`publish_dir` — build-once directory artifacts: build into a
  unique stage (:func:`stage_path`), mark it ``_BUILT``, rename it into
  place.  Racing builders resolve to one winner; a crashed builder's
  stage is swept.
- :func:`swap_dir` / :func:`recover_swap` / :func:`clean_orphans` —
  replacing a LIVE subdirectory: an intent-ordered double rename (POSIX
  has no atomic directory exchange) that resolves deterministically
  after a crash at any step.
- :func:`acquire` / :func:`release` / :func:`reap` / :func:`sweep` — an
  owner-dir lock.  The compare-and-swap is the rename of a fully-built
  stage dir (owner json inside) onto the lock path, so a visible lock
  is never ownerless; a holder whose pid is gone is reaped by the next
  acquirer.  ``layout.maintenance_lease`` and
  ``VersionedTable._claim_version`` are its two callers.

Durability is rename atomicity on one host's filesystem: nothing here
fsyncs.  On an object store the same roles belong to a commit/catalog
service (Delta's LogStore, an Iceberg catalog).
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import threading
import time
import uuid

# --- atomic small-file write --------------------------------------------------


def atomic_write_text(target, text: str) -> None:
    """Replace ``target`` with ``text`` atomically.  The tmp name
    ``{target}.tmp.{pid}.{uuid8}`` is unique per call, so racing
    writers (threads or processes) never share one, and it starts with
    the target's name, so a ``_``/``.``-prefixed sidecar's tmp stays
    hidden from Spark's file listing."""
    target = os.fspath(target)
    tmp = f"{target}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, target)
    except BaseException:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
        raise


def atomic_write_json(target, obj) -> None:
    atomic_write_text(target, json.dumps(obj))


# --- debris names -------------------------------------------------------------
#
# Stages, lock stages and reap graves are named ``{path}.{kind}-{pid}-{tag}``
# so :func:`sweep` can tell a dead writer's debris from a live one's by the
# pid alone.  ``{claim}.tmp-{pid}-grave{tag}`` is the older grave spelling.

_DEBRIS = re.compile(r"\.(tmp|stage|grave)-(\d+)-(.*)$")


def _debris_name(path: str, kind: str) -> str:
    return f"{path}.{kind}-{os.getpid()}-{uuid.uuid4().hex[:8]}"


def stage_path(path: str) -> str:
    """A unique sibling stage dir name for building ``path``.  Stages
    of ``path`` left by builders whose pid is gone are swept first."""
    path = os.path.abspath(path)
    parent, name = os.path.split(path)
    os.makedirs(parent, exist_ok=True)
    sweep(parent, f"{name}.stage-")
    return _debris_name(path, "stage")


def _pid_alive(pid: int) -> bool:
    if pid == os.getpid():
        return True  # another thread of this process
    try:
        os.kill(pid, 0)
    except (ProcessLookupError, OverflowError):
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


# --- build-once publish -------------------------------------------------------

_BUILT = "_BUILT"


def publish_dir(path: str, build) -> str:
    """Return ``path``, building it first if it is not yet published.

    ``build(stage)`` writes the artifact into a process-unique stage;
    the ``_BUILT`` marker lands inside the stage, which is then renamed
    onto ``path`` — a published path is complete by construction.  If a
    peer published first the rename fails and this stage is discarded
    (builds are deterministic, so the winner's artifact serves the same
    probes)."""
    path = os.fspath(path)
    if os.path.exists(os.path.join(path, _BUILT)):
        return path
    stage = stage_path(path)
    try:
        build(stage)
        open(os.path.join(stage, _BUILT), "w").close()
        try:
            os.rename(stage, path)
        except OSError:
            pass  # a peer published first — keep theirs
    finally:
        shutil.rmtree(stage, ignore_errors=True)  # no-op once renamed
    return path


# --- intent-ordered directory swap --------------------------------------------


def _intent_path(path: str, subdir: str) -> str:
    return f"{path}/.{subdir}_swap_intent"


def swap_stage_name(subdir: str) -> str:
    """Name of a fresh stage dir under the layout root for
    :func:`swap_dir`; :func:`clean_orphans` clears aborted ones."""
    return f".{subdir}_compact_{time.time_ns()}_{os.getpid()}"


def swap_dir(path: str, subdir: str, stage_name: str) -> None:
    """Commit the fully-written ``{path}/{stage_name}`` over
    ``{path}/{subdir}``: intent marker (atomic write) → rename the live
    dir away → rename the stage in → remove the intent → drop the old
    dir.  A crash anywhere resolves through :func:`recover_swap` (roll
    FORWARD only to the intent-named stage, back otherwise).  A missing
    live dir is a first install: only the stage rename runs.  Callers
    serialize swaps on one layout with its maintenance lease."""
    intent = _intent_path(path, subdir)
    atomic_write_text(intent, stage_name)
    live = f"{path}/{subdir}"
    old = f"{path}/.{subdir}_old_{time.time_ns()}_{os.getpid()}"
    had_live = os.path.isdir(live)
    if had_live:
        os.rename(live, old)
    os.rename(f"{path}/{stage_name}", live)
    os.remove(intent)
    if had_live:
        shutil.rmtree(old, ignore_errors=True)


def recover_swap(path: str, subdir: str) -> None:
    """Crash recovery for :func:`swap_dir`: if ``{path}/{subdir}`` is
    missing, roll FORWARD — but only to the stage named in the intent
    marker written before rename #1.  A stage from a run that crashed
    mid-write (no intent) is never installed: it may predate appends or
    tombstones that landed after it was staged.  With no intent, roll
    BACK to the newest saved old directory (by mtime).  When the live
    dir exists nothing is touched — a loader must not clean dirs a live
    writer in another process may be writing (see
    :func:`clean_orphans`)."""
    if os.path.isdir(f"{path}/{subdir}"):
        return
    intent = _intent_path(path, subdir)
    if os.path.isfile(intent):
        with open(intent) as f:
            stage = f.read().strip()
        if stage and os.path.isdir(f"{path}/{stage}"):
            os.rename(f"{path}/{stage}", f"{path}/{subdir}")
            os.remove(intent)
            return
        # the intent names a dir that's gone (rename #2 completed and the
        # live dir was since removed externally, or the marker is
        # garbage) — fall through to roll-back
        os.remove(intent)
    olds = glob.glob(f"{path}/.{subdir}_old_*")
    if olds:
        os.rename(max(olds, key=os.path.getmtime), f"{path}/{subdir}")


def clean_orphans(path: str, subdir: str) -> None:
    """Remove aborted stage/old dirs and stale intent markers.  Only
    safe when ``{path}/{subdir}`` exists (it is the authority) and from
    the lease holder that builds its stages under the lease."""
    if not os.path.isdir(f"{path}/{subdir}"):  # pragma: no cover
        return
    intent = _intent_path(path, subdir)
    debris = glob.glob(f"{glob.escape(intent)}.tmp.*")
    if os.path.isfile(intent):
        debris.append(intent)
    for f in debris:
        os.remove(f)
    for d in glob.glob(f"{path}/.{subdir}_compact_*") + glob.glob(
        f"{path}/.{subdir}_old_*"
    ):
        shutil.rmtree(d, ignore_errors=True)


# --- owner-dir lock -----------------------------------------------------------
#
# Serializes this process's lock transitions (acquire rename, release, reap).
# The rename-first reap is exact across processes, but within one process a
# reaper whose dead-verdict went stale could rename a sibling THREAD's live
# lock into its grave and bet on the restore; one mutex around these
# microsecond renames makes thread-vs-thread verdicts exact.

_FS_LOCK = threading.Lock()


def lock_owner(path: str) -> dict | None:
    """The owner json inside the lock dir ``path``, or None."""
    try:
        with open(os.path.join(path, "owner")) as f:
            owner = json.load(f)
    except (OSError, ValueError):
        return None
    return owner if isinstance(owner, dict) else None


def _owner_alive(path: str) -> bool:
    """True iff ``path``'s owner json names a pid that still runs.
    Ownerless dirs carry no holder to protect."""
    try:
        return _pid_alive(int(lock_owner(path)["pid"]))
    except (TypeError, KeyError, ValueError):
        return False


def lock_dead(path: str, grace: float) -> bool:
    """True iff the lock at ``path`` belongs to a holder that no longer
    exists: pid liveness for owned locks, and for ownerless ones (a
    foreign protocol's bare mkdir, a torn write) an mtime older than
    ``grace`` seconds."""
    try:
        pid = int(lock_owner(path)["pid"])
    except (TypeError, KeyError, ValueError):
        try:
            age = time.time() - os.stat(path).st_mtime
        except FileNotFoundError:
            return False  # released while we looked — retry, not stale
        return age > grace
    return not _pid_alive(pid)


def reap(path: str, grace: float) -> bool:
    """Remove a dead holder's lock at ``path``; True iff the path is
    free afterwards.

    Deadness is re-verified under the process lock, then the lock is
    renamed FIRST onto a reaper-unique grave (exactly one reaper wins)
    and the verdict is recomputed on the now-immutable grave: dead →
    delete it; alive after all (a live holder landed between the check
    and the rename) → rename it back.  That restore can lose only to an
    acquirer landing inside the same microsecond window; then nothing is
    deleted — the displaced holder is preserved in the grave and a
    RuntimeError names it, because two holders may now be active."""
    with _FS_LOCK:
        if not lock_dead(path, grace):
            return not os.path.lexists(path)
        grave = _debris_name(path, "grave")
        try:
            os.rename(path, grave)
        except OSError:
            return True  # released or reaped concurrently
        if lock_dead(grave, grace):
            shutil.rmtree(grave, ignore_errors=True)
            return True
        try:
            os.rename(grave, path)  # stale verdict — restore the holder
            return False
        except OSError:
            owner = lock_owner(grave) or {}
    raise RuntimeError(
        f"reap of {path!r} hit the unrecoverable window: a live holder "
        f"({owner}) was displaced and a new one landed before it could be "
        f"restored — the displaced lock is preserved at {grave!r}; stop "
        "one of the two holders and remove the grave after inspecting"
    )


def acquire(path: str, owner: dict, grace: float) -> str | None:
    """One CAS attempt on the lock dir ``path``: returns the holder's
    nonce, or None when a live holder keeps it.  A dead holder is reaped
    first.  Any pre-existing dir — an EMPTY one included — blocks the
    rename, because POSIX rename(2) atomically replaces an empty target
    dir and would double-assign the lock."""
    if os.path.lexists(path) and not reap(path, grace):
        return None
    nonce = uuid.uuid4().hex
    stage = _debris_name(path, "tmp")
    os.makedirs(stage)
    with open(os.path.join(stage, "owner"), "w") as f:
        json.dump({**owner, "pid": os.getpid(), "nonce": nonce}, f)
    with _FS_LOCK:
        if not os.path.lexists(path):
            try:
                os.rename(stage, path)
                return nonce
            except OSError:
                pass
    shutil.rmtree(stage, ignore_errors=True)
    return None


def release(path: str, nonce: str | None) -> None:
    """Remove the lock only if ``nonce`` still owns it: a holder whose
    lock was displaced must not delete its successor's."""
    if not nonce:
        return
    with _FS_LOCK:
        if (lock_owner(path) or {}).get("nonce") == nonce:
            shutil.rmtree(path, ignore_errors=True)


def sweep(root: str, prefix: str) -> None:
    """Remove debris under ``root`` whose name starts with ``prefix``
    and whose namer's pid is gone: lock stages and publish stages of
    crashed writers, graves of crashed reapers.  A grave may instead
    hold a DISPLACED LIVE holder (the :func:`reap` restore-lost
    evidence), so a grave goes only when its owner is dead too."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return
    for name in names:
        m = _DEBRIS.search(name) if name.startswith(prefix) else None
        if m is None or _pid_alive(int(m.group(2))):
            continue
        full = os.path.join(root, name)
        is_grave = m.group(1) == "grave" or m.group(3).startswith("grave")
        if is_grave and _owner_alive(full):
            continue
        shutil.rmtree(full, ignore_errors=True)
