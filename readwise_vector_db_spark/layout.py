"""Layout versioning for persisted index artifacts (round 10).

Every persisted index layout (PQ / IVF-PQ / IVF / quantizer / warm
search index) carries a ``layout.json`` stamp — ``{"layout_version": N,
"family": "..."}`` — the analogue of the reference's alembic version
table for its Postgres schema
(``/root/reference/alembic/versions/6e900a582819_create_initial_tables.py:27-56``;
studied, not copied): a loader must know WHICH on-disk contract it is
reading before it trusts the bytes.  Rules:

- Savers stamp the layout atomically (``storage.atomic_write_json``)
  as the LAST step, so a half-written build is never stamped.
- Loaders call :func:`check_layout`: an unstamped directory is a
  legacy v1 layout (pre-round-10 builds — structurally identical to
  v2, which only ADDED the stamp, so it loads fine); a stamp from a
  NEWER engine refuses loudly with a migration hint instead of
  misreading bytes whose contract it doesn't know; a stamp for a
  DIFFERENT family refuses loudly (loading an ivfpq layout through
  the pq loader "works" structurally and serves wrong results).
- :func:`migrate_layout` upgrades a legacy layout in place after
  validating its expected structure — the add-nullable-column-class
  migration path, so "re-build everything because the engine
  versioned its layouts" never happens.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from readwise_vector_db_spark import storage

# The CURRENT on-disk contract version.  History:
#   1 — implicit (pre-round-10): no stamp file.
#   2 — round 10: identical structure + the stamp itself; sidecars
#       rescore.json / filter_columns.json / tombstones / rotation are
#       all optional within it.
LAYOUT_VERSION = 2

_STAMP = "layout.json"


class LayoutVersionError(ValueError):
    """The persisted layout's version or family doesn't match what
    this loader can read — includes a migration hint."""


def stamp_layout(path: str, family: str, extra: dict | None = None) -> None:
    """Write the layout stamp atomically.  Called last by savers."""
    os.makedirs(path, exist_ok=True)
    rec = {"layout_version": LAYOUT_VERSION, "family": family}
    if extra:
        rec.update(extra)
    storage.atomic_write_json(os.path.join(path, _STAMP), rec)


def read_stamp(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _STAMP)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None
    except (OSError, ValueError) as e:
        raise LayoutVersionError(
            f"unreadable layout stamp at {path}/{_STAMP}: {e}; the layout "
            "may be mid-write or corrupt — rebuild it, or restore the "
            "stamp with migrate_layout(path, family) if the data dirs "
            "are intact"
        )


def check_layout(path: str, family) -> int:
    """Validate the stamp before a loader trusts the directory.
    ``family`` may be a string or a tuple of acceptable families (e.g.
    a quantizer loader legitimately reads the centroid table of an ivf
    or ivfpq layout).  Returns the layout version (1 for unstamped
    legacy layouts)."""
    families = (family,) if isinstance(family, str) else tuple(family)
    rec = read_stamp(path)
    if rec is None:
        return 1  # legacy pre-stamp layout: structurally v2-readable
    got_family = rec.get("family")
    if got_family not in families:
        raise LayoutVersionError(
            f"layout at {path!r} is family {got_family!r}, not "
            f"{' / '.join(map(repr, families))} — use the matching "
            f"load_{got_family}_index loader"
        )
    v = int(rec.get("layout_version", 0))
    if v > LAYOUT_VERSION:
        raise LayoutVersionError(
            f"layout at {path!r} is version {v}, built by a newer engine "
            f"(this engine reads ≤ {LAYOUT_VERSION}) — upgrade the engine "
            "or rebuild the index with this one"
        )
    if v < 1:
        raise LayoutVersionError(
            f"layout at {path!r} carries an invalid version stamp {v!r} — "
            "rebuild, or migrate_layout() if the data dirs are intact"
        )
    return v


# --- maintenance lease --------------------------------------------------------
#
# Index-layout maintenance (compaction, cell reclustering, appends, warm
# layout swaps) excludes itself structurally: one lease dir per layout
# root, taken with the owner-dir lock of ``storage.acquire`` — exactly one
# maintainer lands, a visible lease is never ownerless, and a crashed
# holder (pid gone) is reaped by the next acquirer.  Two maintainers on
# one layout could otherwise interleave partition overwrites (a
# compactor's directory swap silently drops files an appender wrote into
# the old directory after the rewrite snapshotted it).  The reference
# never faces this: Postgres serializes HNSW maintenance internally
# (alembic/...create_initial_tables.py:43-50).

_LEASE = "_MAINT_LEASE"
# grace window for an OWNERLESS lease (foreign protocol / torn write):
# liveness for our own leases comes from the pid, never from time
_LEASE_GRACE_SEC = 60.0

_HELD_TLS = threading.local()


class MaintenanceBusy(RuntimeError):
    """Another maintainer holds the layout's lease.  Carries the
    holder's pid/purpose so the operator knows WHAT is running."""


@contextlib.contextmanager
def maintenance_lease(path: str, purpose: str, wait: float = 0.0,
                      poll: float = 0.05):
    """Exclusive maintenance lease on the layout at ``path``.

    ``wait=0`` (default) REFUSES immediately with :class:`MaintenanceBusy`
    when a live maintainer holds the lease; ``wait=N`` polls up to N
    seconds for the holder to finish first.  Re-entrant per thread: a
    composed maintainer (``maintain_index`` invoking ``compact_index``)
    passes straight through its own lease — while a SECOND thread of the
    same process is excluded like any foreign maintainer (FAIR-scheduler
    threads racing on one layout is exactly the interleave this
    prevents).  A lease whose owning pid is gone is swept and
    re-acquired — crash recovery needs no operator action."""
    root = os.path.abspath(path)
    held = getattr(_HELD_TLS, "paths", None)
    if held is None:
        held = _HELD_TLS.paths = {}
    if root in held:
        yield  # re-entrant: the outer context owns the lease
        return
    lease = os.path.join(root, _LEASE)
    os.makedirs(root, exist_ok=True)
    storage.sweep(root, _LEASE)
    deadline = time.monotonic() + max(0.0, float(wait))
    while True:
        nonce = storage.acquire(
            lease, {"purpose": purpose, "ts": time.time()}, _LEASE_GRACE_SEC
        )
        if nonce is not None:
            break
        if time.monotonic() >= deadline:
            owner = storage.lock_owner(lease) or {}
            raise MaintenanceBusy(
                f"layout at {path!r} is under maintenance "
                f"({owner.get('purpose', 'unknown')!r} by pid "
                f"{owner.get('pid', '?')}) — wait for it, pass wait=N, "
                "or remove the lease if you know the holder is gone"
            )
        time.sleep(poll)
    held[root] = nonce
    try:
        yield
    finally:
        held.pop(root, None)
        storage.release(lease, nonce)


def migrate_layout(path: str, family: str, required: tuple[str, ...]) -> int:
    """Stamp a legacy (v1) layout up to the current version after
    validating that its expected data directories exist.  Idempotent;
    returns the resulting version."""
    rec = read_stamp(path)
    if rec is not None:
        return check_layout(path, family)
    missing = [d for d in required if not os.path.isdir(os.path.join(path, d))]
    if missing:
        raise LayoutVersionError(
            f"cannot migrate {path!r} to a {family!r} layout: missing "
            f"required dirs {missing} — this doesn't look like a legacy "
            f"{family} index"
        )
    stamp_layout(path, family)
    return LAYOUT_VERSION
