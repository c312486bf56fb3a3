"""Single-writer lease for the persisted index tiers (r13; pluggable
storage backends r14).

Why this exists: every persisted tier (ANN hier, IVF-PQ, vecsig,
dedup fingerprint) is maintained by plain-parquet add/delete/compact/
vacuum paths whose crash contracts assume ONE mutation stream — the
reference's own failure class is the same shape (its single export
task races itself on FSx when run twice, SURVEY §3.3). Two concurrent
ingest gates pointed at one tier can interleave a ``stats/`` rewrite
and a dynamic-partition overwrite and silently lose counts or orphan
partitions; vacuum can reclaim a LIVE writer's in-flight
``_temporary`` task outputs. Nothing detected the second writer before
this module; now the second writer refuses loudly instead.

Mechanism: an ``_writer_lease`` file at the protected root, created
via the storage backend's EXCLUSIVE create, a random per-acquisition
token inside, and a daemon heartbeat thread touching the file every
``ttl/10`` seconds while held. A lease whose freshness age exceeds
``ttl`` belongs to a DEAD writer (a live one would have heartbeat) and
is broken via atomic rename-then-retry; a fresh foreign lease raises
:class:`ConcurrentWriterError` with the holder's identity. Leases are
REENTRANT per process (a gate's batch step calls add → compact →
vacuum on nested roots), and exclusion is HIERARCHICAL: acquiring a
root refuses while any ANCESTOR directory holds a fresh foreign lease
(a vacuum of the work dir blocks an add to ``work/idx``), and vacuum
additionally scans DESCENDANTS before deleting (an add holding
``work/idx`` blocks a vacuum of ``work``).

The two-writer race has no miss window: each writer CREATES its lease
file before CHECKING for the other's, so for both checks to pass each
create would have to happen after the other's check — a cycle. At
worst both refuse (no livelock: callers retry on their own cadence).

Storage backends
================

The lease needs three storage primitives, declared as capabilities on
:class:`LeaseBackend` and REFUSED loudly when absent (r13 verdict #4 —
the guarantee must never silently evaporate on the wrong storage):

* ``atomic_create`` — an exclusive create visible to every writer
  (POSIX ``O_CREAT|O_EXCL``; S3 conditional PUT ``If-None-Match: *``;
  GCS ``x-goog-if-generation-match: 0``). WITHOUT it no lease can be
  taken at all: :func:`writer_lease` raises
  :class:`UnsupportedStorageError` instead of pretending to protect.
* ``atomic_rename`` — an atomic rename for breaking STALE leases
  (two breakers must not both think they won). Without it a stale
  lease raises :class:`ConcurrentWriterError` telling the operator to
  remove it manually — degraded but safe.
* a freshness signal (``age_seconds``) the heartbeat can refresh
  (POSIX mtime via ``utime``; object stores typically re-PUT the
  object and read its last-modified).

:class:`PosixLeaseBackend` (the default for ``/path`` and ``file://``
roots) provides all three. Other schemes must be registered explicitly
via :func:`register_lease_backend`; an UNREGISTERED scheme raises
:class:`UnsupportedStorageError` at acquire time. Deployments that
genuinely hold the single-writer guarantee externally (a scheduler
that never runs two maintenance jobs, an external lock service) can
opt a scheme into the pre-r14 unguarded no-op by listing it in
``ARM_LEASE_UNGUARDED_SCHEMES`` (comma-separated) — an explicit,
greppable decision instead of a silent default.

Storage contract of the tier mutations themselves
-------------------------------------------------

The lease serialises WRITERS; each mutation additionally assumes, and
is only crash-safe under, these storage properties:

* ``persist_*`` / ``add_to_*`` / ``compact_*`` / ``delete_from_*``
  use Spark ``overwrite`` writes (full-dataset or dynamic-partition).
  Spark stages task output under ``_temporary`` and commits by rename
  — atomic per file on POSIX, copy+delete on S3-like stores. Under
  the lease a torn non-atomic commit cannot be RACED, but a crash
  mid-commit can still leave partial files; rerunning the same
  maintenance op is the documented recovery (all paths are
  idempotent by content hash / full-partition rewrite).
* the advisory ``stats/`` swap (tiers.py ``_write_index_stats``)
  uses write-temp + ``os.rename`` on local roots and falls back to a
  direct overwrite elsewhere — stats are advisory (readers fall back
  to scanning members), so a torn stats write degrades performance,
  never correctness.
* ``vacuum_index`` only ever deletes whole orphan DIRECTORIES and
  never the lease file itself, so the lease cannot be vacuumed out
  from under its holder on any backend.

Underscore-prefixed name keeps the lease invisible to Spark's file
listing.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import socket
import threading
import time
import uuid
from collections.abc import Iterator
from urllib.parse import urlparse

LEASE_NAME = "_writer_lease"
DEFAULT_TTL_SEC = 600.0

# per-process reentrancy state: normalized root -> (depth, token, thread, stop)
_HELD: dict[str, dict] = {}
_HELD_LOCK = threading.Lock()


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted maintenance on a leased tier root."""


class UnsupportedStorageError(RuntimeError):
    """The root's storage cannot provide the lease's atomicity needs
    (and the scheme was not explicitly opted into unguarded mode)."""


class LeaseBackend:
    """Storage primitives behind the lease. Implementations operate on
    lease-file path strings derived from the protected root; the
    capability flags are checked BEFORE any primitive is used, so a
    backend that cannot provide a guarantee fails loudly up front
    rather than corrupting silently."""

    #: exclusive create visible to all writers — REQUIRED to lease
    atomic_create: bool = False
    #: atomic rename (stale-lease breaking) — optional, degrades loudly
    atomic_rename: bool = False

    def makedirs(self, root: str) -> None:
        raise NotImplementedError

    def create_exclusive(self, path: str, payload: dict) -> bool:
        """Create ``path`` with ``payload`` iff absent; False if held."""
        raise NotImplementedError

    def read(self, path: str) -> dict:
        raise NotImplementedError

    def age_seconds(self, path: str) -> float | None:
        """Seconds since last heartbeat, or None when absent."""
        raise NotImplementedError

    def touch(self, path: str) -> None:
        """Refresh the freshness signal (heartbeat)."""
        raise NotImplementedError

    def unlink(self, path: str) -> None:
        raise NotImplementedError

    def break_stale(self, path: str) -> None:
        """Remove a stale lease such that of N concurrent breakers at
        most one believes it removed the file (atomic rename + unlink
        on POSIX). Only called when ``atomic_rename`` is True."""
        raise NotImplementedError

    def lease_dirs(self, root: str, max_depth: int | None = None) -> Iterator[str]:
        """Yield descendant directories of ``root`` (excluding root)
        that contain a lease file, to ``max_depth`` levels (None =
        unbounded)."""
        raise NotImplementedError


class PosixLeaseBackend(LeaseBackend):
    """Local/NFSv4/FUSE filesystems: O_EXCL create, mtime heartbeat,
    atomic rename. The default backend for path and file:// roots."""

    atomic_create = True
    atomic_rename = True

    def makedirs(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)

    def create_exclusive(self, path: str, payload: dict) -> bool:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as fh:
            fh.write(json.dumps(payload))
        return True

    def read(self, path: str) -> dict:
        try:
            with open(path) as fh:
                return json.loads(fh.read() or "{}")
        except (OSError, ValueError):
            return {}

    def age_seconds(self, path: str) -> float | None:
        try:
            return time.time() - os.stat(path).st_mtime
        except OSError:
            return None  # vanished — not held

    def touch(self, path: str) -> None:
        os.utime(path)

    def unlink(self, path: str) -> None:
        os.unlink(path)

    def break_stale(self, path: str) -> None:
        # rename-then-unlink so two breakers can't both think they won
        broken = path + f".stale-{uuid.uuid4().hex[:8]}"
        os.rename(path, broken)
        os.unlink(broken)

    def lease_dirs(self, root: str, max_depth: int | None = None) -> Iterator[str]:
        base_depth = root.rstrip(os.sep).count(os.sep)
        for dirpath, dirnames, filenames in os.walk(root):
            if max_depth is not None and dirpath.count(os.sep) - base_depth >= max_depth:
                dirnames[:] = []
            if LEASE_NAME in filenames and dirpath != root:
                yield dirpath


_POSIX_BACKEND = PosixLeaseBackend()
# scheme -> backend, for explicitly registered object-store lockers
_BACKENDS: dict[str, LeaseBackend] = {}


def _read_holder(lease_path: str) -> dict:
    """Read a lease file's holder record (local paths; health reporting)."""
    return _POSIX_BACKEND.read(lease_path)


def register_lease_backend(scheme: str, backend: LeaseBackend) -> None:
    """Register a locker for an object-store scheme (e.g. ``"s3"``).
    The backend's capability flags are enforced at acquire time."""
    _BACKENDS[scheme.lower()] = backend


def _unguarded_schemes() -> set[str]:
    raw = os.environ.get("ARM_LEASE_UNGUARDED_SCHEMES", "")
    return {s.strip().lower() for s in raw.split(",") if s.strip()}


def _resolve(root: str) -> tuple[LeaseBackend | None, str]:
    """(backend, normalized root) — backend None means the scheme was
    explicitly opted into unguarded mode (documented no-op). An
    unregistered non-local scheme raises, never silently no-ops."""
    p = urlparse(root)
    if p.scheme in ("", "file"):
        return _POSIX_BACKEND, os.path.normpath(p.path if p.scheme == "file" else root)
    backend = _BACKENDS.get(p.scheme.lower())
    if backend is not None:
        return backend, root.rstrip("/")
    if p.scheme.lower() in _unguarded_schemes():
        return None, root.rstrip("/")
    raise UnsupportedStorageError(
        f"no lease backend registered for scheme {p.scheme!r} ({root!r}) — "
        f"the single-writer guarantee cannot be provided on this storage. "
        f"Register one with register_lease_backend({p.scheme!r}, backend) "
        f"(it needs an atomic exclusive create, e.g. S3 conditional PUT), "
        f"or, if single-writer is guaranteed externally, opt the scheme "
        f"into unguarded mode via ARM_LEASE_UNGUARDED_SCHEMES={p.scheme}"
    )


def _fresh(backend: LeaseBackend, lease_path: str, ttl: float) -> bool:
    """A lease younger than ttl belongs to a live writer (the heartbeat
    thread touches it every ttl/10 seconds while held)."""
    age = backend.age_seconds(lease_path)
    return age is not None and age <= ttl


def _held_by_us(norm: str) -> bool:
    with _HELD_LOCK:
        return norm in _HELD


def _check_ancestors(backend: LeaseBackend, norm: str, ttl: float) -> None:
    """Refuse when any ancestor directory holds a fresh FOREIGN lease —
    e.g. a vacuum of the gate work dir excludes adds to work/idx."""
    cur = os.path.dirname(norm)
    while True:
        if _held_by_us(cur):
            cur2 = os.path.dirname(cur)
            if cur2 == cur:
                break
            cur = cur2
            continue
        lp = os.path.join(cur, LEASE_NAME)
        if _fresh(backend, lp, ttl):
            holder = backend.read(lp)
            raise ConcurrentWriterError(
                f"writer lease held on ancestor {cur!r} by "
                f"{holder.get('writer_id')!r} (pid {holder.get('pid')}, "
                f"host {holder.get('host')!r}) — refusing concurrent "
                f"maintenance under it"
            )
        nxt = os.path.dirname(cur)
        if nxt == cur:
            break
        cur = nxt


def check_no_descendant_writers(
    root: str, ttl: float = DEFAULT_TTL_SEC, max_depth: int | None = None
) -> None:
    """Refuse when any descendant of ``root`` holds a fresh foreign
    lease — vacuum calls this (unbounded) before deleting anything, so
    it can never reclaim a live writer's in-flight ``_temporary`` task
    outputs; every acquire calls it depth-bounded (leases only ever
    live at maintenance roots — tier roots and their immediate
    datasets — so depth 1 from the acquired root covers every foreign
    sub-dataset lease without scandir-ing the partition directories,
    which number ~65k on a large tier)."""
    try:
        backend, norm = _resolve(root)
    except UnsupportedStorageError:
        return  # acquire will raise; the read-only check stays quiet
    if backend is None:
        return
    for dirpath in backend.lease_dirs(norm, max_depth=max_depth):
        if _held_by_us(dirpath):
            continue
        lp = os.path.join(dirpath, LEASE_NAME)
        if _fresh(backend, lp, ttl):
            holder = backend.read(lp)
            raise ConcurrentWriterError(
                f"writer lease held on descendant {dirpath!r} by "
                f"{holder.get('writer_id')!r} (pid {holder.get('pid')}, "
                f"host {holder.get('host')!r}) — refusing to vacuum "
                f"over a live writer"
            )


@contextlib.contextmanager
def writer_lease(
    root: str,
    ttl: float = DEFAULT_TTL_SEC,
    writer_id: str | None = None,
):
    """Hold the single-writer lease on ``root`` for the duration of a
    maintenance operation. Reentrant per process; loud
    :class:`ConcurrentWriterError` on a fresh foreign holder; breaks
    stale leases (dead writers) by atomic rename-then-retry. A daemon
    thread heartbeats the file every ``ttl/10`` seconds, so arbitrarily
    long Spark jobs stay covered without cooperation from the job
    itself. Raises :class:`UnsupportedStorageError` on storage that
    cannot provide an atomic exclusive create (module docstring:
    Storage backends)."""
    backend, norm = _resolve(root)
    if backend is None:
        yield  # scheme explicitly opted into unguarded mode
        return
    if not backend.atomic_create:
        raise UnsupportedStorageError(
            f"lease backend {type(backend).__name__} for {root!r} declares "
            f"atomic_create=False — an exclusive create is the primitive "
            f"the single-writer guarantee rests on; refusing to take a "
            f"lease that cannot exclude a concurrent writer"
        )
    with _HELD_LOCK:
        held = _HELD.get(norm)
        if held is not None:
            held["depth"] += 1
            with contextlib.suppress(OSError):
                backend.touch(os.path.join(norm, LEASE_NAME))
            reentered = True
        else:
            reentered = False
    if reentered:
        try:
            yield
        finally:
            with _HELD_LOCK:
                _HELD[norm]["depth"] -= 1
        return

    backend.makedirs(norm)
    lease_path = os.path.join(norm, LEASE_NAME)
    token = uuid.uuid4().hex
    payload = {
        "writer_id": writer_id or f"pid-{os.getpid()}",
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "token": token,
        "acquired_at": time.time(),
    }
    for _attempt in range(3):
        if backend.create_exclusive(lease_path, payload):
            break
        if _fresh(backend, lease_path, ttl):
            holder = backend.read(lease_path)
            age = backend.age_seconds(lease_path)
            age = round(age, 1) if age is not None else None
            raise ConcurrentWriterError(
                f"writer lease on {norm!r} held by "
                f"{holder.get('writer_id')!r} (pid {holder.get('pid')}, "
                f"host {holder.get('host')!r}, heartbeat {age}s ago, "
                f"ttl {ttl}s) — a second concurrent writer would corrupt "
                f"the tier's crash contracts; retry after the holder "
                f"finishes or raise ttl if its heartbeat thread died"
            )
        # stale: the holder stopped heartbeating ttl ago — break it,
        # but ONLY with an atomic rename (two breakers must not both
        # think they won). A backend without one degrades loudly.
        if not backend.atomic_rename:
            holder = backend.read(lease_path)
            raise ConcurrentWriterError(
                f"stale writer lease on {norm!r} (holder "
                f"{holder.get('writer_id')!r} stopped heartbeating) cannot "
                f"be broken safely: backend {type(backend).__name__} has no "
                f"atomic rename, so two breakers could both claim the win. "
                f"Remove {lease_path!r} manually after confirming the "
                f"holder is dead"
            )
        with contextlib.suppress(OSError):
            backend.break_stale(lease_path)
    else:
        raise ConcurrentWriterError(
            f"could not acquire writer lease on {norm!r} after 3 attempts "
            f"(persistent contention)"
        )

    # ancestor check runs AFTER our own create (create-then-check): for
    # an add(child) and a vacuum(parent) to both pass, each one's check
    # would have to precede the other's create, which its own create
    # already precedes — a cycle. Checked here, with our file already
    # visible, the worst interleaving is both refusing.
    try:
        _check_ancestors(backend, norm, ttl)
        check_no_descendant_writers(norm, ttl, max_depth=1)
    except ConcurrentWriterError:
        with contextlib.suppress(OSError):
            backend.unlink(lease_path)
        raise

    stop = threading.Event()
    interval = max(0.5, ttl / 10.0)

    def _beat() -> None:
        while not stop.wait(interval):
            try:
                backend.touch(lease_path)
            except OSError:
                return  # lease vanished — release will raise loudly

    thread = threading.Thread(target=_beat, daemon=True, name=f"arm-lease-{norm}")
    with _HELD_LOCK:
        _HELD[norm] = {"depth": 1, "token": token, "stop": stop, "thread": thread}
    thread.start()
    try:
        yield
    finally:
        with _HELD_LOCK:
            entry = _HELD[norm]
            entry["depth"] -= 1
            done = entry["depth"] == 0
            if done:
                del _HELD[norm]
        if done:
            stop.set()
            thread.join(timeout=5.0)
            holder = backend.read(lease_path)
            if holder.get("token") == token:
                with contextlib.suppress(OSError):
                    backend.unlink(lease_path)
            else:
                # someone broke our lease mid-run (TTL expired under a
                # dead heartbeat, or clock skew): the single-writer
                # guarantee may have been violated — say so loudly
                # rather than return success.
                raise ConcurrentWriterError(
                    f"writer lease on {norm!r} was lost mid-operation "
                    f"(now held by {holder.get('writer_id')!r}); another "
                    f"writer may have interleaved — verify the tier and "
                    f"raise ttl / check heartbeat liveness"
                )


def leased(param: str = "path"):
    """Decorator: run the wrapped maintenance function under
    :func:`writer_lease` on its ``param`` argument. One decorator line
    per persist/add/delete/compact entry point keeps the lease
    impossible to forget when new maintenance paths are added."""

    def deco(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            root = bound.arguments[param]
            with writer_lease(root):
                return fn(*args, **kwargs)

        return wrapper

    return deco
