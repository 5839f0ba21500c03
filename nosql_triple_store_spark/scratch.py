"""Scratch directories for derived relations, and the one memo policy
every compute-once-per-corpus value follows.

A derived value (a probe decision, a fitted model) or layout (the
encoded triple store, the CSV/ORC/XML fixtures, compaction layouts) is
computed once and reused by every consumer. :func:`memo` owns the four
decisions involved; :func:`build_once` is its path-valued case.

- **Key**: ``(kind, abspath(sf_dir), key, source fingerprints)``, the
  fingerprints being :func:`source_fingerprint` of each table in
  ``sources``. Rewriting a listed table computes afresh instead of
  serving a stale answer. A value derived from another lists the
  underlying fixture tables.
- **Path** (:func:`build_once` only): ``scratch_dir(kind, sf_dir)/<digest
  of key>``: unique per absolute source dir (a shared basename such as
  ``/a/sf0.01`` and ``/b/sf0.01`` never collides), per process
  (concurrent drivers never overwrite each other) and per key (a
  rebuild never overwrites files a live DataFrame is reading). Removed
  at process exit.
- **Lock**: a hit is one dict lookup and takes no lock. A miss takes a
  per-key lock, checks again, then computes. A compute only asks for
  the values it is derived from, so nested computes lock in dependency
  order and cannot deadlock. Nothing is cached if the compute raises.
- **Timing**: the compute runs inside :func:`timed_build(kind)
  <timed_build>`, which records self time, so an outer compute that
  triggers an inner one is not billed twice.

At 100 TB the analog is a per-job staging prefix under the warehouse
(e.g. ``s3://warehouse/_staging/<job-id>/``) keyed by source identity.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import tempfile
import threading
import time
from collections.abc import Callable

# Every scratch path this process hands out is removed at interpreter
# exit (retention policy: scratch lives exactly as long as the process
# that created it — lazily-returned DataFrames are always collected
# before exit, and a long-lived host never accumulates dead per-pid
# dirs). ignore_errors: a half-written dir on crash must not mask the
# original exception.
_CREATED: list[str] = []


def _cleanup() -> None:  # pragma: no cover - exit hook
    for p in _CREATED:
        shutil.rmtree(p, ignore_errors=True)


atexit.register(_cleanup)


def scratch_dir(kind: str, sf_dir: str) -> str:
    """A per-(source-dir, process) scratch path for ``kind``.

    ``basename-hash`` keeps the path debuggable while the sha1 of the
    absolute path guarantees distinct sources never collide; the pid
    suffix isolates concurrent processes. Removed at process exit.
    """
    absdir = os.path.abspath(os.path.normpath(sf_dir))
    digest = hashlib.sha1(absdir.encode("utf-8")).hexdigest()[:10]
    tag = f"{os.path.basename(absdir)}-{digest}-{os.getpid()}"
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}", tag)
    _CREATED.append(path)
    return path


def persistent_artifact_path(kind: str, sf_dir: str, name: str) -> str:
    """A CROSS-process cache path for a small derived artifact whose
    content is a deterministic function of the source data (e.g. the
    IVF-PQ coarse codebook: deterministic-seed Lloyd over
    ``embeddings``). Unlike :func:`scratch_dir` there is no pid suffix
    and no exit-time cleanup — surviving the process is the point, so
    bench / pytest / driver_check stop re-deriving it per run.

    Callers MUST key ``name`` by a fingerprint of the source (size +
    mtime) so a data refresh invalidates the cache, and MUST write via
    atomic rename (``os.replace``) so concurrent deterministic writers
    race benignly. At 100 TB the analog is a codebook/model object
    stored next to the data under the warehouse prefix and loaded by
    jobs, not refit per session.

    Trust boundary (ADVICE r7): artifacts influence query RESULTS (the
    IVF-PQ codebook skews neighbor sets), so the cache must not live
    in the world-writable system tempdir where any local user could
    pre-seed a bogus file. It lives under the caller's own
    ``~/.cache/spark_graft`` created 0700; if the resolved directory is
    somehow not owned by the current uid (e.g. a hostile pre-created
    path), we fall back to a per-process scratch dir — the artifact is
    then merely re-derived, never trusted."""
    absdir = os.path.abspath(os.path.normpath(sf_dir))
    digest = hashlib.sha1(absdir.encode("utf-8")).hexdigest()[:10]
    tag = f"{os.path.basename(absdir)}-{digest}"
    base = os.path.join(
        os.path.expanduser("~"), ".cache", "spark_graft", kind
    )
    d = os.path.join(base, tag)
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.stat(d)
        if st.st_uid != os.getuid():
            raise OSError("artifact dir not owned by current uid")
    except OSError:
        d = os.path.join(scratch_dir(f"untrusted_{kind}", sf_dir))
        os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)


def path_fingerprint(path: str) -> tuple:
    """On-disk identity of one parquet input: ``(size, mtime_ns)`` for a
    file; for a directory, the sorted ``(relative name, size, mtime_ns)``
    of every file under it. Spark's writers name part files by a fresh
    job UUID, so an overwrite always changes a directory's fingerprint
    even when sizes and mtimes happen to repeat."""
    if os.path.isdir(path):
        entries = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                entries.append(
                    (os.path.relpath(full, path), st.st_size, st.st_mtime_ns)
                )
        return tuple(sorted(entries))
    st = os.stat(path)
    return (st.st_size, st.st_mtime_ns)


def source_fingerprint(sf_dir: str, table: str) -> str:
    """Digest of one source table's :func:`path_fingerprint` — the cache
    key component that invalidates derived artifacts on refresh."""
    fp = path_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))
    return hashlib.sha1(repr(fp).encode("utf-8")).hexdigest()[:16]


_MEMO: dict[tuple, object] = {}
_KEY_LOCKS: dict[tuple, threading.Lock] = {}


def _memo_key(kind: str, sf_dir: str, sources: tuple, key: object) -> tuple:
    fps = tuple(source_fingerprint(sf_dir, t) for t in sources)
    return (kind, os.path.abspath(os.path.normpath(sf_dir)), key, fps)


def _lookup(k: tuple, kind: str, compute: Callable[[], object]):
    try:
        return _MEMO[k]
    except KeyError:
        pass
    # dict.setdefault is atomic, so racing misses share one lock per key
    with _KEY_LOCKS.setdefault(k, threading.Lock()):
        if k not in _MEMO:
            with timed_build(kind):
                value = compute()
            _MEMO[k] = value
    return _MEMO[k]


def memo(
    kind: str,
    sf_dir: str,
    compute: Callable[[], object],
    *,
    sources: tuple[str, ...],
    key: object = (),
):
    """Return ``compute()``, run once per (kind, source dir, key,
    fingerprints of the ``sources`` tables) (module docstring)."""
    return _lookup(_memo_key(kind, sf_dir, sources, key), kind, compute)


def build_once(
    kind: str,
    sf_dir: str,
    write: Callable[[str], object],
    *,
    sources: tuple[str, ...],
    key: object = (),
) -> str:
    """Run ``write(path)`` once per (kind, source dir, key, fingerprints
    of the ``sources`` tables) and return ``path`` (module docstring).
    Callers read the directory back themselves."""
    k = _memo_key(kind, sf_dir, sources, key)

    def build() -> str:
        digest = hashlib.sha1(repr(k).encode("utf-8")).hexdigest()[:16]
        path = os.path.join(scratch_dir(kind, sf_dir), digest)
        # a failed earlier attempt may have left a partial dir
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        return path

    return _lookup(k, kind, build)


# A cold session bills a lazily-triggered scratch build to whichever
# query touches it first. Builds run inside timed_build(kind); a timing
# harness drains the recorder around each query and re-attributes the
# build seconds to its layout bucket, so cold and warm sessions report
# the same per-query figure.
_BUILD_SECONDS: dict[str, float] = {}
_NESTED = threading.local()  # per-thread stack of child build seconds


@contextlib.contextmanager
def timed_build(kind: str):
    """Record the self time of one first-touch scratch/layout build under
    ``kind`` (accumulates across builds of the same kind). Time spent in
    a nested ``timed_build`` is billed to the inner kind only."""
    stack = _NESTED.__dict__.setdefault("stack", [])
    stack.append(0.0)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        wall = time.perf_counter() - t0
        child = stack.pop()
        if stack:
            stack[-1] += wall
        _BUILD_SECONDS[kind] = _BUILD_SECONDS.get(kind, 0.0) + wall - child


def drain_build_seconds() -> dict[str, float]:
    """Return and clear the build-seconds recorded since the last
    drain. Harness protocol: drain (discard) before the timed region,
    drain (attribute) after."""
    out = {k: round(v, 4) for k, v in _BUILD_SECONDS.items()}
    _BUILD_SECONDS.clear()
    return out


def scratch_tmp(prefix: str) -> str:
    """mkdtemp that is removed at process exit — use for streaming
    checkpoints / versioned view dirs instead of bare tempfile.mkdtemp
    (which leaks on a long-lived host)."""
    path = tempfile.mkdtemp(prefix=prefix)
    _CREATED.append(path)
    return path


def ckpt_tmp(prefix: str) -> str:
    """Scratch dir for EPHEMERAL streaming checkpoints (bounded
    availableNow drains whose checkpoint dies with the query). The
    state-store/offset-log writes are per-batch fsync'd small files, so
    a memory-backed fs measurably cuts the per-query floor (~0.1-0.3 s
    each at sf0.1). Resolution: $SPARK_GRAFT_CKPT_BASE if set (point it
    at durable storage for restartable production streams), else
    /dev/shm when present, else the normal tmp dir. Removed at process
    exit either way."""
    base = os.environ.get("SPARK_GRAFT_CKPT_BASE")
    if base is None and os.path.isdir("/dev/shm"):
        # ADVICE r11: containers commonly mount /dev/shm at 64 MB —
        # prefer it only when it has real headroom, else state-store /
        # offset-log writes fail mid-query with no-space errors that
        # plain tmp would not have hit.
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 256 * 1024 * 1024:
                base = "/dev/shm"
        except OSError:
            pass
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    _CREATED.append(path)
    return path
