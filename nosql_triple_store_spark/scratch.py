"""Collision-safe scratch directories for materialized derived relations.

Several operators write a derived table once per ``sf_dir`` (co-purchase
edges, XML/binary-file fixtures, compaction layouts) and reread it across
queries. The path must be unique per *absolute* source dir — keying by
``basename(sf_dir)`` lets two dirs that share a basename (``/a/sf0.01``
and ``/b/sf0.01``) silently overwrite each other's parquet — and unique
per process, so concurrent drivers (pytest + bench + driver_check) never
overwrite a directory another plan is lazily reading.

At 100 TB the analog is a per-job staging prefix under the warehouse
(e.g. ``s3://warehouse/_staging/<job-id>/``) — same rule: derived-layout
paths are keyed by source identity + writer identity, never by a
human-readable shard name alone.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import tempfile
import time

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


# --- build-time attribution (VERDICT r9 finding #3) -----------------
# A cold session bills a lazily-triggered scratch build (e.g. the
# rarest-first prefix index) to whichever query touches it first,
# making cold single-run numbers incomparable to warm medians. Builders
# wrap their build body in timed_build(kind); a timing harness drains
# the recorder around each query and re-attributes the build seconds to
# its layout bucket, so cold and warm sessions report the same
# per-query figure.
_BUILD_SECONDS: dict[str, float] = {}


@contextlib.contextmanager
def timed_build(kind: str):
    """Record the wall-clock of one first-touch scratch/layout build
    under ``kind`` (accumulates across builds of the same kind)."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        _BUILD_SECONDS[kind] = _BUILD_SECONDS.get(kind, 0.0) + (
            time.perf_counter() - t0
        )


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
