"""Scratch resources with guaranteed reclamation: temp directories and
query-internal caches.

Every operator that needs an on-disk fixture (lake roots, stream
checkpoints, bucketed-table warehouses, .env files) allocates through
:func:`scratch_dir` instead of calling ``tempfile.mkdtemp`` directly.
Directories are per-process: they live until interpreter exit, when a
single ``atexit`` janitor removes them. Spark's ``addPyFile`` and
parquet readers copy or own what they need, and nothing in the package
reads a scratch dir from a later process, so removal at exit is safe.

Caches follow one rule: a cache lives exactly as long as the DataFrame
the query returns. Every ``persist()`` in the package goes through
:func:`persist_scoped`, and the registry builds each query under
:func:`run_scoped`. When the caller drops its last reference to the
result, every frame the build persisted unpersists; when the build
raises, they unpersist at once. Nothing else in the package touches
the session's cache, so the caller's own cached tables survive any
number of dispatches, and two threads can dispatch concurrently.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
import weakref

_LOCK = threading.Lock()
_DIRS: list[str] = []
_REGISTERED = False

_PERSIST_SCOPE = threading.local()


def persist_scoped(df):
    """``df.persist()``, registered with this thread's open
    :func:`run_scoped` build. Outside a build (direct module calls from
    tests and probes) it is a plain ``persist()`` the caller owns."""
    out = df.persist()
    jdfs = getattr(_PERSIST_SCOPE, "jdfs", None)
    if jdfs is not None:
        jdfs.append(out._jdf)
    return out


def _release(jdfs) -> None:
    # Non-blocking unpersist of JVM handles. Errors are swallowed: at
    # interpreter shutdown the gateway may already be gone.
    for jdf in jdfs:
        try:
            jdf.unpersist(False)
        except Exception:
            pass


def run_scoped(build, *args):
    """Run ``build(*args)`` and tie the lifetime of every frame it
    :func:`persist_scoped` to the DataFrame it returns.

    The release closure holds only the frames' JVM handles, never the
    result, so a build that returns one of its own persisted frames
    (the REST readers) is still collectable. A nested call runs inside
    the outer scope: a composed query's persists ride the top-level
    result's lifetime."""
    if getattr(_PERSIST_SCOPE, "jdfs", None) is not None:
        return build(*args)
    _PERSIST_SCOPE.jdfs = jdfs = []
    try:
        out = build(*args)
    except BaseException:
        _release(jdfs)
        raise
    finally:
        _PERSIST_SCOPE.jdfs = None
    if jdfs:
        weakref.finalize(out, _release, tuple(jdfs))
    return out


def _janitor() -> None:
    for d in _DIRS:
        shutil.rmtree(d, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` plus end-of-process reclamation."""
    global _REGISTERED
    d = tempfile.mkdtemp(prefix=prefix)
    with _LOCK:
        if not _REGISTERED:
            atexit.register(_janitor)
            _REGISTERED = True
        _DIRS.append(d)
    return d
