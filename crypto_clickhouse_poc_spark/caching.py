"""Bounded per-query DataFrame caching, and the one store for models and
tables derived from fixture files.

Some queries cache a mid-plan DataFrame that their own plan references many
times (the LSH band joins reference the signature subplan 8×). A bare
``.cache()`` per invocation leaks: the query function returns a lazy
DataFrame, so it can never unpersist its own cache, and repeated
invocations in a long-lived session (serving, bench, pytest) accumulate
executor storage without bound.

``bounded_cache`` keeps AT MOST ONE live cache per call-site key: creating
the new cache unpersists the previous invocation's. Unpersisting a
DataFrame a consumer still holds is always safe in Spark — the plan simply
recomputes — so the bound trades at worst one recompute of a stale handle
for a hard O(#call-sites) storage ceiling. ``bounded_checkpoint`` holds
eager local checkpoints to the same one-per-site bound.

Fitted models (``fitted``) and derived tables (``derived_dir``) are built
once per set of source bytes: keyed on ``(relpath, st_mtime_ns, st_size)``
of every source file, never on a directory name or a whole-second mtime,
so a fixture rewritten in place by any tool gets a fresh fit or build.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
import uuid
from typing import Callable, TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")

_LIVE: dict[str, DataFrame] = {}
_LOCK = threading.Lock()  # serving runs queries from concurrent threads


def bounded_cache(key: str, df: DataFrame) -> DataFrame:
    """Cache ``df`` under a call-site key, unpersisting the key's previous
    cache (non-blocking) so a session never holds more than one live cache
    per site. Thread-safe: concurrent callers with the same key must not
    race the pop/assign, or the loser's cache leaks untracked.

    When the new frame is semantically IDENTICAL to the previous one (the
    repeated-invocation case: bench warm runs, serving the same query),
    Spark's CacheManager dedupes ``cache()`` to the SAME entry — so
    unpersisting the old handle would kill the entry the new handle just
    adopted, and every repeat invocation would run UNCACHED (self-evicted;
    found by the r10 DSIR plan lock failing only after a prior identical
    run). ``sameSemantics`` keeps the shared entry alive; the per-key
    bound is intact either way — identical plans ARE one cache."""
    cached = df.cache()
    with _LOCK:
        prev = _LIVE.get(key)
        _LIVE[key] = cached
    if prev is not None and prev is not cached and not prev.sameSemantics(cached):
        prev.unpersist()
    return cached


_CHECKPOINTS: dict[str, DataFrame] = {}


def bounded_checkpoint(key: str, df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` under a call-site key, releasing
    the key's previous checkpoint RDD, so a session holds at most one
    live checkpoint per site (the bound ``bounded_cache`` keeps for
    caches). Unlike a cache, a local checkpoint cannot recompute: a frame
    built over an earlier invocation of the same site must be consumed
    before the next invocation, or its read fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. The query functions that use
    it return frames that callers collect at once."""
    cp = df.localCheckpoint(eager=True)
    with _LOCK:
        prev = _CHECKPOINTS.get(key)
        _CHECKPOINTS[key] = cp
    if prev is not None:
        # the checkpointed frame's plan is a LogicalRDD over the persisted
        # RDD; unpersisting it frees the blocks
        prev._jdf.queryExecution().logical().rdd().unpersist(False)
    return cp


def live_cache_count() -> int:
    """Number of live bounded caches (for tests / introspection)."""
    return len(_LIVE)


# (sf_dir, tables, params) → (source identity, fitted value)
_FITTED: dict[tuple, tuple] = {}


def _identity(sf_dir: str, tables: tuple[str, ...]) -> tuple:
    """``(relpath, st_mtime_ns, st_size)`` of every file under each
    ``<sf_dir>/<table>.parquet`` (a single file or a directory of parts)."""
    out = []
    for t in tables:
        root = os.path.join(sf_dir, f"{t}.parquet")
        parts = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in parts or [root]:  # os.walk of a plain file yields nothing
            st = os.stat(p)
            out.append((os.path.relpath(p, sf_dir), st.st_mtime_ns, st.st_size))
    return tuple(out)


def fitted(
    sf_dir: str, tables: tuple[str, ...], params: tuple, fit: Callable[[], T]
) -> T:
    """``fit()``'s value for the current bytes of ``tables`` under
    ``sf_dir``, reused until those files change, then refitted in place of
    the old entry. ``params`` names the model and every setting it depends
    on. No lock is held while fitting: fits are deterministic, so threads
    that fit at once get the same value. The identity is taken BEFORE the
    fit, so a source rewritten mid-fit makes the next call fit again."""
    key = (sf_dir, tables, params)
    ident = _identity(sf_dir, tables)
    hit = _FITTED.get(key)
    if hit is not None and hit[0] == ident:
        return hit[1]
    value = fit()
    _FITTED[key] = (ident, value)
    return value


def derived_dir(
    sf_dir: str, tables: tuple[str, ...], params: tuple, build: Callable[[str], None]
) -> str:
    """Path of a table derived from ``tables`` under ``sf_dir``, written by
    ``build(path)`` unless some process already published it. Named by a
    digest of the source directory, identity and ``params``, so new bytes
    get a new directory and none is rebuilt in place. A build goes to
    ``<dest>.build-<pid>-<uuid>`` and is published with ``os.rename``; the
    loser of a race deletes its build and serves the winner's."""
    digest = hashlib.sha256(
        repr((os.path.realpath(sf_dir), _identity(sf_dir, tables), params)).encode()
    ).hexdigest()[:20]
    dest = os.path.join(
        tempfile.gettempdir(), "ccps_derived", f"{'-'.join(tables)}-{digest}"
    )
    if not os.path.isdir(dest):
        tmp = f"{dest}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        build(tmp)
        try:
            os.rename(tmp, dest)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return dest
