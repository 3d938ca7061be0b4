"""One lifecycle for the frames an operator caches.

An operator that persists intermediate frames registers each one here
under its own function name, the OWNER.  The operator's next call
releases them on entry, and ``release_cached`` releases them on demand.
A long session therefore holds at most one call's frames per operator
and driver thread, while the lazily returned result of a call can still
read its frames until then.  An unpersisted frame that a still-lazy
result needs later recomputes from its lineage (the documented eviction
semantics), so an early release costs time, never correctness.  A
released LOCAL checkpoint has no lineage left to recompute from, so an
owner registers only the checkpoint its returned frame reads, and does
not release it on its next call: only ``release_cached`` frees it, once
the caller has consumed the results.

The registry is per driver THREAD (``threading.local``): two threads
running the same operator concurrently never release each other's live
frames, and keying by owner means one operator never releases another's.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class _Registry(threading.local):
    def __init__(self) -> None:
        # owner -> release callables, each taking ``blocking``
        self.frames: dict[str, list] = {}


_registry = _Registry()


def _register(owner: str, release) -> None:
    _registry.frames.setdefault(owner, []).append(release)


def cache_frame(
    df: DataFrame, owner: str, level: StorageLevel = StorageLevel.MEMORY_ONLY
) -> DataFrame:
    """Persist ``df`` at ``level`` and register it under ``owner``."""
    df = df.persist(level)
    _register(owner, df.unpersist)
    return df


def adopt_frame(df: DataFrame, owner: str) -> DataFrame:
    """Register an already-persisted ``df`` under ``owner`` (a frame
    built by a helper whose other callers own its lifecycle, or the JVM
    RDD holding a checkpoint's blocks)."""
    _register(owner, df.unpersist)
    return df


def release_cached(owner: str | None = None, blocking: bool = False) -> None:
    """Release the frames the current driver thread registered under
    ``owner`` (every owner's when None).  Safe any time after the
    caller has consumed (collected / written) the results that read
    them; a result that reads a released checkpoint can no longer be
    read at all."""
    owners = [owner] if owner is not None else list(_registry.frames)
    for o in owners:
        for release in _registry.frames.pop(o, ()):
            release(blocking)
