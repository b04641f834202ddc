"""The one lifecycle for operator-internal persists.

Only this module calls ``persist``, ``cache`` or ``unpersist``
(guarded by ``tests/test_cache.py``). ``tracked_persist()`` records
every persist, and one rule says who frees it:

- a frame a RETURNED lazy result depends on: ``release_caches()``,
  which frees the package's caches, never the application's;
- a frame nothing returned depends on: ``with scoped_release():``,
  which frees it when the block exits or raises.

``release(df)`` frees one tracked frame early (``transform_cartogram``
drops each iteration once the next is materialized).
``localCheckpoint()`` stays outside the registry: it is a lineage cut,
not a CacheManager entry, so ``unpersist()`` cannot free it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + registration for ``release_caches()``.
    Semantics are identical to a bare persist; the recorded handle
    only enables the later release."""
    df.persist()
    _TRACKED.append(df)
    return df


def release(df: DataFrame) -> None:
    """Unpersist a tracked ``df`` and drop it from the registry; a
    no-op for a frame the package did not track."""
    if any(t is df for t in _TRACKED):
        df.unpersist()
        _TRACKED[:] = [t for t in _TRACKED if t is not df]


def release_caches() -> int:
    """Unpersist every intermediate recorded by ``tracked_persist()``
    and clear the registry; returns the number released.  Safe at any
    time: results already consumed recompute from lineage if re-used,
    and the call never touches caches the APPLICATION created."""
    n = len(_TRACKED)
    for df in _TRACKED:
        df.unpersist()
    _TRACKED.clear()
    for hook in _RELEASE_HOOKS:
        hook()
    return n


class scoped_release:
    """Context manager releasing exactly the intermediates
    ``tracked_persist`` records INSIDE the with-block, on exit or on a
    raise — for operators' internal frames and for drivers of
    unbounded loops (a streaming ``foreachBatch`` probing per
    micro-batch) where the global ``release_caches()`` would also
    evict long-lived memoized frames, and NO release would accumulate
    one persisted frame per batch forever. The caller must have
    CONSUMED the scoped results (written/collected) before the block
    exits; they recompute from lineage if reused after."""

    def __enter__(self) -> "scoped_release":
        self._n0 = len(_TRACKED)
        return self

    def __exit__(self, *exc) -> None:
        for df in _TRACKED[self._n0 :]:
            df.unpersist()
        del _TRACKED[self._n0 :]


_RELEASE_HOOKS: list = []


def on_release(hook) -> None:
    """Register a zero-arg callback invoked by ``release_caches()``
    AFTER the unpersist sweep — for callers that memoize handles to
    tracked frames (a handle left in a dict after release would make
    later lookups silently serve an unpersisted frame). Idempotent
    per function object."""
    if hook not in _RELEASE_HOOKS:
        _RELEASE_HOOKS.append(hook)
