"""Cache lifetimes: the one module that persists and checkpoints.

Every library ``persist`` and ``localCheckpoint`` goes through
:func:`scoped_persist` or :func:`local_checkpoint`. Each registers what
it caches with the innermost active :func:`pair_cache_scope`, which
frees it when the scope exits. Outside any scope the persist or
checkpoint still happens and nothing tracks it: the blocks live as long
as the SparkContext keeps them.

Entries are of two kinds, with different release consequences:

- persisted DataFrames: recomputable lineage. An early release costs a
  recompute, never wrong rows;
- checkpoint blocks: ``localCheckpoint`` TRUNCATED the lineage, so once
  the blocks are released the checkpointed DataFrame is UNREADABLE.

Hence: release a scope only once every result produced under it has
been materialized (write/collect).
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame


class CacheScope:
    """Release callbacks for the persisted DataFrames and checkpoint
    blocks created while the scope was the innermost active one.

    A registry (not an attribute on the returned DataFrame) because any
    downstream transform (select/filter/...) returns a NEW DataFrame
    without custom attributes — release must not depend on callers
    preserving the original object."""

    def __init__(self) -> None:
        self._entries: list = []
        self._lock = threading.Lock()

    def add(self, release) -> None:
        with self._lock:
            self._entries.append(release)

    def discard(self, release) -> None:
        with self._lock:
            self._entries = [e for e in self._entries if e != release]

    def release(self) -> None:
        with self._lock:
            drain, self._entries = self._entries, []
        for release in drain:
            release()


# The scope stack is thread-local so two threads caching concurrently
# cannot interleave entries into each other's scopes.
_ACTIVE = threading.local()


def _register(release) -> CacheScope | None:
    """Add the ``release`` callback to the innermost active scope;
    returns that scope, or None (nothing tracks it) outside any scope."""
    stack = getattr(_ACTIVE, "stack", None)
    if not stack:
        return None
    stack[-1].add(release)
    return stack[-1]


@contextlib.contextmanager
def pair_cache_scope():
    """Scope the caches of one operator call (or group of calls) and free
    them deterministically on exit::

        with pair_cache_scope():
            pairs = minhash_near_duplicates(docs)
            pairs.write.parquet(out)          # materialize INSIDE the scope
        # banded/candidate persists + any checkpoint blocks are gone here

    Each call site frees exactly its own intermediates, so a release
    cannot invalidate another pending result made outside the scope.
    Exiting the scope makes checkpoint-backed results created inside it
    (``dedup_components`` labels, ``pagerank`` ranks, the distributed
    ``bpe_train_merges`` symbols) UNREADABLE — consume them before
    leaving. Reentrant: an inner scope frees only its own entries.
    Thread-safe: the active-scope stack is thread-local."""
    scope = CacheScope()
    stack = getattr(_ACTIVE, "stack", None)
    if stack is None:
        stack = _ACTIVE.stack = []
    stack.append(scope)
    try:
        yield scope
    finally:
        stack.pop()
        scope.release()


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it with the innermost active
    :func:`pair_cache_scope`, which unpersists it on exit. Returns ``df``
    for chaining."""
    df.persist()
    _register(df.unpersist)
    return df


class CheckpointBlocks:
    """Release handle for the blocks of exactly one ``localCheckpoint``.

    ``DataFrame.rdd.unpersist()`` cannot free them: ``.rdd`` wraps a
    different, python-converted RDD. The handle holds the id of the
    checkpointed RDD itself (the ``LogicalRDD`` the checkpoint returns),
    so it frees that RDD and nothing another caller persisted."""

    def __init__(self, ckpt: DataFrame):
        self._jsc = ckpt.sparkSession.sparkContext._jsc
        self._rdd_id = ckpt._jdf.queryExecution().logical().rdd().id()
        self._scope = _register(self.release)

    def release(self) -> None:
        """Free the blocks now (idempotent) and drop the handle from its
        scope. The checkpointed DataFrame is unreadable afterwards."""
        jmap = self._jsc.getPersistentRDDs()
        if jmap.containsKey(self._rdd_id):
            jmap.get(self._rdd_id).unpersist()
        if self._scope is not None:
            self._scope.discard(self.release)
            self._scope = None


def local_checkpoint(df: DataFrame) -> tuple[DataFrame, CheckpointBlocks]:
    """Eager ``localCheckpoint`` of ``df``: the blocks exist on return
    and the lineage is cut. Returns the checkpointed DataFrame and the
    release handle for its blocks, registered with the innermost active
    :func:`pair_cache_scope`. Iterative callers release each round's
    handle once the next round is materialized, so only the blocks of
    the result they return are left for the scope to free."""
    out = df.localCheckpoint()
    return out, CheckpointBlocks(out)
