"""Tracked persistence: persist() with a release discipline.

`DataFrame.persist()` registers the plan in Spark's CacheManager,
which holds executor storage until an explicit `unpersist()` —
Python GC does NOT reclaim it (the JVM-side cache is keyed by
logical plan, not by the Python object). Operators that persist
intermediates (dedup signature/shingle tables, ANN norm tables)
therefore leak storage across queries in a long-lived session
unless something releases them.

Discipline implemented here:
- operators call `tracked_persist(df)` instead of `df.persist()`;
  every handle lands in a module registry.
- `release_caches()` unpersists everything tracked; registered plan
  entries call it on entry, so a session holds AT MOST one query's
  intermediates (the current one — which must stay cached until the
  caller consumes the lazy result).
- `cache_scope()` gives library users deterministic scoping:
  everything persisted inside the block is unpersisted on exit
  (consume the result inside the block).
"""

from __future__ import annotations

import contextlib
from typing import Any, Iterator

from pyspark.sql import DataFrame

# anything with a zero-arg .unpersist(): DataFrames from
# tracked_persist, and JVM RDD handles from truncate_lineage's
# localCheckpoint branch (their MEMORY_AND_DISK blocks are otherwise
# reclaimed only when the JVM ContextCleaner GCs the RDD)
_TRACKED: list[Any] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() that registers the handle for later release."""
    out = df.persist()
    _TRACKED.append(out)
    return out


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Checkpoint ``df`` to cut its logical plan — the per-round step
    of iterative kernels whose plan otherwise embeds every previous
    round (PageRank, the served kNN-graph beam walk). Plain persist
    caches data but keeps the full tree, and re-stringifying a deep
    tree alone can OOM a default-1g driver. A kernel whose rounds
    read the previous round once and fuse into one shallow plan
    (connected components) needs no truncation at all.

    Two tiers:
    - a checkpoint dir is set (``sc.setCheckpointDir``): RELIABLE
      ``checkpoint(eager=True)`` over a persisted plan. Eager matters:
      a lazy checkpoint materializes nothing until the final action,
      and by default (``spark.checkpoint.checkpointAllMarkedAncestors``
      = false) only the LAST marked RDD would then be written — so a
      mid-iteration executor loss would recompute from scratch, the
      exact failure this branch exists to bound. The persist-first
      step makes the eager write read cached blocks instead of
      recomputing the round (RDD checkpoint writes happen in a
      post-job pass that re-evaluates unpersisted partitions).
      Block retention: the persisted pre-checkpoint blocks are
      TRACKED and freed at the next ``release_caches()`` (registered
      entries call it on entry; iterative kernels release per round)
      — after that, only the checkpoint-store files remain, and those
      live until the checkpoint dir itself is cleaned (Spark removes
      them on context shutdown when ``spark.cleaner.referenceTracking
      .cleanCheckpoints`` is set; otherwise the dir is the operator's
      to manage, as on any shared cluster).
    - no checkpoint dir (default local session): ``localCheckpoint()``
      — executor-local MEMORY_AND_DISK blocks; fast, but an executor
      loss kills the lineage. The freshly persisted RDD handle is
      registered so ``release_caches()`` frees its blocks
      deterministically instead of waiting for JVM GC.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return tracked_persist(df).checkpoint(eager=True)
    jsc = sc._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=False)
    # rdd.localCheckpoint() marks its RDD persisted immediately (even
    # with eager=False), so the new handle is visible right away
    pers = jsc.getPersistentRDDs()
    for rid in set(pers.keySet().toArray()) - before:
        _TRACKED.append(pers.get(rid))
    return out


def release_caches() -> int:
    """Unpersist every tracked intermediate; returns how many were
    released. Safe to call with lazy plans still referencing them —
    they simply recompute (correctness is unaffected)."""
    n = 0
    while _TRACKED:
        _TRACKED.pop().unpersist()
        n += 1
    return n


@contextlib.contextmanager
def cache_scope() -> Iterator[None]:
    """Scope tracked persists: everything persisted inside the block
    is unpersisted on exit. Nestable (inner scopes release only their
    own persists)."""
    mark = len(_TRACKED)
    try:
        yield
    finally:
        while len(_TRACKED) > mark:
            _TRACKED.pop().unpersist()
