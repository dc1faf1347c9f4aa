"""Scoped persist tracking: release cached intermediates after their
consuming action.

Operators persist intermediates that feed several plan branches
(signatures, key tables, candidate sets).  Inside one query that is
pure win; across a long-lived session running the pipeline repeatedly
it accumulates storage-memory pressure, because the operator itself
never sees the consuming ACTION and so can never safely unpersist
(VERDICT r2 "what's wrong" #4).

The fix is a dynamic scope owned by whoever runs the action:

    with persist_scope():
        df = some_operator(...)   # operators call scoped_persist()
        df.write.parquet(...)     # the consuming action
    # <- every intermediate persisted inside the scope is now released

``scoped_persist`` replaces bare ``DataFrame.persist()`` in operators.
Outside any scope it degrades to a plain persist (exploratory /
notebook use keeps today's behavior); inside a scope the frame is
registered with the innermost scope and unpersisted when it exits.
Scopes nest; each releases only its own registrations.

Scopes are PER-THREAD (threading.local): with concurrent driver
threads — parallel job submission, or a foreachBatch streaming query
running alongside batch work in one session — each thread sees only
its own scope stack, so another thread's scope exit can never
unpersist a DataFrame mid-query in this thread (ADVICE r3).  A scope
opened in one thread does not govern persists made in threads it
spawns; each worker thread opens its own.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOCAL = threading.local()


def _scopes() -> list[list[DataFrame]]:
    if not hasattr(_LOCAL, "scopes"):
        _LOCAL.scopes = []
    return _LOCAL.scopes


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() that this thread's innermost persist_scope releases."""
    out = df.persist()
    stack = _scopes()
    if stack:
        stack[-1].append(out)
    return out


def release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a ``DataFrame.localCheckpoint()``'s cache.

    ``DataFrame.unpersist()`` goes through the SQL CacheManager and is a
    NO-OP for checkpoints — the cached blocks live at the RDD level,
    behind the plan's LogicalRDD leaf — so iterative algorithms that
    checkpoint per round (connected components) leaked one session-
    lifetime RDD per round (found extending the r5 memo-leak test).
    Reach the RDD through the analyzed plan instead.

    After release the frame is UNREADABLE (localCheckpoint truncates
    lineage; Spark raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) — call it
    only once every consumer has materialized.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # non-LogicalRDD plan or stopped session — nothing to free


class _LocalCheckpointHandle:
    """Adapter so a localCheckpointed frame can sit in a persist_scope
    bucket next to plain persisted frames (scope exit calls
    ``unpersist(blocking=False)`` on every member)."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        release_local_checkpoint(self._df)


def register_local_checkpoint(df: DataFrame) -> DataFrame:
    """Hand a localCheckpointed frame to this thread's innermost
    persist_scope for release on scope exit.  Outside any scope the
    frame keeps its session lifetime — the same degradation contract as
    ``scoped_persist`` (a bare driver caller consumes the result
    lazily, so its backing blocks must survive the call)."""
    stack = _scopes()
    if stack:
        stack[-1].append(_LocalCheckpointHandle(df))
    return df


def scoped_broadcast(spark, value):
    """sparkContext.broadcast() that this thread's innermost
    persist_scope releases with its frames.  ``unpersist`` drops only
    the executor copies (the driver keeps the value), so a consumer
    recomputed after the scope re-fetches it.  Outside any scope the
    broadcast keeps its session lifetime, like ``scoped_persist``."""
    bc = spark.sparkContext.broadcast(value)
    stack = _scopes()
    if stack:
        stack[-1].append(bc)
    return bc


@contextmanager
def persist_scope():
    """Release every scoped_persist() made inside the block (in this
    thread) on exit.

    blocking=False: eviction is asynchronous, the caller never waits on
    executor cleanup.
    """
    bucket: list[DataFrame] = []
    stack = _scopes()
    stack.append(bucket)
    try:
        yield bucket
    finally:
        stack.pop()
        for df in bucket:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass  # session already stopped — nothing to release
