"""When a DataFrame is materialized, and when its blocks are freed.

Spark replays a lazy plan for every action and branch that reads it
(exchange reuse fails across this library's tokenize lambdas), so an op
materializes a relation it reads more than once, by one of these verbs:

* ``cached(df)``: an op's private intermediate. Persist on enter,
  release on exit.
* ``cache(df)``: a persist that the op's returned lazy plan still
  reads; the enclosing ``scope()`` releases it.
* ``pin(df)``: a fan-out point in a lazy plan, best vocab-, model- or
  candidate-sized (its blocks hold executor memory until released). A
  LAZY ``localCheckpoint``: the first job that reads it materializes
  it, so no driver job is added. Streaming frames pass through.
* ``checkpoint(df, checkpoint_dir=None)``: an iterative loop's state
  that a driver decision reads. EAGER and executor-local, or reliable
  files under ``checkpoint_dir`` (survives a lost executor).
* ``release(df)``: free a persisted or local-checkpointed frame now
  (``DataFrame.unpersist`` does not see a local checkpoint).
* ``scope()``: opened by whatever consumes a query's result. On exit it
  releases every cache, pin and checkpoint this thread made inside it
  (``foreachBatch`` runs on another thread), so the persistent RDDs and
  the CacheManager are as before. Never close it while a frame reading
  its blocks is still to be consumed: a released local checkpoint
  cannot be recomputed. ``Scope.keep`` hands a result to the enclosing
  scope. Outside any scope the JVM's garbage collection frees them.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_local = threading.local()


class Scope:
    def __init__(self, parent: Scope | None):
        self.parent, self.frames = parent, []

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand `df` to the enclosing scope (to none outside any scope)."""
        self.frames = [f for f in self.frames if f is not df]
        return df if self.parent is None else _owned(df, self.parent)


def _owned(df: DataFrame, s: Scope | None = None) -> DataFrame:
    s = s or getattr(_local, "top", None)
    if s is not None:
        s.frames.append(df)
    return df


@contextmanager
def scope() -> Iterator[Scope]:
    s = _local.top = Scope(getattr(_local, "top", None))
    try:
        yield s
    finally:
        _local.top = s.parent
        for df in reversed(s.frames):
            release(df)


def cache(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER) -> DataFrame:
    return _owned(df.persist(level))


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    df = df.persist()
    try:
        yield df
    finally:
        release(df)


def pin(df: DataFrame) -> DataFrame:
    return df if df.isStreaming else _owned(df.localCheckpoint(eager=False))


def checkpoint(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    if checkpoint_dir:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return _owned(df.checkpoint(eager=True) if checkpoint_dir else df.localCheckpoint(eager=True))


def release(df: DataFrame) -> None:
    if df.is_cached:  # a persist over a pinned frame frees the persist only
        df.unpersist()
        return
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
