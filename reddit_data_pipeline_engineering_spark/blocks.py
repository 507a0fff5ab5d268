"""The engine's one materialization primitive: the only code that calls
Spark's cache API.

Two storage forms, chosen per call site:

- ``cache(df)`` persists (MEMORY_AND_DISK). Lineage survives, so an
  evicted block is recomputed instead of failing the query, and the
  cached relation reports the plan's output partitioning and ordering:
  an iteration-invariant edge list cached after ``repartition(key)``
  serves every round's join on ``key`` without moving again.
- ``checkpoint(df, eager=False)`` local-checkpoints. Lineage is cut, so
  an iterative loop's plan stays flat; a lost block fails the query.
  A lazy checkpoint materializes under the first action that reads it;
  ``eager=True`` runs its own job now.

Neither form replaces the other: lazy checkpoints in place of the
graph kernels' edge caches re-shuffled the static edge list every
round (about 3x the shuffle bytes and 15-30% more wall at sf0.1).

Lifetime. ``release(df)`` drops a block now. A checkpoint is released
through its ``LogicalRDD``'s RDD, which ``DataFrame.unpersist`` does not
reach. Release a block only after the last action that reads it: a
released cache recomputes from lineage, a released checkpoint cannot be
read again. ``scope()`` is a thread-local context manager that releases
every block ``cache``/``checkpoint`` made on this thread since it was
entered, when it exits (also when its body raises); a DataFrame built
inside a scope is written inside it. Scopes nest; a block belongs to
the innermost one. ``cache`` of a plan that is already cached makes no
block, so a scope never drops another owner's cache entry.

Outside a scope nothing is tracked: blocks live until released or until
the JVM collects their RDD handles and the ContextCleaner reaps them
(``session.PERIODIC_GC_INTERVAL``).
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame

_LOCAL = threading.local()


def _scopes() -> list[list[DataFrame]]:
    return _LOCAL.__dict__.setdefault("scopes", [])


def _made(df: DataFrame) -> DataFrame:
    scopes = _scopes()
    if scopes:
        scopes[-1].append(df)
    return df


def cache(df: DataFrame) -> DataFrame:
    """``df`` persisted: lineage and output partitioning kept."""
    if df._jdf.storageLevel().isValid():
        return df
    return _made(df.persist())


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df`` local-checkpointed: lineage cut."""
    return _made(df.localCheckpoint(eager=eager))


def release(df: DataFrame) -> None:
    """Drop the block ``cache`` or ``checkpoint`` made for ``df`` now."""
    if df._jdf.storageLevel().isValid():
        df.unpersist()
        return
    # Not (or no longer) cached: a checkpoint, whose plan is a LogicalRDD
    # over the checkpointed RDD. A DataFrame made from local data is a
    # LogicalRDD too; its RDD holds no blocks.
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


@contextlib.contextmanager
def scope():
    """Release, on exit, every block made on this thread inside. Yields
    the list of those blocks' DataFrames."""
    made: list[DataFrame] = []
    scopes = _scopes()
    scopes.append(made)
    try:
        yield made
    finally:
        scopes.pop()
        for df in made:
            release(df)
