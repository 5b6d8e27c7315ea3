"""One owner for eager materialization and for freeing what it pinned.

* ``materialize(df, level=None)`` runs the eager ``localCheckpoint`` and
  records the frame in the innermost open ``query_scope()``.
* ``counted(df)`` is ``materialize`` plus the frame's row count, read
  from the same job (no second ``count()`` job).
* ``release(df)`` frees the RDD at the frame's plan leaf now: the blocks
  of a local checkpoint (the RDD under its ``LogicalRDD``) or of a frame
  built from a persisted RDD (under an ``ExternalRDD``, as MLlib's ALS
  factor frames are).
* ``query_scope()`` frees, at exit, every frame materialized under it. A
  harness opens one around each query's build and write, so no block a
  query pinned outlives it. A function whose materialized state must
  not outlive its call opens its own nested scope (as a ``with`` block,
  or as a decorator: ``@query_scope()``); the nested scope frees only
  what was materialized inside it. With no scope open, ``materialize``
  only checkpoints, and the blocks stay until the JVM GC reclaims them.
  Scopes are per thread: a pool worker sees no scope its caller opened.
* ``fixpoint(state, step, rounds, every=1, until=None)`` is the one round
  loop of the iterative operators: it materializes each round's state
  once and frees the round it replaces (the bulk-iteration discipline of
  Ewen et al., "Spinning Fast Iterative Data Flows", VLDB 2012). Its
  stop, ``until``, is an aggregate observed on the job that materializes
  each round; the loop ends at the first round whose value repeats the
  previous one.

A frame built from a materialized one must be consumed before its scope
exits: the blocks are gone after, and a local checkpoint cannot be
recomputed.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_HELD: ContextVar[list[DataFrame] | None] = ContextVar("materialized", default=None)


def materialize(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` (at storage ``level``, Spark's
    default when None), recorded in the innermost open ``query_scope()``."""
    out = df.localCheckpoint(eager=True, storageLevel=level)
    held = _HELD.get()
    if held is not None:
        held.append(out)
    return out


def release(df: DataFrame) -> None:
    """Free the blocks of the RDD at ``df``'s plan leaf now.
    ``DataFrame.unpersist()`` reaches neither a local checkpoint's RDD
    nor an ``ExternalRDD``'s."""
    df._jdf.queryExecution().analyzed().collectLeaves().head().rdd().unpersist(True)
    held = _HELD.get()
    if held is not None:
        held[:] = [h for h in held if h is not df]


@contextmanager
def query_scope() -> Iterator[None]:
    """Free every frame materialized inside the block when it exits."""
    held: list[DataFrame] = []
    token = _HELD.set(held)
    try:
        yield
    finally:
        _HELD.reset(token)
        for df in held:
            release(df)


def _observed(df: DataFrame, agg: Column) -> tuple[DataFrame, object]:
    """``materialize`` plus the aggregate ``agg``, observed on the same job."""
    obs = Observation()
    out = materialize(df.observe(obs, agg.alias("v")))
    return out, obs.get["v"]


def counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``materialize`` plus the row count, observed on the same job."""
    return _observed(df, F.count(F.lit(1)))


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    every: int = 1,
    until: Column | None = None,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, r)`` for r = 1..``rounds``. The initial
    state, every ``every``-th round and the last round are materialized;
    each materialization frees the one fixpoint made before it, so one
    round's state is held at a time. Returns ``(state, converged)``.

    ``until`` is an aggregate over the state (the row count, a checksum)
    whose unchanged value means an unchanged state for this step: it is
    observed on each materializing job, and the loop stops at the first
    materialized round whose value equals the previous one; ``converged``
    says whether that happened. Without it every round runs and
    ``converged`` is False."""

    def held_of(df: DataFrame) -> tuple[DataFrame, object]:
        return (materialize(df), None) if until is None else _observed(df, until)

    held, v = held_of(state)
    state = held
    for r in range(1, rounds + 1):
        state = step(state, r)
        if r % every and r < rounds:
            continue
        nxt, w = held_of(state)
        release(held)
        held = state = nxt
        if until is not None and w == v:
            return state, True
        v = w
    return state, False
