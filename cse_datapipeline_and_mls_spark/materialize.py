"""One owner for eager materialization and for freeing what it pinned.

* ``materialize(df, level=None)`` runs the eager ``localCheckpoint`` and
  records the frame in the innermost open ``query_scope()``.
* ``release(df)`` frees a local checkpoint's blocks.
* ``query_scope()`` frees, at exit, every frame materialized under it. A
  harness opens one around each query's build and write, so no block a
  query pinned outlives it. With no scope open, ``materialize`` only
  checkpoints, and the blocks stay until the JVM GC reclaims them.
* ``fixpoint(state, step, rounds, ...)`` is the one round loop of the
  iterative operators: it materializes each round's state once, reads its
  row count from the materializing job, and frees the round it replaces
  (the bulk-iteration discipline of Ewen et al., "Spinning Fast Iterative
  Data Flows", VLDB 2012).

A frame built from a materialized one must be consumed before its scope
exits: the blocks are gone after, and a local checkpoint cannot be
recomputed.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, Iterator

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
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
    """Free the blocks of a local checkpoint now. They belong to the RDD
    under its LogicalRDD plan, which ``DataFrame.unpersist()`` does not
    reach."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)
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


def _counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``materialize`` plus the row count, observed on the same job."""
    obs = Observation()
    out = materialize(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return out, obs.get["n"]


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    every: int = 1,
    until_stable: bool = False,
) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, r)`` for r = 1..``rounds``. The initial
    state, every ``every``-th round and the last round are materialized;
    each materialization frees the one fixpoint made before it, so one
    round's state is held at a time. Returns ``(state, converged)``.

    ``until_stable=True`` declares a monotone step (it only drops rows or
    only adds them), for which an unchanged row count means an unchanged
    state: the loop then stops at the first round whose count equals the
    previous one, and ``converged`` says whether that happened. Without
    it every round runs and ``converged`` is False."""
    held, n = _counted(state)
    state = held
    for r in range(1, rounds + 1):
        state = step(state, r)
        if r % every and r < rounds:
            continue
        nxt, m = _counted(state)
        release(held)
        held = state = nxt
        if until_stable and m == n:
            return state, True
        n = m
    return state, False
