"""The one fixpoint loop for the iterative kernels: the k-core and
k-truss peels, BFS, min-label and large-star/small-star components, and
grid DBSCAN.

Each state is cut from its lineage by ``localCheckpoint(eager=True)``:
partitions stay on the executors and the plan stays one round deep.
The round's convergence probe is an :class:`~pyspark.sql.Observation`
on that same checkpoint job, so a round is one Spark action and only
one row of aggregates crosses to the driver.  Probes are exact counts,
never sum signatures, which wrap mod 2^64 and can converge falsely
(ADVICE r2).
"""

from __future__ import annotations

import itertools
import warnings
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    """An iterative loop exhausted ``max_iters`` before its stability
    check fired — its result would be WRONG (partially propagated)."""


class Round(NamedTuple):
    """A checkpointed state and what its checkpoint job observed:
    ``m["n"]`` (its row count) and the caller's probes."""

    df: DataFrame
    m: dict


def same_count(prev: Round, cur: Round) -> bool:
    """The row count repeats: a peel dropped no edge, a hop added no row."""
    return cur.m["n"] == prev.m["n"]


def _checkpoint(df: DataFrame, cols: list[str], probe) -> Round:
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"), *probe).select(*cols)
    return Round(df.localCheckpoint(eager=True), obs.get)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    converged: Callable[[Round, Round], bool],
    *,
    probe: tuple[Column, ...] = (),
    max_iters: int | None = None,
    strict: bool | None = None,
    what: str = "fixpoint",
) -> DataFrame:
    """Run ``step(df, i)`` for rounds i = 1, 2, ... from ``state`` until
    ``converged(prev, cur)`` holds; return the last state.

    The step's output may carry extra columns for the ``probe``
    aggregates; the next state keeps the columns of ``state``.  With
    ``max_iters=None`` the caller's argument bounds the rounds.  When a
    bound runs out first, ``strict=True`` raises
    :class:`ConvergenceError`, ``False`` warns, and ``None`` returns the
    state, for loops whose bound is part of the algorithm.
    """
    cols = state.columns
    cur = _checkpoint(state, cols, ())
    for i in itertools.count(1) if max_iters is None else range(1, max_iters + 1):
        prev, cur = cur, _checkpoint(step(cur.df, i), cols, probe)
        if converged(prev, cur):
            return cur.df
    if strict is not None:
        msg = f"{what} after {max_iters} iterations"
        if strict:
            raise ConvergenceError(msg)
        warnings.warn(msg, stacklevel=3)
    return cur.df
