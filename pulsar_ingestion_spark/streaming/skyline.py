"""Streaming 2-D skyline (Pareto frontier) maintenance — the
incremental twin of the batch ``rank_skyline_2d`` query.

Merge algebra (the streaming/sketches.py design discipline): the
skyline operator is a UNION-MONOTONE closure —
``skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B))`` — so per batch
it suffices to compute the BATCH skyline distributed, collect it
(bounded by the frontier size, itself bounded by the x-domain), and
merge-prune into the driver-held frontier.  Like HLL register
max-merge, the merge is IDEMPOTENT: re-delivering points already on or
behind the frontier changes nothing, whatever batch id carries them; a
replayed id is skipped by :mod:`.replay`'s guard without running a job.

Orientation matches the batch query: MINIMIZE x, MAXIMIZE y.  The
frontier is kept as the set of distinct (x, y) value pairs (the batch
query emits every part AT a frontier point; the maintainer tracks the
points themselves — the equivalence tests compare against the batch
query's distinct pairs).

Per batch the distributed side is ONE groupBy(x).max(y) — at 100 TB
that is a partial-agg shuffle bounded by |distinct x|; for an
unbounded continuous x-domain, quantize x upstream (the batch query's
integer-dollar bucketing) before feeding the maintainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_ingestion_spark.streaming.replay import ReplayGuarded


def prune_frontier(points: set[tuple]) -> set[tuple]:
    """Skyline of a point set, driver-side: sort by (x asc, y desc),
    keep a point iff its y strictly exceeds every strictly-cheaper
    point's max y; among equal x only the max y survives."""
    best: dict = {}
    for x, y in points:
        if x not in best or y > best[x]:
            best[x] = y
    out: set[tuple] = set()
    max_y = None
    for x in sorted(best):
        y = best[x]
        if max_y is None or y > max_y:
            out.add((x, y))
            max_y = y
    return out


class SkylineStreamMaintainer(ReplayGuarded):
    """foreachBatch target maintaining the (min x, max y) Pareto
    frontier over an append-only stream of (x_col, y_col) rows."""

    def __init__(self, x_col: str, y_col: str):
        self.x_col = x_col
        self.y_col = y_col
        self._frontier: set[tuple] = set()

    def summary(self, batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.filter(
                F.col(self.x_col).isNotNull() & F.col(self.y_col).isNotNull()
            )
            .groupBy(self.x_col)
            .agg(F.max(self.y_col).alias("_y"))
        )

    def absorb(self, rows, batch_id: int) -> None:
        pts = {(r[self.x_col], r["_y"]) for r in rows}
        self._frontier = prune_frontier(self._frontier | pts)

    def frontier(self) -> list[tuple]:
        """The current Pareto frontier, sorted by x ascending (y is then
        strictly increasing — the frontier invariant)."""
        return sorted(self._frontier)
