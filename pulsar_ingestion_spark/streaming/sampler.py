"""Streaming weighted bottom-k sampler — the incremental twin of the
batch ``sample_weighted_kmv`` query (queries_sketch.py).

Merge algebra (the streaming/sketches.py design discipline): per-group
bottom-k by a DETERMINISTIC priority is UNION-MONOTONE —
``bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B))`` — so per batch
it suffices to compute the batch's per-group bottom-k distributed,
collect the bounded candidate set (k rows × #groups), and merge-prune
into the driver-held sample.  The priority hash/weight is a pure
function of the ROW (md5 of the event id over its weight), so the
merge is IDEMPOTENT: re-delivered rows recompute the identical
priority and change nothing, whatever batch id carries them, and the
maintained sample is exactly re-runnable (same stream prefix → same
sample, the property uniform reservoir sampling lacks).  A replayed id
is skipped by :mod:`.replay`'s guard without running a job.

Per batch the distributed side is one per-group window bottom-k — the
same plan as the batch query, so executors keep local candidates and
the shuffle carries only potential winners.  Driver state is
k × #groups rows; #groups must be bounded (the same few-key discipline
as the batch query's event_type grouping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.sketch import md5_lane
from pulsar_ingestion_spark.streaming.replay import ReplayGuarded

# Priority definition shared with the batch twin (queries_sketch.py
# sample_weighted_kmv): first 8 md5 hex chars of "ws:<id>" as an
# integer, divided by the row weight — one IEEE division of exactly-
# representable inputs.
_PRIORITY_PREFIX = "ws:"


def weighted_priority(id_col: str, weight_col: str):
    return md5_lane(F.col(id_col), _PRIORITY_PREFIX) / F.col(weight_col)


class WeightedSampleMaintainer(ReplayGuarded):
    """foreachBatch target maintaining a per-group weighted bottom-k
    sample over an append-only stream.

    Rows with non-positive or NULL weight are excluded (matching the
    batch query's ``value > 0`` filter).  State per group is a list of
    (priority, id, weight) triples, capped at k.
    """

    def __init__(self, group_col: str, id_col: str, weight_col: str,
                 k: int = 5, max_groups: int = 10_000):
        if k <= 0:
            raise ValueError(f"k must be positive, got {k}")
        self.group_col = group_col
        self.id_col = id_col
        self.weight_col = weight_col
        self.k = k
        self.max_groups = max_groups
        self._state: dict = {}

    def summary(self, batch_df: DataFrame) -> DataFrame:
        g, i, v = self.group_col, self.id_col, self.weight_col
        pri = weighted_priority(i, v).alias("_pri")
        w = Window.partitionBy(g).orderBy("_pri", i)
        return (
            batch_df.filter(F.col(v).isNotNull() & (F.col(v) > 0))
            .select(g, i, v, pri)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.k)
        )

    def absorb(self, rows, batch_id: int) -> None:
        g, i, v = self.group_col, self.id_col, self.weight_col
        # merge into a copy and commit it only once the guard passes: a
        # raise leaves the sample untouched
        state = {grp: list(cur) for grp, cur in self._state.items()}
        for r in rows:
            cand = (r["_pri"], r[i], r[v])
            cur = state.setdefault(r[g], [])
            if any(c[1] == cand[1] for c in cur):
                continue  # replayed row — identical priority, no-op
            cur.append(cand)
            cur.sort()
            del cur[self.k:]
        if len(state) > self.max_groups:
            raise ValueError(
                f"WeightedSampleMaintainer: {len(state)} groups "
                f"exceeds max_groups={self.max_groups} — the driver-held "
                "sample requires bounded group cardinality (few-key "
                "discipline); aggregate or hash-bucket the group column "
                "upstream"
            )
        self._state = state

    def sample(self) -> list[tuple]:
        """The current sample as sorted (group, rank, id, weight) rows —
        the batch twin's output shape."""
        out = []
        for grp in sorted(self._state):
            for rn, (_, rid, wt) in enumerate(self._state[grp], start=1):
                out.append((grp, rn, rid, wt))
        return out
