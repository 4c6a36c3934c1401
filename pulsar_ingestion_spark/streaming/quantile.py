"""Streaming mergeable quantile sketch — the incremental twin of the
batch ``sketch_quantile_logbins`` query (queries_sketch.py).

Merge algebra (streaming/sketches.py design discipline): decimal
log-bin counts merge by cell-wise ADD — NOT idempotent — so the
maintainer runs behind :mod:`.replay`'s guard.  Binning is pure
integer/string math (digit count + two leading digits of the integer
cent amount — never a float log), identical to the batch query, so the
stream-maintained sketch answers the SAME quantile estimates as the
batch sketch of the same rows — the equivalence tests assert exact
equality across arbitrary micro-batch cuts.

Per batch the distributed side is one map-side-combined groupBy over
the batch's own rows; driver state is O(bins) ≈ 90·digits counts,
independent of stream length — the t-digest/KLL role at 100 TB.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_ingestion_spark.streaming.replay import ReplayGuarded


class QuantileLogbinsStreamMaintainer(ReplayGuarded):
    """foreachBatch target maintaining decimal log-bin counts over a
    positive numeric column; ``quantile(q)`` answers the lower bound of
    the first bin whose cumulative count reaches ceil(q*n) — <=5%
    relative error by construction, matching the batch query's
    ``est_lo``."""

    def __init__(self, col: str):
        self.col = col
        self._bins: dict = {}  # (ndig, lead2) -> count
        self._n = 0

    def merge(self, batch_df: DataFrame, batch_id: int) -> None:
        cents = batch_df.filter(F.col(self.col) > 0).select(
            F.floor(F.col(self.col) * 100).cast("bigint").alias("c")
        )
        s = F.col("c").cast("string")
        rows = (
            cents.select(
                F.length(s).alias("ndig"),
                F.substring(s, 1, 2).cast("bigint").alias("lead2"),
            )
            .groupBy("ndig", "lead2")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        for r in rows:
            key = (r["ndig"], r["lead2"])
            self._bins[key] = self._bins.get(key, 0) + r["cnt"]
            self._n += r["cnt"]

    def quantile(self, q: float) -> float | None:
        """Lower-bound estimate for quantile ``q`` (the batch query's
        est_lo: lead2 * 10^(ndig-2) cents / 100); None on empty."""
        if not self._n:
            return None
        target = math.ceil(q * self._n)
        cum = 0
        for ndig, lead2 in sorted(self._bins):
            cum += self._bins[(ndig, lead2)]
            if cum >= target:
                return (lead2 * 10.0 ** (ndig - 2)) / 100
        return None  # unreachable: cum reaches n >= target

    def count(self) -> int:
        return self._n

    def n_bins(self) -> int:
        return len(self._bins)
