"""Streaming Cochran-Armitage trend monitor — the incremental twin of
the batch ``stats_cochran_armitage`` query, and the first streaming
STATISTICAL TEST in the monitor family.

Unlike the sketch maintainers (HLL/CMS/MG estimate), this one is
EXACT at every micro-batch cut: the statistic is a closed form over
five integer moments (N, R, SUM(t*r), SUM(t*n), SUM(t^2*n)) that all
merge by ADD, so behind :mod:`.replay`'s guard the streamed Z^2 equals
the batch query's over the union of delivered batches bit-for-bit — the
equivalence test pins float equality, not a tolerance band.

Per batch: ONE map-side-combined 24-cell aggregate collected to the
driver; state is five Python ints.  At 100 TB that is the whole story
— a monitor answering "is the purchase share drifting across the day"
with O(1) state and one collapse per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_ingestion_spark.streaming.replay import ReplayGuarded


class TrendMonitor(ReplayGuarded):
    """foreachBatch target maintaining the Cochran-Armitage moments of
    a binary success flag against integer hour-of-day scores."""

    def __init__(self, ts_col: str = "ts", success_col: str = "event_type",
                 success_value: str = "purchase"):
        self.ts_col = ts_col
        self.success_col = success_col
        self.success_value = success_value
        self.n = 0          # N
        self.r = 0          # R (successes)
        self.str_ = 0       # SUM(t * r)
        self.stn = 0        # SUM(t * n)
        self.st2n = 0       # SUM(t^2 * n)

    def merge(self, batch_df: DataFrame, batch_id: int) -> None:
        cell = (
            batch_df.select(
                (F.expr(f"unix_micros({self.ts_col}) div 3600000000") % 24
                 ).alias("t"),
                F.when(F.col(self.success_col) == self.success_value, 1)
                .otherwise(0).alias("s"),
            )
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("s").alias("r"))
            .collect()
        )
        for row in cell:
            t, n, r = int(row["t"]), int(row["n"]), int(row["r"])
            self.n += n
            self.r += r
            self.str_ += t * r
            self.stn += t * n
            self.st2n += t * t * n

    def z_squared(self) -> float | None:
        """The batch query's exact expression over the merged moments
        (same operand order, so stream == batch bit-for-bit); None when
        degenerate (all/none successes or a single score)."""
        nn, rr = float(self.n), float(self.r)
        num = nn * self.str_ - rr * self.stn
        den = rr * (self.n - self.r) * (nn * self.st2n - float(self.stn) * self.stn)
        if den == 0:
            return None
        return nn * num * num / den

    def snapshot(self) -> dict:
        return {
            "n_total": self.n,
            "n_success": self.r,
            "sum_t_r": self.str_,
            "sum_t_n": self.stn,
            "z_squared": self.z_squared(),
        }
