"""Streaming dow x hour seasonal grid — the incremental twin of the
batch ``events_seasonal_dow_hour`` query, with each statistic's merge
algebra chosen explicitly (the streaming/profile.py design lesson):

* **per-cell event counts and DECIMAL value sums merge by ADD — not
  idempotent**, so the maintainer runs behind :mod:`.replay`'s guard.
  Counts, means, shares and intensities are then EXACT for any
  micro-batch cut: identical to the batch query over the union of the
  delivered batches (the equivalence tests pin equality row-for-row).
* **per-cell distinct users is NOT add-mergeable with bounded state**,
  so each cell keeps a portable-HLL register set (register max-merge —
  idempotent), and ``grid()`` reports the HLL estimate where the batch
  query reports the exact countDistinct.  The estimate is cut-invariant
  by the max-merge algebra.

Per batch the maintainer runs ONE distributed action over the
micro-batch: one collect of the union of the fused (dow, hr)
counts/sums aggregate (<= 168 rows) and the (dow, hr, bucket) max-rho
collapse (<= 168 x m rows), as the profile does.  Driver state is
O(168 x m) integers — independent of stream volume, the property that
makes this a 100 TB monitor.  Calendar parts use the batch query's pure
epoch-microsecond integer arithmetic ((day + 4) % 7, hour = (us div
3600e6) % 24) — no engine calendar functions, so stream and batch cells
agree bit-for-bit.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.sketch import hll_estimate, hll_registers
from pulsar_ingestion_spark.streaming.replay import ReplayGuarded

_CELLS = 168  # 7 dows x 24 hours


class SeasonalGridMaintainer(ReplayGuarded):
    """foreachBatch target maintaining the per-(dow, hour-of-day) grid
    of event counts, exact DECIMAL value sums and per-cell HLL user
    registers over an events-shaped stream."""

    def __init__(self, ts_col: str = "ts", user_col: str = "user_id",
                 value_col: str = "value"):
        self.ts_col = ts_col
        self.user_col = user_col
        self.value_col = value_col
        self.n_events: dict[tuple[int, int], int] = {}
        self.sum_value: dict[tuple[int, int], Decimal] = {}
        self.registers: dict[tuple[int, int], dict[int, int]] = {}

    def summary(self, batch_df: DataFrame) -> DataFrame:
        cells = batch_df.select(
            ((F.expr(f"unix_micros({self.ts_col}) div 86400000000") + 4) % 7
             ).alias("dow"),
            (F.expr(f"unix_micros({self.ts_col}) div 3600000000") % 24
             ).alias("hr"),
            F.col(self.user_col).alias("u"),
            F.col(self.value_col).alias("v"),
        )
        counts = cells.groupBy("dow", "hr").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,4)")).alias("s"),
        )
        regs = hll_registers(cells, "u", ("dow", "hr"))
        return counts.unionByName(regs, allowMissingColumns=True)

    def absorb(self, rows, batch_id: int) -> None:
        for r in rows:
            key = (int(r["dow"]), int(r["hr"]))
            if r["n"] is not None:
                self.n_events[key] = self.n_events.get(key, 0) + int(r["n"])
                self.sum_value[key] = self.sum_value.get(key, Decimal(0)) + (
                    Decimal(str(r["s"])) if r["s"] is not None else Decimal(0)
                )
            else:
                cell = self.registers.setdefault(key, {})
                b = int(r["bucket"])
                if int(r["register"]) > cell.get(b, 0):
                    cell[b] = int(r["register"])

    def grid(self) -> list[dict]:
        """Snapshot matching the batch query's columns: per cell
        n_events, avg_value, share and intensity are EXACT (identical
        to events_seasonal_dow_hour over the same rows); n_users_est is
        the portable-HLL estimate of the exact countDistinct."""
        total = sum(self.n_events.values())
        out = []
        for (dow, hr), n in sorted(self.n_events.items()):
            out.append({
                "dow": dow,
                "hr": hr,
                "n_events": n,
                "avg_value": float(self.sum_value[(dow, hr)]) / n,
                "share": n / total,
                "intensity": n * _CELLS / total,
                "n_users_est": hll_estimate(self.registers.get((dow, hr), {})),
            })
        return out
