"""Streaming column profiling — the incremental twin of the batch
``dq_null_profile`` query, with the merge algebra of each statistic
chosen explicitly (the design lesson of streaming/sketches.py):

* **row / null counts merge by ADD — not idempotent**, so the
  maintainer runs behind :mod:`.replay`'s guard and the counts are
  EXACT for any micro-batch cut: they equal the batch profile of the
  union of the delivered batches.
* **distinct cardinality is NOT add-mergeable with bounded state**
  (a value seen in two batches must not count twice), so the profiler
  keeps portable-HLL registers per column and max-merges them
  (:class:`~pulsar_ingestion_spark.streaming.sketches.HllStreamMaintainer`)
  — idempotent, replay-proof, and equal to the batch HLL estimate of
  the same rows at any cut.
* **the modal value is not mergeable at all** (two batch modes say
  nothing about the union's mode), so the profiler maintains a
  Misra-Gries candidate set per column
  (:class:`~pulsar_ingestion_spark.streaming.sketches.MgStreamMaintainer`):
  a guaranteed superset of every value with frequency > n/(budget+1),
  feeding the exact phase-2 recount exactly as ``sketch_heavy_hitters``
  does in batch.

A batch is one scan and one action, whatever the number of columns: the
batch is unpivoted once into ``(col, value)`` strings, and one collect
returns the union of the per-column row and non-null counts, the
per-column HLL registers and the per-partition MG summaries keyed by
column (a per-column MG summary over a partition that mixes columns is
still a mergeable MG summary, so the bounds hold).  Driver state changes
only after that collect returns, so a failed batch leaves every column
untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.sketch import hll_registers
from pulsar_ingestion_spark.queries_sketch import mg_summaries
from pulsar_ingestion_spark.streaming.replay import ReplayGuarded
from pulsar_ingestion_spark.streaming.sketches import (
    HllStreamMaintainer,
    MgStreamMaintainer,
)


class ProfileStreamMaintainer(ReplayGuarded):
    """foreachBatch target maintaining a per-column profile (row count,
    null count, HLL distinct estimate, MG modal-candidate set) over
    ``cols``."""

    def __init__(self, cols: list[str], mg_budget: int = 64):
        self.cols = list(cols)
        self.n_rows = 0
        self.n_null: dict[str, int] = {c: 0 for c in self.cols}
        self._hll = {c: HllStreamMaintainer(c) for c in self.cols}
        self._mg = {c: MgStreamMaintainer(c, budget=mg_budget) for c in self.cols}

    def summary(self, batch_df: DataFrame) -> DataFrame:
        cells = batch_df.select(
            *[F.col(c).cast("string").alias(c) for c in self.cols]
        ).unpivot([], self.cols, "col", "value")
        counts = cells.groupBy("col").agg(
            F.count(F.lit(1)).alias("n"), F.count("value").alias("nn")
        )
        regs = hll_registers(cells, "value", by=["col"])
        mg = mg_summaries(
            cells.filter(F.col("value").isNotNull()).withColumnRenamed("value", "token")
        )
        return (
            counts.unionByName(regs, allowMissingColumns=True)
            .unionByName(mg, allowMissingColumns=True)
        )

    def absorb(self, rows, batch_id: int) -> None:
        by_col: dict[str, list] = {c: [] for c in self.cols}
        for r in rows:
            by_col[r["col"]].append(r)
        n = 0
        for c, rs in by_col.items():
            for r in rs:
                if r["n"] is not None:  # one per column of a non-empty batch
                    n = int(r["n"])
                    self.n_null[c] += n - int(r["nn"])
            self._hll[c].absorb([r for r in rs if r["bucket"] is not None], batch_id)
            self._mg[c].absorb([r for r in rs if r["est"] is not None], batch_id)
        self.n_rows += n

    def profile(self) -> dict[str, dict]:
        """Per-column snapshot: exact counts, HLL distinct estimate,
        and the MG modal-candidate set (superset of every value with
        frequency > non-null/(min_budget+1) — recount for the exact
        mode, as the batch query's top_freq does exactly)."""
        return {
            c: {
                "n_rows": self.n_rows,
                "n_null": self.n_null[c],
                "distinct_est": self._hll[c].estimate(),
                "modal_candidates": self._mg[c].candidates(),
                "mg_error_bound": self._mg[c].error_bound(),
            }
            for c in self.cols
        }
