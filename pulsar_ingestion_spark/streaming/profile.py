"""Streaming column profiling — the incremental twin of the batch
``dq_null_profile`` query, with the merge algebra of each statistic
chosen explicitly (the design lesson of streaming/sketches.py):

* **row / null counts merge by ADD — not idempotent**, so the
  maintainer runs behind :mod:`.replay`'s guard and the counts are
  EXACT for any micro-batch cut: they equal the batch profile of the
  union of the delivered batches.
* **distinct cardinality is NOT add-mergeable with bounded state**
  (a value seen in two batches must not count twice), so the profiler
  delegates to the portable-HLL register max-merge
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

Per batch this composition runs 1 + 2·|cols| Spark actions (one fused
counts aggregate, then one HLL collapse and one MG summarizer pass per
column).  At 100 TB the three passes fuse into ONE unpivoted
``(col, value)`` scan — per-(col, bucket) max-rho for HLL and
per-partition MG summaries keyed by column ride the same shuffle as
the counts; the per-column delegation here keeps the tested sketch
machinery shared with the batch queries, which is what the equivalence
tests pin.
"""

from __future__ import annotations

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_ingestion_spark.streaming.replay import ReplayGuarded
from pulsar_ingestion_spark.streaming.sketches import (
    HllStreamMaintainer,
    MgStreamMaintainer,
)


# Cap on the threads overlapping one batch's 1 + 2·|cols| jobs: a wide
# profile would otherwise start one driver thread per job.
_MAX_THREADS = 8


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

    def merge(self, batch_df: DataFrame, batch_id: int) -> None:
        strs = batch_df.select(
            *[F.col(c).cast("string").alias(c) for c in self.cols]
        )
        # the 1 + 2·|cols| aggregates are independent reads of the same
        # batch, so they overlap (run one after another, their fixed job
        # overheads summed to ~1.7 s a batch); each sub-maintainer mutates
        # only its own driver state, from exactly one thread.  Each task
        # is wrapped so its pool thread runs under the caller's job group
        # and description (plain pool threads start with none).
        from concurrent.futures import ThreadPoolExecutor

        inherit = inheritable_thread_target(batch_df.sparkSession)
        n = min(_MAX_THREADS, 1 + 2 * len(self.cols))
        with ThreadPoolExecutor(max_workers=n) as pool:
            fcounts = pool.submit(inherit(
                lambda: strs.agg(
                    F.count(F.lit(1)).alias("_n"),
                    *[F.count(F.col(c)).alias(c) for c in self.cols],
                ).first()
            ))
            # the MG sub-maintainers guard their own ids, so a retry of a
            # batch that failed part-way skips the columns already merged
            subs = [
                pool.submit(inherit(m), strs, batch_id)
                for c in self.cols
                for m in (self._hll[c], self._mg[c])
            ]
            counts = fcounts.result()
            for f in subs:
                f.result()
        self.n_rows += int(counts["_n"])
        for c in self.cols:
            self.n_null[c] += int(counts["_n"]) - int(counts[c])

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
