"""The one fold contract for the driver-state streaming maintainers.

A maintainer folds each micro-batch into driver-held state.  It supplies
two methods and nothing else per batch:

* ``summary(batch_df)`` builds the small relation the batch reduces to —
  lazily, with no Spark action;
* ``absorb(rows, batch_id)`` folds the collected rows into the state on
  the driver, with no Spark action.

The base owns the rest: the batch-id guard, the one collect (run under
the subclass's name as the job description) and the commit of the id.
foreachBatch ids are monotone per checkpoint and a failed batch is
re-delivered under its id, so ``batch_id <= last_batch`` is skipped
without running a job, and the id commits only after ``absorb`` returns
— the Structured Streaming exactly-once recipe, held in driver memory.
Every Spark action runs before any state mutation, held by construction;
an ``absorb`` that raises (a cardinality guard) merges into a copy and
leaves the state untouched, so the retry under the same id merges.

ADD-merge maintainers (counts, appended trails) need the guard; the
max-merge and union-monotone ones (HLL registers, skyline, weighted
sample) would survive a replay anyway, and skip it the same way.

Not on this contract: ``dim_enrich.DimEnrichMaintainer.apply_dim_batch``
commits the batch's schema alongside the rows, and collected rows do not
carry it; ``monitor.drift_monitor`` keeps no state across batches; and
the versioned-table writers ``dedup_cascade`` and ``ann_index`` commit
to storage, not to driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class ReplayGuarded:
    """foreachBatch target that folds each batch id once."""

    last_batch = -1

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) <= self.last_batch:
            return
        sc = batch_df.sparkSession.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(type(self).__name__)
        try:
            rows = self.summary(batch_df).collect()
        finally:
            sc.setLocalProperty("spark.job.description", prev)
        self.absorb(rows, int(batch_id))
        self.last_batch = int(batch_id)

    def summary(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def absorb(self, rows: list, batch_id: int) -> None:
        raise NotImplementedError
