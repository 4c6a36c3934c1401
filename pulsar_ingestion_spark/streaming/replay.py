"""The one batch-id replay guard, for streaming maintainers whose merge
is not idempotent (ADD-merged counts, appended trails)."""

from __future__ import annotations

from pyspark.sql import DataFrame


class ReplayGuarded:
    """foreachBatch target that merges each batch id once.

    foreachBatch ids are monotone per checkpoint and a failed batch is
    re-delivered under its id, so ``batch_id <= last_batch`` is skipped
    and the id commits only after ``merge`` returns — the Structured
    Streaming exactly-once recipe, held in driver memory.  A subclass
    keeps one condition: ``merge`` runs its Spark actions before it
    mutates state, and a raise leaves the state untouched.
    """

    last_batch = -1

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) <= self.last_batch:
            return
        self.merge(batch_df, int(batch_id))
        self.last_batch = int(batch_id)

    def merge(self, batch_df: DataFrame, batch_id: int) -> None:
        raise NotImplementedError
