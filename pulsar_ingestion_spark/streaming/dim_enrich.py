"""Streaming dimension enrichment — latest-wins dimension state joined
onto each fact micro-batch (the stream-side twin of the warehouse
SCD/merge family: a slowly-changing dimension arrives as a changelog;
facts must see the newest version at processing time).

Merge algebra (streaming/sketches.py design discipline): the dimension
state merges by LATEST-WINS per key on an explicit monotone version
column — IDEMPOTENT for replayed rows (re-applying the same version
changes nothing) and ORDER-TOLERANT for late/interleaved versions
(a lower version never overwrites a higher one), so no batch-id
bookkeeping is needed.  This is exactly the
``warehouse_changelog_compact`` latest-wins collapse, held
incrementally.

Driver state is one row per dimension key (few-key discipline,
guarded); each fact batch is enriched via a BROADCAST hash join
against the model-sized snapshot — at cluster scale the fact side
never shuffles, the standard stream-static enrichment plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DimEnrichMaintainer:
    """Holds the latest-wins dimension snapshot and enriches fact
    DataFrames against it.

    ``apply_dim_batch`` consumes dimension-changelog micro-batches
    (key, version, payload...); ``enrich`` broadcast-joins the current
    snapshot onto a fact DataFrame, tagging rows with the matched
    dimension version (NULL = no dimension row yet)."""

    def __init__(self, key_col: str, version_col: str,
                 payload_cols: list[str], max_keys: int = 100_000,
                 dim_schema=None):
        self.key_col = key_col
        self.version_col = version_col
        self.payload_cols = list(payload_cols)
        self.max_keys = max_keys
        self._state: dict = {}  # key -> (version, payload tuple)
        # explicit snapshot schema (StructType over key+version+payload),
        # either caller-provided or captured from the first dimension
        # batch — used for BOTH the populated and the empty snapshot so
        # consecutive micro-batch outputs always union cleanly (no
        # name-only type inference, no hardcoded string/long casts)
        self._schema = self._project_schema(dim_schema)

    def _project_schema(self, schema):
        if schema is None:
            return None
        from pyspark.sql.types import StructType

        by_name = {f.name: f for f in schema.fields}
        cols = [self.key_col, self.version_col, *self.payload_cols]
        missing = [c for c in cols if c not in by_name]
        if missing:
            raise ValueError(
                f"DimEnrichMaintainer: dim schema missing columns {missing}"
            )
        return StructType([by_name[c] for c in cols])

    @staticmethod
    def _payload_rank(payload: tuple) -> tuple:
        # mirrors the in-batch F.desc(payload) tiebreak: larger payload
        # wins; NULL sorts below any value (Spark's DESC NULLS LAST)
        return tuple((v is not None, v) for v in payload)

    def apply_dim_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # latest-wins per key WITHIN the batch first (distributed), then
        # merged into a copy of the snapshot, committed only once the size
        # check passes; no batch-id guard needed (see module doc)
        from pyspark.sql import Window

        schema = self._schema or self._project_schema(batch_df.schema)
        w = Window.partitionBy(self.key_col).orderBy(
            F.desc(self.version_col), *[F.desc(c) for c in self.payload_cols]
        )
        rows = (
            batch_df.filter(
                F.col(self.key_col).isNotNull()
                & F.col(self.version_col).isNotNull()
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(self.key_col, self.version_col, *self.payload_cols)
            .collect()
        )
        state = dict(self._state)
        for r in rows:
            key = r[self.key_col]
            ver = r[self.version_col]
            payload = tuple(r[c] for c in self.payload_cols)
            cur = state.get(key)
            # same rule as the in-batch window: higher version wins; on an
            # EQUAL version the larger payload tuple wins — so the final
            # state is invariant to where the micro-batch cut falls
            if (
                cur is None
                or ver > cur[0]
                or (
                    ver == cur[0]
                    and self._payload_rank(payload)
                    > self._payload_rank(cur[1])
                )
            ):
                state[key] = (ver, payload)
        if len(state) > self.max_keys:
            raise ValueError(
                f"DimEnrichMaintainer: {len(state)} dimension keys "
                f"exceeds max_keys={self.max_keys} — the broadcast snapshot "
                "requires a model-sized dimension; at larger cardinality "
                "use the stream-stream join / state-store path"
            )
        self._state, self._schema = state, schema

    def snapshot_df(self, spark) -> DataFrame:
        """Typed snapshot (possibly empty) under the captured schema;
        ``None`` only when no schema is known yet (no dim batch seen and
        none provided at construction)."""
        if self._schema is None:
            return None
        rows = [
            (k, v[0], *v[1]) for k, v in sorted(self._state.items())
        ]
        return spark.createDataFrame(rows, self._schema)

    def enrich(self, facts: DataFrame) -> DataFrame:
        """Broadcast-join the snapshot onto ``facts``; adds the payload
        columns and ``dim_version`` (NULL where no dimension row).  The
        output schema is identical whether the snapshot is empty or
        populated (same typed join plan), so consecutive micro-batch
        outputs union cleanly.  Before any dimension schema is known the
        payload types are unknowable — that pre-first-batch state raises
        unless the caller passed ``dim_schema`` at construction."""
        spark = facts.sparkSession
        snap = self.snapshot_df(spark)
        if snap is None:
            raise ValueError(
                "DimEnrichMaintainer.enrich: dimension schema unknown — "
                "no dimension batch applied yet and no dim_schema was "
                "provided at construction; pass dim_schema= to enrich "
                "facts before the first dimension micro-batch"
            )
        snap = snap.withColumnRenamed(self.version_col, "dim_version")
        return facts.join(F.broadcast(snap), self.key_col, "left")
