"""Streaming corpus-mixture tracker — the incremental twin of the
batch ``corpus_temperature_mix`` query (queries_corpus.py).

Merge algebra (streaming/sketches.py design discipline): per-source
token counts merge by ADD — NOT idempotent — so the maintainer runs
behind :mod:`.replay`'s guard.  Per batch the distributed side is one
map-side-combined token-count aggregate over the batch's own documents;
driver state is one counter per source (few-key discipline, guarded).

``plan()`` answers the same alpha = 0.5 temperature-mixture plan as
the batch query — natural share, temperature share sqrt(n)/SUM
sqrt(n), and effective epochs under a ``budget_factor`` x total-token
budget — recomputed from the live counters, so a pipeline can watch
its mixture drift as sources stream in.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_ingestion_spark.streaming.replay import ReplayGuarded


class MixturePlanMaintainer(ReplayGuarded):
    """foreachBatch target tracking per-source whitespace token mass and
    answering the temperature-scaled mixture plan."""

    def __init__(self, source_col: str = "source", text_col: str = "text",
                 budget_factor: float = 2.0, max_sources: int = 10_000):
        self.source_col = source_col
        self.text_col = text_col
        self.budget_factor = budget_factor
        self.max_sources = max_sources
        self._tokens: dict = {}

    def merge(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.groupBy(self.source_col)
            .agg(
                F.sum(
                    F.size(F.split(F.trim(F.col(self.text_col)), r"\s+"))
                ).alias("t")
            )
            .collect()
        )
        # merge into a copy, committed only once the size check passes
        tokens = dict(self._tokens)
        for r in rows:
            src = r[self.source_col]
            tokens[src] = tokens.get(src, 0) + (r["t"] or 0)
        if len(tokens) > self.max_sources:
            raise ValueError(
                f"MixturePlanMaintainer: {len(tokens)} sources "
                f"exceeds max_sources={self.max_sources} — driver counters "
                "require bounded source cardinality; bucket upstream"
            )
        self._tokens = tokens

    def plan(self) -> list[tuple]:
        """(source, tokens, natural_share, temp_share, effective_epochs)
        rows sorted by source — the batch query's output shape (values
        unrounded; callers round for display)."""
        total = sum(self._tokens.values())
        if not total:
            return []
        sroot = sum(round(math.sqrt(t), 6) for t in self._tokens.values())
        out = []
        for src in sorted(self._tokens):
            t = self._tokens[src]
            ts = round(math.sqrt(t), 6) / sroot
            out.append((
                src, t, t / total, ts,
                ts * self.budget_factor * total / t if t else None,
            ))
        return out

    def total_tokens(self) -> int:
        return sum(self._tokens.values())
