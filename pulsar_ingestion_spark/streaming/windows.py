"""Event-time windowed aggregation + watermark + dedup transforms.

These are the streaming upgrades over the reference's per-message
fire-and-forget model (Filterer.kt:41 — no late-data handling, no dedup,
at-least-once; SURVEY.md §4.4).  Each transform works identically on a
batch DataFrame (oracle-checkable: queries_core.stream_*) and a streaming
DataFrame (exercised in tests/test_streaming.py with availableNow
triggers).  Watermarks bound the state store: at 100 TB/day the window
state holds only `watermark` worth of event-time per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_agg(
    df: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    watermark: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-window counts (+ per-group) — groupBy(window(ts))."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    keys = [F.window(ts_col, window).alias("w")] + [F.col(c) for c in (group_cols or [])]
    return df.groupBy(*keys).agg(F.count("*").alias("cnt")).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[F.col(c) for c in (group_cols or [])],
        "cnt",
    )


def watermark_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Effective exactly-once per key within the watermark horizon —
    the reference is at-least-once with possible dupes (SURVEY.md §4.4);
    dropDuplicatesWithinWatermark bounds dedup state (vs unbounded
    dropDuplicates) so it survives unbounded streams."""
    out = df.withWatermark(ts_col, watermark)
    if out.isStreaming:
        return out.dropDuplicatesWithinWatermark(keys)
    return out.dropDuplicates(keys)
