"""Failure injection for the ADD-merged driver-state maintainers (CMS,
Misra-Gries, trend, seasonal grid, profile): a batch whose Spark job
fails is redelivered under the SAME id, and the retry must be merged,
not skipped as a replay.  The first delivery of batch 0 raises inside
the maintainer's job on one poisoned column; after the retry the state
equals a clean one-batch feed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer
from pulsar_ingestion_spark.streaming.seasonal import SeasonalGridMaintainer
from pulsar_ingestion_spark.streaming.sketches import (
    CmsStreamMaintainer,
    MgStreamMaintainer,
)
from pulsar_ingestion_spark.streaming.trend import TrendMonitor

SF_DIR = "/root/testdata/sf0.001"

# (maintainer factory, poisoned column, state snapshot).  The profile's
# event_type sketches succeed while its counts and user_id sketches
# fail: a batch that failed part-way.
CASES = {
    "cms": (lambda: CmsStreamMaintainer("user_id"), "user_id",
            lambda m: m.counters),
    "mg": (lambda: MgStreamMaintainer("event_type"), "event_type",
           lambda m: (m.counters, m.total)),
    "trend": (TrendMonitor, "ts", lambda m: m.snapshot()),
    "seasonal": (SeasonalGridMaintainer, "value",
                 lambda m: (m.n_events, m.sum_value, m.registers)),
    "profile": (lambda: ProfileStreamMaintainer(["event_type", "user_id"]),
                "user_id", lambda m: m.profile()),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_failed_batch_is_retried(spark, name):
    make, col, state = CASES[name]
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    failing = df.withColumn(
        col,
        F.when(F.col("event_id") % 2 == 1,
               F.raise_error(F.lit("injected batch failure")))
        .otherwise(F.col(col)).cast(df.schema[col].dataType),
    )
    m = make()
    with pytest.raises(Exception, match="injected batch failure"):
        m(failing, 0)
    m(df, 0)  # retry of the failed batch
    ref = make()
    ref(df, 0)
    assert state(m) == state(ref)
    m(df, 0)  # a replay of the now-committed batch stays a no-op
    assert state(m) == state(ref)
