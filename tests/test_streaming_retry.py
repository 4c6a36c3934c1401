"""Failure injection for the ADD-merged driver-state maintainers (CMS,
Misra-Gries, trend, seasonal grid, profile) and the dedup cascade: a
batch whose Spark job fails is redelivered under the SAME id, and the
retry must be merged, not skipped as a replay.  The first delivery of
batch 0 raises inside the maintainer's job on one poisoned column;
after the retry the state equals a clean one-batch feed.  A new
ADD-merge maintainer subclasses ``streaming.replay.ReplayGuarded`` and
gets a case here."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.versioned import VersionedTable
from pulsar_ingestion_spark.streaming.dedup_cascade import stream_dedup_cascade
from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer
from pulsar_ingestion_spark.streaming.seasonal import SeasonalGridMaintainer
from pulsar_ingestion_spark.streaming.sketches import (
    CmsStreamMaintainer,
    MgStreamMaintainer,
)
from pulsar_ingestion_spark.streaming.trend import TrendMonitor

SF_DIR = "/root/testdata/sf0.001"

# (maintainer factory, poisoned column, state snapshot).  The profile's
# one action fails on its user_id column, which must leave its
# event_type column untouched too, and the seasonal grid's counts
# succeed while its user HLL fails: a batch that failed part-way.
CASES = {
    "cms": (lambda: CmsStreamMaintainer("user_id"), "user_id",
            lambda m: m.counters),
    "mg": (lambda: MgStreamMaintainer("event_type"), "event_type",
           lambda m: (m.counters, m.total)),
    "trend": (TrendMonitor, "ts", lambda m: m.snapshot()),
    "seasonal": (SeasonalGridMaintainer, "value",
                 lambda m: (m.n_events, m.sum_value, m.registers)),
    "seasonal_users": (SeasonalGridMaintainer, "user_id",
                       lambda m: (m.n_events, m.sum_value, m.registers)),
    "profile": (lambda: ProfileStreamMaintainer(["event_type", "user_id"]),
                "user_id", lambda m: m.profile()),
}


def _poisoned(df, col, id_col):
    """``df`` whose ``col`` raises on odd ``id_col`` rows."""
    return df.withColumn(
        col,
        F.when(F.col(id_col) % 2 == 1,
               F.raise_error(F.lit("injected batch failure")))
        .otherwise(F.col(col)).cast(df.schema[col].dataType),
    )


@pytest.mark.parametrize("name", sorted(CASES))
def test_failed_batch_is_retried(spark, name):
    make, col, state = CASES[name]
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    failing = _poisoned(df, col, "event_id")
    m = make()
    with pytest.raises(Exception, match="injected batch failure"):
        m(failing, 0)
    m(df, 0)  # retry of the failed batch
    ref = make()
    ref(df, 0)
    assert state(m) == state(ref)
    m(df, 0)  # a replay of the now-committed batch stays a no-op
    assert state(m) == state(ref)


def test_dedup_cascade_failed_batch_is_retried(spark, tmp_path):
    """The cascade persists its exact survivors for the batch; a failed
    commit must release them, and the retry under the same id must
    advance the versioned state exactly as a clean one-batch feed."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )

    def state(root):
        rows = VersionedTable(root).read(spark).orderBy("doc_id").collect()
        return [r.asDict() for r in rows]

    spark.catalog.clearCache()
    root = str(tmp_path / "retry")
    process = stream_dedup_cascade(root, app_id="retry")
    with pytest.raises(Exception, match="injected batch failure"):
        process(_poisoned(docs, "text", "doc_id"), 0)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    process(docs, 0)  # retry of the failed batch
    ref_root = str(tmp_path / "ref")
    stream_dedup_cascade(ref_root, app_id="ref")(docs, 0)
    ref = state(ref_root)
    assert ref and state(root) == ref
    process(docs, 0)  # a replay of the now-committed batch stays a no-op
    assert state(root) == ref
