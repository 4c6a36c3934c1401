"""Failure injection for the driver-state maintainers on
``streaming.replay.ReplayGuarded`` and for the dedup cascade: a batch
whose Spark job fails is redelivered under the SAME id, and the retry
must be merged, not skipped as a replay.  The first delivery of batch 0
raises inside the maintainer's job on one poisoned column; after the
retry the state equals a clean one-batch feed.  A maintainer whose
``absorb`` raises (a cardinality cap) leaves its state and id as they
were.  A new maintainer on ``ReplayGuarded`` gets a case here."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.versioned import VersionedTable
from pulsar_ingestion_spark.streaming.dedup_cascade import stream_dedup_cascade
from pulsar_ingestion_spark.streaming.mixture import MixturePlanMaintainer
from pulsar_ingestion_spark.streaming.monitor import rate_monitor
from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer
from pulsar_ingestion_spark.streaming.quantile import QuantileLogbinsStreamMaintainer
from pulsar_ingestion_spark.streaming.replay import ReplayGuarded
from pulsar_ingestion_spark.streaming.sampler import WeightedSampleMaintainer
from pulsar_ingestion_spark.streaming.seasonal import SeasonalGridMaintainer
from pulsar_ingestion_spark.streaming.sketches import (
    CmsStreamMaintainer,
    HllStreamMaintainer,
    MgStreamMaintainer,
)
from pulsar_ingestion_spark.streaming.skyline import SkylineStreamMaintainer
from pulsar_ingestion_spark.streaming.trend import TrendMonitor

SF_DIR = "/root/testdata/sf0.001"
ID_COL = {"events": "event_id", "documents": "doc_id"}

# (maintainer factory, table, poisoned column, state snapshot).  The
# profile's one action fails on its user_id column, which must leave its
# event_type column untouched too, and the seasonal grid's action fails
# in its counts branch or in its user HLL branch.
CASES = {
    "cms": (lambda: CmsStreamMaintainer("user_id"), "events", "user_id",
            lambda m: m.counters),
    "mg": (lambda: MgStreamMaintainer("event_type"), "events", "event_type",
           lambda m: (m.counters, m.total)),
    "hll": (lambda: HllStreamMaintainer("user_id"), "events", "user_id",
            lambda m: m.registers),
    "quantile": (lambda: QuantileLogbinsStreamMaintainer("value"), "events", "value",
                 lambda m: (m._bins, m.count())),
    "mixture": (MixturePlanMaintainer, "documents", "text", lambda m: m._tokens),
    "trend": (TrendMonitor, "events", "ts", lambda m: m.snapshot()),
    "seasonal": (SeasonalGridMaintainer, "events", "value",
                 lambda m: (m.n_events, m.sum_value, m.registers)),
    "seasonal_users": (SeasonalGridMaintainer, "events", "user_id",
                       lambda m: (m.n_events, m.sum_value, m.registers)),
    "profile": (lambda: ProfileStreamMaintainer(["event_type", "user_id"]), "events",
                "user_id", lambda m: m.profile()),
    "rate_monitor": (lambda: rate_monitor("event_type", os.devnull), "events", "event_type",
                     lambda m: (m.trails, m.silent_for)),
    "skyline": (lambda: SkylineStreamMaintainer("user_id", "value"), "events", "value",
                lambda m: m.frontier()),
    "weighted_sample": (lambda: WeightedSampleMaintainer("event_type", "event_id", "value"),
                        "events", "value", lambda m: m.sample()),
}

# (factory capped at one key, table, the capped key column, state
# snapshot): the cap raises in ``absorb``, after the batch's job ran.
CAPPED = {
    "mixture": (lambda: MixturePlanMaintainer(max_sources=1), "documents", "source",
                lambda m: m._tokens),
    "weighted_sample": (lambda: WeightedSampleMaintainer(
        "event_type", "event_id", "value", max_groups=1), "events", "event_type",
        lambda m: m.sample()),
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
    make, table, col, state = CASES[name]
    df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    failing = _poisoned(df, col, ID_COL[table])
    m = make()
    with pytest.raises(Exception, match="injected batch failure"):
        m(failing, 0)
    assert state(m) == state(make()) and m.last_batch == -1
    m(df, 0)  # retry of the failed batch
    ref = make()
    ref(df, 0)
    assert state(m) == state(ref)
    m(df, 0)  # a replay of the now-committed batch stays a no-op
    assert state(m) == state(ref)


@pytest.mark.parametrize("name", sorted(CAPPED))
def test_raise_in_absorb_leaves_state_and_id(spark, name):
    """A batch over the cardinality cap raises after its job ran; the
    state and the id stay as they were, so a clean delivery under the
    same id merges in full."""
    make, table, col, state = CAPPED[name]
    df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
    m = make()
    empty = state(m)
    with pytest.raises(ValueError, match="exceeds max_"):
        m(df, 0)
    assert state(m) == empty and m.last_batch == -1
    one = df.filter(F.col(col) == df.select(F.min(col)).first()[0])
    m(one, 0)
    ref = make()
    ref(one, 0)
    assert state(m) == state(ref) != empty
    assert m.last_batch == 0


def test_collect_runs_under_the_maintainer_name(spark):
    """The base runs its collect with the subclass's name as the job
    description, then restores the caller's; the job group (how a
    tracer attributes jobs) is left alone."""
    sc = spark.sparkContext
    seen = []

    class Probe(ReplayGuarded):
        def summary(self, batch_df):
            seen.append(sc.getLocalProperty("spark.job.description"))
            return batch_df

        def absorb(self, rows, batch_id):
            seen.append(sc.getLocalProperty("spark.job.description"))

    sc.setJobGroup("fold-probe", "caller")
    try:
        Probe()(spark.range(3), 0)
        assert seen == ["Probe", "caller"]
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("spark.jobGroup.id") == "fold-probe"
        assert sc.statusTracker().getJobIdsForGroup("fold-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


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
