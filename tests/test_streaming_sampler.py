"""Streaming weighted bottom-k sampler (streaming/sampler.py): the
stream-maintained sample must equal the batch sample_weighted_kmv
query for ANY micro-batch cut; a replayed id is skipped, and rows
re-delivered under a new id change nothing (the merge is idempotent by
algebra); the group-cardinality guard must fire."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _stream_events(spark, tmp_path, maintainer, n_files, tag=""):
    src = str(tmp_path / f"src{tag}{n_files}")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "event_id", "value"
    )
    ev.repartition(n_files).write.parquet(src)
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(maintainer)
        .option("checkpointLocation", str(tmp_path / f"ckpt{tag}{n_files}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _batch_sample(spark):
    import __spark_entry__ as e

    out = e.queries()["sample_weighted_kmv"](spark, SF_DIR).collect()
    return sorted(
        (r["event_type"], r["rn"], r["event_id"], r["value"]) for r in out
    )


def test_stream_sample_equals_batch_any_cut(spark, tmp_path):
    from pulsar_ingestion_spark.streaming.sampler import (
        WeightedSampleMaintainer,
    )

    batch = _batch_sample(spark)
    for n_files in (1, 4):
        m = WeightedSampleMaintainer("event_type", "event_id", "value", k=5)
        _stream_events(spark, tmp_path, m, n_files)
        assert m.sample() == batch, n_files


def test_stream_sample_replay_idempotent(spark, tmp_path):
    from pulsar_ingestion_spark.streaming.sampler import (
        WeightedSampleMaintainer,
    )

    m = WeightedSampleMaintainer("event_type", "event_id", "value", k=5)
    _stream_events(spark, tmp_path, m, 2, tag="a")
    once = m.sample()
    # replay the whole stream again into the SAME maintainer: its ids
    # restart at 0, so the guard skips them
    _stream_events(spark, tmp_path, m, 2, tag="b")
    assert m.sample() == once
    # the same rows under a new id merge, and change nothing by algebra
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    m(ev, m.last_batch + 1)
    assert m.sample() == once


def test_stream_sample_group_guard_fires(spark):
    """The max_groups guard fires, and it is checked against a merged
    COPY: the raise leaves the sample as it was, so a retry of the same
    id (here with the groups bucketed upstream) is merged in full."""
    from pulsar_ingestion_spark.streaming.sampler import (
        WeightedSampleMaintainer,
    )

    def rows(pairs):
        return spark.createDataFrame(pairs, "g int, i int, w double")

    first = rows([(0, 1, 1.0), (1, 2, 1.0)])
    m = WeightedSampleMaintainer("g", "i", "w", k=1, max_groups=3)
    m(first, 0)
    before = m.sample()
    with pytest.raises(ValueError, match="max_groups"):
        m(rows([(g, g * 10, 1.0) for g in range(8)]), 1)
    assert m.sample() == before
    bucketed = rows([(g % 3, g * 10, 1.0) for g in range(8)])
    m(bucketed, 1)  # retry, bucketed
    ref = WeightedSampleMaintainer("g", "i", "w", k=1, max_groups=3)
    ref(first, 0)
    ref(bucketed, 1)
    assert m.sample() == ref.sample()
    assert {row[0] for row in m.sample()} == {0, 1, 2}


def test_negative_and_null_weights_excluded(spark):
    from pulsar_ingestion_spark.streaming.sampler import (
        WeightedSampleMaintainer,
    )

    m = WeightedSampleMaintainer("g", "i", "w", k=3)
    df = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, None), (1, 3, -1.0), (1, 4, 0.0), (1, 5, 1.0)],
        "g int, i int, w double",
    )
    m(df, 0)
    ids = {row[2] for row in m.sample()}
    assert ids == {1, 5}
