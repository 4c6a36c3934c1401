"""Streaming quantile log-bin sketch (streaming/quantile.py): the
stream-maintained estimates must equal the batch
sketch_quantile_logbins query at every micro-batch cut; the ADD merge
must be batch-id guarded against replay; state stays O(bins)."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"
QS = (0.5, 0.9, 0.99)


def _stream_orders(spark, tmp_path, maintainer, n_files, tag=""):
    src = str(tmp_path / f"src{tag}{n_files}")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_totalprice"
    )
    orders.repartition(n_files).write.parquet(src)
    q = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(maintainer)
        .option("checkpointLocation", str(tmp_path / f"ckpt{tag}{n_files}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _batch_estimates(spark):
    import __spark_entry__ as e

    out = e.queries()["sketch_quantile_logbins"](spark, SF_DIR).collect()
    return {round(r["q"], 2): r["est_lo"] for r in out}


def test_stream_quantiles_equal_batch_any_cut(spark, tmp_path):
    from pulsar_ingestion_spark.streaming.quantile import (
        QuantileLogbinsStreamMaintainer,
    )

    batch = _batch_estimates(spark)
    for n_files in (1, 4):
        m = QuantileLogbinsStreamMaintainer("o_totalprice")
        _stream_orders(spark, tmp_path, m, n_files)
        for q in QS:
            assert m.quantile(q) == batch[q], (n_files, q)


def test_stream_quantile_replay_guard(spark):
    from pulsar_ingestion_spark.streaming.quantile import (
        QuantileLogbinsStreamMaintainer,
    )

    m = QuantileLogbinsStreamMaintainer("v")
    df = spark.createDataFrame([(float(x),) for x in range(1, 101)], "v double")
    m(df, 0)
    n1, q1 = m.count(), m.quantile(0.5)
    m(df, 0)  # replayed batch id — must be a no-op
    assert m.count() == n1 and m.quantile(0.5) == q1
    m(df, 1)  # genuinely new batch doubles the mass, median unchanged
    assert m.count() == 2 * n1 and m.quantile(0.5) == q1


def test_stream_quantile_state_is_bin_bounded(spark):
    from pulsar_ingestion_spark.streaming.quantile import (
        QuantileLogbinsStreamMaintainer,
    )

    m = QuantileLogbinsStreamMaintainer("v")
    df = spark.createDataFrame(
        [(float(x) / 7,) for x in range(1, 5000)], "v double"
    )
    m(df, 0)
    # (ndig, lead2) bins: <= 90 per digit count, few digit counts here
    assert m.n_bins() <= 90 * 5
    assert m.count() == 4999
    assert m.quantile(0.0) is not None and m.quantile(1.0) is not None


def test_stream_quantile_monotone_in_q(spark):
    from pulsar_ingestion_spark.streaming.quantile import (
        QuantileLogbinsStreamMaintainer,
    )

    m = QuantileLogbinsStreamMaintainer("o_totalprice")
    m(spark.read.parquet(f"{SF_DIR}/orders.parquet"), 0)
    ests = [m.quantile(q) for q in (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)]
    assert ests == sorted(ests)


def test_stream_quantile_failed_batch_is_retried(spark):
    """A batch whose job fails is redelivered under the SAME id; the
    retry must be merged, not skipped as a replay.  The first delivery
    of batch 0 raises inside the maintainer's Spark job; after the
    retry the state equals a clean one-batch feed."""
    import pytest
    from pyspark.sql import functions as F

    from pulsar_ingestion_spark.streaming.quantile import (
        QuantileLogbinsStreamMaintainer,
    )

    df = spark.createDataFrame([(float(x),) for x in range(1, 101)], "v double")
    failing = df.select(
        F.when(F.col("v") > 50, F.raise_error(F.lit("injected batch failure")))
        .otherwise(F.col("v")).cast("double").alias("v")
    )
    m = QuantileLogbinsStreamMaintainer("v")
    with pytest.raises(Exception, match="injected batch failure"):
        m(failing, 0)
    m(df, 0)  # retry of the failed batch
    ref = QuantileLogbinsStreamMaintainer("v")
    ref(df, 0)
    assert m.count() == ref.count() == 100
    assert m._bins == ref._bins
    assert [m.quantile(q) for q in QS] == [ref.quantile(q) for q in QS]
