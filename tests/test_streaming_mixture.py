"""Streaming mixture tracker (streaming/mixture.py): the stream-
maintained temperature plan must equal the batch
corpus_temperature_mix query at every micro-batch cut (6 dp); ADD merge
batch-id guarded; source-cardinality guard fires."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _stream_docs(spark, tmp_path, maintainer, n_files, tag=""):
    src = str(tmp_path / f"src{tag}{n_files}")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "source", "text"
    )
    docs.repartition(n_files).write.parquet(src)
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(maintainer)
        .option("checkpointLocation", str(tmp_path / f"ckpt{tag}{n_files}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _batch_plan(spark):
    import __spark_entry__ as e

    out = e.queries()["corpus_temperature_mix"](spark, SF_DIR).collect()
    return {
        r["source"]: (r["tokens"], r["natural_share"], r["temp_share"],
                      r["effective_epochs"])
        for r in out
    }


def test_stream_plan_equals_batch_any_cut(spark, tmp_path):
    from pulsar_ingestion_spark.streaming.mixture import MixturePlanMaintainer

    batch = _batch_plan(spark)
    for n_files in (1, 3):
        m = MixturePlanMaintainer()
        _stream_docs(spark, tmp_path, m, n_files)
        got = {row[0]: row[1:] for row in m.plan()}
        assert set(got) == set(batch)
        for src, (tok, nat, temp, ep) in batch.items():
            gt, gn, gtemp, gep = got[src]
            assert gt == tok, src
            assert abs(gn - nat) <= 1e-6, src
            assert abs(gtemp - temp) <= 1e-6, src
            assert abs(gep - ep) <= 1e-5, src


def test_stream_plan_replay_guard(spark):
    from pulsar_ingestion_spark.streaming.mixture import MixturePlanMaintainer

    m = MixturePlanMaintainer()
    df = spark.createDataFrame(
        [("a", "one two three"), ("b", "four five")], "source string, text string"
    )
    m(df, 0)
    assert m.total_tokens() == 5
    m(df, 0)  # replay — no-op
    assert m.total_tokens() == 5
    m(df, 1)
    assert m.total_tokens() == 10


def test_stream_plan_source_guard(spark):
    """The max_sources guard fires, and it is checked against a merged
    COPY: the raise leaves the counters and the batch watermark as they
    were, so a retry of the same id (here with the offending sources
    bucketed upstream) is merged in full."""
    from pulsar_ingestion_spark.streaming.mixture import MixturePlanMaintainer

    m = MixturePlanMaintainer(max_sources=2)
    m(_tokens_df(spark, [("a", "x y")]), 0)
    before = m.plan()
    with pytest.raises(ValueError, match="max_sources"):
        m(_tokens_df(spark, [(f"s{i}", "x y z") for i in range(5)]), 1)
    assert m.plan() == before and m.total_tokens() == 2
    m(_tokens_df(spark, [("a", "x y z"), ("b", "x")]), 1)  # retry, bucketed
    ref = MixturePlanMaintainer(max_sources=2)
    ref(_tokens_df(spark, [("a", "x y")]), 0)
    ref(_tokens_df(spark, [("a", "x y z"), ("b", "x")]), 1)
    assert m.plan() == ref.plan() and m.total_tokens() == 6


def _tokens_df(spark, rows):
    return spark.createDataFrame(rows, "source string, text string")


def test_stream_plan_failed_batch_is_retried(spark):
    """A batch whose job fails is redelivered under the SAME id; the
    retry must be merged, not skipped as a replay.  The first delivery
    of batch 0 raises inside the maintainer's Spark job; after the
    retry the state equals a clean one-batch feed."""
    from pyspark.sql import functions as F

    from pulsar_ingestion_spark.streaming.mixture import MixturePlanMaintainer

    df = _tokens_df(spark, [("a", "one two three"), ("b", "four five")])
    failing = df.select(
        "source",
        F.when(F.col("source") == "b", F.raise_error(F.lit("injected batch failure")))
        .otherwise(F.col("text")).cast("string").alias("text"),
    )
    m = MixturePlanMaintainer()
    with pytest.raises(Exception, match="injected batch failure"):
        m(failing, 0)
    m(df, 0)  # retry of the failed batch
    ref = MixturePlanMaintainer()
    ref(df, 0)
    assert m.total_tokens() == ref.total_tokens() == 5
    assert m.plan() == ref.plan()
