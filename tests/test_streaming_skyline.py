"""Streaming skyline maintenance (streaming/skyline.py): the stream-
maintained frontier must equal the batch rank_skyline_2d query's
distinct (price, size) pairs for any micro-batch cut; a replayed id is
skipped and the merge is idempotent by algebra under a new id; and the
frontier invariant (y strictly increasing along ascending x) must hold
after every merge."""

from __future__ import annotations

import pandas as pd

SF_DIR = "/root/testdata/sf0.001"


def _stream_parts(spark, tmp_path, maintainer, n_files, tag=""):
    src = str(tmp_path / f"src{tag}{n_files}")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_retailprice", "p_size"
    )
    part.repartition(n_files).write.parquet(src)
    q = (
        spark.readStream.schema(part.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(maintainer)
        .option("checkpointLocation", str(tmp_path / f"ckpt{tag}{n_files}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _batch_pairs(spark):
    import __spark_entry__ as e

    out = e.queries()["rank_skyline_2d"](spark, SF_DIR).toPandas()
    return set(zip(out["p_retailprice"], out["p_size"]))


def test_stream_frontier_equals_batch_skyline_any_cut(spark, tmp_path):
    from pulsar_ingestion_spark.streaming.skyline import SkylineStreamMaintainer

    expect = _batch_pairs(spark)
    for n_files in (1, 4):
        m = SkylineStreamMaintainer("p_retailprice", "p_size")
        _stream_parts(spark, tmp_path, m, n_files)
        assert set(m.frontier()) == expect, n_files


def test_stream_frontier_invariant_and_replay_idempotence(spark):
    from pulsar_ingestion_spark.streaming.skyline import SkylineStreamMaintainer

    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_retailprice", "p_size"
    )
    m = SkylineStreamMaintainer("p_retailprice", "p_size")
    m(part, 0)
    front = m.frontier()
    # invariant: y strictly increases along ascending x
    for (x1, y1), (x2, y2) in zip(front, front[1:]):
        assert x1 < x2 and y1 < y2
    # replay (same id, skipped) and re-delivery (new id, a no-op by algebra)
    m(part, 0)
    m(part, 1)
    assert m.frontier() == front


def test_prune_frontier_brute_force():
    """Driver-side prune must equal the quadratic dominance definition
    on an adversarial little set (ties in x, ties in y, duplicates)."""
    from pulsar_ingestion_spark.streaming.skyline import prune_frontier

    pts = {(1, 5), (1, 7), (2, 7), (2, 9), (3, 9), (3, 1), (4, 10),
           (4, 10), (5, 2), (0, 0)}

    def dominated(p, q):  # q dominates p
        return (q[0] < p[0] and q[1] >= p[1]) or (q[0] <= p[0] and q[1] > p[1])

    expect = {p for p in pts if not any(dominated(p, q) for q in pts)}
    assert prune_frontier(set(pts)) == expect
