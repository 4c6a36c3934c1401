"""Streaming sketch maintenance (streaming/sketches.py): a stream-
maintained portable HLL / CMS must equal the BATCH sketch queries on
the same rows, for any micro-batch cut — mergeability made testable —
and the replay semantics must match each sketch's merge algebra
(HLL max-merge: idempotent; CMS add-merge: batch-id guarded)."""

from __future__ import annotations

import os

import numpy as np
import pytest

SF_DIR = "/root/testdata/sf0.001"


def _stream_events(spark, tmp_path, maintainer, cols, n_files, sf_dir=SF_DIR):
    """Drive `maintainer` through a real readStream over the sf0.001
    events table, re-laid-out as `n_files` parquet files with
    maxFilesPerTrigger=1 so each file is (roughly) one micro-batch."""
    src = str(tmp_path / f"src{n_files}")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(*cols)
    ev.repartition(n_files).write.parquet(src)
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(maintainer)
        .option("checkpointLocation", str(tmp_path / f"ckpt{n_files}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _null_user_sf(root) -> str:
    """The sf0.001 tables with every 7th ``events.user_id`` NULL (the
    testdata has no NULL user at any scale factor)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(root)
    for name in os.listdir(SF_DIR):
        if name != "events.parquet":
            os.symlink(os.path.join(SF_DIR, name), os.path.join(root, name))
    ev = pq.read_table(f"{SF_DIR}/events.parquet")
    null = pa.array(np.arange(ev.num_rows) % 7 == 0)
    uid = pc.if_else(null, pa.scalar(None, pa.int64()), ev["user_id"])
    i = ev.schema.get_field_index("user_id")
    pq.write_table(ev.set_column(i, "user_id", uid), os.path.join(root, "events.parquet"))
    return str(root)


def test_hll_stream_equals_batch_query_any_cut(spark, tmp_path):
    """Also on NULL keys: the batch query and its oracle count only the
    registers of non-NULL users, as the stream maintainer does."""
    import duckdb

    from pulsar_ingestion_spark.streaming.sketches import HllStreamMaintainer

    import __spark_entry__ as e

    null_sf = _null_user_sf(str(tmp_path / "null_sf"))
    for sf_dir in (SF_DIR, null_sf):
        batch = e.queries()["sketch_hll_portable"](spark, sf_dir).first()
        for n_files in (1, 4):
            m = HllStreamMaintainer("user_id")
            out = tmp_path / os.path.basename(sf_dir)
            _stream_events(spark, out, m, ["user_id"], n_files, sf_dir)
            assert m.estimate() == batch["hll_estimate"], (sf_dir, n_files)
            assert len(m.registers) == batch["buckets_used"], (sf_dir, n_files)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{null_sf}/events.parquet')")
    cur = con.execute(e.oracle_sql()["sketch_hll_portable"])
    cols = [d[0] for d in cur.description]
    assert dict(zip(cols, cur.fetchone())) == batch.asDict()


def test_hll_replay_is_idempotent_by_algebra(spark, tmp_path):
    """Register max-merge makes at-least-once replay a no-op — no
    batch-id bookkeeping needed (the property that makes per-partition
    HLL rollups recomputable at 100 TB)."""
    from pulsar_ingestion_spark.streaming.sketches import HllStreamMaintainer

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    m = HllStreamMaintainer("user_id")
    m(ev, 0)
    before = (m.estimate(), dict(m.registers))
    m(ev, 0)  # replay
    m(ev, 1)  # same data under a new id — still a no-op for max-merge
    assert (m.estimate(), m.registers) == before


def test_cms_stream_equals_batch_query_and_guards_replay(spark, tmp_path):
    from pulsar_ingestion_spark.streaming.sketches import CmsStreamMaintainer

    import __spark_entry__ as e

    batch = {
        r["event_type"]: r["cms_est"]
        for r in e.queries()["sketch_countmin"](spark, SF_DIR).collect()
    }
    m = CmsStreamMaintainer("event_type")
    _stream_events(spark, tmp_path, m, ["event_type"], 4)
    for key, est in batch.items():
        assert m.estimate(key) == est, key
    # add-merge is NOT idempotent: a replayed id must be skipped
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_type")
    counters_before = dict(m.counters)
    m(ev, m.last_batch)  # replay of the last committed batch
    assert m.counters == counters_before
    # a genuinely new batch DOES add
    m(ev, m.last_batch + 1)
    assert m.counters != counters_before


def test_cms_point_estimates_upper_bound_exact(spark):
    """CMS guarantee: est >= exact for every key (min over depths can
    only over-count via collisions, never under-count)."""
    from pyspark.sql import functions as F

    from pulsar_ingestion_spark.streaming.sketches import CmsStreamMaintainer

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_type")
    m = CmsStreamMaintainer("event_type")
    m(ev, 0)
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert exact and all(m.estimate(k) >= n for k, n in exact.items())


def _stream_tokens(spark, tmp_path, maintainer, n_files, tag=""):
    """Drive `maintainer` through a readStream over the sf0.001 documents
    TOKEN stream (pre-exploded to one `token` column)."""
    from pyspark.sql import functions as F

    src = str(tmp_path / f"tok{n_files}{tag}")
    toks = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
    )
    toks.repartition(n_files).write.parquet(src)
    q = (
        spark.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(maintainer)
        .option("checkpointLocation", str(tmp_path / f"tckpt{n_files}{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_mg_stream_exact_when_vocab_fits_budget_any_cut(spark, tmp_path):
    """Budget >= vocabulary means no MG reduction ever fires, so the
    stream-maintained estimates must EXACTLY equal the batch counts at
    any micro-batch cut — a strong equality check of the whole plumbing
    (Arrow summarizer, driver merge, totals)."""
    from pyspark.sql import functions as F

    from pulsar_ingestion_spark.streaming.sketches import MgStreamMaintainer

    toks = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
    )
    exact = {r["token"]: r["cnt"] for r in
             toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n = sum(exact.values())
    for n_files in (1, 4):
        m = MgStreamMaintainer("token", budget=64)
        _stream_tokens(spark, tmp_path, m, n_files)
        assert m.total == n, n_files
        assert m.candidates() == set(exact), n_files
        for t, c in exact.items():
            assert m.estimate(t) == c, (n_files, t)


def test_mg_stream_bounds_hold_under_reductions(spark, tmp_path):
    """Budget 8 < the 31-type vocabulary forces real MG reductions at
    both layers; every surviving estimate must stay inside
    [exact - n/(budget_min+1), exact], and the batch query's exact
    heavy hitters (count > n/K, K <= budget+1 scaled) must be tracked."""
    from pyspark.sql import functions as F

    from pulsar_ingestion_spark.streaming.sketches import MgStreamMaintainer

    toks = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
    )
    exact = {r["token"]: r["cnt"] for r in
             toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    m = MgStreamMaintainer("token", budget=8)
    _stream_tokens(spark, tmp_path, m, 4, tag="b8")
    bound = m.error_bound()
    assert m.total == sum(exact.values())
    for t in m.candidates():
        assert exact[t] - bound <= m.estimate(t) <= exact[t], t


def test_mg_superset_guarantee_on_skewed_stream(spark):
    """The guarantee the candidate set exists for: a genuinely heavy
    token (30% of the stream) MUST be tracked after reductions at a
    small budget (count > n/K for K=3 <= budget+1=9), with its estimate
    inside the undercount bound."""
    from pulsar_ingestion_spark.streaming.sketches import MgStreamMaintainer

    rows = [("hot",)] * 300 + [(f"f{i}",) for i in range(700)]
    df = spark.createDataFrame(rows, "token string")
    m = MgStreamMaintainer("token", budget=8)
    m(df, 0)
    assert "hot" in m.candidates()
    assert 300 - m.error_bound() <= m.estimate("hot") <= 300
    # batch-id replay guard (add-merge is not idempotent)
    before = (dict(m.counters), m.total)
    m(df, 0)
    assert (m.counters, m.total) == before
    m(df, 1)  # a genuinely new batch DOES merge
    assert m.total == 2000
