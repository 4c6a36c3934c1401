"""Batch-equivalence, replay, and real-stream proofs for the streaming
ANN index (streaming/ann_index.py) — VERDICT r9 item 7.

Claim under test: after indexing the embeddings corpus in micro-batches
(any cut), ann_search returns EXACTLY knn_lsh(queries, corpus) — the
batch operator over the union of the batches — and replayed batches
never change the index (exactly-once via the app-scoped watermark).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.similarity import knn_lsh
from pulsar_ingestion_spark.operators.versioned import VersionedTable
from pulsar_ingestion_spark.streaming.ann_index import (
    ann_search,
    stream_ann_index,
)

SF_DIR = "/root/testdata/sf0.001"
DIM, K, PLANES = 64, 5, 6


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _queries(spark):
    return _emb(spark).filter(F.col("vec_id") < 20)


def _batch_truth(spark) -> set[tuple]:
    out = knn_lsh(_queries(spark), _emb(spark), dim=DIM, k=K, num_planes=PLANES)
    return {tuple(r) for r in out.collect()}


def _index_cut(spark, root: str, n_batches: int) -> None:
    emb = _emb(spark)
    ids = sorted(r[0] for r in emb.select("vec_id").collect())
    per = (len(ids) + n_batches - 1) // n_batches
    process = stream_ann_index(root, app_id=f"cut{n_batches}", dim=DIM,
                               num_planes=PLANES)
    for b in range(n_batches):
        chunk = ids[b * per : (b + 1) * per]
        if not chunk:
            continue
        process(
            emb.filter(
                (F.col("vec_id") >= chunk[0]) & (F.col("vec_id") <= chunk[-1])
            ),
            b,
        )


def test_ann_index_batch_cut_invariance(spark, tmp_path):
    """1-, 2-, and 5-batch cuts all yield a search result row-identical
    to the batch knn_lsh over the full corpus."""
    truth = _batch_truth(spark)
    assert len(truth) > 0
    for n in (1, 2, 5):
        root = str(tmp_path / f"idx{n}")
        _index_cut(spark, root, n)
        got = {
            tuple(r)
            for r in ann_search(
                spark, root, _queries(spark), dim=DIM, k=K, num_planes=PLANES
            ).collect()
        }
        assert got == truth, f"cut={n}"


def test_ann_index_replay_is_idempotent(spark, tmp_path):
    """A replayed batch id (Structured Streaming at-least-once) must not
    duplicate index rows or change search results."""
    root = str(tmp_path / "idx")
    emb = _emb(spark)
    lo = emb.filter(F.col("vec_id") < 250)
    hi = emb.filter(F.col("vec_id") >= 250)
    process = stream_ann_index(root, app_id="replay", dim=DIM, num_planes=PLANES)
    process(lo, 0)
    process(lo, 0)  # replay of batch 0
    process(hi, 1)
    process(hi, 1)  # replay of batch 1
    n_state = VersionedTable(root).read(spark).count()
    assert n_state == emb.count()
    got = {
        tuple(r)
        for r in ann_search(
            spark, root, _queries(spark), dim=DIM, k=K, num_planes=PLANES
        ).collect()
    }
    assert got == _batch_truth(spark)


def test_ann_index_real_stream_available_now(spark, tmp_path):
    """End-to-end through a real Structured Streaming query: the corpus
    split across 3 parquet files, maxFilesPerTrigger=1 (3 micro-batches),
    foreachBatch indexer, then search equals the batch operator."""
    src = tmp_path / "src"
    emb = _emb(spark)
    for i, (lo, hi) in enumerate([(0, 170), (170, 340), (340, 1 << 40)]):
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
            1
        ).write.parquet(str(src / f"part{i}"))
    root = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/part*")
    )
    q = (
        stream.writeStream.foreachBatch(
            stream_ann_index(root, app_id=ckpt, dim=DIM, num_planes=PLANES)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert VersionedTable(root).read(spark).count() == emb.count()
    got = {
        tuple(r)
        for r in ann_search(
            spark, root, _queries(spark), dim=DIM, k=K, num_planes=PLANES
        ).collect()
    }
    assert got == _batch_truth(spark)


def test_ann_index_survives_vacuum(spark, tmp_path):
    """Index maintenance + state-table hygiene interplay: after vacuum()
    expires old manifests (keep_last=1, grace 0), the search still sees
    every indexed vector (the latest manifest references all data files
    appended so far) and results stay batch-identical."""
    root = str(tmp_path / "idx")
    _index_cut(spark, root, 5)  # five commits -> five manifests
    t = VersionedTable(root)
    assert len(t.versions()) >= 5
    t.vacuum(keep_last=1, grace_seconds=0.0)
    assert len(t.versions()) == 1
    got = {
        tuple(r)
        for r in ann_search(
            spark, root, _queries(spark), dim=DIM, k=K, num_planes=PLANES
        ).collect()
    }
    assert got == _batch_truth(spark)
