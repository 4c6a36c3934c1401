"""Batch-equivalence, replay, pinning, and real-stream proofs for the
streaming IVF index (streaming/ann_index.py IVF family) — VERDICT r10
item 7: the sign-LSH maintenance story applied to the second ANN family.

Claim under test: after indexing the embeddings corpus in micro-batches
(any cut), ivf_search returns EXACTLY knn_ivf_pinned(queries, corpus,
cents) — the batch operator under the same pinned centroids — and the
centroid sidecar forbids silent centroid drift.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.similarity import knn_ivf_pinned
from pulsar_ingestion_spark.operators.versioned import VersionedTable
from pulsar_ingestion_spark.streaming.ann_index import (
    ivf_search,
    stream_ivf_index,
)

SF_DIR = "/root/testdata/sf0.001"
K, NPROBE, NCELLS = 5, 2, 8


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _queries(spark):
    return _emb(spark).filter(F.col("vec_id") < 20)


def _cents(spark) -> list[tuple[int, list[float]]]:
    # the knn_ivf_seeded centroid rule: candidates whose md5(id) sorts
    # lowest — deterministic, engine-independent
    rows = (
        _emb(spark)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec"))
        .orderBy(F.md5(F.col("cell").cast("string")))
        .limit(NCELLS)
        .collect()
    )
    return [(int(r["cell"]), [float(x) for x in r["cvec"]]) for r in rows]


def _batch_truth(spark, cents) -> set[tuple]:
    out = knn_ivf_pinned(_queries(spark), _emb(spark), cents, k=K, nprobe=NPROBE)
    return {tuple(r) for r in out.collect()}


def _index_cut(spark, root: str, cents, n_batches: int) -> None:
    emb = _emb(spark)
    ids = sorted(r[0] for r in emb.select("vec_id").collect())
    per = (len(ids) + n_batches - 1) // n_batches
    process = stream_ivf_index(root, app_id=f"cut{n_batches}", centroids=cents)
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


def test_ivf_index_batch_cut_invariance(spark, tmp_path):
    cents = _cents(spark)
    truth = _batch_truth(spark, cents)
    assert len(truth) > 0
    for n in (1, 2, 5):
        root = str(tmp_path / f"idx{n}")
        _index_cut(spark, root, cents, n)
        got = {
            tuple(r)
            for r in ivf_search(
                spark, root, _queries(spark), k=K, nprobe=NPROBE
            ).collect()
        }
        assert got == truth, f"cut={n}"


def test_ivf_index_replay_is_idempotent(spark, tmp_path):
    cents = _cents(spark)
    root = str(tmp_path / "idx")
    emb = _emb(spark)
    lo = emb.filter(F.col("vec_id") < 250)
    hi = emb.filter(F.col("vec_id") >= 250)
    process = stream_ivf_index(root, app_id="replay", centroids=cents)
    process(lo, 0)
    process(lo, 0)  # replay of batch 0
    process(hi, 1)
    process(hi, 1)  # replay of batch 1
    assert VersionedTable(root).read(spark).count() == emb.count()
    got = {
        tuple(r)
        for r in ivf_search(spark, root, _queries(spark), k=K, nprobe=NPROBE).collect()
    }
    assert got == _batch_truth(spark, cents)


def test_ivf_index_real_stream_available_now(spark, tmp_path):
    cents = _cents(spark)
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
            stream_ivf_index(root, app_id=ckpt, centroids=cents)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert VersionedTable(root).read(spark).count() == emb.count()
    got = {
        tuple(r)
        for r in ivf_search(spark, root, _queries(spark), k=K, nprobe=NPROBE).collect()
    }
    assert got == _batch_truth(spark, cents)


def test_ivf_centroid_pinning_rejects_drift(spark, tmp_path):
    """Re-opening an index with a DIFFERENT centroid list must raise —
    silently swapping centroids would orphan every stored assignment."""
    cents = _cents(spark)
    root = str(tmp_path / "idx")
    _index_cut(spark, root, cents, 1)
    # same centroids: fine (restart / resume)
    stream_ivf_index(root, app_id="resume", centroids=cents)
    drifted = [(c, [x + 1.0 for x in v]) for c, v in cents]
    with pytest.raises(ValueError, match="pinned"):
        stream_ivf_index(root, app_id="drift", centroids=drifted)


def test_ivf_cell_budget_probe_and_empty_index(spark, tmp_path):
    # empty index: search returns zero rows with the normal schema
    out = ivf_search(spark, str(tmp_path / "never"), _queries(spark))
    assert out.columns == ["query_id", "cand_id", "cos_sim", "rank"]
    assert out.count() == 0


def test_ivf_index_survives_vacuum(spark, tmp_path):
    cents = _cents(spark)
    root = str(tmp_path / "idx")
    _index_cut(spark, root, cents, 5)
    t = VersionedTable(root)
    assert len(t.versions()) >= 5
    t.vacuum(keep_last=1, grace_seconds=0.0)
    assert len(t.versions()) == 1
    got = {
        tuple(r)
        for r in ivf_search(spark, root, _queries(spark), k=K, nprobe=NPROBE).collect()
    }
    assert got == _batch_truth(spark, cents)
