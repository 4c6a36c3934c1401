"""An IVF centroid list that no batch could use is refused before the
index pins it: ``stream_ivf_index`` and ``knn_ivf_pinned`` raise
ValueError, and no centroid sidecar is written, so the index root can
still be created with a valid list."""

from __future__ import annotations

import pytest

from pulsar_ingestion_spark.operators.similarity import knn_ivf_pinned
from pulsar_ingestion_spark.streaming.ann_index import stream_ivf_index

UNUSABLE = {
    "empty": [],
    "shorter": [(1, [0.0, 1.0, 2.0]), (2, [0.0, 1.0])],
    "longer": [(1, [0.0, 1.0]), (2, [0.0, 1.0, 2.0])],
    "duplicate_cell": [(1, [0.0, 1.0]), (1, [1.0, 0.0])],
}


@pytest.mark.parametrize("case", sorted(UNUSABLE))
def test_stream_ivf_index_rejects_unusable_centroids(tmp_path, case):
    root = tmp_path / "idx"
    with pytest.raises(ValueError):
        stream_ivf_index(str(root), app_id="a", centroids=UNUSABLE[case])
    assert not (root / "ivf_centroids.json").exists()
    stream_ivf_index(str(root), app_id="a", centroids=[(1, [0.0, 1.0])])
    assert (root / "ivf_centroids.json").exists()


@pytest.mark.parametrize("case", sorted(UNUSABLE))
def test_knn_ivf_pinned_rejects_unusable_centroids(spark, case):
    df = spark.createDataFrame([(1, [0.0, 1.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        knn_ivf_pinned(df, df, UNUSABLE[case])
