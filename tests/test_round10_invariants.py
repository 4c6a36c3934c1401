"""Round-10 regression pins (ADVICE r9 items): NULL/ragged guards in the
vectorized Arrow kernels (a bad row must yield NULL output, matching the
expression-form twins, instead of np.vstack aborting the whole batch),
and the opportunistic trim of the dedup module's persisted-intermediate
tracking."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_kernel_null_and_ragged_rows_yield_null(spark):
    """cosine_rounded_kernel on a batch containing NULL and
    length-mismatched pairs: bad rows → NULL (the HOF twin's zip_with
    semantics), good rows bit-identical to the HOF twin."""
    from pulsar_ingestion_spark.functions.vectors import (
        cosine_rounded,
        cosine_rounded_kernel,
    )

    a = [1.0, 2.0, 3.0, 4.0]
    b = [4.0, 3.0, 2.0, 1.0]
    pairs = spark.createDataFrame(
        [
            (0, a, b),            # good
            (1, None, b),         # null left
            (2, a, None),         # null right
            (3, a, b[:3]),        # ragged pair → HOF zip_with gives NULL dot
            (4, a[:2], b[:2]),    # good pair at a DIFFERENT dim (grouped path)
        ],
        "pid bigint, x array<float>, y array<float>",
    )
    kern = {
        r["pid"]: r["c"]
        for r in pairs.select(
            "pid", cosine_rounded_kernel(F.col("x"), F.col("y")).alias("c")
        ).collect()
    }
    hof = {
        r["pid"]: r["c"]
        for r in pairs.select(
            "pid", cosine_rounded(F.col("x"), F.col("y")).alias("c")
        ).collect()
    }
    assert kern[1] is None and kern[2] is None and kern[3] is None
    assert hof[1] is None and hof[2] is None and hof[3] is None
    assert kern[0] == hof[0] and kern[0] is not None
    assert kern[4] == hof[4] and kern[4] is not None
    assert math.isclose(kern[0], 0.6666670, rel_tol=1e-5)


def test_signlsh_kernel_null_rows_yield_null_bucket(spark):
    """signlsh_buckets with NULL / wrong-dim embeddings: those rows get a
    NULL bucket (dropped by any downstream bucket equi-join); valid rows'
    buckets are unchanged vs an all-valid run."""
    from pulsar_ingestion_spark.operators.similarity import signlsh_buckets

    dim = 8
    good = [
        (0, [float(i + 1) for i in range(dim)]),
        (1, [float(dim - i) for i in range(dim)]),
    ]
    mixed = _emb_df(spark, good + [(2, None), (3, [1.0, 2.0])])
    out = {
        r["id"]: r["bucket"]
        for r in signlsh_buckets(mixed, dim, num_planes=4).select("id", "bucket").collect()
    }
    ref = {
        r["id"]: r["bucket"]
        for r in signlsh_buckets(_emb_df(spark, good), dim, num_planes=4)
        .select("id", "bucket")
        .collect()
    }
    assert out[2] is None and out[3] is None
    assert out[0] == ref[0] and out[1] == ref[1]
    assert out[0] is not None and out[1] is not None


def test_pq_encode_kernel_null_rows_yield_null_enc(spark):
    """pq_encode_kernel with NULL / too-short vectors: those rows get a
    NULL enc struct; valid rows' codes match an all-valid run."""
    from pulsar_ingestion_spark.operators.similarity import pq_encode_kernel

    subspaces, subdim = 2, 2
    cents = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0, 1.0])]
    good = [(0, [0.1, 0.1, 0.9, 0.9]), (1, [0.9, 0.9, 0.1, 0.1])]
    mixed = _emb_df(spark, good + [(2, None), (3, [0.5])])
    rows = {
        r["id"]: r["enc"]
        for r in pq_encode_kernel(mixed, cents, subspaces, subdim).collect()
    }
    ref = {
        r["id"]: r["enc"]
        for r in pq_encode_kernel(_emb_df(spark, good), cents, subspaces, subdim).collect()
    }
    assert rows[2] is None or rows[2]["codes"] is None
    assert rows[3] is None or rows[3]["codes"] is None
    assert list(rows[0]["codes"]) == list(ref[0]["codes"]) == [0, 1]
    assert list(rows[1]["codes"]) == list(ref[1]["codes"]) == [1, 0]


def test_keyed_running_sums_enforces_driver_row_budget(spark):
    """VERDICT r9 item 3: the few-key discipline is now ENFORCED — a
    high-cardinality key blows the driver-row budget and raises loudly
    instead of silently materializing the aggregate on the driver."""
    import pytest

    from pulsar_ingestion_spark.operators.ranking import (
        global_row_number,
        keyed_running_sums,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").alias("o"), F.lit(1).alias("v")
    )
    with pytest.raises(ValueError, match="few-key discipline"):
        keyed_running_sums(df, ["k"], [F.col("o")], ["v"], max_driver_rows=10)
    spark.catalog.clearCache()
    # within budget: unchanged behavior
    out, totals = keyed_running_sums(
        df.withColumn("k", F.col("k") % 2), ["k"], [F.col("o")], ["v"]
    )
    assert out.count() == 100 and totals.count() == 2
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="few-key discipline"):
        global_row_number(
            df, [F.col("o")], num_partitions=16, max_driver_rows=4
        )
    spark.catalog.clearCache()


def test_pq_encode_kernel_mixed_length_batch(spark):
    """Code-review find (round 10): two VALID vectors of different
    lengths (both >= subspaces*subdim) must encode — the kernel slices
    to the encoded prefix instead of np.vstack aborting the batch."""
    from pulsar_ingestion_spark.operators.similarity import pq_encode_kernel

    subspaces, subdim = 2, 2
    cents = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0, 1.0])]
    mixed = _emb_df(
        spark,
        [(0, [0.1, 0.1, 0.9, 0.9]), (1, [0.9, 0.9, 0.1, 0.1, 0.5])],  # 4-dim + 5-dim
    )
    rows = {
        r["id"]: r["enc"]
        for r in pq_encode_kernel(mixed, cents, subspaces, subdim).collect()
    }
    assert list(rows[0]["codes"]) == [0, 1]
    assert list(rows[1]["codes"]) == [1, 0]  # extra dim ignored, row encoded
