"""Round-14 optimization invariants, pinned on plan text so a future
edit can't silently reintroduce the removed work."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from pulsar_ingestion_spark.session import get_spark

    return get_spark("test-round14-opt", master="local[4]")


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_triangle_orients_before_collecting_adjacency(spark):
    """Round 14 (VERDICT r13 item 7): the unoriented O(maxdeg) hub
    struct-array must never materialize — orientation happens as a
    row-level predicate BEFORE the adjacency collect_list, so only the
    O(sqrt E) oriented out-lists exist as arrays."""
    import __spark_entry__ as e

    df = e.queries()["graph_triangle_count"](spark, SF_DIR)
    plan = _formatted(df)
    spark.catalog.clearCache()
    # the old form collected struct(nbr, dn) and filtered inside the array
    assert "collect_list(struct" not in plan, (
        "unoriented struct adjacency is back — hub arrays unbounded again"
    )
    assert "collect_list(nbr" in plan
    # the (degree, id) rank predicate runs on rows (join condition or
    # filter), before any aggregate
    assert "dnode" in plan and "dn" in plan


def test_ranking_boundaries_are_frozen_literals(spark):
    """Round 14 (ADVICE r13 high): keyed_running_sums' bucket boundaries
    are computed once and frozen as literals — the consumer plan must not
    re-evaluate percentile_approx (whose QuantileSummaries merge order is
    cluster-nondeterministic) in any subplan."""
    import __spark_entry__ as e

    df = e.queries()["stats_mann_whitney"](spark, SF_DIR)
    plan = _formatted(df)
    spark.catalog.clearCache()
    assert "percentile_approx" not in plan, (
        "quantile boundaries are being re-evaluated inside the consumer "
        "plan — they must be frozen once as literals (ADVICE r13 high)"
    )


@pytest.mark.parametrize(
    "name, window_free",
    [
        ("warehouse_changelog_compact", True),
        ("warehouse_merge_resolve_conflicts", True),
        ("corpus_curate", True),
        # corpus_assemble keeps its genuine pack-sequence cumsum window
        ("corpus_assemble", False),
        ("agg_mode", True),
        ("dedup_keep_best", True),
        # the co-occurrence edges keep their dense_rank cap window
        ("graph_label_propagation", False),
        ("graph_modularity", False),
    ],
)
def test_latest_wins_is_a_hash_aggregate(spark, name, window_free):
    """Round 14: the latest-wins / keep-best resolution (total order,
    rn=1) runs as max(struct(...)) — a hash aggregate with map-side
    partials — not as a row_number partition sort."""
    import __spark_entry__ as e

    plan = _formatted(e.queries()[name](spark, SF_DIR))
    spark.catalog.clearCache()
    assert "row_number" not in plan, f"{name}: row_number partition sort is back"
    if window_free:
        assert "Window" not in plan, f"{name}: a window survived the rewrite"
    assert "partial_max" in plan, f"{name}: map-side partial max missing"


def test_keyed_running_sums_theta_budget(spark):
    """Round 14 (VERDICT r13 item 6): the broadcast theta-join side is
    capped at THETA_JOIN_ROW_BUDGET even when the caller's driver-memory
    budget is larger."""
    from pulsar_ingestion_spark.operators.ranking import (
        THETA_JOIN_ROW_BUDGET,
        keyed_running_sums,
    )

    assert THETA_JOIN_ROW_BUDGET <= 10_000
    df = spark.range(30_000).select(
        F.col("id").alias("k"), F.col("id").alias("o"), F.lit(1).alias("v")
    )
    # 30k distinct keys × >=1 bucket rows blow the theta budget even
    # though they would fit the 100k driver-memory budget
    with pytest.raises(ValueError, match="few-key discipline"):
        keyed_running_sums(
            df, ["k"], [F.col("o")], ["v"], max_driver_rows=100_000
        )
    spark.catalog.clearCache()
