"""``operators.ranking.best_struct`` against the window it replaces:
for any mix of asc/desc keys, the keep-best struct aggregate picks the
same row as ``row_number() = 1`` over the same partitioned ``ORDER BY``
(Spark's default null ordering), including NULL, the integral extremes,
NaN, ±inf and ±0.0 in the keys."""

from __future__ import annotations

import itertools
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.ranking import best_struct

LONG_MIN, LONG_MAX = -(2**63), 2**63 - 1
KEYS = ["a", "b", "c"]

LONGS = st.one_of(
    st.none(), st.sampled_from([LONG_MIN, LONG_MAX]), st.integers(-2, 2)
)
DOUBLES = st.one_of(
    st.none(),
    st.sampled_from([float("nan"), float("inf"), float("-inf"), 0.0, -0.0]),
    st.integers(-2, 2).map(float),
)
DECIMALS = st.one_of(
    st.none(), st.integers(-300, 300).map(lambda n: Decimal(n).scaleb(-2))
)
ROWS = st.lists(
    st.tuples(st.integers(0, 2), LONGS, DOUBLES, DECIMALS), min_size=1, max_size=40
)
SCHEMA = "g int, a bigint, b double, c decimal(10,2), id int"


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=ROWS,
    keys=st.sampled_from([[], ["g"]]),
    perm=st.permutations(KEYS),
)
def test_best_struct_matches_row_number(spark, rows, keys, perm):
    """Every asc/desc mix of the three keys plus the unique ``id`` that
    makes the order total: one aggregate and one set of windows per
    example, compared mix by mix."""
    df = spark.createDataFrame(
        [(*r, i) for i, r in enumerate(rows)], SCHEMA
    )
    cols = [*perm, "id"]
    mixes = list(itertools.product(("asc", "desc"), repeat=len(cols)))
    aggs, wins = [], []
    for m, dirs in enumerate(mixes):
        order = list(zip(cols, dirs))
        aggs.append(best_struct(df, order, ["g"]).getField("id").alias(f"m{m}"))
        spec = Window.partitionBy(*keys).orderBy(
            *[F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d in order]
        )
        wins.append(F.row_number().over(spec).alias(f"rn{m}"))
    got = df.groupBy(*keys).agg(*aggs).collect()
    ranked = df.select(*keys, "id", *wins).collect()
    for m, dirs in enumerate(mixes):
        want = {tuple(r[k] for k in keys): r["id"] for r in ranked if r[f"rn{m}"] == 1}
        have = {tuple(r[k] for k in keys): r[f"m{m}"] for r in got}
        assert have == want, (list(zip(cols, dirs)), rows)


def test_best_struct_rejects_unorderable_reversed_key(spark):
    """A string key against the leading direction has no order-reversing
    image; the helper refuses it instead of building a wrong struct."""
    df = spark.createDataFrame([(1, "x")], "n int, s string")
    with pytest.raises(TypeError, match="s"):
        best_struct(df, [("n", "desc"), ("s", "asc")])
    best_struct(df, [("n", "desc"), ("s", "desc")])  # same direction: as is
