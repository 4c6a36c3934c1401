"""The portable hash (``operators.sketch``) pinned across engines:
``md5_lane`` equals the Python and the DuckDB spellings of the first 8
hex chars of md5 as a bigint, for bigint keys (0, negatives, the long
extremes), unicode strings and NULL, with and without a salt;
``cms_bucket`` equals the driver-side bucket of
``CmsStreamMaintainer.estimate``; and ``hll_summary`` equals the
driver-side ``hll_estimate`` on any register set."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.sketch import (
    _HLL_M,
    _HLL_WBITS,
    cms_bucket,
    hll_estimate,
    hll_summary,
    md5_lane,
)
from pulsar_ingestion_spark.streaming.sketches import CmsStreamMaintainer

LONG_MIN, LONG_MAX = -(2**63), 2**63 - 1

TEXT = st.text(st.characters(blacklist_categories=("Cs",)), max_size=12)
LONGS = st.one_of(st.sampled_from([0, -1, LONG_MIN, LONG_MAX]), st.integers(LONG_MIN, LONG_MAX))
KEYS = st.one_of(
    st.tuples(st.just("bigint"), st.lists(st.one_of(st.none(), LONGS), min_size=1, max_size=20)),
    st.tuples(st.just("string"), st.lists(st.one_of(st.none(), TEXT), min_size=1, max_size=20)),
)
SALTS = st.one_of(st.sampled_from(["", "hll:", "cms3:"]), TEXT)
SETTINGS = settings(max_examples=30, deadline=None,
                    suppress_health_check=[HealthCheck.function_scoped_fixture])


def _py_lane(key, salt: str):
    if key is None:
        return None
    return int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:8], 16)


@SETTINGS
@given(keys=KEYS, salt=SALTS)
def test_md5_lane_matches_python_and_duckdb(spark, keys, salt):
    kind, values = keys
    df = spark.createDataFrame(list(enumerate(values)), f"i int, k {kind}")
    got = {r["i"]: r["h"] for r in df.select("i", md5_lane(F.col("k"), salt).alias("h")).collect()}
    want = {i: _py_lane(k, salt) for i, k in enumerate(values)}
    assert got == want

    con = duckdb.connect()
    dtype = "Int64" if kind == "bigint" else object
    con.register("keys", pd.DataFrame({"i": range(len(values)),
                                       "k": pd.Series(values, dtype=dtype)}))
    rows = con.execute(
        "SELECT i, CAST(('0x' || substring(md5(? || CAST(k AS VARCHAR)), 1, 8)) AS BIGINT)"
        " FROM keys",
        [salt],
    ).fetchall()
    assert dict(rows) == want


@SETTINGS
@given(keys=st.one_of(st.lists(LONGS, min_size=1, max_size=8),
                      st.lists(TEXT, min_size=1, max_size=8)),
       width=st.sampled_from([256, 97]))
def test_cms_bucket_matches_driver_point_query(spark, keys, width):
    """Each key's Spark buckets, loaded as the only nonzero counters of
    a maintainer, are found by its driver-side point query at every
    depth: a bucket that differed would read 0."""
    kind = "bigint" if isinstance(keys[0], int) else "string"
    m = CmsStreamMaintainer("k", width=width)
    depths = F.explode(F.array([F.lit(d) for d in range(m.depth)])).alias("d")
    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)], f"i int, k {kind}")
    rows = (
        df.select("i", "k", depths)
        .select("i", "d", cms_bucket(F.col("d"), F.col("k"), width).alias("b"))
        .collect()
    )
    for i, k in enumerate(keys):
        m.counters = {(r["d"], r["b"]): 1 for r in rows if r["i"] == i}
        assert len(m.counters) == m.depth and m.estimate(k) == 1, k


REGISTERS = st.dictionaries(st.integers(0, _HLL_M - 1), st.integers(1, _HLL_WBITS + 1),
                            max_size=_HLL_M)


@SETTINGS
@given(regs=REGISTERS)
@example(regs={})
@example(regs={b: 1 for b in range(_HLL_M)})
@example(regs={b: _HLL_WBITS + 1 for b in range(_HLL_M)})
@example(regs={0: _HLL_WBITS + 1})
def test_hll_summary_matches_driver_estimate(spark, regs):
    df = spark.createDataFrame(sorted(regs.items()), "bucket bigint, register int")
    r = hll_summary(df).first()
    full = 1 << (_HLL_WBITS + 1)
    assert r["buckets_used"] == len(regs)
    assert r["sum_scaled_full"] == sum(full >> v for v in regs.values()) + (_HLL_M - len(regs)) * full
    assert r["hll_estimate"] == hll_estimate(regs)
