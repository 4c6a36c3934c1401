"""The portable hash and the sketches built on it.

The repo's canonical portable hash is the first 8 hex chars of
``md5(<salt> || CAST(key AS STRING))`` read as a non-negative bigint
(32 bits).  Every engine computes it bit-identically:

* Spark: :func:`md5_lane`;
* DuckDB: ``CAST(('0x' || substring(md5(<salt> || CAST(key AS VARCHAR)), 1, 8)) AS BIGINT)``
  (the oracles keep that text hand-written — they are the reference);
* Python: ``int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:8], 16)``.

A NULL key hashes to NULL.  ``tests/test_portable_hash.py`` pins the
three forms against each other.

The portable HyperLogLog (m = 64 registers) and the count-min buckets
are defined here once, for the batch queries and the streaming
maintainers alike: a stream-maintained sketch equals the batch sketch of
the same rows only while both derive their registers and buckets from
the same expressions.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CMS_DEPTH = 4
_CMS_WIDTH = 256

_HLL_M = 64          # registers
_HLL_WBITS = 26      # hash bits left after the bucket index (32 - log2(64))

# rho = leading-zero count of the 26-bit suffix + 1 (0 suffix -> 27),
# expressed as a pure comparison ladder — log2() is NOT exact at powers
# of two in either engine, so no floating log anywhere.
_RHO_CASE = "CASE " + " ".join(
    f"WHEN w >= {1 << (_HLL_WBITS - i)} THEN {i}" for i in range(1, _HLL_WBITS + 1)
) + f" ELSE {_HLL_WBITS + 1} END"

_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)


def md5_lane(key: Column, salt: str = "") -> Column:
    """The portable hash of ``key`` as a bigint in [0, 2^32)."""
    s = key.cast("string")
    if salt:
        s = F.concat(F.lit(salt), s)
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def cms_bucket(depth: Column, key: Column, width: int = _CMS_WIDTH) -> Column:
    """Count-min bucket of ``key`` in row ``depth``: the lane of
    ``cms<depth>:<key>`` mod ``width``."""
    return md5_lane(F.concat(depth.cast("string"), F.lit(":"), key.cast("string")), "cms") % width


def hll_registers(df: DataFrame, key: str, by: Sequence[str] = ()) -> DataFrame:
    """``(by..., bucket, register)``: per group, the max rho of each used
    register over the non-NULL values of column ``key`` (NULLs are not
    counted, as in ``countDistinct``).  Sketches merge by register max."""
    h = df.filter(F.col(key).isNotNull()).select(
        *by, md5_lane(F.col(key), "hll:").alias("hv")
    )
    parts = h.select(
        *by,
        (F.col("hv") % _HLL_M).alias("bucket"),
        F.expr(f"hv div {_HLL_M}").alias("w"),
    )
    return parts.groupBy(*by, "bucket").agg(F.expr(f"max({_RHO_CASE})").alias("register"))


def hll_summary(regs: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """``(by..., buckets_used, sum_scaled_full, hll_estimate)`` from
    :func:`hll_registers` rows.  The harmonic sum is kept in scaled
    integers (sum of 2^(27 - register), empty registers count 2^27), so
    no float-summation order exists; the only float step is the
    alpha·m²/sum estimate, with the linear-counting correction
    m·ln(m/zeros) when it is ≤ 2.5m and a register is empty, rounded
    to 4 places."""
    two = F.lit(2).cast("bigint")
    scaled = F.sum(F.pow(two, F.lit(_HLL_WBITS + 1) - F.col("register")).cast("bigint"))
    s = regs.groupBy(*by).agg(
        F.count("*").alias("used"),
        # no registers at all (a global sketch of no rows) sums to NULL
        F.coalesce(scaled, F.lit(0)).cast("bigint").alias("sum_scaled"),
    )
    full_scale = 1 << (_HLL_WBITS + 1)
    sum_full = (F.col("sum_scaled") + (_HLL_M - F.col("used")) * F.lit(full_scale)).cast("bigint")
    raw_est = F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * float(full_scale)) / sum_full.cast("double")
    zeros = F.lit(_HLL_M) - F.col("used")
    linear = F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / zeros.cast("double"))
    corrected = F.when((raw_est <= 2.5 * _HLL_M) & (zeros > 0), linear).otherwise(raw_est)
    return s.select(
        *by,
        F.col("used").cast("bigint").alias("buckets_used"),
        sum_full.alias("sum_scaled_full"),
        F.round(corrected, 4).alias("hll_estimate"),
    )


def hll_estimate(registers: dict) -> float:
    """:func:`hll_summary`'s estimate, driver-side, from a bucket ->
    register dict."""
    used = len(registers)
    full_scale = 1 << (_HLL_WBITS + 1)
    sum_full = sum(
        full_scale >> reg for reg in registers.values()
    ) + (_HLL_M - used) * full_scale
    raw = _HLL_ALPHA * _HLL_M * _HLL_M * float(full_scale) / float(sum_full)
    zeros = _HLL_M - used
    if raw <= 2.5 * _HLL_M and zeros > 0:
        raw = float(_HLL_M) * math.log(float(_HLL_M) / float(zeros))
    return round(raw, 4)
