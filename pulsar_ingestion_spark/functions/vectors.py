"""Vector math over array<float> embedding columns — pure built-ins.

Dot products, squared distances and norms use ``F.aggregate`` (an
ordered left fold), so the floating-point summation order is
DETERMINISTIC (array order) — required for cross-engine hash parity
(DuckDB oracle uses list_reduce, same fold).
Everything stays in whole-stage codegen; no UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Ordered-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dist2(a: Column, b: Column) -> Column:
    """Ordered-fold squared L2 distance in double precision (DuckDB
    list_reduce over the same zip order is bit-identical)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_rounded(a: Column, b: Column, digits: int = 6) -> Column:
    """Cosine similarity rounded for stable cross-engine ordering."""
    return F.round(cosine(a, b), digits)


def cosine_rounded_kernel(a: Column, b: Column, digits: int = 6) -> Column:
    """Bit-identical twin of :func:`cosine_rounded` for HIGH-VOLUME pair
    reranks (the §6n mechanism: the HOF fold dispatches ~6·dim
    interpreted lambdas per pair — three dots — which dominated the IVF
    rerank at the 100× point).

    The Arrow kernel computes ONLY the three dot products, each
    accumulated column-by-column in float64 — the exact IEEE sequence of
    the ordered ``F.aggregate`` fold — and returns them as a struct; the
    division, sqrt, and round stay JVM-side as the SAME expressions
    ``cosine_rounded`` uses.  No numpy rounding is involved anywhere
    (np.round is half-even; Spark/DuckDB round half-away — replicating
    BigDecimal rounding bitwise in numpy is not safe), so the result is
    bit-identical by construction (pinned by
    ``test_cosine_kernel_matches_hof``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("ab double, aa double, bb double")
    def _dots(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        n = len(x)
        if n == 0:
            return pd.DataFrame({"ab": [], "aa": [], "bb": []})
        xs, ys = x.to_numpy(), y.to_numpy()
        # NULL/ragged guard (ADVICE r9): the HOF twin's zip_with yields a
        # NULL dot for a NULL operand or a length mismatch (the shorter
        # side pads with nulls) — mirror that per row instead of letting
        # np.vstack abort the whole batch.  NaN → Arrow null on return.
        lens = np.fromiter(
            (
                len(a) if (a is not None and b is not None and len(a) == len(b)) else -1
                for a, b in zip(xs, ys)
            ),
            dtype=np.int64,
            count=n,
        )
        ab = np.full(n, np.nan)
        aa = np.full(n, np.nan)
        bb = np.full(n, np.nan)
        # group rows by dim: vstack needs uniform lengths, and a uniform
        # corpus hits exactly one group (no extra cost on the fast path)
        for dim in np.unique(lens[lens >= 0]):
            idx = np.nonzero(lens == dim)[0]
            va = np.vstack(xs[idx]).astype(np.float64)
            vb = np.vstack(ys[idx]).astype(np.float64)
            gab = np.zeros(len(idx))
            gaa = np.zeros(len(idx))
            gbb = np.zeros(len(idx))
            for j in range(dim):
                gab += va[:, j] * vb[:, j]
                gaa += va[:, j] * va[:, j]
                gbb += vb[:, j] * vb[:, j]
            ab[idx], aa[idx], bb[idx] = gab, gaa, gbb
        return pd.DataFrame({"ab": ab, "aa": aa, "bb": bb})

    d = _dots(a, b)
    # Abnormal-row fallback (ADVICE r10): the kernel returns a NULL dot
    # for EVERY abnormal class — null/ragged operands (guard above), NaN
    # components (NaN accumulates, NaN→Arrow null), and null elements
    # (Arrow delivers them AS NaN, indistinguishable in the kernel) —
    # but the HOF twin distinguishes them (NaN input → NaN, null element
    # → NULL).  So route any null-dot row through the HOF expression
    # itself: CaseWhen evaluates branches lazily per row, so the
    # interpreted fold runs ONLY on abnormal rows and the result is
    # bit-identical to cosine_rounded for every input class by
    # construction (normal rows: same IEEE sequence; abnormal rows: the
    # reference expression verbatim).
    fast = F.round(d["ab"] / (F.sqrt(d["aa"]) * F.sqrt(d["bb"])), digits)
    return F.when(d["ab"].isNotNull(), fast).otherwise(cosine_rounded(a, b, digits))
