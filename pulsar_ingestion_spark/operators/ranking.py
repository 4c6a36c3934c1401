"""Distributed global ranking — the scale-safe replacement for
unpartitioned windows.

An unpartitioned ``Window.orderBy`` (``ntile``/``row_number``/``rank``
with no partition key) funnels the whole relation through ONE task —
Spark even warns ``WindowExec: No Partition Defined``.  Fine for a
16-row centroid table, a scale-killer for a per-user aggregate at 10^9
users (VERDICT r2 item 3).

:func:`global_row_number` computes the exact global row number the
distributed way:

  1. ``repartitionByRange`` on the sort key — each partition holds a
     contiguous key range, sorted ranges are ordered by partition id;
  2. a PARTITIONED window ranks rows inside each partition in parallel;
  3. per-partition row counts (a #partitions-row aggregate — model-sized,
     the same class as the CC-loop convergence collects) become cumulative
     offsets added back via a literal map lookup.

:func:`ntile_from_row_number` then converts the exact row number into
exact ``ntile`` semantics (first ``n % t`` tiles get the extra row), so
results are bit-identical to the single-task window and to an ANSI
``ntile`` oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, DoubleType, FloatType, IntegralType

# Driver-side row budget for the model-sized offset aggregates below
# (VERDICT r9): the few-key discipline was previously only documented —
# nothing stopped a future caller from passing a high-cardinality key
# and silently OOMing the driver.  Both helpers now fetch at most
# budget+1 aggregate rows (executor-side limit, never a full collect)
# and raise loudly past the budget.  100k rows × a few scalar columns
# is single-digit MB on the driver; with 32 shuffle partitions that
# admits ~3k distinct keys — far above every registered caller (≤ 25).
DRIVER_ROW_BUDGET = 100_000

# Tighter budget for the bucket-totals relation that feeds the broadcast
# THETA-join (strictly-earlier-bucket offsets) in keyed_running_sums /
# global_exclusive_running_max (VERDICT r13 item 6): the driver budget
# bounds driver MEMORY, but the theta-join is a nested-loop over
# |bt| × |bt| pairs — 100k rows admits 10^10 comparisons.  10k rows caps
# the loop at 10^8 while staying 12× above the largest registered caller
# (≤ 25 keys × 32 buckets = 800 rows).
THETA_JOIN_ROW_BUDGET = 10_000


def _bounded_count_guard(df: DataFrame, budget: int, what: str) -> int:
    """Budget guard for relations that stay EXECUTOR-side (broadcast
    theta-join inputs): one ``count()`` — a single clean job that also
    materializes the persisted relation for its later consumers — instead
    of a ``take(budget+1)`` whose incremental-limit execution launches
    2-3 scale-up mini-jobs and ships budget+1 rows to the driver (round
    14; the guard never needed the rows, only the bound)."""
    cnt = df.count()
    if cnt > budget:
        raise ValueError(
            f"{what} would exceed {budget} aggregate rows ({cnt}) — this "
            "helper is for BOUNDED key cardinality (the few-key "
            "discipline). Re-plan with a distributed join or raise "
            "max_driver_rows explicitly if the budget is genuinely safe."
        )
    return cnt


def _with_order_bucket(
    df: DataFrame,
    order_cols: list[Column],
    nparts: int,
    bucket_col: Column | None = None,
    bucket_desc: bool = False,
) -> DataFrame:
    """Add a ``_pid`` bucket column consistent with the total order over
    ``order_cols`` (round 13): approximate quantiles of the bucket
    column (the first order column unless given explicitly); bucket =
    number of boundaries the value has passed.  Equal bucket values
    always share a bucket, so the bucket sequence respects the total
    order EXACTLY — only the balance is approximate, and correctness
    never depends on balance.  NULL bucket values land in the first
    (asc) / last (desc) bucket, matching Spark's default NULL ordering.

    Round 14 (ADVICE r13 high): the boundaries are computed ONCE — one
    small job over the (persisted) input — and frozen as a LITERAL
    array.  The round-13 form re-evaluated the ``percentile_approx``
    subplan inside every consumer job via a broadcast cross-join;
    QuantileSummaries merges are sensitive to merge order and
    shuffle-block fetch order is randomized on multi-executor clusters,
    so two evaluations could disagree near a boundary and hand a row a
    ``_pid`` inconsistent with the offsets computed from another
    evaluation (silently dropping rows through the offset equi-join).
    A ≤(nparts−1)-element double array is model-sized driver traffic —
    the same class as the offset-map literals — and freezing it also
    deletes the broadcast exchange + cross-join from every consumer
    subplan.  Callers persist ``df`` before calling, so the quantile
    job is the materialization pass the guard take previously paid."""
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    null_last = bucket_desc  # defaults: asc → NULLS FIRST, desc → NULLS LAST
    if bucket_col is not None:
        b0 = bucket_col
    else:
        b0 = order_cols[0]
        node = None
        try:  # auto-unwrap a SortOrder (F.desc/F.asc...) first order column
            node = b0._jc.node()
            is_sort = node.getClass().getSimpleName() == "SortOrder"
        except Exception:
            # Connect mode / future internals: the node API is absent.
            # Detect a SortOrder by its rendered form so a desc-ordered
            # caller fails LOUDLY instead of silently bucketing with
            # ascending semantics against a descending window (ADVICE
            # r13 low #2).
            is_sort = str(b0).rstrip("'>").endswith(
                ("NULLS FIRST", "NULLS LAST", " ASC", " DESC")
            )
            if is_sort:
                raise ValueError(
                    "order_cols[0] is a SortOrder expression but the column "
                    "node API is unavailable (Spark Connect / internals "
                    "change) — pass bucket_col (and bucket_desc for "
                    "descending order) explicitly."
                )
        if node is not None and is_sort:
            from pyspark.sql.classic.column import Column as _CCol

            bucket_desc = "Descending" in node.sortDirection().toString()
            null_last = "NullsLast" in node.nullOrdering().toString()
            b0 = _CCol(
                df.sparkSession._jvm.org.apache.spark.sql.Column(node.child())
            )
    bdt = df.select(b0.alias("_b")).schema[0].dataType
    if isinstance(bdt, (TimestampType, TimestampNTZType)):
        bnum = F.unix_micros(b0).cast("double")
    elif isinstance(bdt, DateType):
        bnum = F.unix_date(b0).cast("double")
    else:
        bnum = b0.cast("double")
    if nparts < 2:
        return df.withColumn("_pid", F.lit(0))
    fracs = F.array(*[F.lit(i / nparts) for i in range(1, nparts)])
    qrow = df.agg(
        F.percentile_approx(bnum, fracs, F.lit(10_000)).alias("_qs")
    ).first()
    qs = list(qrow["_qs"]) if qrow is not None and qrow["_qs"] is not None else []
    if not qs:  # empty input: no boundaries, every (non-)row in bucket 0
        return df.withColumn("_pid", F.lit(0))
    arr = F.array(*[F.lit(float(q)) for q in qs])
    null_pid = F.lit(nparts if null_last else 0)
    if bucket_desc:
        nonnull = F.size(F.filter(arr, lambda q: q >= bnum))
    else:
        nonnull = F.size(F.filter(arr, lambda q: q <= bnum))
    pid = F.when(bnum.isNull(), null_pid).otherwise(nonnull)
    return df.withColumn("_pid", pid)


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    rn_col: str = "_rn",
    num_partitions: int | None = None,
    max_driver_rows: int = DRIVER_ROW_BUDGET,
    bucket_col: Column | None = None,
    bucket_desc: bool = False,
) -> tuple[DataFrame, int]:
    """Exact 1-based global row number over ``order_cols`` without an
    unpartitioned window.  Returns ``(df_with_rn, total_rows)``.

    The order must be total (include a unique tie-break column) so the
    result is deterministic regardless of bucket boundaries.  Round 13/14:
    rows are bucketed by :func:`_with_order_bucket` (one small quantile
    job over the persisted input, boundaries FROZEN as literals — every
    consumer job sees the same ``_pid`` assignment, and the window's
    hash exchange is the only data-scale shuffle); per-bucket counts
    (≤ #buckets driver rows) fold into literal offsets exactly as before.  ``bucket_col`` /
    ``bucket_desc`` name the first order column and its direction when
    ``order_cols[0]`` is a SortOrder expression (``F.desc(...)``).

    NOTE: the input is ``persist()``ed here (it is read by the bucket
    count job and the returned plan).  Harnesses running many queries in
    one session should ``spark.catalog.clearCache()`` between queries
    (selfcheck/bench do) — the cached blocks are otherwise only
    reclaimed by LRU eviction.
    """
    spark = df.sparkSession
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = df.persist()
    t = _with_order_bucket(df, order_cols, nparts, bucket_col, bucket_desc)
    # grouped by _pid alone, the counts relation is ≤ nparts+1 rows by
    # construction — collect() is one clean job (take()'s incremental
    # limit ran 2-3 scale-up mini-jobs); the budget check still guards
    # callers that pass an absurd num_partitions.
    crows = t.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    if len(crows) > max_driver_rows:
        raise ValueError(
            f"global_row_number bucket counts would materialize more than "
            f"{max_driver_rows} aggregate rows on the driver — this helper "
            "is for BOUNDED key cardinality (the few-key discipline). "
            "Re-plan with a distributed join or raise max_driver_rows "
            "explicitly if the driver can hold it."
        )
    counts = {r["_pid"]: r["cnt"] for r in crows}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not counts:
        return t.withColumn(rn_col, F.lit(0).cast("long")).drop("_pid"), 0
    offset_map = F.create_map(
        *[x for pid in offsets for x in (F.lit(pid), F.lit(offsets[pid]))]
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = t.withColumn(
        rn_col,
        (F.row_number().over(w).cast("long") + offset_map[F.col("_pid")]),
    ).drop("_pid")
    return out, acc


def global_exclusive_running_max(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out_col: str,
    num_partitions: int | None = None,
    max_driver_rows: int = DRIVER_ROW_BUDGET,
) -> DataFrame:
    """Exact global EXCLUSIVE prefix max over ``order_col`` (max of
    ``val_col`` across all strictly-preceding rows; NULL on the first
    row) without an unpartitioned window — the max analogue of
    :func:`global_row_number` (round 12, skyline broadcast guard).

    Round 13/14 (bucket form, matching :func:`keyed_running_sums`):
    bucket on frozen-literal quantiles of ``order_col`` (one small job),
    run the exclusive running max inside each bucket in parallel, and
    fold the strictly-earlier-bucket max via an in-plan broadcast
    theta-join over the bucket-max relation — no range-sampling pass.  ``order_col`` must be unique per row
    (callers pass pre-aggregated relations).  Same persist/clearCache
    note as :func:`global_row_number`."""
    spark = df.sparkSession
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = df.persist()
    t = _with_order_bucket(df, [F.col(order_col)], nparts)
    bt = t.groupBy("_pid").agg(F.max(val_col).alias("_bmax")).persist()
    # the bucket-max relation feeds a broadcast theta-join (nested loop):
    # cap it at the theta budget, not just the driver-memory budget
    _bounded_count_guard(
        bt, min(max_driver_rows, THETA_JOIN_ROW_BUDGET),
        "global_exclusive_running_max bucket maxes",
    )
    prev = bt.select(
        F.col("_pid").alias("_p_pid"), F.col("_bmax").alias("_p_bmax")
    )
    offs = (
        bt.join(F.broadcast(prev), F.col("_p_pid") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.max("_p_bmax").alias("_off"))
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = t.join(
        F.broadcast(offs.withColumnRenamed("_pid", "_o_pid")),
        F.col("_pid") == F.col("_o_pid"),
    ).withColumn("_lmax", F.max(val_col).over(w))
    # greatest() skips NULLs, matching "no preceding row" semantics
    return local.withColumn(
        out_col, F.greatest(F.col("_lmax"), F.col("_off"))
    ).drop("_pid", "_o_pid", "_lmax", "_off")


def ntile_from_row_number(rn: Column, total_rows: int, tiles: int) -> Column:
    """Exact ANSI ``ntile(tiles)`` from a 1-based global row number:
    the first ``total_rows % tiles`` tiles hold ``total_rows // tiles + 1``
    rows, the rest one fewer.  Pure arithmetic — no window."""
    q, rem = divmod(total_rows, tiles)
    big = q + 1
    cutoff = rem * big
    first = F.floor((rn - F.lit(1)) / F.lit(big)) + 1
    if q == 0:
        # fewer rows than tiles: every row is its own tile
        return first.cast("long")
    rest = F.lit(rem) + F.floor((rn - F.lit(cutoff) - F.lit(1)) / F.lit(q)) + 1
    return F.when(rn <= cutoff, first).otherwise(rest).cast("long")


def keyed_running_sums(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[Column],
    sum_cols: list[str],
    num_partitions: int | None = None,
    max_driver_rows: int = DRIVER_ROW_BUDGET,
) -> tuple[DataFrame, DataFrame]:
    """Exact per-key running sums over ``order_cols`` without per-key
    single-partition windows — the keyed generalization of
    :func:`global_row_number` (round 7, drift_ks re-plan).

    A ``Window.partitionBy(key)`` running sum caps parallelism at the
    number of keys (25 event types ⇒ 25 tasks no matter how many
    executors).  Here instead (round 13 — fully LAZY re-plan; the old
    form ran an eager ``repartitionByRange`` whose range-sampling job
    re-executed the whole upstream, then a driver ``take`` for offsets:
    3 build-time jobs and 2 data-scale exchanges per call):

      1. rows are BUCKETED on the first order column by approximate
         quantiles (``percentile_approx`` over the persisted input —
         ONE small job, boundaries frozen as a literal array so every
         consumer job assigns identical ``_pid``s; ADVICE r13 high).
         Bucket boundaries are half-open on the first order column, so
         equal first-column values share a bucket and the bucket
         sequence respects the total (key, order) ordering exactly;
         boundary *balance* is approximate, correctness never depends
         on it.
      2. a PARTITIONED window over (bucket, key) computes running sums
         inside each bucket in parallel — this window's single hash
         exchange is the only data-scale shuffle the helper adds;
      3. per-(bucket, key) totals — a (#buckets × #keys)-row aggregate —
         become per-key bucket offsets via an in-plan broadcast
         theta-join (strictly-earlier buckets, null-safe on keys), added
         back with one more broadcast join.  The only driver traffic is
         the budget-guard take() on the totals relation (few-key
         discipline, enforced as before).

    Rows must be unique on (key, order) so the order is total, and the
    FIRST order column must be ascending and numeric/timestamp (callers
    pass pre-aggregated relations ordered by a value column).  Sum
    columns must be exact (integers / scaled bigints — registry parity
    discipline): bucket totals fold in unordered aggregation.  NULL key
    values form an ordinary group (all joins null-safe), matching
    Window.partitionBy; NULL first-order values land in the first
    bucket, matching NULLS FIRST ascending order.  Returns
    ``(df_out, totals)`` where ``df_out`` carries ``cum_<c>`` for each
    sum column and ``totals`` is the per-key grand-total relation
    (``total_<c>``) — broadcast-sized, callers join it rather than
    re-aggregating.  The input is persisted (read by the quantile,
    totals and output subplans); harnesses clear the cache between
    queries (registry policy).
    """
    spark = df.sparkSession
    nparts = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = df.persist()

    def _sum_type(c: str) -> str:
        dt = df.schema[c].dataType
        return "double" if isinstance(dt, (DoubleType, FloatType)) else "long"

    t = _with_order_bucket(df, order_cols, nparts)

    # Per-(bucket, key) totals — model-sized for bounded buckets/keys.
    bt = t.groupBy("_pid", *key_cols).agg(
        *[F.sum(c).cast(_sum_type(c)).alias(f"_s_{c}") for c in sum_cols]
    ).persist()
    # Few-key discipline stays ENFORCED (VERDICT r9): the offsets
    # relation is broadcast and theta-joined, so bucket×key cardinality
    # must stay bounded — one take() against the persisted totals raises
    # loudly past the budget (and warms the caches the plan reads anyway).
    # The theta-join is a nested loop over |bt|² pairs, so its budget is
    # the tighter THETA_JOIN_ROW_BUDGET (VERDICT r13 item 6), not the
    # driver-memory budget alone.
    _bounded_count_guard(
        bt, min(max_driver_rows, THETA_JOIN_ROW_BUDGET),
        "keyed_running_sums per-(bucket,key) totals",
    )
    totals = bt.groupBy(*key_cols).agg(
        *[F.sum(f"_s_{c}").cast(_sum_type(c)).alias(f"total_{c}") for c in sum_cols]
    )

    # Offsets = per key, the sum over strictly-earlier buckets: an
    # in-plan broadcast theta-join of the tiny totals relation with
    # itself (left join keeps empty-prefix buckets at offset 0).
    prev = bt.select(
        F.col("_pid").alias("_p_pid"),
        *[F.col(k).alias(f"_p_{k}") for k in key_cols],
        *[F.col(f"_s_{c}").alias(f"_p_{c}") for c in sum_cols],
    )
    cond = F.col("_p_pid") < F.col("_pid")
    for k in key_cols:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_p_{k}"))
    offs = (
        bt.join(F.broadcast(prev), cond, "left")
        .groupBy("_pid", *key_cols)
        .agg(
            *[
                F.coalesce(F.sum(f"_p_{c}"), F.lit(0))
                .cast(_sum_type(c))
                .alias(f"_off_{c}")
                for c in sum_cols
            ]
        )
    )

    # Attach offsets (broadcast — bucket×key rows) and add the in-bucket
    # running sum from the partitioned window.
    off = offs.withColumnRenamed("_pid", "_o_pid")
    for k in key_cols:
        off = off.withColumnRenamed(k, f"_o_{k}")
    jcond = F.col("_pid") == F.col("_o_pid")
    for k in key_cols:
        jcond = jcond & F.col(k).eqNullSafe(F.col(f"_o_{k}"))
    w = (
        Window.partitionBy("_pid", *key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = t.join(F.broadcast(off), jcond)
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}",
            (F.sum(c).over(w) + F.col(f"_off_{c}")).cast(_sum_type(c)),
        )
    out = out.drop(
        "_pid", "_o_pid",
        *[f"_o_{k}" for k in key_cols],
        *[f"_off_{c}" for c in sum_cols],
    )
    return out, totals


def best_struct(
    df: DataFrame, order: list[tuple[str, str]], payload: Sequence[str] = ()
) -> Column:
    """Keep-best aggregate: ``df.groupBy(keys).agg(best_struct(df, order,
    payload).alias("top"))`` keeps, as ``top.<column>`` for each order and
    payload column, the row ``row_number() = 1`` picks under ``ORDER BY
    order`` (``(column, "asc"|"desc")`` pairs, default null ordering) —
    provided the order is total within a group (end it with a unique
    column), or the two may pick different tied rows.

    ``max`` of a struct when the leading key is desc, ``min`` when asc.
    Keys in the leading direction enter as they are.  A key in the other
    direction enters as ``x IS NULL`` then an order-reversing image:
    ``~x`` for integral types (``-x`` overflows on the minimum under
    ANSI), ``-x`` for decimals, ``NOT isnan(x)`` then ``-x`` for floating
    point, ``TypeError`` otherwise; ``x`` itself follows the sort fields."""
    lead = order[0][1]
    sort, originals = [], []
    for c, direction in order:
        x = F.col(c)
        if direction == lead:
            sort.append(x)
            continue
        dt = df.schema[c].dataType
        sort.append(x.isNull().alias(f"_null_{c}"))
        if isinstance(dt, IntegralType):
            sort.append(F.bitwise_not(x).alias(f"_rev_{c}"))
        elif isinstance(dt, DecimalType):
            sort.append((-x).alias(f"_rev_{c}"))
        elif isinstance(dt, (FloatType, DoubleType)):
            sort += [(~F.isnan(x)).alias(f"_num_{c}"), (-x).alias(f"_rev_{c}")]
        else:
            raise TypeError(f"{c}: cannot reverse the order of a {dt.simpleString()} key")
        originals.append(x)
    fields = sort + originals + [F.col(p) for p in payload]
    return (F.max if lead == "desc" else F.min)(F.struct(*fields))
