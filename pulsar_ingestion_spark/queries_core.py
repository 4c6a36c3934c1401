"""Core relational surface: scans, filters, joins, aggs, windows, sorts,
set ops, scalar families, and batch-expressible streaming semantics.

All pure Spark built-ins — every query here compiles to whole-stage-codegen
plans with pushdown/pruning intact.  Scale notes are per-query where the
plan shape matters at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.sketch import (
    _HLL_ALPHA,
    _HLL_M,
    _HLL_WBITS,
    _RHO_CASE,
    hll_registers,
    hll_summary,
)
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import load_tables


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tables = load_tables(spark, sf_dir)
    return [tables[n] for n in names]


def dsum(col, alias):
    """Order-independent double sum: exact DECIMAL(18,4) accumulation,
    result cast back to double.  Oracle mirror:
    CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)."""
    return F.sum(col.cast("decimal(18,4)")).cast("double").alias(alias)


def davg(col, alias):
    """Order-independent mean: exact decimal sum / count, in double."""
    return (F.sum(col.cast("decimal(18,4)")).cast("double") / F.count(col)).alias(alias)


# ---------------------------------------------------------------------------
# Scans / projections / filters


@query(
    "scan_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    """,
)
def scan_project(spark, sf_dir):
    # Column pruning: ReadSchema in the parquet scan must list exactly these 4.
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")


@query(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1999-01-01'
      AND (l_discount > 0.05 OR l_returnflag = 'R')
      AND l_quantity < 30
    """,
)
def filter_pred(spark, sf_dir):
    # Conjunctive + disjunctive predicates; all push down to the scan.
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1999-01-01")
        & ((F.col("l_discount") > 0.05) | (F.col("l_returnflag") == "R"))
        & (F.col("l_quantity") < 30)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")


@query(
    "filter_not_blank",
    oracle="""
    SELECT event_id, event_type, user_id
    FROM events
    WHERE event_type IS NOT NULL AND trim(event_type) <> '' AND value > 400
    """,
)
def filter_not_blank(spark, sf_dir):
    # The Filterer guard generalized (Filterer.kt:31 — isNullOrBlank).
    from pulsar_ingestion_spark.operators.filterer import not_blank

    (ev,) = _t(spark, sf_dir, "events")
    return ev.filter(not_blank(F.col("event_type")) & (F.col("value") > 400)).select(
        "event_id", "event_type", "user_id"
    )


@query(
    "json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           event_type
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
)
def json_extract(spark, sf_dir):
    # Dynamic field access on the schema-less residue column — the
    # sourceSpecificData access pattern (SURVEY.md §2.5).
    (ev,) = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return ev.select("event_id", k.alias("k_val"), "event_type").filter(F.col("k_val") >= 50)


@query(
    "ts_normalize",
    oracle="""
    SELECT event_id,
           epoch_ms(ts) AS epoch_millis,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_seconds,
           strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%SZ') AS iso_utc,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket
    FROM events
    """,
)
def ts_normalize(spark, sf_dir):
    # The reference's timestamp codec zoo (SURVEY.md §2.2): epoch-ms,
    # epoch-s, canonical ISO-8601 Z string, and bucketing.
    (ev,) = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_millis(F.col("ts")).alias("epoch_millis"),
        F.unix_timestamp(F.col("ts")).alias("epoch_seconds"),
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso_utc"),
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
    )


@query(
    "enum_normalize",
    oracle="""
    SELECT event_id,
           CASE WHEN upper(event_type) IN ('CLICK','VIEW','PURCHASE')
                THEN upper(event_type) ELSE 'UNKNOWN' END AS event_class
    FROM events
    """,
)
def enum_normalize(spark, sf_dir):
    # Closed-set normalization with UNKNOWN default (GeotabTranslator.kt:120-124).
    from pulsar_ingestion_spark.functions.enums import normalize_enum

    (ev,) = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        normalize_enum(F.col("event_type"), ["CLICK", "VIEW", "PURCHASE", "UNKNOWN"]).alias("event_class"),
    )


# ---------------------------------------------------------------------------
# Joins


@query(
    "join_inner_equi",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS order_cnt,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_inner_equi(spark, sf_dir):
    # Shuffle-hash/SMJ equi-join; at 100 TB both sides hash-partition on the
    # key — AQE picks broadcast if the dim fits.
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("order_cnt"), dsum(F.col("o_totalprice"), "sum_totalprice"))
    )


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name, count(o.o_orderkey) AS order_cnt
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left(spark, sf_dir):
    orders, customer = _t(spark, sf_dir, "orders", "customer")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
        .agg(F.count(F.col("o_orderkey")).alias("order_cnt"))
    )


@query(
    "join_full",
    oracle="""
    WITH e AS (SELECT user_id, count(*) AS ev_cnt FROM events GROUP BY user_id),
         o AS (SELECT o_custkey, count(*) AS ord_cnt FROM orders WHERE o_custkey < 300 GROUP BY o_custkey)
    SELECT coalesce(e.user_id, o.o_custkey) AS key_id,
           coalesce(e.ev_cnt, 0) AS ev_cnt,
           coalesce(o.ord_cnt, 0) AS ord_cnt
    FROM e FULL JOIN o ON e.user_id = o.o_custkey
    """,
)
def join_full(spark, sf_dir):
    ev, orders = _t(spark, sf_dir, "events", "orders")
    e = ev.groupBy("user_id").agg(F.count("*").alias("ev_cnt"))
    o = orders.filter(F.col("o_custkey") < 300).groupBy("o_custkey").agg(F.count("*").alias("ord_cnt"))
    return e.join(o, e.user_id == o.o_custkey, "full").select(
        F.coalesce(e.user_id, o.o_custkey).alias("key_id"),
        F.coalesce(F.col("ev_cnt"), F.lit(0)).alias("ev_cnt"),
        F.coalesce(F.col("ord_cnt"), F.lit(0)).alias("ord_cnt"),
    )


@query(
    "join_broadcast",
    oracle="""
    SELECT p.p_brand AS brand,
           count(*) AS li_cnt,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 15
    GROUP BY p.p_brand
    """,
)
def join_broadcast(spark, sf_dir):
    # Explicit broadcast of the small dim: at 100 TB `part` stays ~GBs while
    # lineitem is the 100 TB side — broadcast avoids shuffling the fact table.
    li, part = _t(spark, sf_dir, "lineitem", "part")
    return (
        li.join(F.broadcast(part.filter(F.col("p_size") <= 15)), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count("*").alias("li_cnt"), dsum(F.col("l_extendedprice"), "sum_price"))
    )


@query(
    "join_semi",
    oracle="""
    SELECT n.n_name AS nation, count(*) AS cust_cnt
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    GROUP BY n.n_name
    """,
)
def join_semi(spark, sf_dir):
    customer, orders, nation = _t(spark, sf_dir, "customer", "orders", "nation")
    big = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("cust_cnt"))
    )


@query(
    "join_anti",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, count(*) AS cust_cnt
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def join_anti(spark, sf_dir):
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("cust_cnt"))
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT r.r_regionkey AS bucket, count(*) AS li_cnt,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN region r
      ON l.l_quantity >= r.r_regionkey * 10 AND l.l_quantity < (r.r_regionkey + 1) * 10
    GROUP BY r.r_regionkey
    """,
)
def join_theta_range(spark, sf_dir):
    # Non-equi range join: tiny bounds table broadcast → BNLJ, which is the
    # right physical plan (5 rows × N; never shuffles the fact side).
    li, region = _t(spark, sf_dir, "lineitem", "region")
    cond = (li.l_quantity >= region.r_regionkey * 10) & (li.l_quantity < (region.r_regionkey + 1) * 10)
    return (
        li.join(F.broadcast(region), cond)
        .groupBy(F.col("r_regionkey").alias("bucket"))
        .agg(F.count("*").alias("li_cnt"), dsum(F.col("l_quantity"), "sum_qty"))
    )


@query(
    "join_asof",
    oracle="""
    SELECT e.event_id,
           e.user_id,
           strftime(max(o.o_orderdate), '%Y-%m-%d') AS last_order_date
    FROM events e JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    GROUP BY e.event_id, e.user_id
    """,
)
def join_asof(spark, sf_dir):
    # As-of join (latest dimension state at event time) via the shared
    # union-sort operator (operators/joins.py): one shuffle + sort of
    # |events|+|orders| rows — the equi-join + max form fans out to
    # |events|×|orders-per-user| intermediate rows, quadratic-ish for
    # active users at 100 TB; this never expands.  Orders sort BEFORE
    # events at equal timestamps (inclusive <=).  Spark has no native
    # as-of (SURVEY.md §2.5); the operator's semantics are fuzz-tested
    # against DuckDB's NATIVE ASOF JOIN in tests/test_asof_fuzz.py.
    from pulsar_ingestion_spark.operators.joins import asof_backward

    ev, orders = _t(spark, sf_dir, "events", "orders")
    out = asof_backward(
        ev.select("event_id", "user_id", "ts"),
        orders.select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("odate"),
        ),
        on="user_id",
        left_ts="ts",
        right_ts="odate",
        inclusive=True,
    )
    return out.select(
        "event_id",
        "user_id",
        # string output — raw timestamps hash differently across engines
        F.date_format("matched_ts", "yyyy-MM-dd").alias("last_order_date"),
    )


# ---------------------------------------------------------------------------
# Aggregations


@query(
    "agg_group_sum_avg_min_max_count",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(l_discount) AS avg_disc,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group_sum_avg_min_max_count(spark, sf_dir):
    # TPC-H Q1 shape — partial (map-side) + final agg is automatic.
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count("*").alias("cnt"),
        )
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS supp_cnt,
           count(DISTINCT l_partkey) AS part_cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark, sf_dir):
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("supp_cnt"),
        F.countDistinct("l_partkey").alias("part_cnt"),
    )


def _approx_cd_oracle() -> str:
    full = f"(CAST(2 AS BIGINT) ** {_HLL_WBITS + 1})"
    return f"""
WITH h AS (
  SELECT l_returnflag,
         CAST(('0x' || substring(md5('hll:' || CAST(l_suppkey AS VARCHAR)), 1, 8))
              AS BIGINT) AS hv
  FROM lineitem WHERE l_suppkey IS NOT NULL
), parts AS (
  SELECT l_returnflag, hv % {_HLL_M} AS bucket, hv // {_HLL_M} AS w FROM h
), regs AS (
  SELECT l_returnflag, bucket, max({_RHO_CASE}) AS register
  FROM parts GROUP BY l_returnflag, bucket
), s AS (
  SELECT l_returnflag, count(*) AS used,
         CAST(SUM(CAST(2 AS BIGINT) ** ({_HLL_WBITS + 1} - register)) AS BIGINT)
           AS sum_scaled
  FROM regs GROUP BY l_returnflag
), ex AS (
  SELECT l_returnflag, count(DISTINCT l_suppkey) AS exact_distinct
  FROM lineitem GROUP BY l_returnflag
)
SELECT t.l_returnflag,
       CAST(t.used AS BIGINT) AS buckets_used,
       CAST(t.sum_scaled + ({_HLL_M} - t.used) * {full} AS BIGINT) AS sum_scaled_full,
       round(CASE WHEN t.raw_est <= 2.5 * {_HLL_M} AND t.used < {_HLL_M}
                  THEN {_HLL_M} * ln(CAST({_HLL_M} AS DOUBLE) / ({_HLL_M} - t.used))
                  ELSE t.raw_est END, 4) AS approx_supp_cnt,
       ex.exact_distinct
FROM (
  SELECT l_returnflag, used, sum_scaled,
         CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M * _HLL_M} * {full}
           / (sum_scaled + ({_HLL_M} - used) * {full}) AS raw_est
  FROM s
) t JOIN ex USING (l_returnflag)
"""


@query("agg_approx_count_distinct", oracle=_approx_cd_oracle())
def agg_approx_count_distinct(spark, sf_dir):
    # Approximate distinct per group via the PORTABLE HyperLogLog (m=64,
    # md5-derived registers — the grouped sibling of sketch_hll_portable,
    # hash-green since r4).  Until round 11 this id used Spark's native
    # approx_count_distinct, whose HLL++ state is engine-internal bytes —
    # rows-only forever (VERDICT r10 item 1c); the portable sketch gives
    # the same mergeable-register design (at 100 TB: per-partition
    # register maxes merge map-side, per-task state = 64 registers per
    # group) AND a DuckDB oracle that reconstructs the identical sketch
    # and estimate.  Integer-exact register/harmonic-sum math (comparison
    # ladder for rho, scaled-integer sum — see operators.sketch);
    # the only float step is the final alpha·m²/sum estimate, rounded to
    # 4.  exact_distinct rides along as the error reference.
    (li,) = _t(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("exact_distinct")
    )
    est = hll_summary(hll_registers(li, "l_suppkey", ("l_returnflag",)), ("l_returnflag",))
    return est.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        "buckets_used",
        "sum_scaled_full",
        F.col("hll_estimate").alias("approx_supp_cnt"),
        "exact_distinct",
    )


@query(
    "agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4) AS p50,
           round(CAST(quantile_cont(o_totalprice, 0.95) AS DOUBLE), 4) AS p95
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentile(spark, sf_dir):
    # Exact interpolated percentile (matches quantile_cont); the scale path
    # uses approx_percentile — see bench. Rounded to dodge interpolation ULPs.
    (o,) = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT coalesce(r.r_name, 'ALL') AS region_name,
           coalesce(n.n_name, 'ALL') AS nation_name,
           count(*) AS cust_cnt,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark, sf_dir):
    customer, nation, region = _t(spark, sf_dir, "customer", "nation", "region")
    j = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count("*").alias("cust_cnt"), dsum(F.col("c_acctbal"), "sum_acctbal"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            "cust_cnt",
            "sum_acctbal",
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS cnt
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark, sf_dir):
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "cnt",
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    (o,) = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               count(*) AS cnt
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """)


@query(
    "agg_filtered",
    oracle="""
    SELECT event_type,
           count(*) AS total_cnt,
           count(*) FILTER (WHERE value > 250) AS high_cnt,
           CAST(SUM(CAST(CASE WHEN value > 250 THEN value ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS high_sum
    FROM events
    GROUP BY event_type
    """,
)
def agg_filtered(spark, sf_dir):
    (ev,) = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("total_cnt"),
        F.count_if(F.col("value") > 250).alias("high_cnt"),
        dsum(F.when(F.col("value") > 250, F.col("value")).otherwise(F.lit(0.0)), "high_sum"),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types
    FROM events
    GROUP BY user_id
    """,
)
def agg_collect(spark, sf_dir):
    # collect_set is unordered → canonicalize (sort + join) for the hash check.
    (ev,) = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("event_types")
    )


# ---------------------------------------------------------------------------
# Window functions


@query(
    "win_rank_rownum_denserank",
    oracle="""
    SELECT * FROM (
      SELECT o_orderpriority,
             o_orderkey,
             o_totalprice,
             row_number() OVER w AS rn,
             rank()       OVER w AS rk,
             dense_rank() OVER w AS drk
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    ) WHERE rn <= 5
    """,
)
def win_rank_rownum_denserank(spark, sf_dir):
    (o,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           lag(event_id)  OVER w AS prev_event_id,
           lead(event_id) OVER w AS next_event_id,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS millis_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark, sf_dir):
    # Delta-time between a vehicle's consecutive messages (SURVEY.md §2.5).
    (ev,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
        (ms - F.lag(ms).over(w)).alias("millis_since_prev"),
    )


@query(
    "win_frame_rows",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3
    FROM events
    """,
)
def win_frame_rows(spark, sf_dir):
    (ev,) = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("moving_sum3"),
    )


@query(
    "win_frame_range",
    oracle="""
    SELECT o_custkey, o_orderkey,
           count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING) AS similar_price_cnt
    FROM orders
    """,
)
def win_frame_range(spark, sf_dir):
    (o,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-10000, 10000)
    return o.select("o_custkey", "o_orderkey", F.count("*").over(w).alias("similar_price_cnt"))


@query(
    "win_topk_per_group",
    oracle="""
    SELECT mktsegment, custkey, acctbal FROM (
      SELECT c_mktsegment AS mktsegment, c_custkey AS custkey, c_acctbal AS acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 3
    """,
)
def win_topk_per_group(spark, sf_dir):
    (c,) = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.select(
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_acctbal").alias("acctbal"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops


@query(
    "sort_limit_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
)
def sort_limit_topk(spark, sf_dir):
    # TakeOrderedAndProject: per-partition top-k then merge — never a full sort.
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(20)
    )


@query(
    "union_all",
    oracle="""
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
)
def union_all(spark, sf_dir):
    # The raw-* topic fan-in shape (pipeline.yaml:5-39) as a batch set op.
    c, s = _t(spark, sf_dir, "customer", "supplier")
    return c.select(F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")).unionByName(
        s.select(F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side"))
    )


@query(
    "union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def union_distinct(spark, sf_dir):
    c, s = _t(spark, sf_dir, "customer", "supplier")
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


@query(
    "set_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
    INTERSECT
    SELECT user_id FROM events
    """,
)
def set_intersect(spark, sf_dir):
    o, ev = _t(spark, sf_dir, "orders", "events")
    return o.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("custkey")
    ).intersect(ev.select(F.col("user_id").alias("custkey")))


@query(
    "set_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_custkey < 200
    EXCEPT
    SELECT user_id FROM events
    """,
)
def set_except(spark, sf_dir):
    # subtract() = EXCEPT DISTINCT — exceptAll().distinct() would KEEP a
    # row whose left multiplicity exceeds its right multiplicity.
    c, ev = _t(spark, sf_dir, "customer", "events")
    return c.filter(F.col("c_custkey") < 200).select(F.col("c_custkey").alias("custkey")).subtract(
        ev.select(F.col("user_id").alias("custkey"))
    )


# ---------------------------------------------------------------------------
# Scalar function families (representatives per SURVEY.md §2.5 table)


@query(
    "string_funcs",
    oracle="""
    SELECT n_nationkey,
           lower(n_name) AS lower_name,
           upper(n_name) AS upper_name,
           trim(concat('  ', n_name, ' ')) AS trimmed,
           regexp_replace(lower(n_name), '[^a-z0-9-]+', '-', 'g') AS sanitized,
           substring(n_name, 1, 3) AS prefix3,
           length(n_name) AS name_len,
           concat('persistent://', lower(n_name), '/integration/telemetry') AS topic
    FROM nation
    """,
)
def string_funcs(spark, sf_dir):
    # The translator/router string surface: sanitize (filterer/README.md:33-35),
    # topic building (Filterer.kt:36), case/trim/substr.
    (n,) = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.lower("n_name").alias("lower_name"),
        F.upper("n_name").alias("upper_name"),
        F.trim(F.concat(F.lit("  "), F.col("n_name"), F.lit(" "))).alias("trimmed"),
        F.regexp_replace(F.lower("n_name"), "[^a-z0-9-]+", "-").alias("sanitized"),
        F.substring("n_name", 1, 3).alias("prefix3"),
        F.length("n_name").alias("name_len"),
        F.concat(F.lit("persistent://"), F.lower("n_name"), F.lit("/integration/telemetry")).alias("topic"),
    )


@query(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bucket,
           CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def math_funcs(spark, sf_dir):
    # Raw IEEE products (bit-identical across engines); round() on doubles
    # is NOT portable at half-way representations, so it is avoided here.
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("charged"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor(F.col("l_quantity") / 10).cast("bigint").alias("qty_bucket"),
        F.ceil(F.col("l_tax") * 100).cast("bigint").alias("tax_pct"),
    )


@query(
    "array_funcs",
    oracle="""
    SELECT doc_id,
           len(words) AS word_cnt,
           list_contains(words, 'spark') AS has_spark,
           array_to_string(list_sort(list_distinct(list_transform(words, w -> upper(w)))), '|') AS upper_sorted
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents)
    WHERE doc_id < 50
    """,
)
def array_funcs(spark, sf_dir):
    # explode/size/contains/transform over arrays — the CommonEvents
    # array-analytics surface (§1.4) exercised on documents.words.
    (d,) = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    return d.filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.size(words).alias("word_cnt"),
        F.array_contains(words, "spark").alias("has_spark"),
        F.array_join(F.array_sort(F.array_distinct(F.transform(words, lambda w: F.upper(w)))), "|").alias(
            "upper_sorted"
        ),
    )


@query(
    "explode_arrays",
    oracle="""
    SELECT doc_id, w AS word, count(*) AS cnt
    FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents WHERE doc_id < 20)
    GROUP BY doc_id, w
    """,
)
def explode_arrays(spark, sf_dir):
    (d,) = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    return (
        d.filter(F.col("doc_id") < 20)
        .select("doc_id", F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "map_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                THEN 'high' ELSE 'low' END AS k_band
    FROM events WHERE event_id < 500
    """,
)
def map_funcs(spark, sf_dir):
    # Map surface: build map from JSON, element_at, map_filter.  Output is
    # scalarized (maps don't hash portably across engines).
    (ev,) = _t(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    k = F.element_at(m, "k")
    return ev.filter(F.col("event_id") < 500).select(
        "event_id",
        k.alias("k"),
        F.when(k >= 50, "high").otherwise("low").alias("k_band"),
    )


@query(
    "misc_funcs",
    oracle="""
    SELECT event_id,
           coalesce(nullif(event_type, 'error'), 'UNKNOWN') AS safe_type,
           greatest(value, 100.0) AS val_floor100,
           least(value, 400.0) AS val_cap400,
           md5(concat(event_type, '|', CAST(event_id AS VARCHAR))) AS row_fingerprint
    FROM events WHERE event_id < 1000
    """,
)
def misc_funcs(spark, sf_dir):
    # coalesce/nullif/greatest/least + a portable md5 fingerprint (Spark's
    # hash() is engine-specific; md5 is the cross-engine stable choice).
    (ev,) = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") < 1000).select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("UNKNOWN")).alias("safe_type"),
        F.greatest(F.col("value"), F.lit(100.0)).alias("val_floor100"),
        F.least(F.col("value"), F.lit(400.0)).alias("val_cap400"),
        F.md5(F.concat(F.col("event_type"), F.lit("|"), F.col("event_id").cast("string"))).alias(
            "row_fingerprint"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming semantics, batch-expressible forms (the streaming runtime path
# is exercised in tests/test_streaming.py; these validate the window/dedup
# SEMANTICS against the oracle on the same data)


@query(
    "stream_tumbling_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS cnt,
           count(DISTINCT user_id) AS users
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark, sf_dir):
    # groupBy(window(ts, '1 hour')) — identical code path batch/streaming
    # (Structured Streaming unified model, SIGMOD'18).
    (ev,) = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.countDistinct("user_id").alias("users"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
            "users",
        )
    )


@query(
    "stream_sliding_agg",
    oracle="""
    WITH offsets AS (SELECT unnest([0, 30]) AS off_min)
    SELECT strftime(date_trunc('hour', ts - INTERVAL (off_min) MINUTE)
                    + INTERVAL (off_min) MINUTE, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS cnt
    FROM events, offsets
    WHERE ts >= date_trunc('hour', ts - INTERVAL (off_min) MINUTE) + INTERVAL (off_min) MINUTE
    GROUP BY 1
    """,
)
def stream_sliding_agg(spark, sf_dir):
    # 1-hour windows sliding every 30 min → each event lands in 2 windows.
    (ev,) = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"), "cnt")
    )


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS cnt
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark, sf_dir):
    # Trip sessionization by activity gap (ignition-gap analog, §2.5);
    # session_window works identically in batch and streaming.
    (ev,) = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.date_format(F.date_trunc("second", F.col("w.start")), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "cnt",
        )
    )


@query(
    "stream_dedup",
    oracle="""
    SELECT user_id, event_type, min(event_id) AS first_event_id, count(*) AS dup_cnt
    FROM events
    GROUP BY user_id, event_type
    """,
)
def stream_dedup(spark, sf_dir):
    # Batch-checkable core of dropDuplicatesWithinWatermark: one surviving
    # record per key (deterministic representative = min event_id).
    (ev,) = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"), F.count("*").alias("dup_cnt")
    )


@query(
    "stream_watermark_late",
    oracle="""
    SELECT count(*) AS kept_cnt
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
    """,
)
def stream_watermark_late(spark, sf_dir):
    # Late-data drop semantics: records older than (max event time - 7d)
    # are discarded — the batch-checkable analog of withWatermark('ts','7 days').
    (ev,) = _t(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("m"))
    return ev.join(F.broadcast(max_ts)).filter(
        F.col("ts") >= F.col("m") - F.expr("INTERVAL 7 DAYS")
    ).agg(F.count("*").alias("kept_cnt"))


@query(
    "join_asof_tolerance",
    oracle="""
    WITH pur AS (
      SELECT event_id, user_id, epoch_ms(ts) AS p_ms
      FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id, epoch_ms(ts) AS v_ms FROM events WHERE event_type = 'view'
    ), m AS (
      SELECT p.event_id, p.user_id, p.p_ms, max(v.v_ms) AS v_ms
      FROM pur p LEFT JOIN v ON v.user_id = p.user_id AND v.v_ms <= p.p_ms
      GROUP BY p.event_id, p.user_id, p.p_ms
    )
    SELECT event_id, user_id,
           CASE WHEN v_ms IS NOT NULL AND p_ms - v_ms <= 600000
                THEN p_ms - v_ms END AS view_gap_ms
    FROM m
    """,
)
def join_asof_tolerance(spark, sf_dir):
    # As-of join WITH STALENESS TOLERANCE (the pandas merge_asof
    # `tolerance=` / feature-store "max age" semantics): each purchase
    # joins the latest prior view of the same user only if it is at most
    # 10 minutes old, else NULL.  Same union-sort-timeline plan as
    # join_asof — one shuffle+sort of |purchases|+|views| rows, last-seen
    # carried forward with IGNORE NULLS, tolerance applied as a narrow
    # post-filter on the carried value — so staleness never turns into a
    # range join or a per-probe scan-back.  The oracle states the naive
    # join+max form; the plans agree on every probe.
    from pyspark.sql import Window

    (ev,) = _t(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k"), F.unix_millis("ts").alias("t"),
        F.lit(1).alias("is_probe"), "event_id",
        F.lit(None).cast("bigint").alias("carry"),
    )
    carriers = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("k"), F.unix_millis("ts").alias("t"),
        F.lit(0).alias("is_probe"), F.lit(None).cast("bigint").alias("event_id"),
        F.unix_millis("ts").alias("carry"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_probe")  # carriers first at equal ms (inclusive <=)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    timeline = probes.unionByName(carriers).withColumn(
        "last_v", F.last("carry", ignorenulls=True).over(w)
    )
    gap = F.col("t") - F.col("last_v")
    return timeline.filter(F.col("is_probe") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.when(F.col("last_v").isNotNull() & (gap <= 600000), gap).alias("view_gap_ms"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH pur AS (
      SELECT event_id, user_id, epoch_ms(ts) AS p_ms
      FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id, epoch_ms(ts) AS v_ms FROM events WHERE event_type = 'view'
    ), m AS (
      SELECT p.event_id, p.user_id, p.p_ms,
             max(CASE WHEN v.v_ms <= p.p_ms THEN v.v_ms END) AS back_ms,
             min(CASE WHEN v.v_ms >= p.p_ms THEN v.v_ms END) AS fwd_ms
      FROM pur p LEFT JOIN v ON v.user_id = p.user_id
      GROUP BY p.event_id, p.user_id, p.p_ms
    )
    SELECT event_id, user_id,
           CASE WHEN back_ms IS NULL AND fwd_ms IS NULL THEN NULL
                WHEN fwd_ms IS NULL THEN p_ms - back_ms
                WHEN back_ms IS NULL THEN fwd_ms - p_ms
                ELSE least(p_ms - back_ms, fwd_ms - p_ms) END AS nearest_gap_ms,
           CASE WHEN back_ms IS NULL AND fwd_ms IS NULL THEN NULL
                WHEN fwd_ms IS NULL THEN 'backward'
                WHEN back_ms IS NULL THEN 'forward'
                WHEN p_ms - back_ms <= fwd_ms - p_ms THEN 'backward'
                ELSE 'forward' END AS direction
    FROM m
    """,
)
def join_asof_nearest(spark, sf_dir):
    # As-of join with NEAREST direction (pandas merge_asof
    # direction='nearest'): each purchase pairs with the closest view of
    # the same user in EITHER direction, ties to the earlier (backward)
    # view.  Same union-sort-timeline plan as join_asof run with TWO
    # window frames over ONE key shuffle: last-prior-carry
    # (unbounded-preceding frame, carriers-first tie order for inclusive
    # <=) and first-following-carry (unbounded-following frame,
    # probes-first tie order for inclusive >=) — the second frame costs
    # one extra in-partition sort, never a second exchange and never a
    # range join.  The oracle states the naive per-probe min/max form.
    from pyspark.sql import Window

    (ev,) = _t(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k"), F.unix_millis("ts").alias("t"),
        F.lit(1).alias("is_probe"), "event_id",
        F.lit(None).cast("bigint").alias("carry"),
    )
    carriers = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("k"), F.unix_millis("ts").alias("t"),
        F.lit(0).alias("is_probe"), F.lit(None).cast("bigint").alias("event_id"),
        F.unix_millis("ts").alias("carry"),
    )
    w_back = (
        Window.partitionBy("k")
        .orderBy("t", "is_probe")  # carriers first at equal ms → inclusive <=
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("k")
        .orderBy("t", F.desc("is_probe"))  # probes first at equal ms → inclusive >=
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    timeline = (
        probes.unionByName(carriers)
        .withColumn("back_ms", F.last("carry", ignorenulls=True).over(w_back))
        .withColumn("fwd_ms", F.first("carry", ignorenulls=True).over(w_fwd))
    )
    back_gap = F.col("t") - F.col("back_ms")
    fwd_gap = F.col("fwd_ms") - F.col("t")
    return timeline.filter(F.col("is_probe") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.when(F.col("back_ms").isNull() & F.col("fwd_ms").isNull(), F.lit(None).cast("bigint"))
        .when(F.col("fwd_ms").isNull(), back_gap)
        .when(F.col("back_ms").isNull(), fwd_gap)
        .otherwise(F.least(back_gap, fwd_gap))
        .alias("nearest_gap_ms"),
        F.when(F.col("back_ms").isNull() & F.col("fwd_ms").isNull(), F.lit(None).cast("string"))
        .when(F.col("fwd_ms").isNull(), F.lit("backward"))
        .when(F.col("back_ms").isNull(), F.lit("forward"))
        .when(back_gap <= fwd_gap, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


_HHI_ORACLE = """
WITH rev AS (
  SELECT r.r_name AS region, s.s_suppkey,
         round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                  * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))))
              AS DOUBLE), 4) AS rev
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, s.s_suppkey
), tot AS (
  SELECT region, CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) AS tot,
         count(*) AS n_suppliers
  FROM rev GROUP BY region
)
SELECT t.region, t.n_suppliers,
       CAST(SUM(CAST(round((x.rev / t.tot) * (x.rev / t.tot) * 10000, 6)
                     AS DECIMAL(18,6))) AS DOUBLE) AS hhi
FROM rev x JOIN tot t ON t.region = x.region
GROUP BY t.region, t.n_suppliers
"""


@query("agg_hhi_concentration", oracle=_HHI_ORACLE)
def agg_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman market-concentration index per region over
    supplier revenue shares — the antitrust-style companion to
    agg_gini/agg_theil_index (those measure inequality of a
    distribution; HHI = Σ (100·share)² measures market dominance, 10000
    = monopoly).  Supplier revenues are Q1-shape decimal product sums
    rounded per the 2^53-ulp rule; per-supplier share² terms are
    rounded-to-6 and DECIMAL-summed so the |suppliers|-term total has no
    float order.  Plan: fact→supplier key shuffle with nation/region
    broadcast, then a per-region combine over supplier-count-bounded
    rows."""
    li, su, na, re = _t(spark, sf_dir, "lineitem", "supplier", "nation", "region")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    disc = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
    rev = (
        li.join(su, li["l_suppkey"] == su["s_suppkey"])
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), "s_suppkey")
        .agg(F.round(F.sum(disc).cast("double"), 4).alias("rev"))
    )
    tot = rev.groupBy("region").agg(
        F.sum(F.col("rev").cast("decimal(18,4)")).cast("double").alias("tot"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    share2 = F.round((F.col("rev") / F.col("tot")) * (F.col("rev") / F.col("tot")) * 10000, 6)
    return (
        rev.join(F.broadcast(tot), "region")
        .select("region", "n_suppliers", share2.cast("decimal(18,6)").alias("t2"))
        .groupBy("region", "n_suppliers")
        .agg(F.sum("t2").cast("double").alias("hhi"))
    )


@query(
    "win_ntile_percent_cume",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def win_ntile_percent_cume(spark, sf_dir):
    # Round 11 (session 3): the distribution-rank window trio — ntile /
    # percent_rank / cume_dist.  ntile is row_number-based (NOT
    # tie-stable), so the ordering is made TOTAL with the unique
    # o_orderkey tie-break; partitioning is per-customer (millions of
    # natural partitions at scale — exactly when a partitioned window is
    # the right plan, per the queries_rank module doctrine).
    (o,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "join_asof_forward",
    oracle="""
    SELECT p.event_id, p.user_id,
           CAST(min(epoch_ms(e.ts)) - epoch_ms(p.ts) AS BIGINT)
             AS next_error_gap_ms
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') e
      ON e.user_id = p.user_id AND e.ts >= p.ts
    GROUP BY p.event_id, p.user_id, epoch_ms(p.ts)
    """,
)
def q_join_asof_forward(spark, sf_dir):
    # FORWARD as-of join (pandas merge_asof direction='forward'; DuckDB
    # ASOF JOIN with l.ts <= r.ts): each purchase annotated with the
    # time to the user's NEXT error at-or-after it — the
    # time-to-next-incident attribution query.  The shared union-sort
    # operator runs the mirror window (first following carry) over ONE
    # key shuffle; the oracle states the equi-join + min form whose
    # fan-out the operator avoids.  Parity with DuckDB's native forward
    # ASOF JOIN is fuzz-tested (tests/test_asof_fuzz.py).
    from pulsar_ingestion_spark.operators.joins import asof_forward

    (ev,) = _t(spark, sf_dir, "events")
    out = asof_forward(
        ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        ),
        ev.filter(F.col("event_type") == "error").select(
            F.col("user_id").alias("user_id"), F.col("ts").alias("rts")
        ),
        on="user_id",
        left_ts="ts",
        right_ts="rts",
    )
    return out.select(
        "event_id", "user_id",
        (F.unix_millis("matched_ts") - F.unix_millis("ts"))
        .cast("bigint").alias("next_error_gap_ms"),
    )
