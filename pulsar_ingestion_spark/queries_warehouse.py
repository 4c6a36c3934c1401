"""Warehouse data-management idioms: slowly-changing dimensions, snapshot
diffing, and data-quality audits.

Round-5 family.  The reference's ingestion pipeline lands telemetry into
per-tenant warehouse directories (processors/filterer — see
docs/architecture.md:113-118 for the downstream dimension model); the
queries its consumers run next are not only rollups but the *management*
of those tables: point-in-time dimension lookups (SCD2), day-over-day
snapshot diffs, and the referential / constraint audits every landing
zone schedules.  Each query here is the Spark-first form of one of those
idioms, with the deterministic synthesis of versions/snapshots spelled
out arithmetically so the DuckDB oracle reproduces it bit-for-bit.

Scale notes (100 TB): SCD2 lookup is an equi-join on the natural key with
a residual date-range predicate — the join shuffles on the key alone, so
it behaves exactly like the plain dim join (broadcast when the dim side
is small).  Snapshot diff is one full-outer join on the primary key —
the unavoidable shuffle — with change classification as a narrow
projection on top.  Both audits are single-scan: the constraint audit
folds every rule into one aggregate pass (no per-rule scans), and the
orphan checks are broadcast anti-joins against filtered parents.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import load_tables


def _t(spark, sf_dir, *names):
    tabs = load_tables(spark, sf_dir)
    return tuple(tabs[n] for n in names)


# ---------------------------------------------------------------------------
# SCD2 point-in-time join
# ---------------------------------------------------------------------------

# Deterministic version split: every customer has two SCD2 versions with the
# boundary at 1995-01-01 + (c_custkey * 2654435761 mod 2147483647) mod 2000
# days (Knuth multiplicative hash — exact in BIGINT on both engines).
# Version 1 carries segment 'LEGACY'; version 2 the real c_mktsegment.
_SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey,
         DATE '1995-01-01' + CAST((c_custkey * 2654435761) % 2147483647 % 2000 AS INTEGER)
           AS split_date
  FROM customer
), v AS (
  SELECT c_custkey, DATE '1992-01-01' AS valid_from, split_date AS valid_to,
         'LEGACY' AS segment
  FROM dim
  UNION ALL
  SELECT d.c_custkey, d.split_date, DATE '9999-12-31', c.c_mktsegment
  FROM dim d JOIN customer c ON d.c_custkey = c.c_custkey
)
SELECT v.segment,
       count(*) AS order_cnt,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders o
JOIN v ON o.o_custkey = v.c_custkey
      AND CAST(o.o_orderdate AS DATE) >= v.valid_from
      AND CAST(o.o_orderdate AS DATE) < v.valid_to
GROUP BY v.segment
"""


@query("scd2_point_in_time", oracle=_SCD2_ORACLE)
def q_scd2_point_in_time(spark, sf_dir):
    """Point-in-time (SCD type 2) dimension lookup: each order joins the
    customer version that was valid ON ITS ORDER DATE.  The join is an
    equi-join on the natural key with the validity interval as a residual
    range predicate — Spark shuffles (or broadcasts) on c_custkey exactly
    as it would for the plain dim join; the interval check never becomes
    a cross product.  Revenue per dimension attribute then proves each
    fact row matched exactly one version.  Versions are synthesized
    deterministically (Knuth hash split date) so the oracle reproduces
    the dim table."""
    od, cu = _t(spark, sf_dir, "orders", "customer")
    dim = cu.select(
        "c_custkey",
        F.date_add(
            F.lit("1995-01-01").cast("date"),
            ((F.col("c_custkey") * F.lit(2654435761)) % 2147483647 % 2000).cast("int"),
        ).alias("split_date"),
        "c_mktsegment",
    )
    v1 = dim.select(
        "c_custkey",
        F.lit("1992-01-01").cast("date").alias("valid_from"),
        F.col("split_date").alias("valid_to"),
        F.lit("LEGACY").alias("segment"),
    )
    v2 = dim.select(
        "c_custkey",
        F.col("split_date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.col("c_mktsegment").alias("segment"),
    )
    versions = v1.unionByName(v2)
    odate = F.col("o_orderdate").cast("date")
    return (
        od.join(
            F.broadcast(versions),
            (od["o_custkey"] == versions["c_custkey"])
            & (odate >= versions["valid_from"])
            & (odate < versions["valid_to"]),
        )
        .groupBy("segment")
        .agg(
            F.count("*").alias("order_cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Snapshot diff
# ---------------------------------------------------------------------------

# Snapshot A = orders with o_orderkey % 5 <> 0; snapshot B = orders with
# o_orderkey % 7 <> 0, with totalprice restated (+10%, exact decimal) where
# o_orderkey % 11 = 0.  Deterministic, so both engines build identical
# snapshots; the diff classifies every key.
_SNAPSHOT_DIFF_ORACLE = """
WITH a AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,4)) AS price
  FROM orders WHERE o_orderkey % 5 <> 0
), b AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 11 = 0
              THEN CAST(CAST(o_totalprice AS DECIMAL(18,4))
                        * CAST(1.1 AS DECIMAL(18,4)) AS DECIMAL(18,4))
              ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS price
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT change_type, count(*) AS key_cnt FROM (
  SELECT CASE
           WHEN a.o_orderkey IS NULL THEN 'inserted'
           WHEN b.o_orderkey IS NULL THEN 'deleted'
           WHEN a.price <> b.price OR a.o_orderstatus <> b.o_orderstatus
             THEN 'updated'
           ELSE 'unchanged'
         END AS change_type
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
) d
GROUP BY change_type
"""


@query("table_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE)
def q_table_snapshot_diff(spark, sf_dir):
    """Day-over-day snapshot diff: classify every primary key across two
    table versions as inserted / deleted / updated / unchanged.  ONE
    full-outer join on the key (the only shuffle — both sides hash on
    o_orderkey, so at 100 TB this is the canonical co-partitioned
    merge), then change classification as a narrow CASE projection;
    column comparison is explicit per-column (portable — no
    engine-specific row hashes).  The CDC primitive behind every
    incremental-load validator."""
    (od,) = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,4)")
    a = od.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("a_key"),
        F.col("o_orderstatus").alias("a_status"),
        price.alias("a_price"),
    )
    b = od.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("b_key"),
        F.col("o_orderstatus").alias("b_status"),
        F.when(F.col("o_orderkey") % 11 == 0, (price * F.lit(1.1).cast("decimal(18,4)")).cast("decimal(18,4)"))
        .otherwise(price)
        .alias("b_price"),
    )
    diff = a.join(b, a["a_key"] == b["b_key"], "full_outer").select(
        F.when(F.col("a_key").isNull(), "inserted")
        .when(F.col("b_key").isNull(), "deleted")
        .when(
            (F.col("a_price") != F.col("b_price"))
            | (F.col("a_status") != F.col("b_status")),
            "updated",
        )
        .otherwise("unchanged")
        .alias("change_type")
    )
    return diff.groupBy("change_type").agg(F.count("*").alias("key_cnt"))


# ---------------------------------------------------------------------------
# Data-quality audits
# ---------------------------------------------------------------------------

_ORPHAN_ORACLE = """
SELECT 'lineitem->orders' AS fk, count(*) AS orphans
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem->part_active', count(*)
FROM lineitem l WHERE NOT EXISTS (
  SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey AND p.p_size <= 25)
UNION ALL
SELECT 'lineitem->supplier', count(*)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
UNION ALL
SELECT 'orders->customer', count(*)
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""


@query("dq_orphan_check", oracle=_ORPHAN_ORACLE)
def q_dq_orphan_check(spark, sf_dir):
    """Referential-integrity audit: orphan counts for each foreign key in
    the star, including one against a FILTERED parent ('active' parts,
    p_size <= 25) so drift shows up as a nonzero row.  Each check is a
    broadcast anti-join (the parent key set is the small side — at 100 TB
    parents that outgrow broadcast fall back to a shuffled anti-join on
    the key, still one pass per edge); the four counts union into a
    single audit report."""
    li, od, pa, su, cu = _t(spark, sf_dir, "lineitem", "orders", "part", "supplier", "customer")

    def orphans(child, child_key, parent, parent_key, label):
        p = parent.select(parent_key)
        return (
            child.join(F.broadcast(p), child[child_key] == p[parent_key], "left_anti")
            .agg(F.count("*").alias("orphans"))
            .select(F.lit(label).alias("fk"), "orphans")
        )

    checks = [
        orphans(li, "l_orderkey", od, "o_orderkey", "lineitem->orders"),
        orphans(li, "l_partkey", pa.filter(F.col("p_size") <= 25), "p_partkey",
                "lineitem->part_active"),
        orphans(li, "l_suppkey", su, "s_suppkey", "lineitem->supplier"),
        orphans(od, "o_custkey", cu, "c_custkey", "orders->customer"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


_CONSTRAINT_ORACLE = """
WITH agg AS (
  SELECT
    count(*) AS checked,
    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS qty_range,
    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT) AS discount_cap,
    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS shipdate_null,
    CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS price_positive,
    CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS tax_cap
  FROM lineitem
)
SELECT rule, violations, checked FROM (
  SELECT 'qty_range' AS rule, qty_range AS violations, checked FROM agg
  UNION ALL SELECT 'discount_cap', discount_cap, checked FROM agg
  UNION ALL SELECT 'shipdate_null', shipdate_null, checked FROM agg
  UNION ALL SELECT 'price_positive', price_positive, checked FROM agg
  UNION ALL SELECT 'tax_cap', tax_cap, checked FROM agg
) u
"""


@query("dq_constraint_audit", oracle=_CONSTRAINT_ORACLE)
def q_dq_constraint_audit(spark, sf_dir):
    """Constraint audit, single-pass: five range/null rules over the fact
    evaluated as conditional SUMs in ONE aggregation (one scan of 100 TB,
    not five), then unpivoted to a rule-per-row report with the checked
    denominator.  Two rules are deliberately tighter than the data
    (discount <= 0.08, tax <= 0.05) so the report carries nonzero
    violation counts."""
    (li,) = _t(spark, sf_dir, "lineitem")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    agg = li.agg(
        F.count("*").alias("checked"),
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("qty_range"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 0.08)).alias("discount_cap"),
        viol(F.col("l_shipdate").isNull()).alias("shipdate_null"),
        viol(F.col("l_extendedprice") <= 0).alias("price_positive"),
        viol((F.col("l_tax") < 0) | (F.col("l_tax") > 0.05)).alias("tax_cap"),
    )
    rules = ["qty_range", "discount_cap", "shipdate_null", "price_positive", "tax_cap"]
    stack_expr = "stack({n}, {args}) as (rule, violations)".format(
        n=len(rules), args=", ".join(f"'{r}', {r}" for r in rules)
    )
    return agg.select(F.expr(stack_expr), "checked")


# ---------------------------------------------------------------------------
# CDC MERGE (upsert) application
# ---------------------------------------------------------------------------

# Base = orders with o_orderkey % 5 <> 0.  CDC batch (deterministic):
#   INSERT rows: o_orderkey % 5 = 0  (keys absent from base)
#   UPDATE rows: o_orderkey % 5 <> 0 AND o_orderkey % 7 = 0 (price restated +5%)
#   DELETE rows: o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0 AND o_orderkey % 11 = 0
_MERGE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) AS price
  FROM orders WHERE o_orderkey % 5 <> 0
), cdc AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN 'I'
              WHEN o_orderkey % 7 = 0 THEN 'U'
              ELSE 'D' END AS op,
         CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
              THEN CAST(CAST(o_totalprice AS DECIMAL(18,4))
                        * CAST(1.05 AS DECIMAL(18,4)) AS DECIMAL(18,4))
              ELSE CAST(o_totalprice AS DECIMAL(18,4)) END AS price
  FROM orders
  WHERE o_orderkey % 5 = 0
     OR o_orderkey % 7 = 0
     OR o_orderkey % 11 = 0
), merged AS (
  SELECT coalesce(b.o_orderkey, c.o_orderkey) AS key,
         CASE WHEN c.o_orderkey IS NULL THEN 'kept'
              WHEN c.op = 'D' THEN 'deleted'
              WHEN b.o_orderkey IS NULL THEN 'inserted'
              ELSE 'updated' END AS action,
         CASE WHEN c.o_orderkey IS NULL THEN b.price
              WHEN c.op = 'D' THEN NULL
              ELSE c.price END AS price
  FROM base b FULL OUTER JOIN cdc c ON b.o_orderkey = c.o_orderkey
)
SELECT action, count(*) AS key_cnt,
       CAST(SUM(price) AS DOUBLE) AS sum_price
FROM merged GROUP BY action
"""


@query("warehouse_merge_upsert", oracle=_MERGE_ORACLE)
def q_warehouse_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics applied as a batch plan: a deterministic CDC
    batch (inserts / +5%-price updates / deletes) merges into the base
    snapshot via ONE full-outer join on the primary key, with the action
    resolved per key by a narrow CASE — exactly how Delta/Iceberg MERGE
    executes its join phase at scale (the shuffle is key-hashed on both
    sides; file rewrite is the sink's concern, not the plan's).  Output
    is the merge audit: per-action key counts and surviving-price sums
    (deleted rows carry NULL, so their sum drops out)."""
    (od,) = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,4)")
    base = od.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("b_key"), price.alias("b_price")
    )
    is_ins = F.col("o_orderkey") % 5 == 0
    is_upd = (F.col("o_orderkey") % 7 == 0) & ~is_ins
    cdc = od.filter(
        (F.col("o_orderkey") % 5 == 0)
        | (F.col("o_orderkey") % 7 == 0)
        | (F.col("o_orderkey") % 11 == 0)
    ).select(
        F.col("o_orderkey").alias("c_key"),
        F.when(is_ins, "I").when(F.col("o_orderkey") % 7 == 0, "U").otherwise("D").alias("op"),
        F.when(is_upd, (price * F.lit(1.05).cast("decimal(18,4)")).cast("decimal(18,4)"))
        .otherwise(price)
        .alias("c_price"),
    )
    merged = base.join(cdc, base["b_key"] == cdc["c_key"], "full_outer").select(
        F.when(F.col("c_key").isNull(), "kept")
        .when(F.col("op") == "D", "deleted")
        .when(F.col("b_key").isNull(), "inserted")
        .otherwise("updated")
        .alias("action"),
        F.when(F.col("c_key").isNull(), F.col("b_price"))
        .when(F.col("op") == "D", F.lit(None).cast("decimal(18,4)"))
        .otherwise(F.col("c_price"))
        .alias("price"),
    )
    return merged.groupBy("action").agg(
        F.count("*").alias("key_cnt"),
        F.sum("price").cast("double").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# Hierarchy closure (recursive-CTE workload)
# ---------------------------------------------------------------------------

# Deterministic forest over customers: parent(k) = k div 10, roots are
# k < 10.  Depth is bounded by log10(max key), so the Spark loop unrolls a
# known-small number of levels while the oracle uses a genuine recursive CTE.
_HIERARCHY_ORACLE = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS node, c_custkey // 10 AS ancestor, CAST(1 AS BIGINT) AS depth
  FROM customer WHERE c_custkey >= 10
  UNION ALL
  SELECT a.node, a.ancestor // 10, a.depth + 1
  FROM anc a WHERE a.ancestor >= 10
)
SELECT depth, count(*) AS n_paths,
       CAST(min(node) AS BIGINT) AS min_node,
       CAST(max(ancestor) AS BIGINT) AS max_ancestor
FROM anc GROUP BY depth
"""


@query("graph_hierarchy_closure", oracle=_HIERARCHY_ORACLE)
def q_graph_hierarchy_closure(spark, sf_dir):
    """Transitive-closure of a hierarchy (the WITH RECURSIVE workload —
    org charts, bill-of-materials, category trees): every (node,
    ancestor, depth) path of a deterministic forest over the customer
    keys (parent = key div 10).  Spark has no recursive CTE, so the
    closure is the standard ITERATIVE frontier expansion: each level is
    one narrow projection of the previous frontier (parent arithmetic
    here; a real edge table makes it one key-shuffle join per level),
    unioned level-by-level with the depth bound known from the key
    domain — the same bounded-iteration pattern as the registry's
    connected-components operators, with their ConvergenceError
    discipline.  Output is the per-depth path census (closure tables are
    |V|·avg-depth sized; the report keeps the driver result bounded)."""
    (cu,) = _t(spark, sf_dir, "customer")
    # max key bounds the depth: parent = key div 10 ⇒ ≤ ceil(log10(max)) levels
    frontier = cu.filter(F.col("c_custkey") >= 10).select(
        F.col("c_custkey").alias("node"),
        F.expr("c_custkey div 10").alias("ancestor"),
        F.lit(1).cast("bigint").alias("depth"),
    )
    levels = [frontier]
    # 12 unrolled levels covers keys < 10^13 — far beyond any SF here; each
    # iteration is a narrow filter+project on the shrinking frontier
    for _ in range(12):
        frontier = frontier.filter(F.col("ancestor") >= 10).select(
            "node",
            F.expr("ancestor div 10").alias("ancestor"),
            (F.col("depth") + 1).alias("depth"),
        )
        levels.append(frontier)
    closure = levels[0]
    for lv in levels[1:]:
        closure = closure.unionByName(lv)
    return closure.groupBy("depth").agg(
        F.count("*").alias("n_paths"),
        F.min("node").cast("bigint").alias("min_node"),
        F.max("ancestor").cast("bigint").alias("max_ancestor"),
    )


# ---------------------------------------------------------------------------
# Round-5c: incremental aggregate maintenance, changelog compaction, and
# zone-map (partition-stats) pruning — the three mechanisms that keep a
# landing zone's rollups, CDC mirrors, and scan costs bounded as history
# grows.
# ---------------------------------------------------------------------------

_INCR_CUTOFF = "1997-01-01"

# The oracle aggregates DIRECTLY; the Spark side computes base partials
# (history before the cutoff) and delta partials (the new batch) and
# MERGES them — hash-equality with the direct answer is the incremental-
# view-maintenance correctness proof (partials carry decimal sums, so
# merge == recompute exactly, not approximately).
_INCR_AGG_ORACLE = """
SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
       count(*) AS order_cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price
FROM orders
GROUP BY 1
"""


@query("warehouse_incremental_agg", oracle=_INCR_AGG_ORACLE)
def q_warehouse_incremental_agg(spark, sf_dir):
    """Incremental view maintenance for a monthly rollup: the standing
    aggregate is kept as MERGEABLE partials (count + decimal sum per
    month); a new day's batch aggregates only its own rows and merges by
    adding partials — history is never rescanned.  Non-mergeable outputs
    (avg) are derived from partials at read time.  The oracle recomputes
    from scratch; hash equality proves merge == recompute.  At 100 TB
    this is the difference between a per-batch cost of O(batch) and
    O(history): base partials live in the rollup table, the merge
    shuffles only 2×|months| rows."""
    (orders,) = _t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("month")

    def partials(df):
        return df.groupBy(month).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"),
        )

    base = partials(orders.filter(F.col("o_orderdate") < F.lit(_INCR_CUTOFF)))
    delta = partials(orders.filter(F.col("o_orderdate") >= F.lit(_INCR_CUTOFF)))
    merged = (
        base.unionByName(delta)
        .groupBy("month")
        .agg(F.sum("cnt").alias("order_cnt"), F.sum("rev").alias("rev"))
    )
    return merged.select(
        "month",
        F.col("order_cnt").cast("bigint").alias("order_cnt"),
        F.col("rev").cast("double").alias("revenue"),
        # raw quotient, NOT rounded: identical decimal-sum and count on
        # both engines make the single IEEE division bitwise equal, while
        # round()ing it reopens the half-way divergence (parity rules)
        (F.col("rev").cast("double") / F.col("order_cnt")).alias("avg_price"),
    )


# Deterministic changelog synthesis over lineitem: key = l_orderkey,
# version = l_linenumber, op D when (l_orderkey + l_linenumber) % 11 = 0.
_CHANGELOG_ORACLE = """
WITH log AS (
  SELECT l_orderkey AS key, l_linenumber AS version,
         CASE WHEN (l_orderkey + l_linenumber) % 11 = 0 THEN 'D'
              WHEN l_linenumber = 1 THEN 'I' ELSE 'U' END AS op,
         l_quantity AS quantity, l_extendedprice AS price
  FROM lineitem
), latest AS (
  SELECT key, version, op, quantity, price,
         row_number() OVER (PARTITION BY key
                            ORDER BY version DESC, price DESC, quantity DESC) AS rn
  FROM log
)
SELECT key, version AS last_version, op AS last_op, quantity, price
FROM latest WHERE rn = 1 AND op <> 'D'
"""


@query("warehouse_changelog_compact", oracle=_CHANGELOG_ORACLE)
def q_warehouse_changelog_compact(spark, sf_dir):
    """Changelog compaction (the CDC-mirror materializer): from an
    insert/update/delete log, keep each key's highest-version row and
    drop keys whose final op is a delete — the read-side state a Kafka
    compacted topic or Debezium stream converges to.  One row_number
    window on the key shuffle — identical cost to dedup_keep_best; at
    scale the compacted state lands in a versioned table
    (operators/versioned.py), whose overwrite commits are snapshot
    isolated."""
    (li,) = _t(spark, sf_dir, "lineitem")
    log = li.select(
        F.col("l_orderkey").alias("key"),
        F.col("l_linenumber").alias("version"),
        F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 11 == 0, F.lit("D"))
        .when(F.col("l_linenumber") == 1, F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("price"),
    )
    # version ties exist in the synthetic log (duplicate (key, version)
    # rows); extend the ordering over every output column so the winner
    # is unique up to full-row equality — either copy hashes the same.
    # The all-descending total order makes the rn=1 winner the MAX of the
    # (version, price, quantity) tuple, so one hash aggregate replaces the
    # partition sort: map-side partials ship one candidate per key per
    # task instead of every log row through a sort (r14).  op trails the
    # struct: it is a function of (key, version), so it can only tie.
    return (
        log.groupBy("key")
        .agg(F.max(F.struct("version", "price", "quantity", "op")).alias("top"))
        .filter(F.col("top.op") != "D")
        .select(
            "key", F.col("top.version").alias("last_version"),
            F.col("top.op").alias("last_op"),
            F.col("top.quantity").alias("quantity"),
            F.col("top.price").alias("price"),
        )
    )


_PRUNE_THRESHOLD = 450_000.0

_PRUNE_ORACLE = f"""
WITH stats AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         count(*) AS n_rows,
         round(min(o_totalprice), 2) AS min_tp,
         round(max(o_totalprice), 2) AS max_tp,
         count(*) FILTER (WHERE o_totalprice > {_PRUNE_THRESHOLD}) AS n_match
  FROM orders GROUP BY 1
)
SELECT month, n_rows, min_tp, max_tp,
       (max_tp <= {_PRUNE_THRESHOLD}) AS can_prune, n_match
FROM stats
"""


@query("warehouse_partition_prune_stats", oracle=_PRUNE_ORACLE)
def q_warehouse_partition_prune_stats(spark, sf_dir):
    """Zone-map / partition-stats audit: per month partition, the min/max
    of the filter column and whether the predicate `o_totalprice >
    {threshold}` can skip the partition entirely (max ≤ threshold ⇒ zero
    matches, scan avoided).  This is the bookkeeping behind data
    skipping — parquet row-group stats, Delta/Iceberg file stats, and
    the layout_zorder_key query all exist to make `can_prune` true for
    most partitions.  One aggregate pass builds the stats table
    (O(partitions) output); n_match double-checks the zone map tells the
    truth (can_prune ⇒ n_match = 0)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("month")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("o_totalprice"), 2).alias("min_tp"),
            F.round(F.max("o_totalprice"), 2).alias("max_tp"),
            F.count(F.when(F.col("o_totalprice") > _PRUNE_THRESHOLD, 1)).alias("n_match"),
        )
        .select(
            "month", "n_rows", "min_tp", "max_tp",
            (F.col("max_tp") <= _PRUNE_THRESHOLD).alias("can_prune"),
            "n_match",
        )
    )


_RECON_ORACLE = """
WITH li AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS li_total,
         count(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderkey, o.o_totalprice, li.li_total, li.n_lines,
       round(abs(o.o_totalprice - li.li_total), 4) AS abs_gap
FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
WHERE abs(o.o_totalprice - li.li_total) > o.o_totalprice * 0.5
"""


@query("dq_reconciliation", oracle=_RECON_ORACLE)
def q_dq_reconciliation(spark, sf_dir):
    """Fact-to-fact reconciliation: order headers whose lineitem revenue
    disagrees with the stored total by more than 50% — the daily
    finance-vs-detail tie-out every warehouse schedules (this synthetic
    data has no enforced identity, so the report is the interesting
    part).  One decimal partial-agg over lineitem + ONE key join; the
    gap predicate applies after the join so legitimate rows never
    shuffle twice.  At scale both sides co-partition on the order key
    (bucketed layout), making the join exchange-free."""
    (orders,) = _t(spark, sf_dir, "orders")
    li = load_tables(spark, sf_dir)["lineitem"]
    li_agg = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
        .alias("li_total"),
        F.count("*").alias("n_lines"),
    )
    j = orders.join(li_agg, orders["o_orderkey"] == li_agg["l_orderkey"])
    gap = F.abs(F.col("o_totalprice") - F.col("li_total"))
    return j.filter(gap > F.col("o_totalprice") * 0.5).select(
        "o_orderkey", "o_totalprice", "li_total", "n_lines",
        F.round(gap, 4).alias("abs_gap"),
    )


# ---------------------------------------------------------------------------
# Round 6: multi-level BOM explosion over an EDGE TABLE, and MERGE with
# windowed conflict resolution — the two depth items from VERDICT r5/ROADMAP 3.
# ---------------------------------------------------------------------------

# Deterministic BOM forest over parts: component p_partkey >= 10 goes into
# assembly p_partkey div 10 with qty-per = p_partkey % 3 + 1; roots are
# keys < 10.  Unlike graph_hierarchy_closure (parent ARITHMETIC per level),
# the closure here walks a materialized edge relation — one key-shuffle
# join per level, the shape a real BOM table forces.
_BOM_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey // 10 AS parent,
         CAST(p_partkey % 3 + 1 AS BIGINT) AS qty
  FROM part WHERE p_partkey >= 10
), bom AS (
  SELECT child AS component, parent AS assembly, qty AS ext_qty,
         CAST(1 AS BIGINT) AS depth
  FROM edges
  UNION ALL
  SELECT b.component, e.parent, b.ext_qty * e.qty, b.depth + 1
  FROM bom b JOIN edges e ON e.child = b.assembly
)
SELECT assembly AS root_key,
       count(*) AS n_paths,
       CAST(count(DISTINCT component) AS BIGINT) AS n_components,
       CAST(SUM(ext_qty) AS BIGINT) AS total_qty,
       CAST(max(depth) AS BIGINT) AS max_depth
FROM bom WHERE assembly < 10
GROUP BY assembly
"""


@query("warehouse_bom_rollup", oracle=_BOM_ORACLE)
def q_warehouse_bom_rollup(spark, sf_dir):
    """Multi-level bill-of-materials explosion: every (component → root
    assembly) path of a deterministic part forest, with the EXTENDED
    QUANTITY multiplied down the path (qty-per of each edge), rolled up
    per root — total component demand for one unit of each top-level
    assembly, the MRP planning query.  Spark has no recursive CTE, so
    the closure is the bounded frontier expansion over the EDGE TABLE:
    each level joins the shrinking frontier to the edges on the assembly
    key (one key-shuffle join per level — at scale both sides bucket on
    the part key and the join is exchange-free), 10 unrolled levels
    covering part keys < 10^11.  Quantities multiply in BIGINT (qty-per
    <= 3, depth <= 10 ⇒ exact, no float drift); the per-root report is
    O(roots).  Oracle: genuine WITH RECURSIVE.
    Reference basis: the hierarchy workloads of the warehouse family
    (docs/architecture.md:113-118 consumer model), extending
    graph_hierarchy_closure from reachability to quantity-weighted paths.
    """
    (pt,) = _t(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    edges = pt.filter(pk >= 10).select(
        pk.alias("child"),
        F.expr("p_partkey div 10").alias("parent"),
        (pk % 3 + 1).cast("bigint").alias("qty"),
    )
    frontier = edges.select(
        F.col("child").alias("component"),
        F.col("parent").alias("assembly"),
        F.col("qty").alias("ext_qty"),
        F.lit(1).cast("bigint").alias("depth"),
    )
    levels = [frontier]
    e = edges.select(
        F.col("child").alias("e_child"),
        F.col("parent").alias("e_parent"),
        F.col("qty").alias("e_qty"),
    )
    for _ in range(9):
        frontier = frontier.join(
            e, frontier["assembly"] == e["e_child"]
        ).select(
            "component",
            F.col("e_parent").alias("assembly"),
            (F.col("ext_qty") * F.col("e_qty")).alias("ext_qty"),
            (F.col("depth") + 1).alias("depth"),
        )
        levels.append(frontier)
    bom = levels[0]
    for lv in levels[1:]:
        bom = bom.unionByName(lv)
    return (
        bom.filter(F.col("assembly") < 10)
        .groupBy(F.col("assembly").alias("root_key"))
        .agg(
            F.count("*").alias("n_paths"),
            F.countDistinct("component").cast("bigint").alias("n_components"),
            F.sum("ext_qty").cast("bigint").alias("total_qty"),
            F.max("depth").cast("bigint").alias("max_depth"),
        )
    )


# MERGE with WINDOWED conflict resolution: the CDC source (lineitem) has
# MANY rows per order key — a real MERGE rejects duplicate source keys, so
# the standard discipline is a latest-wins window over the batch first
# (Delta's "resolve by row_number" recipe), then the single-key merge.
# The ORDER BY is a total order over every column the resolution reads
# (the synthetic lineitem has duplicate (orderkey, linenumber) pairs), so
# both engines pick the same winner.
_MERGE_WIN_ORACLE = """
WITH ranked AS (
  SELECT l_orderkey, l_quantity, l_extendedprice,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY l_shipdate DESC, l_linenumber DESC, l_extendedprice DESC,
                    l_quantity DESC, l_discount DESC
         ) AS rn,
         count(*) OVER (PARTITION BY l_orderkey) AS n_versions
  FROM lineitem
), resolved AS (
  SELECT l_orderkey AS key,
         CASE WHEN l_quantity > 45 THEN 'D' ELSE 'U' END AS op,
         CAST(l_extendedprice AS DECIMAL(18,4)) AS new_price,
         n_versions
  FROM ranked WHERE rn = 1
), base AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) AS price
  FROM orders WHERE o_orderkey % 3 <> 0
), merged AS (
  SELECT CASE WHEN r.key IS NULL THEN 'kept'
              WHEN b.o_orderkey IS NULL AND r.op = 'D' THEN 'no_op_delete'
              WHEN b.o_orderkey IS NULL THEN 'inserted'
              WHEN r.op = 'D' THEN 'deleted'
              ELSE 'updated' END AS action,
         CASE WHEN r.key IS NULL THEN b.price
              WHEN r.op = 'D' THEN NULL
              ELSE r.new_price END AS price,
         r.n_versions
  FROM base b FULL OUTER JOIN resolved r ON b.o_orderkey = r.key
)
SELECT action, count(*) AS key_cnt,
       CAST(SUM(n_versions) AS BIGINT) AS src_rows,
       CAST(SUM(price) AS DOUBLE) AS sum_price
FROM merged GROUP BY action
"""


@query("warehouse_merge_resolve_conflicts", oracle=_MERGE_WIN_ORACLE)
def q_warehouse_merge_resolve_conflicts(spark, sf_dir):
    """MERGE INTO with windowed conflict resolution: the CDC batch
    (lineitem — several rows per order key) first collapses to ONE row
    per key by a latest-wins window (shipdate-desc with a TOTAL-order
    tie-break, so both engines pick the same winner), then merges into
    the base snapshot with one full-outer key join — the two-stage
    discipline every Delta/Iceberg MERGE pipeline uses when sources can
    carry conflicting updates (a raw MERGE would reject the duplicate
    source keys).  The window partitions by the SAME key the merge join
    shuffles on, so at scale the exchange is reused; src_rows in the
    audit proves the resolution collapsed real conflicts (src_rows >>
    key_cnt).  Deletes win by quantity rule; unmatched deletes are
    explicit no-ops, as MERGE semantics demand."""
    (od,) = _t(spark, sf_dir, "orders")
    li = load_tables(spark, sf_dir)["lineitem"]
    # The resolution ORDER BY is all-descending over a total order, so
    # the rn=1 winner is the MAX of the column tuple: one hash aggregate
    # (map-side partials — one candidate + a count per key per task)
    # replaces the row_number partition sort, and n_versions rides the
    # same aggregate instead of a second window pass (r14).
    resolved = (
        li.groupBy(F.col("l_orderkey").alias("key"))
        .agg(
            F.max(
                F.struct(
                    "l_shipdate", "l_linenumber", "l_extendedprice",
                    "l_quantity", "l_discount",
                )
            ).alias("top"),
            F.count("*").alias("n_versions"),
        )
        .select(
            "key",
            F.when(F.col("top.l_quantity") > 45, "D").otherwise("U").alias("op"),
            F.col("top.l_extendedprice").cast("decimal(18,4)").alias("new_price"),
            "n_versions",
        )
    )
    base = od.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,4)").alias("price")
    )
    merged = base.join(resolved, base["o_orderkey"] == resolved["key"], "full_outer").select(
        F.when(F.col("key").isNull(), "kept")
        .when(F.col("o_orderkey").isNull() & (F.col("op") == "D"), "no_op_delete")
        .when(F.col("o_orderkey").isNull(), "inserted")
        .when(F.col("op") == "D", "deleted")
        .otherwise("updated")
        .alias("action"),
        F.when(F.col("key").isNull(), F.col("price"))
        .when(F.col("op") == "D", F.lit(None).cast("decimal(18,4)"))
        .otherwise(F.col("new_price"))
        .alias("out_price"),
        "n_versions",
    )
    return merged.groupBy("action").agg(
        F.count("*").alias("key_cnt"),
        F.sum("n_versions").cast("bigint").alias("src_rows"),
        F.sum("out_price").cast("double").alias("sum_price"),
    )


# OPTIMIZE-style compaction planning: "files" = per-(ship-month, day)
# lineitem slices with row-count as the size proxy.  Files are binned in
# day order by their exclusive cumulative size div the target — exactly
# how Delta's OPTIMIZE groups ordered small files into rewrite jobs (a
# file joins the bin its starting offset falls in, so bins can overrun
# the target by at most one file — the classic bound).
_COMPACT_TARGET = 1000

_COMPACT_ORACLE = f"""
WITH files AS (
  SELECT date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
         CAST(l_shipdate AS DATE) AS file_day,
         count(*) AS size_rows
  FROM lineitem GROUP BY 1, 2
), planned AS (
  SELECT month, file_day, size_rows,
         COALESCE(SUM(size_rows) OVER (
           PARTITION BY month ORDER BY file_day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM files
)
SELECT month,
       CAST(cum_before // {_COMPACT_TARGET} AS BIGINT) AS merge_group,
       count(*) AS n_files,
       CAST(SUM(size_rows) AS BIGINT) AS total_rows,
       min(file_day) AS first_day, max(file_day) AS last_day,
       (count(*) = 1 AND CAST(SUM(size_rows) AS BIGINT) >= {_COMPACT_TARGET})
         AS already_compact
FROM planned
GROUP BY month, CAST(cum_before // {_COMPACT_TARGET} AS BIGINT)
"""


@query("layout_compaction_plan", oracle=_COMPACT_ORACLE)
def q_layout_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (the OPTIMIZE bin-packer): per
    month partition, day-ordered file slices are assigned to merge
    groups by exclusive-cumulative-size div target — each group is one
    rewrite job whose inputs are contiguous in the sort order, groups
    overrun the target by at most one file, and single-file groups
    already at target size are flagged to skip rewriting.  One
    aggregate builds the file-stats table (O(partitions) rows), one
    PARTITIONED window computes the running offsets, one aggregate
    emits the plan — the whole planner is metadata-scale, never
    data-scale, exactly like Delta/Iceberg maintenance planning."""
    li = load_tables(spark, sf_dir)["lineitem"]
    files = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("month"),
        F.col("l_shipdate").cast("date").alias("file_day"),
    ).agg(F.count("*").alias("size_rows"))
    w = (
        Window.partitionBy("month")
        .orderBy("file_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "cum_before", F.coalesce(F.sum("size_rows").over(w), F.lit(0))
    )
    grp = F.expr(f"cum_before div {_COMPACT_TARGET}").cast("bigint")
    return (
        planned.groupBy("month", grp.alias("merge_group"))
        .agg(
            F.count("*").alias("n_files"),
            F.sum("size_rows").cast("bigint").alias("total_rows"),
            F.min("file_day").alias("first_day"),
            F.max("file_day").alias("last_day"),
        )
        .select(
            "month", "merge_group", "n_files", "total_rows",
            "first_day", "last_day",
            (
                (F.col("n_files") == 1)
                & (F.col("total_rows") >= _COMPACT_TARGET)
            ).alias("already_compact"),
        )
    )


# SCD2 BUILD from a raw changelog: the ETL that PRODUCES the versioned
# dimension scd2_point_in_time consumes.  Change events (lineitem rows
# as price-change events at l_shipdate, keyed by order) first collapse
# latest-wins per (key, effective date) — same total-order tie-break
# discipline as warehouse_merge_resolve_conflicts — then each key's
# dated changes become [valid_from, valid_to) intervals via ONE lead()
# window, the open version closing at the sentinel date.
_SCD2_BUILD_ORACLE = """
WITH ranked AS (
  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS eff_date,
         l_extendedprice AS price,
         row_number() OVER (
           PARTITION BY l_orderkey, CAST(l_shipdate AS DATE)
           ORDER BY l_linenumber DESC, l_extendedprice DESC,
                    l_quantity DESC, l_discount DESC
         ) AS rn
  FROM lineitem WHERE l_orderkey % 50 = 0
), changes AS (
  SELECT l_orderkey, eff_date, price FROM ranked WHERE rn = 1
)
SELECT l_orderkey AS entity_key,
       CAST(row_number() OVER w AS BIGINT) AS version,
       eff_date AS valid_from,
       COALESCE(lead(eff_date) OVER w, DATE '9999-12-31') AS valid_to,
       price,
       (lead(eff_date) OVER w IS NULL) AS is_current
FROM changes
WINDOW w AS (PARTITION BY l_orderkey ORDER BY eff_date)
"""


@query("warehouse_scd2_from_changelog", oracle=_SCD2_BUILD_ORACLE)
def q_warehouse_scd2_from_changelog(spark, sf_dir):
    """Build an SCD2 dimension from a raw changelog: collapse the change
    stream latest-wins per (entity, effective date) — total-order
    tie-break so both engines pick the same winner on the synthetic
    duplicates — then derive each version's [valid_from, valid_to)
    interval with one lead() window per entity and flag the open
    version.  Two partitioned windows, both keyed on the entity the
    downstream dimension joins on — at scale this is one shuffle reused,
    and the output IS the table scd2_point_in_time's interval-residual
    join consumes.  Keyed subset (orderkey % 50) keeps the checked
    output bounded; the plan is key-count independent."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # all-descending total order ⇒ the latest-wins row per (entity,
    # effective date) is max(struct(...)) — hash aggregate with map-side
    # partials instead of a row_number partition sort (r14)
    changes = (
        li.filter(F.col("l_orderkey") % 50 == 0)
        .select(
            "l_orderkey",
            F.col("l_shipdate").cast("date").alias("eff_date"),
            F.col("l_extendedprice").alias("price"),
            "l_linenumber", "l_quantity", "l_discount",
        )
        .groupBy("l_orderkey", "eff_date")
        .agg(
            F.max(
                F.struct("l_linenumber", "price", "l_quantity", "l_discount")
            ).alias("top")
        )
        .select("l_orderkey", "eff_date", F.col("top.price").alias("price"))
    )
    w = Window.partitionBy("l_orderkey").orderBy("eff_date")
    nxt = F.lead("eff_date").over(w)
    return changes.select(
        F.col("l_orderkey").alias("entity_key"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.col("eff_date").alias("valid_from"),
        F.coalesce(nxt, F.lit("9999-12-31").cast("date")).alias("valid_to"),
        "price",
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Zone-map (row-group min/max) pruning simulation (round 8).

_ZM_BUCKET_US = 90 * 86_400 * 1_000_000  # ~quarterly ingest files
_ZM_LO = "1997-01-01 00:00:00"
_ZM_HI = "1998-06-30 00:00:00"
_ZM_PRICE = 200_000.0

_ZONE_MAP_ORACLE = f"""
WITH filed AS (
  SELECT epoch_us(o_orderdate) // {_ZM_BUCKET_US} AS file_id,
         o_orderdate, o_totalprice
  FROM orders
), zones AS (
  SELECT file_id, count(*) AS cnt,
         min(o_orderdate) AS min_d, max(o_orderdate) AS max_d,
         min(o_totalprice) AS min_p, max(o_totalprice) AS max_p,
         SUM(CASE WHEN o_orderdate >= TIMESTAMP '{_ZM_LO}'
                   AND o_orderdate <= TIMESTAMP '{_ZM_HI}'
                   AND o_totalprice > {_ZM_PRICE} THEN 1 ELSE 0 END) AS matched
  FROM filed GROUP BY file_id
), classed AS (
  SELECT *,
         CASE
           WHEN max_d < TIMESTAMP '{_ZM_LO}' OR min_d > TIMESTAMP '{_ZM_HI}'
                OR max_p <= {_ZM_PRICE} THEN 'pruned'
           WHEN min_d >= TIMESTAMP '{_ZM_LO}' AND max_d <= TIMESTAMP '{_ZM_HI}'
                AND min_p > {_ZM_PRICE} THEN 'full'
           ELSE 'partial'
         END AS cls
  FROM zones
)
SELECT count(*) AS n_files,
       CAST(SUM(CASE WHEN cls = 'pruned' THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(SUM(CASE WHEN cls = 'full' THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
       CAST(SUM(CASE WHEN cls = 'partial' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
       CAST(SUM(cnt) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN cls <> 'pruned' THEN cnt ELSE 0 END) AS BIGINT)
         AS rows_scanned,
       CAST(SUM(matched) AS BIGINT) AS rows_matched,
       CAST(SUM(matched) AS DOUBLE)
         / SUM(CASE WHEN cls <> 'pruned' THEN cnt ELSE 0 END) AS scan_selectivity
FROM classed
"""


@query("warehouse_zone_map_prune", oracle=_ZONE_MAP_ORACLE)
def q_warehouse_zone_map_prune(spark, sf_dir):
    """Zone-map file-skipping planner: bucket orders into quarterly
    ingest 'files', build per-file min/max zone maps for (orderdate,
    totalprice), then classify each file against a conjunctive predicate
    as pruned / fully-matching / partial and report the scan plan's
    row economics (rows scanned vs rows matched).

    This is the metadata pass a 100 TB lakehouse scan does against
    parquet row-group stats before touching data: the zone relation is
    one grouped aggregate (#files rows — metadata-sized), the verdict a
    second tiny aggregate.  Date-clustered layout means the date
    predicate prunes whole files; the price bound only prunes a file
    when its max falls below the threshold — exactly how min/max stats
    behave on unclustered columns (the motivation for
    layout_zorder_key)."""
    od = _t(spark, sf_dir, "orders")[0]
    filed = od.select(
        F.expr(f"unix_micros(o_orderdate) div {_ZM_BUCKET_US}").alias("file_id"),
        "o_orderdate", "o_totalprice",
    )
    lo, hi = F.lit(_ZM_LO).cast("timestamp"), F.lit(_ZM_HI).cast("timestamp")
    zones = filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("o_orderdate").alias("min_d"), F.max("o_orderdate").alias("max_d"),
        F.min("o_totalprice").alias("min_p"), F.max("o_totalprice").alias("max_p"),
        F.sum(
            F.when(
                (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") <= hi)
                & (F.col("o_totalprice") > _ZM_PRICE), 1
            ).otherwise(0)
        ).alias("matched"),
    )
    cls = (
        F.when(
            (F.col("max_d") < lo) | (F.col("min_d") > hi)
            | (F.col("max_p") <= _ZM_PRICE), "pruned"
        )
        .when(
            (F.col("min_d") >= lo) & (F.col("max_d") <= hi)
            & (F.col("min_p") > _ZM_PRICE), "full"
        )
        .otherwise("partial")
    )
    classed = zones.withColumn("cls", cls)
    scanned = F.sum(F.when(F.col("cls") != "pruned", F.col("cnt")).otherwise(0))
    return classed.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(F.col("cls") == "pruned", 1).otherwise(0)).cast("bigint")
        .alias("n_pruned"),
        F.sum(F.when(F.col("cls") == "full", 1).otherwise(0)).cast("bigint")
        .alias("n_full"),
        F.sum(F.when(F.col("cls") == "partial", 1).otherwise(0)).cast("bigint")
        .alias("n_partial"),
        F.sum("cnt").cast("bigint").alias("rows_total"),
        scanned.cast("bigint").alias("rows_scanned"),
        F.sum("matched").cast("bigint").alias("rows_matched"),
        (F.sum("matched").cast("double") / scanned).alias("scan_selectivity"),
    )


# ---------------------------------------------------------------------------
# Round 8: clustering depth (file-overlap sweep) on an unclustered
# sort key.

_CD_BUCKET_US = 90 * 86_400 * 1_000_000

_CLUSTER_DEPTH_ORACLE = f"""
WITH filed AS (
  SELECT epoch_us(o_orderdate) // {_CD_BUCKET_US} AS file_id, o_totalprice
  FROM orders
), zones AS (
  SELECT file_id, min(o_totalprice) AS lo, max(o_totalprice) AS hi
  FROM filed GROUP BY file_id
), bounds AS (
  SELECT file_id, lo AS v, 1 AS delta FROM zones
  UNION ALL
  SELECT file_id, hi AS v, -1 AS delta FROM zones
), swept AS (
  SELECT v, delta,
         SUM(delta) OVER (ORDER BY v, delta DESC, file_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS depth
  FROM bounds
)
SELECT CAST((SELECT count(*) FROM zones) AS BIGINT) AS n_files,
       CAST(max(depth) AS BIGINT) AS max_depth,
       round(CAST(SUM(CASE WHEN delta = 1 THEN depth ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END), 6) AS avg_start_depth
FROM swept
"""


@query("warehouse_clustering_depth", oracle=_CLUSTER_DEPTH_ORACLE)
def q_warehouse_clustering_depth(spark, sf_dir):
    """Clustering-depth audit: how many files' [min, max] zone ranges on
    o_totalprice overlap — i.e. how many files a point lookup on the
    UNclustered column must read.  A perfectly clustered layout sweeps
    at depth 1; the date-bucketed files here each span nearly the full
    price domain, so depth ≈ #files — exactly the signal that triggers
    a re-cluster/Z-order compaction (layout_zorder_key,
    layout_compaction_plan are the remediation twins).

    Plan: zone maps are a #files-row aggregate; the boundary sweep is a
    running sum over 2·#files rows ordered by (value, starts-first) —
    metadata-sized, computed via ``keyed_running_sums`` so even a
    million-file manifest sweeps in parallel."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    od = _t(spark, sf_dir, "orders")[0]
    filed = od.select(
        F.expr(f"unix_micros(o_orderdate) div {_CD_BUCKET_US}").alias("file_id"),
        "o_totalprice",
    )
    zones = filed.groupBy("file_id").agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    bounds = zones.select(
        "file_id", F.col("lo").alias("v"), F.lit(1).alias("delta")
    ).unionAll(
        zones.select("file_id", F.col("hi").alias("v"), F.lit(-1).alias("delta"))
    ).withColumn("k", F.lit(1))
    swept, _ = keyed_running_sums(
        bounds, ["k"], [F.col("v"), (-F.col("delta")).asc(), F.col("file_id")],
        ["delta"],
    )
    nf = zones.agg(F.count(F.lit(1)).cast("bigint").alias("n_files"))
    agg = swept.agg(
        F.max("cum_delta").cast("bigint").alias("max_depth"),
        F.round(
            F.sum(F.when(F.col("delta") == 1, F.col("cum_delta")).otherwise(0))
            .cast("double")
            / F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)), 6
        ).alias("avg_start_depth"),
    )
    return nf.crossJoin(agg)
