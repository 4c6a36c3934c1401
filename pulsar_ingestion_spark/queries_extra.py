"""Coverage completion for SURVEY.md §2.5: remaining joins, legacy
translators, distribution window functions, pivot, deterministic sampling,
stopword filtering, and the stateful-transition operator's batch form."""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import Window
from pyspark.sql import functions as F

from pulsar_ingestion_spark.functions.text import STOPWORDS
from pulsar_ingestion_spark.operators.legacy import translate_legacy
from pulsar_ingestion_spark.operators.sketch import md5_lane
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import fan_out, load_tables


# --- bucketed CMF warehouse (VERDICT r1 item 3) ------------------------------
# Built once per (session, sf): translate → date-partitioned, vehicle-bucketed
# managed table (operators/storage.py:write_cmf_warehouse).  Queries that read
# it get the exchange-free per-vehicle window plan as their BENCHED path.

_WAREHOUSE_BUILT: set[str] = set()


def _reap_stale_warehouses(spark, prefix):
    """Best-effort cleanup of per-process warehouse dirs left by DEAD
    processes (``<prefix><pid>``): pid-tagged tables are never shared, so
    a dir whose pid no longer exists is garbage.  Live pids (including our
    own) are left alone."""
    import os
    import re
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if wh.scheme not in ("file", ""):
        return
    base = wh.path or "spark-warehouse"
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        m = re.fullmatch(re.escape(prefix) + r"(\d+)", name)
        if not m:
            continue
        pid = int(m.group(1))
        try:
            os.kill(pid, 0)
            continue  # owner still alive
        except ProcessLookupError:
            pass
        except PermissionError:
            continue
        shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def _cmf_warehouse(spark, sf_dir):
    """Materialize (memoized) the bucketed CMF warehouse for ``sf_dir`` and
    return it as a DataFrame.  The write is a one-time layout cost — the
    point is that every subsequent per-vehicle query reads pre-clustered
    buckets with zero Exchange.

    Partition granularity scales with volume: files should land ~100 MB+,
    so the fixture (60k rows) partitions by MONTH — day dirs here would
    mean ~720 files of ~80 rows, a 15x slower scan measured at sf0.1.  At
    100 TB the same layout uses day dirs (write_cmf_warehouse(date_col=
    "event_date")) because a day of data IS hundreds of full-size files."""
    import os
    import re

    from pulsar_ingestion_spark.operators.storage import write_cmf_warehouse
    from pulsar_ingestion_spark.queries_translate import cmf_translate_geotab

    tag = re.sub(r"[^a-z0-9]+", "_", os.path.basename(sf_dir.rstrip("/")).lower())
    # Process-unique table name: the layout is rebuilt once per process
    # anyway (stale-schema guard below), so a shared name buys nothing —
    # and two processes (e.g. pytest + selfcheck) racing drop/rewrite on
    # the same warehouse dir produced a spurious failure in round 5.
    table = f"cmf_warehouse_{tag}_p{os.getpid()}"
    # Rebuild on first touch per process (1-2 s at sf0.1): an on-disk table
    # left by an older code version may carry a stale layout/schema.
    if table not in _WAREHOUSE_BUILT:
        _reap_stale_warehouses(spark, f"cmf_warehouse_{tag}_p")
        # user_id/value ride along so warehouse readers (fleet_dashboard)
        # can join dimensions / derive metrics without re-translating.
        cmf = cmf_translate_geotab(spark, sf_dir, _passthrough=("user_id", "value")).withColumn(
            "event_month", F.trunc(F.to_timestamp(F.col("date_time")).cast("date"), "month")
        )
        write_cmf_warehouse(
            cmf,
            table,
            date_col="event_month",
            key_col="partition_key",
            sort_cols=("partition_key", "epoch_source"),
            num_buckets=16,
        )
        _WAREHOUSE_BUILT.add(table)
    return spark.table(table)


_WAREHOUSE_GAPS_ORACLE = """
WITH cmf AS (
  SELECT concat('veh-', CAST(user_id AS VARCHAR)) AS partition_key,
         concat('dev-', CAST(event_id AS VARCHAR)) AS device_id,
         epoch_ms(date_trunc('second', ts)) AS epoch_source
  FROM events
  WHERE user_id % 37 <> 0
)
SELECT partition_key, device_id, epoch_source,
       epoch_source - lag(epoch_source) OVER w AS gap_ms,
       row_number() OVER w AS seq
FROM cmf
WINDOW w AS (PARTITION BY partition_key ORDER BY epoch_source, device_id)
"""


@query("warehouse_vehicle_gaps", oracle=_WAREHOUSE_GAPS_ORACLE)
def warehouse_vehicle_gaps(spark, sf_dir):
    # Per-vehicle gap/sequence window read from the BUCKETED warehouse: the
    # bucketed-sorted scan satisfies the window's hash distribution, so the
    # plan contains NO Exchange (tests/test_plans.py) — at 100 TB the daily
    # per-vehicle analytics never re-shuffle the fact table.
    stored = _cmf_warehouse(spark, sf_dir)
    w = Window.partitionBy("partition_key").orderBy("epoch_source", "device_id")
    return stored.select(
        "partition_key",
        "device_id",
        "epoch_source",
        (F.col("epoch_source") - F.lag("epoch_source").over(w)).alias("gap_ms"),
        F.row_number().over(w).alias("seq"),
    )


@query(
    "join_right",
    oracle="""
    SELECT n.n_name AS nation, count(s.s_suppkey) AS supp_cnt
    FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def join_right(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    s, n = t["supplier"], t["nation"]
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("s_suppkey").alias("supp_cnt"))
    )


_ORDER_ORACLE = """
SELECT 'order-service' AS source,
       'ORDER_EVENT' AS event_type_out,
       strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%SZ') AS event_ts,
       concat('ord-', CAST(event_id AS VARCHAR)) AS orderid,
       CAST(user_id % 5 + 1 AS BIGINT) AS n_items
FROM events
"""


@query("event_translate_order", oracle=_ORDER_ORACLE)
def event_translate_order(spark, sf_dir):
    # items array length derived deterministically; ISO pass-through codec.
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    items = F.transform(
        F.sequence(F.lit(1), (F.col("user_id") % 5 + 1).cast("int")),
        lambda i: F.concat(F.lit("sku-"), i.cast("string")),
    )
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("ord-"), F.col("event_id").cast("string")).alias("orderId"),
            items.alias("items"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("placedAt"),
        )
    )
    out = translate_legacy(ev.withColumn("value_json", doc), "order_record", payload_col="value_json")
    parsed = F.from_json(F.col("data"), "orderId string, items array<string>, placedAt string")
    return out.select(
        F.col("source"),
        F.col("eventType").alias("event_type_out"),
        F.col("timestamp").alias("event_ts"),
        parsed.getField("orderId").alias("orderid"),
        F.size(parsed.getField("items")).cast("bigint").alias("n_items"),
    )


_INVENTORY_ORACLE = """
SELECT 'inventory-service' AS source,
       'INVENTORY_EVENT' AS event_type_out,
       strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%SZ') AS event_ts,
       concat('sku-', CAST(user_id AS VARCHAR)) AS sku,
       CAST(event_id % 100 AS BIGINT) AS qty
FROM events
"""


@query("event_translate_inventory", oracle=_INVENTORY_ORACLE)
def event_translate_inventory(spark, sf_dir):
    # epoch-seconds → ISO codec (TranslatorsIntegrationTest.kt:304-325).
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("sku-"), F.col("user_id").cast("string")).alias("sku"),
            (F.col("event_id") % 100).alias("qty"),
            F.unix_timestamp(F.col("ts")).alias("updateTime"),
        )
    )
    out = translate_legacy(ev.withColumn("value_json", doc), "inventory_update", payload_col="value_json")
    parsed = F.from_json(F.col("data"), "sku string, qty bigint, updateTime bigint")
    return out.select(
        F.col("source"),
        F.col("eventType").alias("event_type_out"),
        F.col("timestamp").alias("event_ts"),
        parsed.getField("sku").alias("sku"),
        parsed.getField("qty").alias("qty"),
    )


_SHIPMENT_ORACLE = """
SELECT 'shipping-service' AS source,
       'SHIPMENT_EVENT' AS event_type_out,
       strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%SZ') AS event_ts,
       concat('ship-', CAST(event_id AS VARCHAR)) AS shipid,
       upper(event_type) AS status
FROM events
"""


@query("event_translate_shipment", oracle=_SHIPMENT_ORACLE)
def event_translate_shipment(spark, sf_dir):
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("ship-"), F.col("event_id").cast("string")).alias("shipId"),
            F.upper("event_type").alias("status"),
            F.unix_timestamp(F.col("ts")).alias("deliveredAt"),
        )
    )
    out = translate_legacy(ev.withColumn("value_json", doc), "shipment_status", payload_col="value_json")
    parsed = F.from_json(F.col("data"), "shipId string, status string, deliveredAt bigint")
    return out.select(
        F.col("source"),
        F.col("eventType").alias("event_type_out"),
        F.col("timestamp").alias("event_ts"),
        parsed.getField("shipId").alias("shipid"),
        parsed.getField("status").alias("status"),
    )


@query(
    "stateful_transitions",
    oracle="""
    WITH status_stream AS (
      SELECT concat('veh-', CAST(user_id AS VARCHAR)) AS vehicle_id,
             CASE WHEN event_type IN ('click','purchase') THEN 'ON' ELSE 'OFF' END AS status,
             epoch_ms(ts) AS epoch_ms,
             event_id
      FROM events
    )
    SELECT vehicle_id, from_status, to_status, at_epoch_ms FROM (
      SELECT vehicle_id,
             lag(status) OVER w AS from_status,
             status AS to_status,
             epoch_ms AS at_epoch_ms
      FROM status_stream
      WINDOW w AS (PARTITION BY vehicle_id ORDER BY epoch_ms, event_id)
    ) WHERE from_status IS NOT NULL AND from_status <> to_status
    """,
)
def stateful_transitions(spark, sf_dir):
    # The stream_stateful_flatmap operator's batch-checkable form; the
    # streaming path (applyInPandasWithState) is equivalence-tested in
    # tests/test_streaming.py on the same semantics.
    from pulsar_ingestion_spark.streaming.stateful import ignition_transitions

    ev = load_tables(spark, sf_dir)["events"]
    status = ev.select(
        F.concat(F.lit("veh-"), F.col("user_id").cast("string")).alias("vehicle_id"),
        F.when(F.col("event_type").isin("click", "purchase"), "ON").otherwise("OFF").alias("status"),
        F.unix_millis(F.col("ts")).alias("epoch_ms"),
        "event_id",
    )
    return ignition_transitions(status, tiebreak_col="event_id")


@query(
    "win_distribution",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def win_distribution(spark, sf_dir):
    # ntile/percent_rank/cume_dist — rank-derived ratios are exact
    # (int arithmetic in double), so cross-engine safe.
    (o,) = [load_tables(spark, sf_dir)["orders"]]
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "win_first_last",
    oracle="""
    SELECT user_id, event_id,
           first_value(event_id) OVER w AS first_event,
           last_value(event_id)  OVER w AS latest_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_first_last(spark, sf_dir):
    ev = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(w).alias("latest_event"),
    )


@query(
    "win_nth_value",
    oracle="""
    SELECT user_id, event_id,
           nth_value(event_id, 2) OVER w AS second_event,
           nth_value(event_id, 3) OVER w AS third_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def win_nth_value(spark, sf_dir):
    ev = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.nth_value("event_id", 2).over(w).alias("second_event"),
        F.nth_value("event_id", 3).over(w).alias("third_event"),
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY user_id
    """,
)
def agg_pivot(spark, sf_dir):
    # Pivot with an EXPLICIT value list: at scale, never let pivot infer
    # distinct values (extra job + unbounded width).
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "sample_deterministic",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 20 = 0
    """,
)
def sample_deterministic(spark, sf_dir):
    # Content-hash sampling — the reproducible, engine-portable way to
    # sample a training corpus (df.sample() depends on partition layout).
    ev = load_tables(spark, sf_dir)["events"]
    bucket = md5_lane(F.col("event_id"))
    return ev.filter(bucket % 20 == 0).select("event_id", "user_id", "event_type")


@query(
    "datetime_funcs",
    oracle="""
    SELECT o_orderkey,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow, -- duckdb 0=Sun, spark 1=Sun
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS BIGINT) AS days_to_2002,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date
    FROM orders WHERE o_orderkey < 2000
    """,
)
def datetime_funcs(spark, sf_dir):
    # date_trunc / extract / diff / add — the date-time scalar family
    # (SURVEY.md §2.5).  dayofweek: Spark and DuckDB both 1=Sunday.
    o = load_tables(spark, sf_dir)["orders"]
    return o.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month"),
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("bigint")
        .alias("days_to_2002"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"), "yyyy-MM-dd").alias("due_date"),
    )


@query(
    "agg_salted_skew",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_salted_skew(spark, sf_dir):
    """Two-phase salted aggregation — the hot-key pattern from SCALE.md §2.

    Phase 1 groups on (key, salt) spreading a skewed key over 16 reducers;
    phase 2 merges partials.  Result must equal the plain groupBy (the
    oracle): same sums because decimal partials re-aggregate exactly.
    """
    ev = load_tables(spark, sf_dir)["events"]
    salt = F.pmod(F.col("event_id"), F.lit(16)).alias("salt")
    partial = (
        ev.withColumn("salt", salt)
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").alias("p_cnt"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("p_sum"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("p_cnt").alias("cnt"),
        F.sum("p_sum").cast("double").alias("sum_value"),
    )


_TRIP_ORACLE = """
WITH pings AS (
  SELECT user_id AS vehicle,
         value / 10 AS lat,
         -value / 7 AS lon,
         ts, event_id
  FROM events
), segs AS (
  SELECT vehicle,
         round(2 * 6371.0 * asin(sqrt(
           pow(sin(radians(lat - lag(lat) OVER w) / 2), 2)
           + cos(radians(lag(lat) OVER w)) * cos(radians(lat))
             * pow(sin(radians(lon - lag(lon) OVER w) / 2), 2)
         )), 6) AS seg_km
  FROM pings
  WINDOW w AS (PARTITION BY vehicle ORDER BY ts, event_id)
)
SELECT vehicle,
       count(seg_km) AS n_segments,
       CAST(SUM(CAST(seg_km AS DECIMAL(18,6))) AS DOUBLE) AS total_km
FROM segs
GROUP BY vehicle
"""


@query("telemetry_trip_distance", oracle=_TRIP_ORACLE)
def telemetry_trip_distance(spark, sf_dir):
    # Fleet km per vehicle: lag window over ordered pings + haversine —
    # one shuffle on the vehicle key; per-segment rounding (6dp) before the
    # decimal sum keeps cross-engine trig ulp differences out of the hash.
    from pulsar_ingestion_spark.functions.geo import haversine_km

    ev = load_tables(spark, sf_dir)["events"]
    pings = ev.select(
        F.col("user_id").alias("vehicle"),
        (F.col("value") / 10).alias("lat"),
        (-F.col("value") / 7).alias("lon"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("vehicle").orderBy("ts", "event_id")
    seg = F.round(
        haversine_km(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")), 6
    )
    return (
        pings.withColumn("seg_km", seg)
        .groupBy("vehicle")
        .agg(
            F.count("seg_km").alias("n_segments"),
            F.sum(F.col("seg_km").cast("decimal(18,6)")).cast("double").alias("total_km"),
        )
    )


_PANDAS_HAV_ORACLE = """
WITH pings AS (
  SELECT user_id AS vehicle,
         value / 10 AS lat,
         -value / 7 AS lon,
         ts, event_id
  FROM events
), segs AS (
  SELECT vehicle,
         round(2 * 6371.0 * asin(sqrt(
           pow(sin(radians(lat - lag(lat) OVER w) / 2), 2)
           + cos(radians(lag(lat) OVER w)) * cos(radians(lat))
             * pow(sin(radians(lon - lag(lon) OVER w) / 2), 2)
         )), 6) AS seg_km
  FROM pings
  WINDOW w AS (PARTITION BY vehicle ORDER BY ts, event_id)
)
SELECT vehicle,
       CAST(SUM(CAST(seg_km AS DECIMAL(18,6))) AS DOUBLE) AS total_km
FROM segs
GROUP BY vehicle
"""


@query("udf_pandas_haversine", oracle=_PANDAS_HAV_ORACLE)
def udf_pandas_haversine(spark, sf_dir):
    """The same trip-distance computed through a vectorized @pandas_udf —
    demonstrates the sanctioned Python escape hatch (Arrow batches, numpy
    vectorized).  Policy stays built-ins-first: this exists to prove the
    UDF surface, not to replace telemetry_trip_distance.  Oracle-checked
    since round 5: numpy trig and DuckDB libm agree after the 6-dp
    per-segment rounding, the same discipline that makes the JVM-trig
    twin hash-green."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def hav_np(lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series) -> pd.Series:
        import numpy as np

        rl1, rl2 = np.radians(lat1), np.radians(lat2)
        dlat = np.radians(lat2 - lat1)
        dlon = np.radians(lon2 - lon1)
        a = np.sin(dlat / 2) ** 2 + np.cos(rl1) * np.cos(rl2) * np.sin(dlon / 2) ** 2
        return pd.Series(2 * 6371.0 * np.arcsin(np.sqrt(a)))

    ev = load_tables(spark, sf_dir)["events"]
    pings = ev.select(
        F.col("user_id").alias("vehicle"),
        (F.col("value") / 10).alias("lat"),
        (-F.col("value") / 7).alias("lon"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("vehicle").orderBy("ts", "event_id")
    seg = F.round(hav_np(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")), 6)
    return (
        pings.withColumn("seg_km", seg)
        .groupBy("vehicle")
        .agg(F.sum(F.col("seg_km").cast("decimal(18,6)")).cast("double").alias("total_km"))
    )


@query(
    "json_multi_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(j, '$.a.b') AS BIGINT) AS ab,
           json_extract_string(j, '$.tags[0]') AS first_tag,
           CAST(json_array_length(j, '$.tags') AS INTEGER) AS n_tags
    FROM (
      SELECT event_id,
             concat('{"a": {"b": ', CAST(event_id % 50 AS VARCHAR),
                    '}, "tags": ["', event_type, '", "x"]}') AS j
      FROM events WHERE event_id < 2000
    )
    """,
)
def json_multi_extract(spark, sf_dir):
    # Nested-path + array-index JSON access (deep sourceSpecificData
    # queries); json_tuple/get_json_object both prune to one column.
    ev = load_tables(spark, sf_dir)["events"]
    j = F.concat(
        F.lit('{"a": {"b": '),
        (F.col("event_id") % 50).cast("string"),
        F.lit('}, "tags": ["'),
        F.col("event_type"),
        F.lit('", "x"]}'),
    )
    jc = ev.filter(F.col("event_id") < 2000).withColumn("j", j)
    return jc.select(
        "event_id",
        F.get_json_object("j", "$.a.b").cast("bigint").alias("ab"),
        F.get_json_object("j", "$.tags[0]").alias("first_tag"),
        F.json_array_length(F.get_json_object("j", "$.tags")).alias("n_tags"),
    )


_TIRE_ORACLE = """
SELECT concat('veh-', CAST(user_id AS VARCHAR)) AS vehicle_id,
       round((value + 30 + value + 31 + value + 32 + value + 33) / 4, 6) AS avg_pressure,
       CASE WHEN value + 30 < 230 THEN 1 ELSE 0 END
         + CASE WHEN value + 31 < 230 THEN 1 ELSE 0 END
         + CASE WHEN value + 32 < 230 THEN 1 ELSE 0 END
         + CASE WHEN value + 33 < 230 THEN 1 ELSE 0 END AS low_tires,
       value + 33 AS max_pressure
FROM events WHERE event_id < 4000
"""


@query("cmf_tire_pressure_map", oracle=_TIRE_ORACLE)
def cmf_tire_pressure_map(spark, sf_dir):
    # The CMF map-typed telemetry (tirePressure.pressures map<string,double>,
    # CommonMessageFormat.kt:190-192): build per-wheel maps, then
    # map_values/map_filter analytics — low-pressure wheel counts, fleet avg.
    ev = load_tables(spark, sf_dir)["events"]
    pressures = F.create_map(
        F.lit("FL"), F.col("value") + 30,
        F.lit("FR"), F.col("value") + 31,
        F.lit("RL"), F.col("value") + 32,
        F.lit("RR"), F.col("value") + 33,
    )
    vals = F.map_values(pressures)
    avg_p = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x) / F.size(vals)
    low = F.size(F.map_filter(pressures, lambda k, v: v < 230))
    return ev.filter(F.col("event_id") < 4000).select(
        F.concat(F.lit("veh-"), F.col("user_id").cast("string")).alias("vehicle_id"),
        F.round(avg_p, 6).alias("avg_pressure"),
        low.alias("low_tires"),
        F.array_max(vals).alias("max_pressure"),
    )


_DTC_ORACLE = """
WITH exploded AS (
  SELECT concat('veh-', CAST(user_id AS VARCHAR)) AS vehicle_id,
         unnest([
           concat('P0', CAST(user_id % 300 AS VARCHAR)),
           concat('B1', CAST(event_id % 50 AS VARCHAR))
         ]) AS code,
         event_type = 'error' AS is_active
  FROM events
)
SELECT code, count(*) AS occurrences,
       count(*) FILTER (WHERE is_active) AS active_cnt,
       count(DISTINCT vehicle_id) AS vehicles
FROM exploded
GROUP BY code
"""


@query("cmf_events_explode", oracle=_DTC_ORACLE)
def cmf_events_explode(spark, sf_dir):
    # The CommonEvents arrays surface (CommonMessageFormat.kt:425-440):
    # no translator populates events (GeotabTranslator.kt:145), so the
    # fixture synthesizes dtcEvents arrays, then explode → per-code fleet
    # stats — the §1.4 "downstream analytics over it (explode/flatten)".
    ev = load_tables(spark, sf_dir)["events"]
    dtc = F.array(
        F.struct(
            F.concat(F.lit("P0"), (F.col("user_id") % 300).cast("string")).alias("code"),
            (F.col("event_type") == "error").alias("isActive"),
        ),
        F.struct(
            F.concat(F.lit("B1"), (F.col("event_id") % 50).cast("string")).alias("code"),
            (F.col("event_type") == "error").alias("isActive"),
        ),
    )
    exploded = ev.select(
        F.concat(F.lit("veh-"), F.col("user_id").cast("string")).alias("vehicle_id"),
        F.explode(dtc).alias("e"),
    )
    return exploded.groupBy(F.col("e.code").alias("code")).agg(
        F.count("*").alias("occurrences"),
        F.count_if(F.col("e.isActive")).alias("active_cnt"),
        F.countDistinct("vehicle_id").alias("vehicles"),
    )


@query(
    "agg_max_min_by",
    oracle="""
    SELECT user_id,
           (max({'v': value, 'i': event_id})).i AS top_event,
           (min({'v': value, 'i': event_id})).i AS bottom_event,
           max(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def agg_max_min_by(spark, sf_dir):
    # argmax/argmin via lexicographic struct extremes — max_by alone is
    # tie-UNSTABLE across engines (events.value repeats within groups);
    # (value, event_id) struct ordering makes the winning row unique.
    ev = load_tables(spark, sf_dir)["events"]
    key = F.struct(F.col("value").alias("v"), F.col("event_id").alias("i"))
    return ev.groupBy("user_id").agg(
        F.max(key).getField("i").alias("top_event"),
        F.min(key).getField("i").alias("bottom_event"),
        F.max("value").alias("max_value"),
    )


_FLEET_DASHBOARD_ORACLE = """
WITH cmf AS (
  SELECT concat('veh-', CAST(user_id AS VARCHAR)) AS vehicle_id,
         user_id,
         date_trunc('day', ts) AS day,
         value / 10 AS speed
  FROM events
  WHERE user_id % 37 <> 0
), enriched AS (
  SELECT c.*, cu.c_mktsegment AS fleet_segment
  FROM cmf c JOIN customer cu ON c.user_id = cu.c_custkey
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       fleet_segment,
       count(*) AS msgs,
       count(DISTINCT vehicle_id) AS active_vehicles,
       CAST(SUM(CAST(speed AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_speed
FROM enriched
GROUP BY 1, 2
"""


@query("fleet_dashboard", oracle=_FLEET_DASHBOARD_ORACLE)
def fleet_dashboard(spark, sf_dir):
    # Composite flagship: the translated CMF comes from the BUCKETED
    # warehouse (translate runs once in the warehouse build, amortized
    # with warehouse_vehicle_gaps) → enrich with the fleet dimension
    # (broadcast) → daily per-segment activity rollup.  At 100 TB the
    # dashboard reads the pre-clustered at-rest layout with month-dir
    # partition pruning available; only the final rollup shuffles.
    t = load_tables(spark, sf_dir)
    stored = _cmf_warehouse(spark, sf_dir)
    cmf = stored.select(
        "vehicle_id",
        "user_id",
        F.date_trunc("day", F.to_timestamp(F.col("date_time"))).alias("day"),
        (F.col("value") / 10).alias("speed"),
    )
    enriched = cmf.join(F.broadcast(t["customer"]), cmf.user_id == F.col("c_custkey"))
    return enriched.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("c_mktsegment").alias("fleet_segment"),
    ).agg(
        F.count("*").alias("msgs"),
        F.countDistinct("vehicle_id").alias("active_vehicles"),
        (F.sum(F.col("speed").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("avg_speed"),
    )


@query(
    "text_levenshtein_pairs",
    oracle="""
    WITH prefixes AS (
      SELECT doc_id, substring(text, 1, 30) AS p, lang FROM documents WHERE doc_id < 60
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.p, b.p) AS edit_dist
    FROM prefixes a JOIN prefixes b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.p, b.p) <= 12
    """,
)
def text_levenshtein_pairs(spark, sf_dir):
    # Fuzzy near-dup by edit distance on 30-char prefixes, blocked by lang
    # (the blocking key stands in for an LSH bucket at scale — never
    # all-pairs).  Integer edit distance: exact cross-engine parity.
    d = load_tables(spark, sf_dir)["documents"]
    pref = d.filter(F.col("doc_id") < 60).select(
        "doc_id", F.substring("text", 1, 30).alias("p"), "lang"
    )
    a, b = pref.alias("a"), pref.alias("b")
    dist = F.levenshtein(F.col("a.p"), F.col("b.p"))
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 12)
    )


@query(
    "error_safe_funcs",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_ok,
           TRY_CAST(event_type AS BIGINT) AS never_int,
           CASE WHEN (CAST(event_id % 5 AS BIGINT)) = 0 THEN NULL
                ELSE value / (event_id % 5) END AS safe_div,
           coalesce(TRY_CAST(event_type AS BIGINT), -1) AS with_default
    FROM events WHERE event_id < 2000
    """,
)
def error_safe_funcs(spark, sf_dir):
    # The drop-don't-fail policy as scalar functions: try_cast / try_divide
    # return NULL instead of raising — malformed values degrade gracefully
    # (ANSI mode stays on for everything else).
    ev = load_tables(spark, sf_dir)["events"]
    k_ok = F.expr("TRY_CAST(get_json_object(props, '$.k') AS BIGINT)")
    never_int = F.expr("TRY_CAST(event_type AS BIGINT)")
    return ev.filter(F.col("event_id") < 2000).select(
        "event_id",
        k_ok.alias("k_ok"),
        never_int.alias("never_int"),
        F.try_divide(F.col("value"), F.col("event_id") % 5).alias("safe_div"),
        F.coalesce(never_int, F.lit(-1)).alias("with_default"),
    )


@query(
    "join_broadcast_left",
    oracle="""
    SELECT e.user_id,
           count(*) AS ev_cnt,
           coalesce(any_value(c.c_mktsegment), 'UNKNOWN-FLEET') AS fleet_segment
    FROM events e LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 50) c
      ON e.user_id = c.c_custkey
    GROUP BY e.user_id
    """,
)
def join_broadcast_left(spark, sf_dir):
    # Broadcast LEFT join with dim-miss default: events whose user has no
    # dimension row keep flowing, tagged UNKNOWN-FLEET — the
    # never-drop-on-missing-dim enrichment policy.
    t = load_tables(spark, sf_dir)
    dim = t["customer"].filter(F.col("c_custkey") < 50).select("c_custkey", "c_mktsegment")
    return (
        t["events"]
        .join(F.broadcast(dim), t["events"].user_id == dim.c_custkey, "left")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("ev_cnt"),
            F.coalesce(F.first("c_mktsegment", ignorenulls=False), F.lit("UNKNOWN-FLEET")).alias(
                "fleet_segment"
            ),
        )
    )


@query(
    "agg_first_per_day",
    oracle="""
    SELECT user_id,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           (min({'ms': epoch_ms(ts), 'id': event_id})).id AS first_event_id,
           count(*) AS day_events
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_first_per_day(spark, sf_dir):
    # Deterministic "first event per user per day" via struct-min argmin —
    # daily-activity anchor rows without a window pass (one agg shuffle).
    ev = load_tables(spark, sf_dir)["events"]
    key = F.struct(F.unix_millis("ts").alias("ms"), F.col("event_id").alias("id"))
    return ev.groupBy(
        "user_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.min(key).getField("id").alias("first_event_id"),
        F.count("*").alias("day_events"),
    )


@query(
    "filter_null_safe_eq",
    oracle="""
    WITH t AS (
      SELECT event_id,
             CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_type END AS a,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE event_type END AS b
      FROM events WHERE event_id < 3000
    )
    SELECT event_id,
           a IS NOT DISTINCT FROM b AS ns_eq,
           a IS DISTINCT FROM b AS ns_neq
    FROM t
    """,
)
def filter_null_safe_eq(spark, sf_dir):
    # Null-safe equality (<=>): NULL <=> NULL is TRUE — the three-valued-
    # logic edge every dedup/compare pipeline eventually hits.
    ev = load_tables(spark, sf_dir)["events"]
    a = F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("event_type"))
    b = F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("event_type"))
    return ev.filter(F.col("event_id") < 3000).select(
        "event_id",
        a.eqNullSafe(b).alias("ns_eq"),
        (~a.eqNullSafe(b)).alias("ns_neq"),
    )


@query(
    "union_schema_evolution",
    oracle="""
    SELECT * FROM (
      SELECT event_id, event_type, NULL AS value FROM events WHERE event_id < 100
      UNION ALL BY NAME
      SELECT event_id, event_type, value FROM events
      WHERE event_id >= 100 AND event_id < 200
    )
    """,
)
def union_schema_evolution(spark, sf_dir):
    # Schema-evolution fan-in: an old branch lacking a column unions with
    # the new branch — allowMissingColumns fills typed nulls (the CMF
    # envelope's additive-evolution story).
    ev = load_tables(spark, sf_dir)["events"]
    old = ev.filter(F.col("event_id") < 100).select("event_id", "event_type")
    new = ev.filter((F.col("event_id") >= 100) & (F.col("event_id") < 200)).select(
        "event_id", "event_type", "value"
    )
    return old.unionByName(new, allowMissingColumns=True)


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           r.r_regionkey = n.n_regionkey AS is_home
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark, sf_dir):
    # Explicit cartesian (grid expansion) — only ever small × small;
    # Spark requires crossJoin() so accidental products fail loudly.
    t = load_tables(spark, sf_dir)
    r, n = t["region"], t["nation"]
    return r.crossJoin(n).select(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        (F.col("r_regionkey") == F.col("n_regionkey")).alias("is_home"),
    )


_BIGRAM_ORACLE = """
WITH grams AS (
  SELECT lang,
         unnest(list_transform(range(1, len(w)), i -> concat(w[i], ' ', w[i+1]))) AS bigram
  FROM (SELECT lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents)
  WHERE len(w) >= 2
), counted AS (
  SELECT lang, bigram, count(*) AS cnt FROM grams GROUP BY lang, bigram
)
SELECT lang, bigram, cnt FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rn
  FROM counted
) WHERE rn <= 5
"""


@query("text_ngram_freq", oracle=_BIGRAM_ORACLE)
def text_ngram_freq(spark, sf_dir):
    # Top-5 bigrams per language — n-gram language modeling / corpus-stat
    # primitive: explode bigrams → count → windowed top-k (ties broken
    # lexicographically for determinism).
    from pulsar_ingestion_spark.functions.text import ngrams, words

    d = load_tables(spark, sf_dir)["documents"]
    counted = (
        d.filter(F.size(words(F.lower(F.col("text")))) >= 2)
        .select("lang", F.explode(ngrams(F.col("text"), 2)).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    win = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counted.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@query(
    "array_set_ops",
    oracle="""
    WITH pair AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             list_distinct(regexp_split_to_array(trim(lower(a.text)), '\\s+')) AS wa,
             list_distinct(regexp_split_to_array(trim(lower(b.text)), '\\s+')) AS wb
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id < 30
    )
    SELECT id_a, id_b,
           array_to_string(list_sort(list_intersect(wa, wb)), ',') AS common_words,
           coalesce(array_to_string(list_sort(list_filter(wa, w -> NOT list_contains(wb, w))), ','), '')
             AS only_a,
           len(list_distinct(list_concat(wa, wb))) AS union_size
    FROM pair
    """,
)
def array_set_ops(spark, sf_dir):
    # Array set algebra (intersect/except/union) — vocabulary-overlap
    # features between adjacent documents; canonicalized (sorted, joined)
    # for the hash check.
    d = load_tables(spark, sf_dir)["documents"]
    words = F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))
    a = d.filter(F.col("doc_id") < 30).select(F.col("doc_id").alias("id_a"), words.alias("wa"))
    b = d.select((F.col("doc_id")).alias("id_bj"), words.alias("wb"))
    j = a.join(b, F.col("id_bj") == F.col("id_a") + 1)
    return j.select(
        "id_a",
        F.col("id_bj").alias("id_b"),
        F.array_join(F.array_sort(F.array_intersect("wa", "wb")), ",").alias("common_words"),
        F.array_join(F.array_sort(F.array_except("wa", "wb")), ",").alias("only_a"),
        F.size(F.array_union("wa", "wb")).cast("bigint").alias("union_size"),
    )


@query(
    "string_split_part",
    oracle="""
    SELECT event_id,
           split_part(concat(event_type, ':', CAST(user_id AS VARCHAR), ':', CAST(event_id AS VARCHAR)),
                      ':', 2) AS middle_field,
           split_part(concat(event_type, ':', CAST(user_id AS VARCHAR), ':', CAST(event_id AS VARCHAR)),
                      ':', 1) AS first_field
    FROM events WHERE event_id < 1500
    """,
)
def string_split_part(spark, sf_dir):
    # Delimited-field extraction — the id/topic-string parsing primitive.
    ev = load_tables(spark, sf_dir)["events"]
    composite = F.concat_ws(":", "event_type", F.col("user_id").cast("string"), F.col("event_id").cast("string"))
    return ev.filter(F.col("event_id") < 1500).select(
        "event_id",
        F.split_part(composite, F.lit(":"), F.lit(2)).alias("middle_field"),
        F.split_part(composite, F.lit(":"), F.lit(1)).alias("first_field"),
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(value / 50) AS BIGINT) AS bucket,
           CAST(floor(value / 50) AS BIGINT) * 50 AS bucket_lo,
           count(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS bucket_avg
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_histogram(spark, sf_dir):
    # Fixed-width histogram by arithmetic bucketing — dashboard primitive;
    # one shuffle on ~10 bucket keys, partial-agg does nearly all the work
    # map-side (ideal reduction shape at 100 TB).
    ev = load_tables(spark, sf_dir)["events"]
    bucket = F.floor(F.col("value") / 50).cast("bigint")
    return ev.groupBy(bucket.alias("bucket"), (bucket * 50).alias("bucket_lo")).agg(
        F.count("*").alias("cnt"),
        (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("bucket_avg"),
    )


@query(
    "agg_bool",
    oracle="""
    SELECT user_id,
           bool_and(value > 0)    AS all_positive,
           bool_or(value > 400)   AS any_high,
           count(*) FILTER (WHERE event_type = 'error') = 0 AS error_free
    FROM events
    GROUP BY user_id
    """,
)
def agg_bool(spark, sf_dir):
    ev = load_tables(spark, sf_dir)["events"]
    return ev.groupBy("user_id").agg(
        F.bool_and(F.col("value") > 0).alias("all_positive"),
        F.bool_or(F.col("value") > 400).alias("any_high"),
        (F.count_if(F.col("event_type") == "error") == 0).alias("error_free"),
    )


@query(
    "bitwise_funcs",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 4096 AS with_flag,
           xor(event_id, user_id) AS mixed,
           event_id << 2 AS shifted_l,
           event_id >> 3 AS shifted_r,
           bit_count(event_id) AS popcount
    FROM events WHERE event_id < 2000
    """,
)
def bitwise_funcs(spark, sf_dir):
    # Bit manipulation — flag fields, hash mixing, simhash-style signatures.
    ev = load_tables(spark, sf_dir)["events"]
    e = F.col("event_id")
    return ev.filter(e < 2000).select(
        "event_id",
        e.bitwiseAND(F.lit(255)).alias("low_byte"),
        e.bitwiseOR(F.lit(4096)).alias("with_flag"),
        e.bitwiseXOR(F.col("user_id")).alias("mixed"),
        F.shiftleft(e, 2).alias("shifted_l"),
        F.shiftright(e, 3).alias("shifted_r"),
        F.bit_count(e).alias("popcount"),
    )


@query(
    "string_regexp_groups",
    oracle="""
    SELECT o_orderkey,
           regexp_extract(o_orderpriority, '^([0-9]+)-([A-Z]+)$', 1) AS prio_num,
           regexp_extract(o_orderpriority, '^([0-9]+)-([A-Z]+)$', 2) AS prio_word,
           CAST(regexp_matches(o_orderpriority, '^[0-9]+-') AS BOOLEAN) AS well_formed
    FROM orders WHERE o_orderkey < 3000
    """,
)
def string_regexp_groups(spark, sf_dir):
    # Capture-group extraction — the source-field parsing primitive for
    # semi-structured string columns (ids, codes, priorities).
    o = load_tables(spark, sf_dir)["orders"]
    pat = r"^([0-9]+)-([A-Z]+)$"
    return o.filter(F.col("o_orderkey") < 3000).select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", pat, 1).alias("prio_num"),
        F.regexp_extract("o_orderpriority", pat, 2).alias("prio_word"),
        F.col("o_orderpriority").rlike("^[0-9]+-").alias("well_formed"),
    )


@query(
    "explode_variants",
    oracle="""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
      FROM documents WHERE doc_id < 15
    )
    SELECT doc_id, pos, word FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(words) + 1),
                                   i -> {'pos': i - 1, 'word': words[i]})) AS e
      FROM w
    ) t, LATERAL (SELECT t.e.pos AS pos, t.e.word AS word)
    WHERE pos < 5
    """,
)
def explode_variants(spark, sf_dir):
    # posexplode: position-preserving explode (ordinal matters for
    # sequence features like n-gram positions).
    d = load_tables(spark, sf_dir)["documents"]
    words = F.split(F.trim(F.col("text")), r"\s+")
    return (
        d.filter(F.col("doc_id") < 15)
        .select("doc_id", F.posexplode(words).alias("pos", "word"))
        .filter(F.col("pos") < 5)
    )


@query(
    "agg_variance_stddev",
    oracle="""
    WITH s AS (
      SELECT event_type,
             count(value) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           round((sxx - sx * sx / n) / (n - 1), 4) AS var_samp,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS stddev_samp
    FROM s
    """,
)
def agg_variance_stddev(spark, sf_dir):
    # Built-in stddev/var use float running accumulation (summation-order
    # dependent) — for cross-engine-exact results compute from DECIMAL
    # sum / sum-of-squares, the same trick as dsum (map-side combinable,
    # single shuffle, numerically safe for value ranges like these).
    ev = load_tables(spark, sf_dir)["events"]
    vdec = F.col("value").cast("decimal(18,6)")
    s = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(vdec).cast("double").alias("sx"),
        F.sum(vdec * vdec).cast("double").alias("sxx"),
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    return s.select(
        "event_type",
        F.round(var, 4).alias("var_samp"),
        F.round(F.sqrt(var), 4).alias("stddev_samp"),
    )


_TRIP_SUMMARY_ORACLE = """
WITH pings AS (
  SELECT user_id AS vehicle, value / 10 AS lat, -value / 7 AS lon, ts, event_id
  FROM events
), seq AS (
  SELECT vehicle, lat, lon, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS new_trip,
         round(CASE WHEN lag(ts) OVER w IS NULL THEN NULL ELSE
           2 * 6371.0 * asin(sqrt(
             pow(sin(radians(lat - lag(lat) OVER w) / 2), 2)
             + cos(radians(lag(lat) OVER w)) * cos(radians(lat))
               * pow(sin(radians(lon - lag(lon) OVER w) / 2), 2))) END, 6) AS seg_km
  FROM pings
  WINDOW w AS (PARTITION BY vehicle ORDER BY ts, event_id)
), trips AS (
  SELECT *, SUM(new_trip) OVER (PARTITION BY vehicle ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS trip_id
  FROM seq
)
SELECT vehicle, CAST(trip_id AS BIGINT) AS trip_id,
       count(*) AS pings,
       strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS trip_start,
       CAST(SUM(CAST(CASE WHEN new_trip = 1 THEN NULL ELSE seg_km END AS DECIMAL(18,6))) AS DOUBLE)
         AS trip_km
FROM trips
GROUP BY vehicle, trip_id
"""


@query("telemetry_trip_summary", oracle=_TRIP_SUMMARY_ORACLE)
def telemetry_trip_summary(spark, sf_dir):
    # Trips = activity islands (gap > 30 min starts a new trip) with
    # per-trip distance — sessionization × haversine, two window passes
    # then one agg, all on the vehicle-key shuffle.  Distance resets at
    # trip boundaries (first segment of a trip doesn't count the gap jump).
    from pulsar_ingestion_spark.functions.geo import haversine_km

    ev = load_tables(spark, sf_dir)["events"]
    pings = ev.select(
        F.col("user_id").alias("vehicle"),
        (F.col("value") / 10).alias("lat"),
        (-F.col("value") / 7).alias("lon"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("vehicle").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # gap compare in MILLIS on both sides — second-truncated longs diverge
    # from the oracle for gaps within 1s of the 30-minute boundary
    new_trip = F.when(
        prev_ts.isNull() | (F.unix_millis(F.col("ts")) - F.unix_millis(prev_ts) > 1_800_000), 1
    ).otherwise(0)
    seg = F.round(
        haversine_km(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")), 6
    )
    seq = pings.withColumn("new_trip", new_trip).withColumn(
        "seg_km", F.when(prev_ts.isNull(), None).otherwise(seg)
    )
    wtrip = Window.partitionBy("vehicle").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    trips = seq.withColumn("trip_id", F.sum("new_trip").over(wtrip))
    return trips.groupBy("vehicle", "trip_id").agg(
        F.count("*").alias("pings"),
        F.date_format(F.date_trunc("second", F.min("ts")), "yyyy-MM-dd HH:mm:ss").alias("trip_start"),
        F.sum(
            F.when(F.col("new_trip") == 1, None).otherwise(F.col("seg_km")).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("trip_km"),
    )


_CMF_VARIANT_ORACLE = """
SELECT concat('dev-', CAST(event_id AS VARCHAR)) AS device_id,
       event_type AS custom1,
       CAST(floor(value * 1000) AS BIGINT) AS custom2
FROM events
WHERE user_id % 37 <> 0
"""


@query("cmf_variant_residue", oracle=_CMF_VARIANT_ORACLE)
def cmf_variant_residue(spark, sf_dir):
    # VERDICT r1 item 4: variant-typed sourceSpecificData end-to-end — raw
    # payloads with unmapped custom fields → REAL translator (residue JSON
    # carries them losslessly) → parse_json into VARIANT → typed
    # variant_get extraction.  One parse, typed paths, no per-access
    # get_json_object string re-parse.
    from pulsar_ingestion_spark.operators.translators import (
        residue_get,
        translate_geotab,
        with_variant_residue,
    )

    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("dev-"), F.col("event_id").cast("string")).alias("Device_ID"),
            F.concat(F.lit("veh-"), F.col("user_id").cast("string")).alias("Vehicle_ID"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("Record_DateTime"),
            F.round(F.col("value"), 6).alias("Latitude"),
            F.round(-F.col("value"), 6).alias("Longitude"),
            F.col("event_type").alias("customGeotabField1"),
            F.floor(F.col("value") * 1000).cast("long").alias("customGeotabField2"),
        )
    )
    payload = F.when(F.col("user_id") % 37 == 0, F.lit("{broken")).otherwise(doc)
    translated = translate_geotab(ev.withColumn("value_json", payload), payload_col="value_json")
    v = with_variant_residue(translated)
    return v.select(
        F.col("cmf.deviceId").alias("device_id"),
        residue_get(v, "ssd_variant", "$.customGeotabField1", "string").alias("custom1"),
        residue_get(v, "ssd_variant", "$.customGeotabField2", "bigint").alias("custom2"),
    )


@query(
    "json_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(j, '$.a.b') AS BIGINT) AS ab,
           CAST(json_extract_string(j, '$.tags[1]') AS VARCHAR) AS tag1
    FROM (
      SELECT event_id,
             concat('{"a": {"b": ', CAST(event_id % 50 AS VARCHAR),
                    '}, "tags": ["', event_type, '", "x"]}') AS j
      FROM events WHERE event_id < 3000
    )
    """,
)
def json_variant(spark, sf_dir):
    # Spark 4 VARIANT: parse once into the binary variant encoding, then
    # typed path extraction — the modern engine-native replacement for
    # repeated get_json_object string parses on sourceSpecificData.
    ev = load_tables(spark, sf_dir)["events"]
    j = F.concat(
        F.lit('{"a": {"b": '),
        (F.col("event_id") % 50).cast("string"),
        F.lit('}, "tags": ["'),
        F.col("event_type"),
        F.lit('", "x"]}'),
    )
    # Version gate (VERDICT r4 #6): VARIANT on Spark 4+, JSON-string
    # fallback (get_json_object per access) elsewhere — same values.
    from pulsar_ingestion_spark.operators.translators import residue_get, variant_supported

    base = ev.filter(F.col("event_id") < 3000)
    if variant_supported(spark):
        v = base.withColumn("v", F.parse_json(j))
    else:
        v = base.withColumn("v", j)
    return v.select(
        "event_id",
        residue_get(v, "v", "$.a.b", "bigint").alias("ab"),
        residue_get(v, "v", "$.tags[1]", "string").alias("tag1"),
    )


@query(
    "text_tokenize_filter",
    oracle=f"""
    SELECT doc_id,
           array_to_string(
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                         w -> NOT list_contains([{', '.join(repr(w) for w in STOPWORDS)}], w)),
             ' ') AS filtered_text,
           len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                           w -> NOT list_contains([{', '.join(repr(w) for w in STOPWORDS)}], w)))
             AS kept_tokens
    FROM documents WHERE doc_id < 100
    """,
)
def text_tokenize_filter(spark, sf_dir):
    # Tokenize + stopword removal — the corpus-cleaning primitive.
    d = load_tables(spark, sf_dir)["documents"]
    words = F.split(F.trim(F.lower("text")), r"\s+")
    kept = F.filter(words, lambda w: ~w.isin(STOPWORDS))
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id",
        F.array_join(kept, " ").alias("filtered_text"),
        F.size(kept).cast("bigint").alias("kept_tokens"),
    )


_LINKAGE_ORACLE = """
WITH golden AS (
  SELECT c_custkey AS key_a, c_nationkey, c_mktsegment,
         concat('cust-', CAST(c_custkey AS VARCHAR)) AS name_a
  FROM customer
), dirty AS (
  SELECT c_custkey AS key_b, c_nationkey, c_mktsegment,
         CASE WHEN c_custkey % 5 = 0
              THEN substring(concat('cust-', CAST(c_custkey AS VARCHAR)), 1,
                             length(concat('cust-', CAST(c_custkey AS VARCHAR))) - 1)
              ELSE concat('cust-', CAST(c_custkey AS VARCHAR)) END AS name_b
  FROM customer
), pairs AS (
  SELECT g.key_a, d.key_b,
         CAST(levenshtein(g.name_a, d.name_b) AS BIGINT) AS dist
  FROM golden g JOIN dirty d
    ON d.c_nationkey = g.c_nationkey AND d.c_mktsegment = g.c_mktsegment
  WHERE levenshtein(g.name_a, d.name_b) <= 1
)
SELECT key_a, key_b, dist,
       CASE WHEN dist = 0 THEN 'exact' ELSE 'fuzzy' END AS match_type
FROM pairs
"""


@query("linkage_blocked_match", oracle=_LINKAGE_ORACLE)
def q_linkage_blocked_match(spark, sf_dir):
    """Record linkage with blocking: a golden customer registry matched
    against a deterministically-dirtied CRM import (every 5th name
    truncated by one char) — candidate pairs are generated ONLY inside
    (nation, segment) blocks, then scored with edit distance ≤ 1.  The
    entity-resolution shape every master-data pipeline runs: blocking
    turns O(n²) comparison into O(Σ b²), identical discipline to the
    LSH dedup family but with a domain block key instead of a hash
    band; the expensive levenshtein runs only on within-block pairs.
    At fleet scale, blocks come from phonetic/sorted-neighborhood keys
    and a second pass unions multiple blockings."""
    cu = load_tables(spark, sf_dir)["customer"]
    name = F.concat(F.lit("cust-"), F.col("c_custkey").cast("string"))
    golden = cu.select(
        F.col("c_custkey").alias("key_a"), "c_nationkey", "c_mktsegment",
        name.alias("name_a"),
    )
    dirty = cu.select(
        F.col("c_custkey").alias("key_b"), "c_nationkey", "c_mktsegment",
        F.when(
            F.col("c_custkey") % 5 == 0,
            F.expr("substring(concat('cust-', CAST(c_custkey AS STRING)), 1,"
                   " length(concat('cust-', CAST(c_custkey AS STRING))) - 1)"),
        ).otherwise(name).alias("name_b"),
    )
    pairs = golden.join(dirty, ["c_nationkey", "c_mktsegment"]).select(
        "key_a", "key_b",
        F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
    )
    return pairs.filter(F.col("dist") <= 1).select(
        "key_a", "key_b", "dist",
        F.when(F.col("dist") == 0, "exact").otherwise("fuzzy").alias("match_type"),
    )
