"""Translator / router queries — the reference's own operators as
hash-checkable batch queries.

Raw payloads are synthesized DETERMINISTICALLY from the `events` table
(FIXTURES.md: "natural home: rows of events where props holds one of these
JSON documents"), pushed through the real translate operators
(from_json → CMF struct), and scalarized.  The DuckDB oracle computes the
same outputs directly from the source columns — so a mismatch means the
translator's parse/map/convert logic is wrong, not the fixture.

A deterministic malformed-payload subset (user_id % 37 == 0) exercises the
drop-don't-fail policy end-to-end: those rows must be absent from output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.filterer import route, tenant_topic
from pulsar_ingestion_spark.operators.legacy import event_type_routing_key, translate_legacy
from pulsar_ingestion_spark.operators.translators import (
    translate_calamp,
    translate_ford,
    translate_geotab,
)
from pulsar_ingestion_spark.registry import query
from pulsar_ingestion_spark.session import fan_out, load_tables

MALFORMED_MOD = 37  # rows with user_id % 37 == 0 get unparseable payloads

# Oracle-side preamble: per-event derived fields shared by the fixtures.
# date_trunc('second') because the synthesized ISO strings are second-precision.
_GEOTAB_ORACLE = f"""
SELECT concat('veh-', CAST(user_id AS VARCHAR)) AS vehicle_id,
       concat('dev-', CAST(event_id AS VARCHAR)) AS device_id,
       strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%SZ') AS date_time,
       epoch_ms(date_trunc('second', ts)) AS epoch_source,
       'Geotab' AS source_type,
       concat('veh-', CAST(user_id AS VARCHAR)) AS partition_key,
       round(value, 6) AS lat,
       round(-value, 6) AS lon,
       CASE WHEN event_type = 'click' THEN 'ON'
            WHEN event_type = 'view' THEN 'OFF'
            ELSE 'UNKNOWN' END AS ignition,
       CASE WHEN event_type = 'purchase' THEN round(value * 100, 3) END AS odometer_mi
FROM events
WHERE user_id % {MALFORMED_MOD} <> 0
"""


def _geotab_payloads(ev):
    """Synthesize Geotab raw JSON from events rows; user_id%37==0 → malformed."""
    raw_ignition = F.when(F.col("event_type") == "click", F.lit("on")).when(
        F.col("event_type") == "view", F.lit("OFF")
    ).otherwise(F.lit("ajar"))  # 'ajar' is not in the closed set → UNKNOWN
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("dev-"), F.col("event_id").cast("string")).alias("Device_ID"),
            F.concat(F.lit("veh-"), F.col("user_id").cast("string")).alias("Vehicle_ID"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("Record_DateTime"),
            F.round(F.col("value"), 6).alias("Latitude"),
            F.round(-F.col("value"), 6).alias("Longitude"),
            F.when(F.col("event_type") == "purchase", F.round(F.col("value") * 100, 3)).alias("Odometer_mi"),
            raw_ignition.alias("Ignition_Status"),
        )
    )
    payload = F.when(F.col("user_id") % MALFORMED_MOD == 0, F.lit('{"Device_ID": "broken"')).otherwise(doc)
    return ev.withColumn("value_json", payload)


@query("cmf_translate_geotab", oracle=_GEOTAB_ORACLE)
def cmf_translate_geotab(spark, sf_dir, _passthrough=()):
    # _passthrough: source-row columns to retain alongside the CMF fields
    # (used by the warehouse build so downstream composites can join on
    # source keys without re-running the translator).
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    translated = translate_geotab(_geotab_payloads(ev), tenant="acme", payload_col="value_json")
    c = F.col
    return translated.select(
        *[c(x) for x in _passthrough],
        c("cmf.vehicleId").alias("vehicle_id"),
        c("cmf.deviceId").alias("device_id"),
        c("cmf.dateTime").alias("date_time"),
        c("cmf.epochSource").alias("epoch_source"),
        c("cmf.sourceType").alias("source_type"),
        c("cmf.partitionKey").alias("partition_key"),
        c("cmf.telemetry.location.lat").alias("lat"),
        c("cmf.telemetry.location.lon").alias("lon"),
        c("cmf.telemetry.ignitionStatus").alias("ignition"),
        c("cmf.telemetry.odometerCanMi").alias("odometer_mi"),
    )


_CALAMP_ORACLE = f"""
SELECT concat('cal-veh-', CAST(user_id AS VARCHAR)) AS vehicle_id,
       concat('unit-', CAST(event_id AS VARCHAR)) AS device_id,
       CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS epoch_source,
       strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%SZ') AS date_time,
       'CalAmp' AS source_type,
       round(value / 10, 6) AS speed_mph,
       round(value, 6) AS lat
FROM events
WHERE user_id % {MALFORMED_MOD} <> 0
"""


@query("cmf_translate_calamp", oracle=_CALAMP_ORACLE)
def cmf_translate_calamp(spark, sf_dir):
    # msg_ts carried as epoch SECONDS — the ×1000 codec (CalAmpTranslator.kt:100)
    # is what the oracle's floor(epoch(ts))*1000 checks.
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("unit-"), F.col("event_id").cast("string")).alias("unit_id"),
            F.concat(F.lit("cal-veh-"), F.col("user_id").cast("string")).alias("vid"),
            F.unix_timestamp(F.col("ts")).alias("msg_ts"),
            F.round(F.col("value"), 6).alias("gps_lat"),
            F.round(-F.col("value"), 6).alias("gps_lon"),
            F.round(F.col("value") / 10, 6).alias("speed_mph"),
        )
    )
    payload = F.when(F.col("user_id") % MALFORMED_MOD == 0, F.lit("%%not-json%%")).otherwise(doc)
    translated = translate_calamp(ev.withColumn("value_json", payload), payload_col="value_json")
    c = F.col
    return translated.select(
        c("cmf.vehicleId").alias("vehicle_id"),
        c("cmf.deviceId").alias("device_id"),
        c("cmf.epochSource").alias("epoch_source"),
        c("cmf.dateTime").alias("date_time"),
        c("cmf.sourceType").alias("source_type"),
        c("cmf.telemetry.speedGpsMph").alias("speed_mph"),
        c("cmf.telemetry.location.lat").alias("lat"),
    )


_FORD_ORACLE = f"""
SELECT concat('vin-', CAST(user_id AS VARCHAR)) AS vehicle_id,
       concat('esn-', CAST(event_id AS VARCHAR)) AS device_id,
       epoch_ms(ts) AS epoch_source,
       CAST(floor(value * 10) AS BIGINT) * 1.0 AS engine_rpm,
       round(value, 6) AS lat,
       strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%SZ') AS loc_ts
FROM events
WHERE user_id % {MALFORMED_MOD} <> 0
"""


@query("cmf_translate_ford", oracle=_FORD_ORACLE)
def cmf_translate_ford(spark, sf_dir):
    # captureTime at full millisecond precision; coords.ts second-truncated;
    # rpm int → double widening is the checked behavior (FordTranslator.kt:127).
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("vin-"), F.col("user_id").cast("string")).alias("vin"),
            F.concat(F.lit("esn-"), F.col("event_id").cast("string")).alias("esn"),
            F.unix_millis(F.col("ts")).alias("captureTime"),
            F.struct(
                F.round(F.col("value"), 6).alias("latValue"),
                F.round(-F.col("value"), 6).alias("lonValue"),
                (F.unix_timestamp(F.col("ts")) * 1000).alias("ts"),
            ).alias("coords"),
            F.floor(F.col("value") * 10).cast("long").alias("rpm"),
        )
    )
    payload = F.when(F.col("user_id") % MALFORMED_MOD == 0, F.lit('{"vin": "only"}')).otherwise(doc)
    translated = translate_ford(ev.withColumn("value_json", payload), payload_col="value_json")
    c = F.col
    return translated.select(
        c("cmf.vehicleId").alias("vehicle_id"),
        c("cmf.deviceId").alias("device_id"),
        c("cmf.epochSource").alias("epoch_source"),
        c("cmf.telemetry.engineRpm").alias("engine_rpm"),
        c("cmf.telemetry.location.lat").alias("lat"),
        c("cmf.telemetry.location.timestamp").alias("loc_ts"),
    )


_LEGACY_ORACLE = """
SELECT 'payment-gateway' AS source,
       'PAYMENT_EVENT' AS event_type_out,
       strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%SZ') AS event_ts,
       concat('txn-', CAST(event_id AS VARCHAR)) AS txn_id,
       round(value, 2) AS amount
FROM events
WHERE value IS NOT NULL
"""


@query("event_translate_payment", oracle=_LEGACY_ORACLE)
def event_translate_payment(spark, sf_dir):
    # PaymentNotice contract: ISO pass-through timestamp, constants, data
    # verbatim (TranslatorsIntegrationTest.kt:327-347).
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("txn-"), F.col("event_id").cast("string")).alias("txnId"),
            F.round(F.col("value"), 2).alias("amount"),
            F.lit("USD").alias("currency"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("time"),
        )
    )
    out = translate_legacy(ev.withColumn("value_json", doc), "payment_notice", payload_col="value_json")
    parsed = F.from_json(F.col("data"), "txnId string, amount double, currency string, time string")
    return out.select(
        F.col("source"),
        F.col("eventType").alias("event_type_out"),
        F.col("timestamp").alias("event_ts"),
        parsed.getField("txnId").alias("txn_id"),
        parsed.getField("amount").alias("amount"),
    )


_USER_ORACLE = """
SELECT 'user-service' AS source,
       'USER_PROFILE_EVENT' AS event_type_out,
       strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%SZ') AS event_ts,
       user_id AS uid
FROM events
"""


@query("event_translate_user", oracle=_USER_ORACLE)
def event_translate_user(spark, sf_dir):
    # UserProfile contract: epoch-seconds → ISO codec
    # (TranslatorsIntegrationTest.kt:259-280).
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    doc = F.to_json(
        F.struct(
            F.col("user_id").alias("uid"),
            F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("name"),
            F.unix_timestamp(F.col("ts")).alias("created"),
        )
    )
    out = translate_legacy(ev.withColumn("value_json", doc), "user_profile", payload_col="value_json")
    parsed = F.from_json(F.col("data"), "uid bigint, name string, created bigint")
    return out.select(
        F.col("source"),
        F.col("eventType").alias("event_type_out"),
        F.col("timestamp").alias("event_ts"),
        parsed.getField("uid").alias("uid"),
    )


_ROUTE_ORACLE = """
SELECT concat('persistent://', concat('tenant-', CAST(user_id % 7 AS VARCHAR)),
              '/integration/telemetry') AS topic,
       count(*) AS msg_cnt
FROM events
WHERE user_id % 11 <> 0
GROUP BY 1
"""


@query("route_tenant", oracle=_ROUTE_ORACLE)
def route_tenant(spark, sf_dir):
    # Filterer end-to-end: synthesize CMF JSON where ~1/11 of records carry a
    # blank tenant (must be dropped), route the rest, count per destination.
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    tenant = F.when(F.col("user_id") % 11 == 0, F.lit("  ")).otherwise(
        F.concat(F.lit("tenant-"), (F.col("user_id") % 7).cast("string"))
    )
    cmf_json = F.to_json(
        F.struct(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("dateTime"),
            F.concat(F.lit("veh-"), F.col("user_id").cast("string")).alias("vehicleId"),
            F.struct(tenant.alias("tenantId")).alias("meta"),
        )
    )
    routed = route(ev.withColumn("value", cmf_json))
    return routed.groupBy(tenant_topic().alias("topic")).agg(F.count("*").alias("msg_cnt"))


_SPLIT_ORACLE = """
SELECT CASE event_type
         WHEN 'click' THEN 'USER_PROFILE_EVENT'
         WHEN 'view' THEN 'ORDER_EVENT'
         WHEN 'purchase' THEN 'PAYMENT_EVENT'
         WHEN 'signup' THEN 'INVENTORY_EVENT'
         ELSE 'SHIPMENT_EVENT' END AS event_type_out,
       concat('fn-split-',
              regexp_replace(lower(CASE event_type
                WHEN 'click' THEN 'USER_PROFILE_EVENT'
                WHEN 'view' THEN 'ORDER_EVENT'
                WHEN 'purchase' THEN 'PAYMENT_EVENT'
                WHEN 'signup' THEN 'INVENTORY_EVENT'
                ELSE 'SHIPMENT_EVENT' END), '[^a-z0-9-]+', '-', 'g')) AS dest_topic,
       count(*) AS cnt
FROM events
GROUP BY 1, 2
"""


@query("route_event_type_split", oracle=_SPLIT_ORACLE)
def route_event_type_split(spark, sf_dir):
    # EventTypeSplitter: sanitize key → fn-split-<key> (filterer/README.md:31-35).
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    etype = (
        F.when(F.col("event_type") == "click", "USER_PROFILE_EVENT")
        .when(F.col("event_type") == "view", "ORDER_EVENT")
        .when(F.col("event_type") == "purchase", "PAYMENT_EVENT")
        .when(F.col("event_type") == "signup", "INVENTORY_EVENT")
        .otherwise("SHIPMENT_EVENT")
    )
    keyed = event_type_routing_key(ev.withColumn("eventType", etype))
    return (
        keyed.withColumn("dest_topic", F.concat(F.lit("fn-split-"), F.col("routing_key")))
        .groupBy(F.col("eventType").alias("event_type_out"), "dest_topic")
        .agg(F.count("*").alias("cnt"))
    )


_TENANT_USAGE_ORACLE = """
WITH cmf AS (
  SELECT concat('tenant-', CAST(user_id % 7 AS VARCHAR)) AS tenant_id,
         concat('veh-', CAST(user_id AS VARCHAR)) AS vehicle_id,
         length(concat('{"dateTime":"', strftime(ts AT TIME ZONE 'UTC', '%Y-%m-%dT%H:%M:%SZ'),
                       '","vehicleId":"veh-', CAST(user_id AS VARCHAR), '"}')) AS n_bytes,
         CAST(event_id % 997 AS DOUBLE) AS latency_ms
  FROM events WHERE user_id % 11 <> 0
)
SELECT tenant_id,
       count(*) AS msg_cnt,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       count(DISTINCT vehicle_id) AS n_vehicles,
       round(quantile_cont(latency_ms, 0.5), 4) AS p50_latency_ms,
       round(quantile_cont(latency_ms, 0.95), 4) AS p95_latency_ms
FROM cmf GROUP BY tenant_id
"""


@query("tenant_usage_report", oracle=_TENANT_USAGE_ORACLE)
def q_tenant_usage_report(spark, sf_dir):
    """Per-tenant usage/billing rollup over the routed CMF stream — the
    ops report the reference's multi-tenant landing (Filterer → tenant
    topics) feeds every day: message count, payload bytes, distinct
    vehicles, and ingest-latency percentiles per tenant (latency
    synthesized deterministically from event_id; in production it's
    sink_ts - source_ts).  Routing semantics mirror route_tenant: blank
    tenants (user_id % 11 = 0) are dropped before accounting.  One
    shuffle on tenant_id with map-side partials; distinct vehicles uses
    the exact count here (per-tenant cardinality is bounded), switching
    to approx_count_distinct at fleet scale."""
    ev = fan_out(load_tables(spark, sf_dir)["events"], spark)
    routable = ev.filter(F.col("user_id") % 11 != 0)
    payload = F.concat(
        F.lit('{"dateTime":"'),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit('","vehicleId":"veh-'),
        F.col("user_id").cast("string"),
        F.lit('"}'),
    )
    cmf = routable.select(
        F.concat(F.lit("tenant-"), (F.col("user_id") % 7).cast("string")).alias("tenant_id"),
        F.concat(F.lit("veh-"), F.col("user_id").cast("string")).alias("vehicle_id"),
        F.length(payload).alias("n_bytes"),
        (F.col("event_id") % 997).cast("double").alias("latency_ms"),
    )
    return cmf.groupBy("tenant_id").agg(
        F.count("*").alias("msg_cnt"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.countDistinct("vehicle_id").alias("n_vehicles"),
        F.round(F.expr("percentile(latency_ms, 0.5)"), 4).alias("p50_latency_ms"),
        F.round(F.expr("percentile(latency_ms, 0.95)"), 4).alias("p95_latency_ms"),
    )
