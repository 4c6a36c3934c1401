"""Legacy CommonEvent translator contracts (TranslatorsIntegrationTest.kt:259-370)
and the Filterer routing matrix (FiltererTest.kt:100-193, FIXTURES.md §5)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.filterer import (
    append_tenant_dirs,
    extract_tenant,
    filter_routable,
    route,
    tenant_topic,
)
from pulsar_ingestion_spark.operators.legacy import (
    event_type_routing_key,
    translate_legacy,
)


def _df(spark, *payloads):
    return spark.createDataFrame([(p,) for p in payloads], "value string")


def test_user_profile_contract(spark):
    payload = json.dumps({"uid": 42, "name": "Alice", "created": 1700000000})
    out = translate_legacy(_df(spark, payload), "user_profile").collect()
    assert len(out) == 1
    r = out[0]
    assert r["source"] == "user-service"
    assert r["eventType"] == "USER_PROFILE_EVENT"
    assert r["timestamp"] == "2023-11-14T22:13:20Z"  # epoch-s → ISO
    assert r["data"] == payload  # original input pass-through
    assert r["eventId"] and len(r["eventId"]) > 0


def test_payment_notice_iso_passthrough(spark):
    payload = json.dumps({
        "txnId": "t-1", "amount": 99.5, "currency": "USD",
        "time": "2024-01-15T08:30:00Z",
    })
    r = translate_legacy(_df(spark, payload), "payment_notice").collect()[0]
    assert r["source"] == "payment-gateway"
    assert r["eventType"] == "PAYMENT_EVENT"
    assert r["timestamp"] == "2024-01-15T08:30:00Z"  # ISO pass-through, no reformat


def test_order_inventory_shipment_contracts(spark):
    cases = [
        ("order_record",
         json.dumps({"orderId": "o1", "items": ["a", "b"], "placedAt": "2024-02-01T00:00:00Z"}),
         ("order-service", "ORDER_EVENT", "2024-02-01T00:00:00Z")),
        ("inventory_update",
         json.dumps({"sku": "s1", "qty": 5, "updateTime": 1700000000}),
         ("inventory-service", "INVENTORY_EVENT", "2023-11-14T22:13:20Z")),
        ("shipment_status",
         json.dumps({"shipId": "sh1", "status": "DELIVERED", "deliveredAt": 1700000000}),
         ("shipping-service", "SHIPMENT_EVENT", "2023-11-14T22:13:20Z")),
    ]
    for kind, payload, (src, etype, ts) in cases:
        r = translate_legacy(_df(spark, payload), kind).collect()[0]
        assert (r["source"], r["eventType"], r["timestamp"]) == (src, etype, ts)
        assert r["data"] == payload


def test_legacy_malformed_dropped(spark):
    assert translate_legacy(_df(spark, '{"uid": 1}', "junk"), "user_profile").count() == 0


def test_event_type_splitter_key(spark):
    df = spark.createDataFrame([("USER_PROFILE_EVENT",)], "eventType string")
    r = event_type_routing_key(df).collect()[0]
    assert r["routing_key"] == "user-profile-event"  # filterer/README.md:33-35


def _cmf_with_meta(meta) -> str:
    doc = {"dateTime": "2023-10-26T10:00:00Z", "vehicleId": "v1"}
    if meta is not ...:
        doc["meta"] = meta
    return json.dumps(doc)


def test_filterer_routing_matrix(spark):
    routed = _cmf_with_meta({"tenantId": "acme-corp"})
    cases = [
        (routed, True),
        (_cmf_with_meta({"tenantId": None}), False),
        (_cmf_with_meta({"tenantId": "   "}), False),   # blank
        (_cmf_with_meta({}), False),                     # field absent
        (_cmf_with_meta(...), False),                    # meta absent
        ("{not valid json", False),                      # malformed → drop, no crash
    ]
    df = _df(spark, *[c[0] for c in cases])
    out = filter_routable(extract_tenant(df))
    rows = out.withColumn("topic", tenant_topic()).collect()
    assert len(rows) == 1
    assert rows[0]["value"] == routed  # byte-identical passthrough
    assert rows[0]["topic"] == "persistent://acme-corp/integration/telemetry"


def test_prepare_kafka_routing(spark, tmp_path):
    """Per-row Kafka topics come from a pipeline publish with a Kafka-safe
    template (Kafka topic names forbid '/'); the configured sink is read
    back without a broker."""
    from pulsar_ingestion_spark.plans.pipeline import PipelineSpec, SourceSpec, _publish_writer

    spec = PipelineSpec(
        sources=[SourceSpec(kind="jsonl", translator="geotab")],
        output_path=str(tmp_path / "unused"),
        publish={"kind": "kafka", "topic_template": "{tenant}.integration.telemetry",
                 "bootstrap_servers": "k:9092"},
    )
    df = _df(spark, _cmf_with_meta({"tenantId": "acme-corp"}), _cmf_with_meta({}))
    w = _publish_writer(route(df), spec, streaming=False)
    out = w._df.collect()
    assert sorted(w._df.columns) == ["topic", "value"]
    assert len(out) == 1  # unroutable dropped
    assert out[0]["topic"] == "acme-corp.integration.telemetry"
    assert out[0]["value"] == _cmf_with_meta({"tenantId": "acme-corp"})  # byte passthrough


def test_route_to_tenant_dirs(spark, tmp_path):
    payloads = [
        _cmf_with_meta({"tenantId": "t1"}),
        _cmf_with_meta({"tenantId": "t2"}),
        _cmf_with_meta({"tenantId": "t1"}),
        _cmf_with_meta({}),
    ]
    base = str(tmp_path / "routed")
    append_tenant_dirs(route(_df(spark, *payloads)), base)
    back = spark.read.parquet(base)
    assert back.count() == 3
    assert {r["tenantId"] for r in back.select("tenantId").distinct().collect()} == {"t1", "t2"}
    t1 = spark.read.parquet(base + "/tenantId=t1")
    assert t1.count() == 2
    assert sorted(r["value"] for r in t1.collect()) == [payloads[0], payloads[2]]
