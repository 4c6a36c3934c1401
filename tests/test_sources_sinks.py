"""Source registry kinds + native (transactional) streaming sink."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from pulsar_ingestion_spark.plans.pipeline import PipelineSpec, SourceSpec, run_pipeline
from pulsar_ingestion_spark.sources.registry import open_source


def test_csv_batch_source(spark, tmp_path):
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "a.csv").write_text("id,name\n1,alpha\n2,beta\n")
    df = open_source(spark, "csv", streaming=False, path=str(tmp_path / "c"), header=True)
    rows = {(r["id"], r["name"]) for r in df.collect()}
    assert rows == {("1", "alpha"), ("2", "beta")}


def test_json_streaming_source(spark, tmp_path):
    (tmp_path / "j").mkdir()
    (tmp_path / "j" / "a.json").write_text('{"id": 1, "v": "x"}\n{"id": 2, "v": "y"}\n')
    df = open_source(
        spark, "json", streaming=True, path=str(tmp_path / "j"), schema="id long, v string"
    )
    assert df.isStreaming
    q = (
        df.writeStream.format("memory").queryName("jsrc").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    assert spark.sql("SELECT count(*) c FROM jsrc").collect()[0]["c"] == 2


def test_dead_letter_stream(spark, tmp_path):
    (tmp_path / "geo").mkdir()
    (tmp_path / "geo" / "a.jsonl").write_text(
        json.dumps({
            "Device_ID": "ok", "Vehicle_ID": "v1",
            "Record_DateTime": "2024-02-02T08:00:00.000Z",
            "Latitude": 5.0, "Longitude": 6.0,
        }) + "\n" + '{"Device_ID": "missing everything"}' + "\n" + "{garbage\n"
    )
    spec = PipelineSpec(
        sources=[SourceSpec(kind="jsonl", translator="geotab",
                            options={"path": str(tmp_path / "geo")}, tenant="t-dl")],
        output_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        dead_letter_path=str(tmp_path / "dead"),
    )
    q = run_pipeline(spark, spec, streaming=True)
    # ADVICE r1: both query handles must be returned and awaitable.
    assert q.dead_letter is not None
    q.awaitTermination(120)
    assert not q.isActive
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1
    dead = spark.read.parquet(str(tmp_path / "dead")).collect()
    assert len(dead) == 2
    assert {r["translator"] for r in dead} == {"geotab"}
    assert {r["value"] for r in dead} == {'{"Device_ID": "missing everything"}', "{garbage"}


class _StubQuery:
    """StreamingQuery stand-in that terminates ``after`` seconds from now
    (never when None); rejects a non-positive timeout as PySpark does."""

    def __init__(self, after):
        self.end = None if after is None else time.monotonic() + after

    @property
    def isActive(self):  # noqa: N802
        return self.end is None or time.monotonic() < self.end

    def awaitTermination(self, timeout):  # noqa: N802
        if timeout <= 0:
            raise ValueError("timeout must be positive")
        until = time.monotonic() + timeout
        if self.end is not None:
            until = min(until, self.end)
        time.sleep(max(0.0, until - time.monotonic()))
        return not self.isActive


def test_pipeline_run_await_shares_one_deadline():
    """The main query ends inside the timeout and the dead-letter query
    never does: the run has not terminated, and the call returns after
    about ``timeout`` seconds, not twice that."""
    from pulsar_ingestion_spark.plans.pipeline import PipelineRun

    run = PipelineRun(_StubQuery(0.6), _StubQuery(None))
    t0 = time.monotonic()
    assert run.awaitTermination(1.0) is False
    assert time.monotonic() - t0 < 1.4
    both = PipelineRun(_StubQuery(0.2), _StubQuery(0.4))
    assert both.awaitTermination(1.0) is True
    with pytest.raises(ValueError):
        both.awaitTermination(0)


def test_pipeline_observed_metrics(spark, tmp_path):
    (tmp_path / "geo").mkdir()
    (tmp_path / "geo" / "a.jsonl").write_text(
        "\n".join(
            json.dumps({
                "Device_ID": f"d{i}", "Vehicle_ID": f"v{i}",
                "Record_DateTime": "2024-02-02T08:00:00.000Z",
                "Latitude": 1.0, "Longitude": 2.0,
            }) for i in range(5)
        ) + "\n"
    )
    spec = PipelineSpec(
        sources=[SourceSpec(kind="jsonl", translator="geotab",
                            options={"path": str(tmp_path / "geo")}, tenant="t-obs")],
        output_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q = run_pipeline(spark, spec, streaming=True)
    q.awaitTermination(120)
    progress = q.lastProgress
    observed = progress["observedMetrics"]["route_metrics"]
    assert observed["routed"] == 5
    assert observed["tenants"] == 1


def _sink_mode_inputs(tmp_path) -> list[SourceSpec]:
    """Two routable Geotab records plus one malformed line under tenant
    ``t-a``, and a CalAmp source whose tenant is blank (unroutable)."""
    (tmp_path / "geo").mkdir()
    (tmp_path / "geo" / "a.jsonl").write_text("\n".join(
        [json.dumps({
            "Device_ID": f"d{i}", "Vehicle_ID": f"v{i}",
            "Record_DateTime": "2024-02-02T08:00:00.000Z",
            "Latitude": 5.0, "Longitude": 6.0,
        }) for i in range(2)] + ["{garbage"]
    ) + "\n")
    (tmp_path / "cal").mkdir()
    (tmp_path / "cal" / "a.jsonl").write_text(json.dumps(
        {"unit_id": "u1", "vid": "v9", "msg_ts": 1698827400,
         "gps_lat": 3.0, "gps_lon": 4.0}
    ) + "\n")
    return [
        SourceSpec(kind="jsonl", translator="geotab",
                   options={"path": str(tmp_path / "geo")}, tenant="t-a"),
        SourceSpec(kind="jsonl", translator="calamp",
                   options={"path": str(tmp_path / "cal")}, tenant="  "),
    ]


def _landed_rows(spark, mode: str, out: str, topics: str) -> list[tuple]:
    if mode == "versioned":
        from pulsar_ingestion_spark.operators.versioned import VersionedTable

        df = VersionedTable(out).read(spark)
    elif mode == "publish":
        df = spark.read.format("text").load(topics).select(
            F.regexp_replace("topic", "^tenant-", "").alias("tenantId"), "value"
        )
    else:
        df = spark.read.parquet(out)
    return sorted((r["tenantId"], r["value"]) for r in df.collect())


@pytest.mark.parametrize("mode,streaming", [
    ("foreachBatch", True), ("native", True), ("versioned", True),
    ("publish", True), ("foreachBatch", False),
], ids=["foreachBatch", "native", "versioned", "publish-jsonl", "batch"])
def test_sink_modes_dead_letters_once_and_routed_rows(spark, tmp_path, mode, streaming):
    """Every sink choice shares one dead-letter path: the malformed line
    lands in the dead-letter sink exactly once (also across a streaming
    restart on the same checkpoint), the blank-tenant source is dropped,
    and the routed rows are the Filterer's view of the CMF wire JSON."""
    from pulsar_ingestion_spark.operators.filterer import extract_tenant, filter_routable
    from pulsar_ingestion_spark.plans.pipeline import build_cmf_stream

    out, topics = str(tmp_path / "out"), str(tmp_path / "topics")
    spec = PipelineSpec(
        sources=_sink_mode_inputs(tmp_path),
        output_path=out,
        checkpoint=str(tmp_path / "ckpt") if streaming else None,
        dead_letter_path=str(tmp_path / "dead"),
        sink_mode=mode if mode != "publish" else "foreachBatch",
        publish={"kind": "jsonl", "path": topics} if mode == "publish" else None,
    )
    wire, _ = build_cmf_stream(spark, spec, streaming=False)
    expected = sorted(
        (r["tenantId"], r["value"])
        for r in filter_routable(extract_tenant(wire)).select("tenantId", "value").collect()
    )
    assert len(expected) == 2 and {t for t, _ in expected} == {"t-a"}

    for _ in range(2 if streaming else 1):
        q = run_pipeline(spark, spec, streaming=streaming)
        if streaming:
            assert q.dead_letter is not None
            q.awaitTermination(120)
            assert not q.isActive
        else:
            assert q is None
        dead = spark.read.parquet(str(tmp_path / "dead")).collect()
        assert [(r["source_kind"], r["translator"], r["value"]) for r in dead] == [
            ("jsonl", "geotab", "{garbage")
        ]
        assert _landed_rows(spark, mode, out, topics) == expected


def test_event_type_split_sink(spark, tmp_path):
    from pulsar_ingestion_spark.operators.legacy import route_by_event_type

    df = spark.createDataFrame(
        [("USER_PROFILE_EVENT", "p1"), ("ORDER_EVENT", "p2"), ("USER_PROFILE_EVENT", "p3")],
        "eventType string, data string",
    )
    base = str(tmp_path / "split")
    route_by_event_type(df, base)
    back = spark.read.parquet(base)
    assert back.count() == 3
    keys = {r["routing_key"] for r in back.select("routing_key").distinct().collect()}
    assert keys == {"user-profile-event", "order-event"}


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Additive schema evolution at rest: old files without a column and
    new files with it read together under mergeSchema."""
    base = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode("append").parquet(base)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(base)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    rows = {(r["id"], r["name"], r["score"]) for r in merged.collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}


def test_native_sink_exactly_once(spark, tmp_path):
    (tmp_path / "geo").mkdir()
    (tmp_path / "geo" / "a.jsonl").write_text(
        json.dumps({
            "Device_ID": "d1", "Vehicle_ID": "v1",
            "Record_DateTime": "2024-02-02T08:00:00.000Z",
            "Latitude": 5.0, "Longitude": 6.0,
        }) + "\n"
    )
    spec = PipelineSpec(
        sources=[SourceSpec(kind="jsonl", translator="geotab",
                            options={"path": str(tmp_path / "geo")}, tenant="t-native")],
        output_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        sink_mode="native",
    )
    q = run_pipeline(spark, spec, streaming=True)
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 1
    assert out.collect()[0]["tenantId"] == "t-native"
    # restart against same checkpoint: the commit log must prevent re-output
    q2 = run_pipeline(spark, spec, streaming=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1


def test_streaming_pipeline_without_checkpoint_raises(spark, tmp_path):
    """The checkpoint is checked with a real exception (an ``assert`` is
    stripped under ``python -O``) before any source is opened."""
    (tmp_path / "geo").mkdir()
    spec = PipelineSpec(
        sources=[SourceSpec(kind="jsonl", translator="geotab",
                            options={"path": str(tmp_path / "geo")})],
        output_path=str(tmp_path / "out"),
        dead_letter_path=str(tmp_path / "dead"),
    )
    active = [q.id for q in spark.streams.active]
    with pytest.raises(ValueError, match="checkpoint"):
        run_pipeline(spark, spec, streaming=True)
    assert [q.id for q in spark.streams.active] == active
    assert not (tmp_path / "out").exists() and not (tmp_path / "dead").exists()


def test_empty_pipeline_spec_raises(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="sources is empty"):
        run_pipeline(
            spark,
            PipelineSpec(sources=[], output_path=str(tmp_path / "out")),
            streaming=False,
        )


def test_drop_table_location_is_database_aware(spark, tmp_path):
    """Dropping db.tbl must clean <warehouse>/db.db/tbl and must NOT
    delete an unrelated default-database table of the same name
    (ADVICE r2)."""
    import os

    from pulsar_ingestion_spark.operators.storage import write_cmf_warehouse

    def write(df, table):
        write_cmf_warehouse(df, table, date_col="d", key_col="k", num_buckets=2)

    df = spark.range(5).withColumnRenamed("id", "k").withColumn("d", F.lit("2024-01-01"))
    spark.sql("CREATE DATABASE IF NOT EXISTS auxdb")
    write(df, "auxdb.samename")
    write(df, "samename")
    # re-writing the db-qualified table must leave the default-db twin alive
    write(df.withColumn("k", df["k"] + 10), "auxdb.samename")
    assert spark.table("samename").count() == 5
    assert {r["k"] for r in spark.table("auxdb.samename").collect()} == set(range(10, 15))
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    assert os.path.isdir(os.path.join(wh, "auxdb.db", "samename"))


def test_orc_source_roundtrip_batch_and_stream(spark, tmp_path):
    """ORC is a first-class columnar source (built into Spark): batch and
    streaming reads must surface the same typed rows parquet would."""
    from pyspark.sql import functions as F

    from pulsar_ingestion_spark.sources.registry import open_source

    src = spark.range(0, 100).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id").cast("string")).alias("payload")
    )
    src.write.mode("overwrite").orc(str(tmp_path / "o"))

    batch = open_source(spark, "orc", streaming=False, path=str(tmp_path / "o"),
                        value_col="payload")
    rows = batch.orderBy("id").collect()
    assert len(rows) == 100 and rows[7]["value"] == "v7"

    stream = open_source(spark, "orc", streaming=True, path=str(tmp_path / "o"),
                         value_col="payload")
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("orc_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM orc_t").collect()[0]["n"]
    assert got == 100


def test_native_sink_crash_recovery_exactly_once(spark, tmp_path):
    """Checkpoint kill-and-restart (SURVEY §4.4 consistency claim): feed
    12 single-file micro-batches through the native (transactional file)
    sink, kill the query mid-stream after at least one commit, restart
    from the same checkpoint, and assert every record appears EXACTLY
    once — the _spark_metadata commit log must hide any files from the
    interrupted epoch and the restart must not re-emit committed epochs."""
    import time

    n_files, rows_per_file = 12, 25
    src = tmp_path / "geo"
    src.mkdir()
    for i in range(n_files):
        lines = [
            json.dumps({
                "Device_ID": f"d{i}-{j}", "Vehicle_ID": f"v{i}-{j}",
                "Record_DateTime": "2024-02-02T08:00:00.000Z",
                "Latitude": 5.0, "Longitude": 6.0,
            })
            for j in range(rows_per_file)
        ]
        (src / f"{i:02d}.jsonl").write_text("\n".join(lines) + "\n")

    spec = PipelineSpec(
        sources=[SourceSpec(kind="jsonl", translator="geotab",
                            options={"path": str(src), "maxFilesPerTrigger": 1},
                            tenant="t-crash")],
        output_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        sink_mode="native",
    )
    q = run_pipeline(spark, spec, streaming=True)
    # kill mid-stream: wait for >=1 committed micro-batch, then stop —
    # any in-flight epoch is interrupted before its commit-log entry
    deadline = time.time() + 120
    while time.time() < deadline:
        progress = q.main.recentProgress
        if sum(p["numInputRows"] for p in progress) >= rows_per_file:
            break
        time.sleep(0.05)
    q.stop()
    pre_kill = spark.read.parquet(str(tmp_path / "out")).count()
    assert pre_kill < n_files * rows_per_file, "kill happened after full drain"

    # restart from the same checkpoint: drain the rest
    q2 = run_pipeline(spark, spec, streaming=True)
    q2.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == n_files * rows_per_file
    # no record lost, none duplicated
    per_key = (
        out.select(F.get_json_object("value", "$.deviceId").alias("k"))
        .groupBy("k").count().collect()
    )
    assert len(per_key) == n_files * rows_per_file
    assert max(r["count"] for r in per_key) == 1


# --- pulsar passthrough (VERDICT r9 item 1) -------------------------------


def test_pulsar_reader_option_mapping():
    """Reader-config contract (kafka-passthrough precedent): friendly
    snake_case names map onto the pulsar-spark connector's option keys;
    raw dotted/camelCase keys pass through verbatim."""
    from pulsar_ingestion_spark.sources.registry import pulsar_reader_options

    mapped = pulsar_reader_options({
        "service_url": "pulsar://broker:6650",
        "admin_url": "http://broker:8080",
        "topic": "raw-pulsar-events",
        "starting_offsets": "earliest",
        "pulsar.client.authPluginClassName": "X",
    })
    assert mapped == {
        "service.url": "pulsar://broker:6650",
        "admin.url": "http://broker:8080",
        "topics": "raw-pulsar-events",
        "startingOffsets": "earliest",
        "pulsar.client.authPluginClassName": "X",
    }
    import pytest

    with pytest.raises(ValueError, match="service_url"):
        pulsar_reader_options({"topic": "t"})


def test_kafka_reader_option_mapping():
    from pulsar_ingestion_spark.sources.registry import kafka_reader_options

    mapped = kafka_reader_options({
        "bootstrap_servers": "k:9092",
        "topic": "raw-kafka-events",
        "starting_offsets": "earliest",
        "kafka.security.protocol": "SSL",
    })
    assert mapped == {
        "kafka.bootstrap.servers": "k:9092",
        "subscribe": "raw-kafka-events",
        "startingOffsets": "earliest",
        "kafka.security.protocol": "SSL",
    }


def test_pulsar_writer_option_mapping_and_dynamic_topic(spark):
    """Sink config: fixed topic maps through; topic_column= switches to
    the connector's __topic per-record routing attribute (the dynamic
    per-tenant publish — Filterer semantics).  Writers are configured but
    never started (no broker locally)."""
    from pulsar_ingestion_spark.sources.registry import (
        open_topic_sink,
        pulsar_writer_options,
    )

    assert pulsar_writer_options({"service_url": "pulsar://b:6650", "topic": "t"}) == {
        "service.url": "pulsar://b:6650", "topic": "t",
    }
    df = spark.createDataFrame(
        [("acme", '{"k":1}')], "tenantId string, value string"
    )
    w = open_topic_sink(
        df, "pulsar", streaming=False,
        topic_column="tenantId", service_url="pulsar://b:6650",
    )
    # configured, unstarted DataFrameWriter
    assert w is not None
    import pytest

    with pytest.raises(ValueError, match="service_url"):
        open_topic_sink(df, "pulsar", streaming=False, topic="t")


def test_jsonl_topic_sink_roundtrip(spark, tmp_path):
    """Broker-less fallback sink: value lines land as text files the jsonl
    source reads back byte-identically (bridge-drop pattern)."""
    from pulsar_ingestion_spark.sources.registry import open_topic_sink

    lines = ['{"a": 1}', '{"b": "x y"}']
    df = spark.createDataFrame([(v,) for v in lines], "value string")
    out = tmp_path / "topic-drop"
    open_topic_sink(df, "jsonl", streaming=False, path=str(out)).save()
    back = open_source(spark, "jsonl", streaming=False, path=str(out))
    assert {r["value"] for r in back.collect()} == set(lines)


def test_from_yaml_pulsar_passthrough_and_bridge(tmp_path):
    """A pulsar connector keeps kind='pulsar' when overrides supply broker
    options (config passthrough), and degrades to the jsonl bridge when
    overrides supply a local path — no more unconditional aliasing."""
    from pulsar_ingestion_spark.plans.from_yaml import load_pipeline_yaml

    yml = tmp_path / "pipeline.yaml"
    yml.write_text(
        """
tenant: acme
connectors:
  pulsar-source-input:
    source: true
    image: acme/pulsar-source-connector:0.1.0
    output: raw-pulsar-events
functions:
  geotab-translator:
    className: com.example.pulsar.functions.cmf.translators.GeotabTranslator
    inputs: [raw-pulsar-events]
    output: cmf
"""
    )
    spec = load_pipeline_yaml(
        str(yml), output_path=str(tmp_path / "out"),
        overrides={"pulsar-source-input": {"service_url": "pulsar://b:6650",
                                          "topic": "raw-pulsar-events"}},
    )
    assert [(s.kind, s.translator) for s in spec.sources] == [("pulsar", "geotab")]
    assert spec.sources[0].options["service_url"] == "pulsar://b:6650"

    bridged = load_pipeline_yaml(
        str(yml), output_path=str(tmp_path / "out2"),
        overrides={"pulsar-source-input": {"path": str(tmp_path / "drop")}},
    )
    assert [(s.kind, s.translator) for s in bridged.sources] == [("jsonl", "geotab")]


def test_pulsar_source_smoke_if_broker():
    """Integration smoke vs a real Pulsar broker: set PULSAR_SERVICE_URL
    (and have the pulsar-spark connector jar on the classpath) to run a
    read-and-count; skips cleanly in broker-less sandboxes."""
    import os

    import pytest

    service_url = os.environ.get("PULSAR_SERVICE_URL")
    if not service_url:
        pytest.skip("no PULSAR_SERVICE_URL broker configured")
    from pulsar_ingestion_spark.session import get_spark

    spark = get_spark("pulsar-smoke")
    try:
        df = open_source(
            spark, "pulsar", streaming=True,
            service_url=service_url,
            admin_url=os.environ.get("PULSAR_ADMIN_URL", ""),
            topic="raw-pulsar-events", starting_offsets="earliest",
        )
    except Exception as exc:  # pragma: no cover - env-dependent
        pytest.skip(f"pulsar datasource unavailable: {exc}")
    q = (
        df.writeStream.format("memory").queryName("pulsar_smoke")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(60)
    assert spark.sql("SELECT count(*) c FROM pulsar_smoke").collect()[0]["c"] >= 0


def test_pulsar_full_option_surface_contract(spark):
    """VERDICT r10 item 6: pin the COMPLETE friendly->connector key
    surface for the pulsar passthrough against the StreamNative
    pulsar-spark connector's documented option names, so a key rename on
    either side can't silently break the passthrough.  Every friendly
    reader key in one call, full-dict equality; writer twin likewise;
    and the dynamic-topic frame carries exactly the connector's reserved
    `__topic` metadata column plus the payload."""
    from pulsar_ingestion_spark.sources.registry import (
        open_topic_sink,
        pulsar_reader_options,
        pulsar_writer_options,
    )

    # READER: every friendly key at once (topic/topics and the two
    # pattern spellings are alternatives — asserted separately below)
    assert pulsar_reader_options({
        "service_url": "pulsar://b:6650",
        "admin_url": "http://b:8080",
        "topic": "t-in",
        "starting_offsets": "earliest",
        "ending_offsets": "latest",
        "subscription_prefix": "sub-a",
        "pulsar.client.tlsAllowInsecureConnection": "false",
    }) == {
        "service.url": "pulsar://b:6650",
        "admin.url": "http://b:8080",
        "topics": "t-in",
        "startingOffsets": "earliest",
        "endingOffsets": "latest",
        "predefinedSubscription": "sub-a",
        "pulsar.client.tlsAllowInsecureConnection": "false",
    }
    for alias in ("topics", "topic"):
        assert pulsar_reader_options(
            {"service_url": "u", alias: "x"})["topics"] == "x"
    for alias in ("topic_pattern", "topics_pattern"):
        assert pulsar_reader_options(
            {"service_url": "u", alias: "p-*"})["topicsPattern"] == "p-*"

    # WRITER: full surface (topic omitted under dynamic routing)
    assert pulsar_writer_options({
        "service_url": "pulsar://b:6650",
        "admin_url": "http://b:8080",
        "topic": "t-out",
    }) == {
        "service.url": "pulsar://b:6650",
        "admin.url": "http://b:8080",
        "topic": "t-out",
    }
    df = spark.createDataFrame([("acme", "{}")], "tenantId string, value string")
    w = open_topic_sink(
        df, "pulsar", streaming=False,
        topic_column="tenantId", service_url="pulsar://b:6650",
        topic="ignored-under-dynamic-routing",
    )
    # the routed frame must expose ONLY the reserved __topic metadata
    # column + payload — a leftover routing column would ride into the
    # published message as a data field
    assert sorted(w._df.columns) == ["__topic", "value"]


def test_kafka_full_option_surface_contract(spark):
    """Kafka twin of the pulsar option-surface pin: full friendly->
    connector key map for reader and writer, and the dynamic-routing
    frame carries exactly the sink's `topic` column plus payload."""
    from pulsar_ingestion_spark.sources.registry import (
        kafka_reader_options,
        open_topic_sink,
    )

    assert kafka_reader_options({
        "bootstrap_servers": "k:9092",
        "topic": "t-in",
        "starting_offsets": "earliest",
        "ending_offsets": "latest",
        "group_id_prefix": "grp-",
        "kafka.security.protocol": "SSL",
    }) == {
        "kafka.bootstrap.servers": "k:9092",
        "subscribe": "t-in",
        "startingOffsets": "earliest",
        "endingOffsets": "latest",
        "groupIdPrefix": "grp-",
        "kafka.security.protocol": "SSL",
    }
    assert kafka_reader_options({"topic_pattern": "raw-*"}) == {
        "subscribePattern": "raw-*"
    }
    for alias in ("topics", "topic"):
        assert kafka_reader_options({alias: "x"})["subscribe"] == "x"

    df = spark.createDataFrame([("acme", "{}")], "tenantId string, value string")
    w = open_topic_sink(
        df, "kafka", streaming=False,
        topic_column="tenantId", bootstrap_servers="k:9092",
        topic="ignored-under-dynamic-routing",
    )
    assert sorted(w._df.columns) == ["topic", "value"]
