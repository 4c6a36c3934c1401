"""Filterer — content-based tenant router, Spark-first.

Reference (Filterer.kt:22-50): parse the CMF JSON, read ``meta.tenantId``
(:29), drop if null/blank (:31-34), else forward the ORIGINAL byte-identical
string (:39-45, asserted FiltererTest.kt:113) to the computed destination
``persistent://{tenantId}/integration/telemetry`` (:36).

Spark mapping (SURVEY.md §2.3):
  * tenant extraction is ``get_json_object`` on the raw string — we route
    on the parsed field but forward the original bytes, so the payload
    column is never re-serialized;
  * the drop rule is the ``filter_not_blank`` predicate;
  * the dynamic per-tenant destination becomes a partitioned sink:
    ``foreachBatch { batch.write.partitionBy("tenantId") }`` for files, or
    a per-row ``topic`` column for Kafka/Pulsar sinks.  Partitioning by
    tenant in the sink is the scale-correct analog — one shuffle-free
    write with dynamic partition overwrite, not N per-tenant jobs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TENANT_PATH = "$.meta.tenantId"


def not_blank(col: Column) -> Column:
    """The Filterer guard: NOT NULL and NOT blank-after-trim
    (Filterer.kt:31 — Kotlin isNullOrBlank)."""
    return col.isNotNull() & (F.trim(col) != F.lit(""))


def extract_tenant(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """Add ``tenantId`` parsed from the raw CMF JSON (path meta.tenantId).

    get_json_object on a malformed document yields NULL → the record is
    dropped by :func:`filter_routable`, matching the reference's
    catch-log-drop on unparseable input (FiltererTest.kt:155-163).
    """
    # explode(array(...)) Generate barrier: downstream filter + topic
    # expressions reference the extracted attribute instead of re-running
    # get_json_object per consumer (see operators/translators.py note).
    return df.withColumn(
        "tenantId", F.explode(F.array(F.get_json_object(F.col(payload_col), TENANT_PATH)))
    )


def filter_routable(df: DataFrame, tenant_col: str = "tenantId") -> DataFrame:
    """Keep only routable records (tenant present and non-blank)."""
    return df.filter(not_blank(F.col(tenant_col)))


def topic_for_tenant(tenant_col: str = "tenantId") -> Column:
    """The computed destination (Filterer.kt:36) as a column, for sinks
    that take a per-row topic (Kafka/Pulsar)."""
    return F.concat(F.lit("persistent://"), F.col(tenant_col), F.lit("/integration/telemetry"))


def route_to_tenant_dirs(
    df: DataFrame,
    base_path: str,
    payload_col: str = "value",
    mode: str = "append",
) -> None:
    """Batch/foreachBatch body of the dynamic sink: one partitioned write.

    Writes the ORIGINAL payload strings under ``base_path/tenantId=<t>/``.
    In streaming this is invoked via ``writeStream.foreachBatch``; the
    partitionBy keeps per-tenant file layouts without per-tenant jobs and
    scales to thousands of tenants (each partition dir is written by the
    tasks that own its rows — no extra shuffle unless requested).
    """
    routable = filter_routable(extract_tenant(df, payload_col))
    routable.select(F.col("tenantId"), F.col(payload_col)).write.mode(mode).partitionBy(
        "tenantId"
    ).parquet(base_path)


def prepare_kafka_routing(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """Shape a routable stream for Spark's Kafka sink with PER-ROW topics:
    the sink reads the ``topic`` column, so the computed destination
    (Filterer.kt:36) needs no foreachBatch at all.  Kafka topic names
    forbid '/', so the Pulsar-style URI is sanitized to
    ``<tenantId>.integration.telemetry``.

    Start with:
        prepare_kafka_routing(extract_tenant(df)).writeStream
            .format("kafka").option("kafka.bootstrap.servers", ...).start()
    """
    routable = filter_routable(df)
    topic = F.concat(F.col("tenantId"), F.lit(".integration.telemetry"))
    return routable.select(
        topic.alias("topic"),
        F.col(payload_col).cast("string").alias("value"),
    )

