"""Filterer — content-based tenant router, Spark-first.

Reference (Filterer.kt:22-50): parse the CMF JSON, read ``meta.tenantId``
(:29), drop if null/blank (:31-34), else forward the ORIGINAL byte-identical
string (:39-45, asserted FiltererTest.kt:113) to the computed destination
``persistent://{tenantId}/integration/telemetry`` (:36).

This module is the one router every ingest run goes through:

  * :func:`route` is the routing decision — tenant extraction
    (``get_json_object`` on the raw string: we route on the parsed field
    but forward the original bytes, so the payload column is never
    re-serialized) followed by the ``not_blank`` drop rule;
  * :func:`tenant_topic` is the computed destination as a per-row topic
    column, for topic sinks (Kafka/Pulsar/the jsonl bridge);
  * :func:`append_tenant_dirs` is the file-sink form of the dynamic
    destination: one ``partitionBy("tenantId")`` append, run once per
    batch run or per ``foreachBatch`` micro-batch.  Partitioning by
    tenant in the sink is the scale-correct analog — one shuffle-free
    write, not N per-tenant jobs.

``plans/pipeline.py::route_plan`` composes these with the sources and
translators into the routed plan that batch and streaming runs share.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TENANT_PATH = "$.meta.tenantId"
# the reference destination (Filterer.kt:36); ``{tenant}`` marks the tenant
REFERENCE_TOPIC = "persistent://{tenant}/integration/telemetry"


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


def route(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """The routing decision: the routable ``(tenantId, <payload_col>)``
    rows of ``df``, the payload forwarded byte-identical."""
    return filter_routable(extract_tenant(df, payload_col)).select("tenantId", payload_col)


def tenant_topic(template: str = REFERENCE_TOPIC) -> Column:
    """The computed destination (Filterer.kt:36) as a per-row topic column:
    ``template`` with every ``{tenant}`` replaced by the tenant.  The
    default is the reference's Pulsar URI; Kafka topic names forbid '/',
    so a Kafka publish passes e.g. ``"{tenant}.integration.telemetry"``."""
    parts = template.split("{tenant}")
    if len(parts) < 2:
        raise ValueError(f"topic template must contain '{{tenant}}' (got {template!r})")
    cols = []
    for i, p in enumerate(parts):
        if p:
            cols.append(F.lit(p))
        if i < len(parts) - 1:
            cols.append(F.col("tenantId"))
    return F.concat(*cols)


def append_tenant_dirs(routed: DataFrame, base_path: str) -> None:
    """Append routed rows under ``base_path/tenantId=<t>/``: one
    partitioned write (each partition dir is written by the tasks that
    own its rows — no shuffle, any number of tenants)."""
    routed.write.mode("append").partitionBy("tenantId").parquet(base_path)
