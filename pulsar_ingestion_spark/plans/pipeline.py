"""Pipeline runner — the deployment/pipeline.yaml analog.

The reference provisions: source connectors → raw-<source> topics →
translator functions → one CMF topic → Filterer → per-tenant topics
(deployment/pipeline.yaml:1-68, docs/architecture.md:105-118).  Here one
spec instantiates the same topology as one DataFrame plan,
:func:`route_plan`, which batch and streaming runs share:

    for each source: open_source → translate_<kind> → (good, dead)
    union_cmf of the good branches (the shared CMF topic) → wire JSON
    the Filterer's ``route`` (operators/filterer.py) → route_metrics

The dead-letter branches fan in through the same ``union_cmf``.
:func:`run_pipeline` is ``route_plan`` plus the one sink chosen for the
run: the per-tenant topic publish when ``spec.publish`` is set, else a
tenant-partitioned parquet landing — in streaming mode by
``spec.sink_mode`` (foreachBatch append, Spark's native file sink, or the
versioned-table committer).  Batch and streaming then differ only in how
that sink is driven: one write versus one checkpointed ``start()``.
Malformed originals, when ``spec.dead_letter_path`` is set, go to one
parquet dead-letter sink beside it (its own query in streaming mode,
checkpoint ``<ckpt>-dead``).

One streaming query instead of N processes: the translate branches are
narrow (no shuffle) and fuse into the scan; only the sink write fans out
by tenant directory.  Micro-batch checkpointing replaces the reference's
fire-and-forget async publish with at-least-once + idempotent appends.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.filterer import append_tenant_dirs, route, tenant_topic
from pulsar_ingestion_spark.operators.translators import (
    cmf_to_json,
    translate_calamp,
    translate_ford,
    translate_geotab,
    union_cmf,
)
from pulsar_ingestion_spark.sources.registry import open_source

TRANSLATORS = {
    "geotab": translate_geotab,
    "calamp": translate_calamp,
    "ford": translate_ford,
}


@dataclass
class SourceSpec:
    kind: str                 # source connector kind (sources/registry.py)
    translator: str           # geotab | calamp | ford
    options: dict = field(default_factory=dict)
    tenant: str = "acme"


@dataclass
class PipelineRun:
    """Handles for a running streaming pipeline: the main routed sink plus
    the dead-letter sink when configured (ADVICE r1: the dead-letter
    StreamingQuery was previously discarded, so callers could neither
    await nor observe it — with availableNow it can outlive the main
    query).  Delegates the common StreamingQuery surface so existing
    ``run_pipeline(...).awaitTermination()`` call sites keep working and
    now wait on BOTH queries."""

    main: "object"                      # pyspark StreamingQuery
    dead_letter: "object | None" = None

    def awaitTermination(self, timeout: float | None = None):  # noqa: N802 (Spark API name)
        """Spark's contract over both queries: with ``timeout``, whether
        both terminated within the one ``timeout`` seconds."""
        deadline = None if timeout is None else time.monotonic() + timeout
        res = self.main.awaitTermination(timeout)
        if self.dead_letter is None:
            return res
        if deadline is None:
            return self.dead_letter.awaitTermination()
        left = deadline - time.monotonic()
        # PySpark passes whole milliseconds, and Spark rejects a wait under one
        if left >= 0.001:
            return self.dead_letter.awaitTermination(left) and res
        return not self.dead_letter.isActive and res

    def stop(self) -> None:
        for q in (self.main, self.dead_letter):
            if q is not None:
                q.stop()

    @property
    def lastProgress(self):  # noqa: N802
        return self.main.lastProgress

    @property
    def isActive(self):  # noqa: N802
        return self.main.isActive or (
            self.dead_letter is not None and self.dead_letter.isActive
        )


@dataclass
class PipelineSpec:
    sources: list[SourceSpec]
    output_path: str          # base dir for per-tenant partitioned output
    checkpoint: str | None = None   # required in streaming mode
    dead_letter_path: str | None = None
    # Parquet landing sink in streaming mode (ignored when ``publish`` is
    # set; a batch run always does one partitioned append):
    # "foreachBatch": idempotent-append dynamic sink (flexible, at-least-once
    #   within a failed epoch); "native": Spark's transactional file sink
    #   (_spark_metadata commit log -> exactly-once file visibility);
    #   "versioned": manifest-per-version table (operators/versioned.py) —
    #   exactly-once via batch-id-in-manifest, plus snapshot isolation,
    #   time travel, and rollback over the landed data.
    sink_mode: str = "foreachBatch"
    # None -> availableNow (drain-and-stop: backfills, tests, cron runs);
    # an interval string like "30 seconds" -> continuous micro-batching.
    trigger_interval: str | None = None
    # Topic publish (relay) mode — the reference Filterer's per-tenant
    # publish (Filterer.kt dynamic outputs; deployment/pipeline.yaml
    # relay): when set, the routed stream publishes to a topic sink
    # instead of landing parquet.  {"kind": "pulsar"|"kafka"|"eventhub"|
    # "jsonl", "topic_prefix": "..."| "topic_template": "...{tenant}...",
    # **connector options} — each record goes to topic
    # `<topic_prefix><tenantId>`, or to the template with every `{tenant}`
    # occurrence substituted (filterer.tenant_topic), via
    # open_topic_sink's dynamic-topic contract (jsonl = broker-less
    # bridge, value lines partitioned by topic dir).
    publish: dict | None = None


def _with_trigger(writer, spec: "PipelineSpec"):
    """availableNow (drain-and-stop) by default; processingTime interval
    when spec.trigger_interval is set (continuous service mode)."""
    if spec.trigger_interval:
        return writer.trigger(processingTime=spec.trigger_interval)
    return writer.trigger(availableNow=True)


def build_cmf_stream(spark: SparkSession, spec: PipelineSpec, streaming: bool = True):
    """Wire sources → translators → canonical CMF stream: ``(wire, dead)``,
    the wire JSON in ``value`` and, when ``spec.dead_letter_path`` is set,
    the malformed originals of every source tagged by source
    kind/translator (else ``None``) — the observable upgrade of the
    reference's log-and-vaporize policy (GeotabTranslator.kt:154-157).
    """
    if not spec.sources:
        raise ValueError("PipelineSpec.sources is empty — nothing to ingest")
    branches = []
    dead_branches = []
    for src in spec.sources:
        raw = open_source(spark, src.kind, streaming=streaming, **src.options)
        good, dead = TRANSLATORS[src.translator](
            raw.select("value"), tenant=src.tenant, dead_letter=True
        )
        branches.append(good.select("cmf"))
        dead_branches.append(dead.select(
            F.lit(src.kind).alias("source_kind"),
            F.lit(src.translator).alias("translator"),
            F.col("value"),
        ))
    wire = cmf_to_json(union_cmf(*branches), out_col="value").select("value")
    return wire, union_cmf(*dead_branches) if spec.dead_letter_path else None


def route_plan(spark: SparkSession, spec: PipelineSpec, streaming: bool = True):
    """The routed plan of one run, batch or streaming: ``(routed, dead)``.

    ``routed`` is the Filterer's ``(tenantId, value)`` rows of the wire
    stream, observed per batch as ``route_metrics`` (routed count and
    distinct-tenant count, in StreamingQueryProgress.observedMetrics /
    Observation.get — the reference only log-lines these,
    GeotabTranslator.kt:154-157); ``dead`` is as in
    :func:`build_cmf_stream`."""
    wire, dead = build_cmf_stream(spark, spec, streaming=streaming)
    routed = route(wire).observe(
        "route_metrics",
        F.count(F.lit(1)).alias("routed"),
        F.approx_count_distinct("tenantId").alias("tenants"),
    )
    return routed, dead


def _checkpoint_max_batch(checkpoint: str) -> int:
    """Max batch id this Structured Streaming checkpoint has produced,
    from its ``offsets/`` (started) and ``commits/`` (finished) logs —
    file names ARE the batch ids.  -1 for a dir with no batches yet.
    Used to evidence-gate the legacy-watermark migration: a reset
    checkpoint's small ids must not inherit a large legacy watermark."""
    mx = -1
    for sub in ("offsets", "commits"):
        d = os.path.join(checkpoint, sub)
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name.isdigit():
                mx = max(mx, int(name))
    return mx


def _publish_writer(out: DataFrame, spec: PipelineSpec, streaming: bool):
    """The relay topology: publish per tenant instead of landing parquet,
    through open_topic_sink's dynamic-topic contract."""
    from pulsar_ingestion_spark.sources.registry import open_topic_sink

    opts = dict(spec.publish)
    kind = opts.pop("kind")
    prefix = opts.pop("topic_prefix", "tenant-")
    topic = tenant_topic(opts.pop("topic_template", prefix + "{tenant}"))
    return open_topic_sink(
        out.select(topic.alias("__route_topic"), "value"), kind,
        streaming=streaming, topic_column="__route_topic", **opts,
    )


def _stream_writer(out: DataFrame, spec: PipelineSpec):
    """The routed streaming sink, chosen once: a configured (not yet
    started) DataStreamWriter."""
    if spec.publish is not None:
        return _publish_writer(out, spec, streaming=True)
    if spec.sink_mode == "native":
        # Spark's transactional file sink — files become visible only via
        # the _spark_metadata commit log, exactly-once even across
        # mid-batch crashes; partitionBy still gives the per-tenant layout.
        return (
            out.writeStream.format("parquet").partitionBy("tenantId")
            .option("path", spec.output_path)
        )
    if spec.sink_mode == "versioned":
        # Manifest-committed sink: replayed batches are no-ops (batch id
        # rides in the manifest), readers get snapshot isolation and time
        # travel over the landed history.  Note: the versioned layout is
        # file-list based, not tenant-partition-dir based — downstream
        # readers filter on the tenantId COLUMN (still pruned via parquet
        # row-group stats).
        from pulsar_ingestion_spark.operators.versioned import VersionedTable

        table = VersionedTable(spec.output_path)
        # the checkpoint location IS the stream identity: batch ids are
        # monotonic per checkpoint, so replay-dedup state must be scoped
        # to it (a reset checkpoint = a new app_id = fresh batch ids).
        # Resuming a PRE-EXISTING checkpoint whose history committed
        # app-unscoped (pre-r7 __default__) batches: alias the legacy
        # watermark onto this app_id so replayed old batches still no-op.
        # The alias is evidence-gated (ADVICE r8): dir existence alone
        # would also fire on every restart of a RESET checkpoint (fresh
        # ids 0..k) against a table with a legacy watermark W>k and
        # silently swallow batches k+1..W — so the checkpoint's own
        # offsets/commits log must show it produced ids reaching the
        # legacy watermark, and migrate_default_app additionally only
        # acts before the app has any watermark of its own.
        if os.path.isdir(spec.checkpoint):
            table.migrate_default_app(
                spec.checkpoint,
                committed_hint=_checkpoint_max_batch(spec.checkpoint),
            )
        return out.writeStream.foreachBatch(
            table.stream_batch_committer(app_id=spec.checkpoint)
        )
    return out.writeStream.foreachBatch(
        lambda batch, _epoch: append_tenant_dirs(batch, spec.output_path)
    )


def run_pipeline(spark: SparkSession, spec: PipelineSpec, streaming: bool = True):
    """Execute the pipeline: :func:`route_plan` plus the chosen sink.
    Streaming: returns a :class:`PipelineRun` holding the main sink's
    StreamingQuery and, when configured, the dead-letter sink's
    (availableNow drain-and-stop by default; set spec.trigger_interval for
    a continuously-running service); batch: writes once and returns None."""
    if streaming and not spec.checkpoint:
        raise ValueError("a streaming pipeline needs PipelineSpec.checkpoint")
    routed, dead = route_plan(spark, spec, streaming=streaming)
    if not streaming:
        if spec.publish is not None:
            _publish_writer(routed, spec, streaming=False).mode("append").save()
        else:
            append_tenant_dirs(routed, spec.output_path)
        if dead is not None:
            dead.write.mode("append").parquet(spec.dead_letter_path)
        return None
    dead_query = None
    if dead is not None:
        dead_query = _with_trigger(
            dead.writeStream.format("parquet")
            .option("path", spec.dead_letter_path)
            .option("checkpointLocation", spec.checkpoint + "-dead"),
            spec,
        ).start()
    main = _with_trigger(
        _stream_writer(routed, spec).option("checkpointLocation", spec.checkpoint), spec
    ).start()
    return PipelineRun(main=main, dead_letter=dead_query)
