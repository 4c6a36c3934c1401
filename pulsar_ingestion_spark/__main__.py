"""CLI: run a pipeline spec (reference pipeline.yaml format) on Spark.

    python -m pulsar_ingestion_spark run \
        --pipeline deployment/pipeline.yaml \
        --output /data/routed --checkpoint /data/ckpt \
        --override geotab-translator path=/data/raw/geotab \
        [--batch] [--dead-letter /data/dead]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pulsar_ingestion_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="run an ingest pipeline")
    run.add_argument("--pipeline", required=True, help="pipeline.yaml (reference format)")
    run.add_argument("--output", required=True, help="routed-output base dir")
    run.add_argument("--checkpoint", help="streaming checkpoint dir")
    run.add_argument("--dead-letter", help="dead-letter dir for malformed input")
    run.add_argument("--batch", action="store_true", help="one-shot batch instead of streaming")
    run.add_argument(
        "--trigger-interval",
        help="run continuously with this micro-batch interval (e.g. '30 seconds'); "
        "default drains available data and exits",
    )
    run.add_argument(
        "--override",
        nargs=2,
        action="append",
        default=[],
        metavar=("NAME", "K=V"),
        help="per-connector/function source options (repeatable)",
    )
    run.add_argument(
        "--publish",
        nargs="+",
        metavar="K=V",
        help="relay mode: publish per-tenant to a topic sink instead of "
        "landing parquet — kind=pulsar|kafka|eventhub|jsonl plus "
        "connector options (e.g. kind=pulsar service_url=pulsar://b:6650 "
        "topic_prefix=persistent://acme/fleet/tenant- or "
        "topic_template=persistent://{tenant}/integration/telemetry)",
    )
    args = ap.parse_args(argv)

    from pulsar_ingestion_spark.plans.from_yaml import load_pipeline_yaml
    from pulsar_ingestion_spark.plans.pipeline import run_pipeline
    from pulsar_ingestion_spark.session import get_spark

    overrides: dict[str, dict] = {}
    for name, kv in args.override:
        k, _, v = kv.partition("=")
        overrides.setdefault(name, {})[k] = v

    spec = load_pipeline_yaml(
        args.pipeline,
        output_path=args.output,
        checkpoint=args.checkpoint,
        overrides=overrides,
        dead_letter_path=args.dead_letter,
    )
    if args.trigger_interval:
        spec.trigger_interval = args.trigger_interval
    if args.publish:
        pub: dict = {}
        for kv in args.publish:
            k, _, v = kv.partition("=")
            pub[k] = v
        if "kind" not in pub:
            print("--publish needs kind=pulsar|kafka|eventhub|jsonl", file=sys.stderr)
            return 2
        # fail fast on missing per-kind connector options (before the
        # Spark session spins up, not as a traceback mid-pipeline)
        required = {
            "jsonl": ("path",),
            "pulsar": ("service_url", "service.url"),
            "kafka": ("bootstrap_servers", "kafka.bootstrap.servers"),
            "eventhub": ("bootstrap_servers", "kafka.bootstrap.servers"),
        }.get(pub["kind"])
        if required is None:
            print(f"--publish kind={pub['kind']} unknown "
                  "(pulsar|kafka|eventhub|jsonl)", file=sys.stderr)
            return 2
        if not any(k in pub for k in required):
            print(f"--publish kind={pub['kind']} needs {required[0]}=...",
                  file=sys.stderr)
            return 2
        spec.publish = pub
    for s in getattr(spec, "skipped", []):
        print(f"skipped (no local source options): {s}", file=sys.stderr)
    if not spec.sources:
        print("no runnable sources — supply --override NAME path=...", file=sys.stderr)
        return 2

    spark = get_spark("pulsar-ingestion-pipeline")
    q = run_pipeline(spark, spec, streaming=not args.batch)
    if q is not None:
        q.awaitTermination()
    print(f"pipeline complete → {args.output}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
