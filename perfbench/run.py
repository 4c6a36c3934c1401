#!/usr/bin/env python3
"""Benchmark of the flagship ingest path (batch and stream) and of the
analytics queries and streaming maintainers.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0

Run from the repository root.  The ``ingest`` inputs are generated from
``--seed`` under ``.perfbench_work/`` (deleted at exit); ``analytics``
reads ``perfbench/testdata/``.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — every end-to-end
metric with ``--trace 0``, every per-layer metric with ``--trace 1``.  A
traced run also writes its spans and self times to ``.perfbench_out/``;
expected outputs that do not depend on the seed are kept in
``.perfbench_cache/`` across runs.  Workloads and metrics are described
in ``perfbench/WORKLOADS.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "analytics")
N_SETUPS = 3  # timed set-ups after the one that launches the JVM (one when traced)
E2E_UNITS = {
    "setup_s": "s", "records_per_s": "1/s", "wall_s": "s",
    "latency_p50_s": "s", "latency_tail_s": "s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Per-layer metric -> unit: the ``per_layer`` list of BENCHMARK.json."""
    from perfbench.analytics import QUERY_IDS
    from perfbench.maintainers import NAMES

    return {
        "session.warmup_s": "s",
        "sources.scan_s": "s",
        "sources.read_amplification": "ratio",
        "translators.build_s": "s",
        "translators.translate_s": "s",
        "translators.to_json_s": "s",
        "translators.parsed_frac": "ratio",
        "filterer.route_s": "s",
        "filterer.unroutable_records": "count",
        "pipeline.write_s": "s",
        "pipeline.dead_letter_s": "s",
        "pipeline.jobs": "count",
        "pipeline.stages": "count",
        "pipeline.files_written": "count",
        "pipeline.bytes_written": "bytes",
        "stream.trigger_ms": "ms",
        "stream.latestOffset_ms": "ms",
        "stream.getBatch_ms": "ms",
        "stream.queryPlanning_ms": "ms",
        "stream.addBatch_ms": "ms",
        "stream.walCommit_ms": "ms",
        "stream.commitOffsets_ms": "ms",
        "stream.rows_per_batch": "count",
        "stream.queue_wait_s": "s",
        "stream.generator_late_s": "s",
        "stream.backlog_end_files": "count",
        **{f"maintainers.{m}.{k}": "s" for m in NAMES for k in ("batch0_s", "steady_s")},
        **{f"queries.{q}.{k}": u for q in QUERY_IDS
           for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                        ("shuffle_bytes", "bytes"))},
        "baseline.local1_records_per_s": "1/s",
        "trace.overhead_s": "s",
    }


def _workload_class(name: str):
    from perfbench.analytics import Analytics
    from perfbench.ingest import Ingest

    return {"ingest": Ingest, "analytics": Analytics}[name]


def _prepare(args, work: str, n_setups: int = N_SETUPS):
    """Generate the workload's inputs in a thread while the first session
    set-up launches the JVM, then set the session up ``n_setups`` more
    times (the generator has finished by then, so it does not disturb
    those timings).  Returns the workload, the last session, and the
    median set-up and warm-up times of the timed set-ups."""
    from perfbench.common import new_session

    cls = _workload_class(args.workload)  # imports stay on the main thread
    d = os.path.join(work, args.workload)
    os.makedirs(d)
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(cls, d, args.seed)
        new_session(args.parallelism)
        wl = inputs.result()
    totals, warms = [], []
    for _ in range(n_setups):
        spark, get_s, warm_s = new_session(args.parallelism)
        totals.append(get_s + warm_s)
        warms.append(warm_s)
    print("set-ups (s): " + " ".join(f"{t:.3f}" for t in totals), flush=True)
    return wl, spark, statistics.median(totals), statistics.median(warms)


def run_untraced(args, work: str) -> dict:
    from perfbench.common import jvm_pid, latency_metrics, peak_rss_mb

    t0 = time.perf_counter()
    wl, spark, setup_s, _warm = _prepare(args, work)
    t1 = time.perf_counter()
    res = wl.measure(spark, args.seconds)
    print(f"inputs and set-ups {t1 - t0:.1f} s, measure and checks "
          f"{time.perf_counter() - t1:.1f} s", flush=True)
    lat = latency_metrics(res["latency_samples"])
    print(f"latency tail = p{lat['_tail_percentile']:.1f} of {lat['_latency_samples']} samples",
          flush=True)
    for e in res.get("errors", []):
        print(f"check failed: {e}", flush=True)
    py_mb, jvm_mb = peak_rss_mb(jvm_pid(spark))
    print(f"peak rss: python {py_mb:.0f} MB, jvm {jvm_mb:.0f} MB", flush=True)
    metrics = {
        "setup_s": setup_s,
        **res["metrics"],
        "latency_p50_s": lat["latency_p50_s"],
        "latency_tail_s": lat["latency_tail_s"],
        "peak_rss_mb": py_mb + jvm_mb,
    }
    return {"attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}}


def run_traced(args, work: str) -> dict:
    """The named workload under spans, in a session with Spark's event log
    on, with untraced passes interleaved for the tracing overhead; the
    ingest batch path also runs once at ``local[1]`` as the single-thread
    baseline.  Per-layer metrics of layers this workload does not run
    read 0."""
    from perfbench.common import Tracer, event_log_totals, new_session

    wl, spark, _setup_s, warmup_s = _prepare(args, work, n_setups=1)
    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir)
    spark, _g, _w = new_session(args.parallelism, event_log_dir=event_dir)
    tracer = Tracer(f"{args.workload}-{args.seed}", enabled=True)
    with tracer.span(spark, args.workload):
        res = wl.traced(spark, tracer, event_dir, args.seconds)
    units = per_layer_units()
    layers = {k: 0.0 for k in units}
    layers.update(res["layers"])
    layers["session.warmup_s"] = warmup_s
    untraced = res["untraced_wall_s"]
    layers["trace.overhead_s"] = res["wall_s"] - untraced
    print(f"tracing overhead {layers['trace.overhead_s']:.3f} s (traced wall "
          f"{res['wall_s']:.3f} s - untraced wall {untraced:.3f} s)", flush=True)
    if args.workload == "ingest":
        spark, _g, _w = new_session(1)
        res["attempted"] += 1
        try:
            layers["baseline.local1_records_per_s"] = wl.batch.single_thread_rate(spark)
        except Exception as ex:  # noqa: BLE001 — a failing pass is a counted failure
            res["failed"] += 1
            res["errors"].append(f"local[1] pass raised {ex!r}")
        print(f"local[1] baseline {layers['baseline.local1_records_per_s']:.0f} records/s",
              flush=True)

    out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
    tracer.dump(out, {"layers": layers, "event_log": event_log_totals(event_dir),
                      "untraced_wall_s": untraced, "traced_wall_s": res["wall_s"]})
    print(f"spans and self times -> {out}", flush=True)
    for e in res["errors"]:
        print(f"check failed: {e}", flush=True)
    return {"attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: {"value": layers[k], "unit": u} for k, u in units.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.parallelism = min(4, os.cpu_count() or 1)

    if not os.path.isdir(os.path.join(ROOT, "pulsar_ingestion_spark")):
        print(f"perfbench: no engine package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers (pandas UDFs) import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from perfbench.common import configure_env, host_facts, stop_jvm

    print(json.dumps({"host": host_facts(args.parallelism)}), flush=True)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(args.parallelism, os.path.join(work, "tmp"))
    t0 = time.perf_counter()
    try:
        result = (run_traced if args.trace else run_untraced)(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    print(f"run took {time.perf_counter() - t0:.1f} s", flush=True)
    print(json.dumps({"correct": result["failed"] == 0, **result}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
