#!/usr/bin/env python
"""Time any registered query or streaming maintainer on perfbench's tracer.

Queries: a warm-up ``scan_project`` count, then per query one discarded
run and ``-n`` measured runs of a fresh build plus ``count()`` under the
spans ``<id>.build`` and ``<id>.exec``, ``clearCache`` between runs
(``bench.py``'s method).  The fastest run is reported: wall, build and
exec seconds, jobs and stages, and shuffle bytes from the event log.

Census (``--census``): one build and ``count()`` of each named query, or
of every registered query when none is named, printed as ``id build_jobs
exec_jobs``: the Spark jobs run while building the plan (eager work in
the query function) and while executing it.

Maintainers: the input table in ``--batches`` hash cuts, fed in order to
``process(batch, batch_id)`` on fresh state, each batch under its own span.
Reported: batch 0 (it pays code generation), the median of the later
batches (steady) and the total, then the jobs and stages of batch 0 and
of the median steady batch.

The first line printed is the host facts and the SF dir.  Parallelism
comes from ``$SPARK_GRAFT_CPUS``, the SF dir from ``$SPARK_GRAFT_SF_DIR``.

Usage: python tools/qtime.py <query-id|maintainer>... [-n N] [--batches B]
       python tools/qtime.py --census [query-id...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from perfbench.common import (  # noqa: E402
    Tracer, event_log_totals, host_facts, new_session, stop_jvm,
)
from perfbench.maintainers import hash_cuts  # noqa: E402
from pulsar_ingestion_spark.operators.similarity import seeded_centroids  # noqa: E402
from pulsar_ingestion_spark.session import load_tables  # noqa: E402
from pulsar_ingestion_spark.streaming import (  # noqa: E402
    ann_index, dedup_cascade, dim_enrich, mixture, monitor, profile, quantile, sampler,
    seasonal, sketches, skyline, trend,
)

CUT_SEED = 0
QUERY_COLS = ["min_s", "build_s", "exec_s", "jobs", "stages", "shuffle_bytes"]
MAINTAINER_COLS = ["batch0_s", "steady_s", "total_s", "batch0_jobs", "batch0_stages",
                   "steady_jobs", "steady_stages"]


def _ivf_index(tables, work: str):
    cents = seeded_centroids(tables["embeddings"], 16)
    return ann_index.stream_ivf_index(os.path.join(work, "ivf"), app_id="qt", centroids=cents)


def _drift_monitor(tables, work: str):
    ref = monitor.histogram(tables["events"].limit(10_000), "value", 10.0)
    return monitor.drift_monitor(ref, "value", 10.0, os.path.join(work, "alerts.jsonl"))


# name -> (table, id column of its cuts, make(tables, work dir) -> process)
MAINTAINERS = {
    "ann_index": ("embeddings", "vec_id", lambda t, w: ann_index.stream_ann_index(
        os.path.join(w, "ann"), app_id="qt", dim=64, num_planes=8)),
    "ivf_index": ("embeddings", "vec_id", _ivf_index),
    "dedup_cascade": ("documents", "doc_id", lambda t, w: dedup_cascade.stream_dedup_cascade(
        os.path.join(w, "cascade"), app_id="qt")),
    "sketch_hll": ("events", "user_id", lambda t, w: sketches.HllStreamMaintainer("user_id")),
    "sketch_cms": ("events", "user_id", lambda t, w: sketches.CmsStreamMaintainer("event_type")),
    "sketch_mg": ("events", "user_id", lambda t, w: sketches.MgStreamMaintainer("event_type")),
    "skyline": ("lineitem", "_id", lambda t, w: skyline.SkylineStreamMaintainer(
        "l_quantity", "l_extendedprice")),
    "quantile_logbins": ("orders", "o_orderkey",
                         lambda t, w: quantile.QuantileLogbinsStreamMaintainer("o_totalprice")),
    "weighted_sample": ("events", "user_id", lambda t, w: sampler.WeightedSampleMaintainer(
        "event_type", "user_id", "value")),
    "seasonal_grid": ("events", "user_id", lambda t, w: seasonal.SeasonalGridMaintainer()),
    "trend_monitor": ("events", "user_id", lambda t, w: trend.TrendMonitor()),
    "mixture_plan": ("documents", "doc_id", lambda t, w: mixture.MixturePlanMaintainer()),
    "profile": ("events", "user_id", lambda t, w: profile.ProfileStreamMaintainer(
        ["event_type", "user_id", "value"])),
    "dim_enrich": ("orders", "o_orderkey", lambda t, w: dim_enrich.DimEnrichMaintainer(
        "o_custkey", "o_orderkey", ["o_totalprice"]).apply_dim_batch),
    "drift_monitor": ("events", "user_id", _drift_monitor),
}


def run_query(spark, tracer: Tracer, qid: str, sf_dir: str):
    """One fresh build and ``count()`` of ``qid`` under the spans
    ``<id>.build`` and ``<id>.exec``, then ``clearCache``: (wall, build
    span, exec span)."""
    t0 = time.perf_counter()
    with tracer.span(spark, f"{qid}.build") as b:
        df = entry.queries()[qid](spark, sf_dir)
    with tracer.span(spark, f"{qid}.exec") as e:
        df.count()
    wall = time.perf_counter() - t0
    spark.catalog.clearCache()
    return wall, b, e


def time_query(spark, tracer: Tracer, qid: str, sf_dir: str, n: int = 3,
               event_log_dir: str | None = None) -> dict:
    """The fastest of ``n`` runs after a discarded one; shuffle bytes only
    when the session writes its event log to ``event_log_dir``."""
    runs = [run_query(spark, tracer, qid, sf_dir) for _ in range(n + 1)]
    wall, b, e = min(runs[1:], key=lambda run: run[0])
    shuffle = None
    if event_log_dir:
        totals = event_log_totals(event_log_dir)
        shuffle = sum(totals.get(s.counts["group"], {}).get("shuffle_bytes", 0) for s in (b, e))
    return {"min_s": wall, "build_s": b.end - b.start, "exec_s": e.end - e.start,
            "jobs": b.counts["jobs"] + e.counts["jobs"],
            "stages": b.counts["stages"] + e.counts["stages"], "shuffle_bytes": shuffle}


def time_maintainer(spark, name: str, sf_dir: str, n_batches: int, work: str) -> dict:
    """Feed ``name`` its table in ``n_batches`` cuts, with state under
    ``work``, each batch in its own tracer span.  Jobs and stages are those
    of batch 0 and of the median steady batch (the lower middle one)."""
    tracer = Tracer(f"qtime-{name}", enabled=True)
    table, id_col, make = MAINTAINERS[name]
    tables = load_tables(spark, sf_dir)
    df = tables[table]
    if id_col not in df.columns:  # lineitem has no single-column key
        df = df.withColumn(id_col, F.monotonically_increasing_id())
    process = make(tables, work)
    per, spans = [], []
    for i, batch in enumerate(hash_cuts(df, id_col, n_batches, CUT_SEED)):
        t0 = time.perf_counter()
        with tracer.span(spark, f"{name}.batch{i}") as sp:
            process(batch, i)
        per.append(time.perf_counter() - t0)
        spans.append(sp)
    spark.catalog.clearCache()
    steady = spans[1:][per[1:].index(statistics.median_low(per[1:]))]
    return {"batch0_s": per[0], "steady_s": statistics.median(per[1:]), "total_s": sum(per),
            "batch0_jobs": spans[0].counts["jobs"], "batch0_stages": spans[0].counts["stages"],
            "steady_jobs": steady.counts["jobs"], "steady_stages": steady.counts["stages"]}


def _row(name: str, values) -> str:
    return f"{name:<36}" + "".join(
        f" {v:>13.3f}" if isinstance(v, float) else f" {v:>13}" for v in values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", metavar="query-id|maintainer")
    ap.add_argument("-n", type=int, default=3, help="measured runs per query")
    ap.add_argument("--batches", type=int, default=8, help="micro-batches per maintainer")
    ap.add_argument("--census", action="store_true",
                    help="print build and exec jobs per query (all queries when none named)")
    args = ap.parse_args(argv)
    if args.n < 1 or args.batches < 2:
        ap.error("-n must be at least 1 and --batches at least 2")
    if not (args.names or args.census):
        ap.error("name a query or maintainer, or pass --census")
    known = entry.queries()
    unknown = [x for x in args.names if x not in known and x not in MAINTAINERS]
    if unknown:
        print(f"qtime: unknown name(s): {' '.join(unknown)}\nvalid: any id of "
              f"__spark_entry__.queries(), or a maintainer: {' '.join(MAINTAINERS)}",
              file=sys.stderr)
        return 2
    queries = [x for x in args.names if x in known] or (sorted(known) if args.census else [])
    maintainers = [x for x in args.names if x not in known]
    if args.census and maintainers:
        ap.error(f"--census takes query ids only, not {' '.join(maintainers)}")

    parallelism = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    print(json.dumps({"host": host_facts(parallelism), "sf_dir": sf_dir}), flush=True)
    # Python workers (pandas UDFs) import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = tempfile.mkdtemp(prefix="qtime-")  # event log and maintainer state
    try:
        new_session(parallelism)  # launches the JVM; a traced session needs one
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir)
        spark, _get_s, _warm_s = new_session(parallelism, event_log_dir=event_dir)
        tracer = Tracer("qtime", enabled=True)
        known["scan_project"](spark, sf_dir).count()
        spark.catalog.clearCache()
        if args.census:
            print(f"{'query':<40} build_jobs exec_jobs", flush=True)
            for qid in queries:
                _wall, b, e = run_query(spark, tracer, qid, sf_dir)
                print(f"{qid:<40} {b.counts['jobs']:>10} {e.counts['jobs']:>9}", flush=True)
            return 0
        if queries:
            print(_row("query", QUERY_COLS), flush=True)
        for qid in queries:
            r = time_query(spark, tracer, qid, sf_dir, args.n, event_dir)
            print(_row(qid, [r[c] for c in QUERY_COLS]), flush=True)
        if maintainers:
            print(_row("maintainer", MAINTAINER_COLS), flush=True)
        for name in maintainers:
            r = time_maintainer(spark, name, sf_dir, args.batches, work)
            print(_row(name, [r[c] for c in MAINTAINER_COLS]), flush=True)
    finally:
        stop_jvm()  # before the temp dir goes: the JVM's shutdown hooks still use it
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
