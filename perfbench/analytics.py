"""The ``analytics`` workload: a closed loop, one operation at a time, over
a fixed set of registered queries and then the streaming maintainers, on
the repository's sf0.01 testdata.  No ingest layer runs; per-job overhead
dominates.

Each query is built fresh and its result collected; the collected results
are compared with the DuckDB oracles after the timed pass.  Each
maintainer is fed its micro-batch cuts; its final state is checked after
the timed pass (see ``perfbench/maintainers.py``)."""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import pyarrow.parquet as pq

import __spark_entry__ as entry
from perfbench.common import Tracer, cached, event_log_totals
from perfbench.maintainers import Maintainers
from pulsar_ingestion_spark.session import tables_dir
from tools.selfcheck import compare

# A byte-identical copy of the repository's sf0.01 testdata (TESTDATA.md),
# kept here because the benchmark reads nothing outside its checkout.
TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")

# Each run pays a JVM launch and the cold pass, so the set is kept to what
# fits the run's time: the relational and ranking operators, the TPC-H
# join chain and one carried heavy row (dedup_minhash_fast).
QUERY_IDS = [
    "scan_project", "join_inner_equi", "agg_group_sum_avg_min_max_count",
    "win_topk_per_group", "tpch_revenue_by_region", "warehouse_merge_resolve_conflicts",
    "agg_mode", "dedup_minhash_fast",
]


class Analytics:
    def __init__(self, work: str, seed: int):
        self.sf_dir = TESTDATA
        self.rows = {t: pq.ParquetFile(path).metadata.num_rows
                     for t, path in tables_dir(self.sf_dir).items()}
        self.queries = entry.queries()
        self.expected = cached("oracles", self._oracle_results)
        self.maintainers = Maintainers(work, self.sf_dir, self.rows, seed)

    def _oracle_results(self) -> dict:
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t, path in tables_dir(self.sf_dir).items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            return {q: con.execute(oracles[q]).df() for q in QUERY_IDS}
        finally:
            con.close()

    def one_pass(self, spark, tracer: Tracer | None = None) -> dict:
        """Every query, then every maintainer; timing excludes the checks.
        A query or maintainer that raises is a counted failure."""
        tracer = tracer or Tracer("", enabled=False)
        t_build = time.perf_counter()
        self.maintainers.build(spark)
        t_queries = time.perf_counter()
        query_lat, spans, results, failed = [], {}, {}, 0
        book0 = tracer.bookkeeping_s
        for q in QUERY_IDS:
            t0 = time.perf_counter()
            try:
                with tracer.span(spark, f"queries.{q}"):
                    with tracer.span(spark, f"queries.{q}.build") as b:
                        df = self.queries[q](spark, self.sf_dir)
                    with tracer.span(spark, f"queries.{q}.exec") as e:
                        results[q] = df.toPandas()
                spans[q] = (b, e)
            except Exception as ex:  # noqa: BLE001 — a failing query is a counted failure
                failed += 1
                print(f"analytics query failed: {q}: {ex!r}", flush=True)
            finally:
                query_lat.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
        query_book = tracer.bookkeeping_s - book0
        t_maint = time.perf_counter()
        done, m_failed = self.maintainers.run(spark, tracer)
        t_checks = time.perf_counter()
        failed += m_failed
        for q, pdf in results.items():
            ok, msg = compare(q, pdf, self.expected[q])
            if not ok:
                failed += 1
                print(f"analytics check failed: {q}: {msg}", flush=True)
        errors = self.maintainers.check(spark, done)
        for e in errors:
            print(f"analytics check failed: {e}", flush=True)
        failed += len(errors)
        spark.catalog.clearCache()
        print(f"tables {t_queries - t_build:.1f} s, queries {t_maint - t_queries:.1f} s, "
              f"maintainers {t_checks - t_maint:.1f} s, checks "
              f"{time.perf_counter() - t_checks:.1f} s", flush=True)
        batch_lat = [s for _m, per in done.values() for s in per]
        return {"query_lat": query_lat, "batch_lat": batch_lat, "spans": spans,
                "query_bookkeeping_s": query_book,
                "done": done, "failed": failed,
                "fed_rows": sum(self.maintainers.fed_rows[n] for n in done),
                "attempted": len(QUERY_IDS) + len(self.maintainers.specs)}

    def measure(self, spark, seconds: float) -> dict:
        """One pass, the first in the process: it takes longer than any
        ``seconds`` the benchmark uses, and a second pass would be warm.
        ``wall_s`` is the query loop; ``records_per_s`` the maintainers'
        input rows over their feeding time, so the two do not share a
        source."""
        res = self.one_pass(spark)
        feed_s = sum(res["batch_lat"])
        return {
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {"records_per_s": res["fed_rows"] / feed_s if feed_s else 0.0,
                        "wall_s": sum(res["query_lat"])},
            "latency_samples": res["query_lat"] + res["batch_lat"],
        }

    def traced(self, spark, tracer: Tracer, event_log_dir: str, seconds: float) -> dict:
        """The traced pass, cold like the untraced one.  A cold pass cannot
        be repeated in one process, so the untraced wall is the traced wall
        less the tracer's own time during the query loop."""
        with tracer.span(spark, "analytics.pass"):
            res = self.one_pass(spark, tracer)
        wall = sum(res["query_lat"])
        untraced = wall - res["query_bookkeeping_s"]
        totals = event_log_totals(event_log_dir)
        layers = {}
        for q, (b, e) in res["spans"].items():
            layers[f"queries.{q}.build_s"] = b.end - b.start
            layers[f"queries.{q}.exec_s"] = e.end - e.start
            layers[f"queries.{q}.jobs"] = b.counts["jobs"] + e.counts["jobs"]
            layers[f"queries.{q}.shuffle_bytes"] = sum(
                totals.get(s.counts["group"], {}).get("shuffle_bytes", 0) for s in (b, e))
        for name, (_m, per) in res["done"].items():
            layers[f"maintainers.{name}.batch0_s"] = per[0]
            layers[f"maintainers.{name}.steady_s"] = statistics.median(per[1:])
        errors = [f"{res['failed']} analytics checks failed"] if res["failed"] else []
        return {"attempted": res["attempted"], "failed": res["failed"], "errors": errors,
                "wall_s": wall, "untraced_wall_s": untraced,
                "layers": layers}
