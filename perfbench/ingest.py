"""The ``ingest`` workload: the flagship path raw JSON → translator → CMF
wire JSON → tenant route → per-tenant parquet sink, run as batch jobs and
as a Structured Streaming query fed open-loop and then one burst."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import functions as F

from perfbench.common import Tracer, dir_stats, event_log_sql_times, event_log_totals
from perfbench.inputs import telemetry_lines, write_lines
from pulsar_ingestion_spark.operators.filterer import extract_tenant, filter_routable
from pulsar_ingestion_spark.operators.translators import union_cmf
from pulsar_ingestion_spark.plans.pipeline import (
    TRANSLATORS,
    PipelineSpec,
    SourceSpec,
    build_cmf_stream,
    run_pipeline,
)
from pulsar_ingestion_spark.sources.registry import open_source

# (translator, tenant, records).  The blank tenant is unroutable on purpose:
# the Filterer drops it, which the conservation check must account for.
BATCH_SOURCES = [
    ("geotab", "acme", 8_000),
    ("calamp", "globex", 6_000),
    ("ford", "initech", 4_600),
    ("geotab", " ", 1_400),
]
BATCH_FILES_PER_SOURCE = 4
MALFORMED_PCT = 1.0
MIN_BATCH_PASSES = 3
CUT_ROUNDS = 2
# The cut self times must add up to the untraced pass within the tracing
# overhead or this share of the pass, whichever is larger.
CUT_SUM_TOLERANCE = 0.25

STREAM_SOURCES = [("geotab", "acme"), ("calamp", "globex"), ("ford", "initech")]
# A trigger takes about a second on a 4-core host; a 2 s interval leaves
# headroom, so the open loop never queues behind a slow trigger.
STREAM_TRIGGER_S = 2
STREAM_FILE_RECORDS = 25
STREAM_DROP_INTERVAL_S = 0.05  # offered load: 20 files/s = 500 records/s
STREAM_MIN_OPEN_S = 2.5
STREAM_WAIT_S = 60.0
BURST_FILE_RECORDS = 4_000  # one file per source


@dataclass
class SourceDir:
    translator: str
    tenant: str
    path: str
    records: int
    malformed: int
    nbytes: int


def make_batch_inputs(work: str, seed: int) -> list[SourceDir]:
    out = []
    for i, (tr, tenant, rows) in enumerate(BATCH_SOURCES):
        d = os.path.join(work, "in", f"src{i}-{tr}")
        os.makedirs(d)
        per = rows // BATCH_FILES_PER_SOURCE
        bad = nbytes = 0
        for f in range(BATCH_FILES_PER_SOURCE):
            lines, b = telemetry_lines(tr, per, seed * 1000 + i * 10 + f, MALFORMED_PCT,
                                       first_id=f * per)
            nbytes += write_lines(os.path.join(d, f"part-{f:03d}.jsonl"), lines)
            bad += b
        out.append(SourceDir(tr, tenant, d, per * BATCH_FILES_PER_SOURCE, bad, nbytes))
    return out


def pipeline_spec(sources: list[SourceDir], out: str, dead: str | None,
                  checkpoint: str | None = None, trigger: str | None = None) -> PipelineSpec:
    return PipelineSpec(
        sources=[SourceSpec("jsonl", s.translator, {"path": s.path}, tenant=s.tenant)
                 for s in sources],
        output_path=out,
        dead_letter_path=dead,
        checkpoint=checkpoint,
        trigger_interval=trigger,
    )


def routed_digest(df) -> tuple[int, int]:
    """Order-insensitive digest of routed rows: (rows, sum of the 64-bit
    hash of tenant and payload)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("tenantId", "value").cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def check_batch_outputs(spark, sources: list[SourceDir],
                        outputs: list[tuple[str, str]]) -> list[list[str]]:
    """Conservation, read back from each pass's output and dead-letter
    dirs: in == routed + dead-lettered + unroutable, per tenant and in
    total, and every routed payload carries the tenant of its partition.
    One job per kind of dir covers every pass; returns each pass's errors."""
    expect_routed: dict[str, int] = {}
    unroutable = 0
    for s in sources:
        good = s.records - s.malformed
        if s.tenant.strip():
            expect_routed[s.tenant] = expect_routed.get(s.tenant, 0) + good
        else:
            unroutable += good
    expect_dead = sum(s.malformed for s in sources)
    total_in = sum(s.records for s in sources)

    def by_pass(paths):
        frames = [spark.read.parquet(p).withColumn("pass", F.lit(i)) for i, p in enumerate(paths)]
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        return df

    routed_rows = (
        by_pass([o for o, _d in outputs]).groupBy("pass", "tenantId")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum((F.get_json_object("value", "$.meta.tenantId") != F.col("tenantId"))
                   .cast("int")).alias("wrong"))
        .collect()
    )
    dead_rows = by_pass([d for _o, d in outputs]).groupBy("pass").count().collect()
    routed = [dict() for _ in outputs]
    wrong = [0] * len(outputs)
    dead_n = [0] * len(outputs)
    for r in routed_rows:
        routed[r["pass"]][r["tenantId"]] = r["n"]
        wrong[r["pass"]] += r["wrong"] or 0
    for r in dead_rows:
        dead_n[r["pass"]] = r["count"]
    errors = []
    for i, (out, _dead) in enumerate(outputs):
        e = []
        if routed[i] != expect_routed:
            e.append(f"{out}: routed per tenant {routed[i]} != expected {expect_routed}")
        if wrong[i]:
            e.append(f"{out}: {wrong[i]} routed payloads carry another tenant")
        if dead_n[i] != expect_dead:
            e.append(f"{out}: dead-lettered {dead_n[i]} != malformed {expect_dead}")
        if total_in != sum(routed[i].values()) + dead_n[i] + unroutable:
            e.append(f"{out}: in {total_in} != routed {sum(routed[i].values())} "
                     f"+ dead {dead_n[i]} + unroutable {unroutable}")
        errors.append(e)
    return errors


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_cuts(spark, tracer: Tracer, sources: list[SourceDir], work: str,
                event_log_dir: str, rounds: int = CUT_ROUNDS) -> dict:
    """Time the flagship path layer by layer, ``rounds`` times interleaved
    with the full ``run_pipeline`` traced and untraced.

    The scan and translate cuts force ``open_source`` and ``translate_*``
    into a ``noop`` sink; the to_json and route cuts take the wire frame
    from the engine's own ``build_cmf_stream``, so they follow its plan.
    The driver's plan build is timed around ``build_cmf_stream``; the sink
    write on its own, from the routed rows held in memory; the dead-letter
    branch is the event log's time for the traced pass's dead-letter
    write.  Each is a median over the rounds."""
    raws = [open_source(spark, "jsonl", streaming=False, path=s.path) for s in sources]
    scan = raws[0].select("value")
    for r in raws[1:]:
        scan = scan.unionByName(r.select("value"))
    cmf = union_cmf(*[
        TRANSLATORS[s.translator](r.select("value"), tenant=s.tenant, dead_letter=True)[0]
        .select("cmf")
        for s, r in zip(sources, raws)
    ])
    unused = os.path.join(work, "unused")
    durations: dict[str, list[float]] = {}
    dead_paths, full_spans = [], []
    with tracer.span(spark, "ingest.batch.cuts"):
        for r in range(rounds):
            with tracer.span(spark, "translators.build") as sp:
                wire, _dead = build_cmf_stream(spark, pipeline_spec(sources, unused, unused),
                                               streaming=False)
            durations.setdefault("translators.build", []).append(sp.end - sp.start)
            routed = filter_routable(extract_tenant(wire)).select("tenantId", "value")
            cuts = (("sources.scan", scan), ("translators.translate", cmf),
                    ("translators.to_json", wire), ("filterer.route", routed))
            for name, df in cuts:
                with tracer.span(spark, name) as sp:
                    _noop(df)
                durations.setdefault(name, []).append(sp.end - sp.start)
            held = routed.cache()
            held.count()
            with tracer.span(spark, "pipeline.write") as sp:
                held.write.mode("append").partitionBy("tenantId").parquet(
                    os.path.join(work, f"write-cut{r}"))
            durations.setdefault("pipeline.write", []).append(sp.end - sp.start)
            held.unpersist(blocking=True)
            out = os.path.join(work, f"traced-out{r}")
            dead = os.path.join(work, f"traced-dead{r}")
            with tracer.span(spark, "pipeline.run_pipeline") as sp:
                run_pipeline(spark, pipeline_spec(sources, out, dead), streaming=False)
            durations.setdefault("pipeline.run_pipeline", []).append(sp.end - sp.start)
            full_spans.append(sp)
            dead_paths.append(dead)
            t0 = time.perf_counter()
            run_pipeline(spark, pipeline_spec(sources, out + "-untraced", dead + "-untraced"),
                         streaming=False)
            durations.setdefault("untraced", []).append(time.perf_counter() - t0)
    sql = event_log_sql_times(event_log_dir)
    durations["pipeline.dead_letter"] = [
        t for path in dead_paths for plan, t in sql if f"{path}," in plan or f"{path}]" in plan]
    files, nbytes = dir_stats(out)
    dfiles, dbytes = dir_stats(dead)
    return {
        "durations": {k: statistics.median(v) if v else 0.0 for k, v in durations.items()},
        "full_span": full_spans[-1], "out": out, "dead": dead,
        "files_written": files + dfiles, "bytes_written": nbytes + dbytes,
    }


class BatchPath:
    """``run_pipeline(streaming=False)`` over the batch sources, with a
    dead-letter dir and the partitioned parquet sink."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.sources = make_batch_inputs(work, seed)
        self.records = sum(s.records for s in self.sources)
        self.input_bytes = sum(s.nbytes for s in self.sources)
        self._pass = 0

    def subset(self) -> list[SourceDir]:
        """The first file of every source: a quarter of the input."""
        return [
            SourceDir(s.translator, s.tenant, os.path.join(s.path, "part-000.jsonl"),
                      s.records // BATCH_FILES_PER_SOURCE, 0, 0)
            for s in self.sources
        ]

    def warm(self, spark) -> None:
        """One untimed pass over a quarter of the input, malformed lines
        included: the first pass in a JVM pays plan analysis and code
        generation several times over, whatever its size."""
        run_pipeline(spark, pipeline_spec(self.subset(), os.path.join(self.work, "warm-out"),
                                          os.path.join(self.work, "warm-dead")),
                     streaming=False)

    def one_pass(self, spark) -> tuple[float, str, str]:
        self._pass += 1
        out = os.path.join(self.work, f"out{self._pass}")
        dead = os.path.join(self.work, f"dead{self._pass}")
        t0 = time.perf_counter()
        run_pipeline(spark, pipeline_spec(self.sources, out, dead), streaming=False)
        return time.perf_counter() - t0, out, dead

    def measure(self, spark, seconds: float) -> dict:
        """Full passes for ``seconds``, at least ``MIN_BATCH_PASSES``, after
        the warm-up; every pass is checked.  A pass that raises is a
        counted failure."""
        t_warm = time.perf_counter()
        self.warm(spark)
        outputs, walls, raised = [], [], 0
        start = time.perf_counter()
        print(f"batch warm-up {start - t_warm:.1f} s", flush=True)
        while len(walls) + raised < MIN_BATCH_PASSES or time.perf_counter() - start < seconds:
            try:
                wall, out, dead = self.one_pass(spark)
            except Exception as ex:  # noqa: BLE001 — a failing pass is a counted failure
                print(f"batch pass failed: {ex!r}", flush=True)
                raised += 1
                if raised > MIN_BATCH_PASSES:
                    break
                continue
            walls.append(wall)
            outputs.append((out, dead))
        try:
            per_pass = check_batch_outputs(spark, self.sources, outputs)
        except Exception as ex:  # noqa: BLE001 — a check that raises fails every pass
            per_pass = [[f"batch check raised {ex!r}"]] * len(outputs)
        errors = [e for per in per_pass for e in per]
        failed = raised + sum(1 for per in per_pass if per)
        print("batch passes (s): " + " ".join(f"{w:.3f}" for w in walls)
              + f"; checks {time.perf_counter() - start - sum(walls):.1f} s", flush=True)
        return {"attempted": len(outputs) + raised, "failed": failed, "errors": errors,
                "wall_s": statistics.median(walls) if walls else 0.0}

    def traced(self, spark, tracer: Tracer, event_log_dir: str) -> dict:
        self.warm(spark)
        res = traced_cuts(spark, tracer, self.sources, self.work, event_log_dir)
        d = res["durations"]
        errors = check_batch_outputs(spark, self.sources, [(res["out"], res["dead"])])[0]
        dead_n = sum(s.malformed for s in self.sources)
        unroutable = sum(s.records - s.malformed for s in self.sources if not s.tenant.strip())
        full = res["full_span"]
        totals = event_log_totals(event_log_dir).get(full.counts["group"], {})
        layers = {
            "sources.scan_s": d["sources.scan"],
            "sources.read_amplification": totals.get("input_bytes", 0) / self.input_bytes,
            "translators.build_s": d["translators.build"],
            "translators.translate_s": d["translators.translate"] - d["sources.scan"],
            "translators.to_json_s": d["translators.to_json"] - d["translators.translate"],
            "translators.parsed_frac": (self.records - dead_n) / self.records,
            "filterer.route_s": d["filterer.route"] - d["translators.to_json"],
            "filterer.unroutable_records": unroutable,
            "pipeline.write_s": d["pipeline.write"],
            "pipeline.dead_letter_s": d["pipeline.dead_letter"],
            "pipeline.jobs": full.counts["jobs"],
            "pipeline.stages": full.counts["stages"],
            "pipeline.files_written": res["files_written"],
            "pipeline.bytes_written": res["bytes_written"],
        }
        # The scan .. route self times add up to the route cut; the plan
        # build, the write and the dead-letter branch are measured on their
        # own, so the sum is an independent estimate of the untraced pass.
        cut_sum = (d["translators.build"] + d["filterer.route"] + d["pipeline.write"]
                   + d["pipeline.dead_letter"])
        overhead = d["pipeline.run_pipeline"] - d["untraced"]
        gap = cut_sum - d["untraced"]
        allowed = max(abs(overhead), CUT_SUM_TOLERANCE * d["untraced"])
        print(f"ingest batch: cut self times sum to {cut_sum:.3f} s, untraced pass "
              f"{d['untraced']:.3f} s, gap {gap:+.3f} s (allowed ±{allowed:.3f} s)", flush=True)
        if not d["pipeline.dead_letter"]:
            errors.append("no dead-letter write found in the event log")
        elif abs(gap) > allowed:
            errors.append(f"cut self times sum to {cut_sum:.3f} s, untraced pass "
                          f"{d['untraced']:.3f} s")
        return {"errors": errors, "checks": 2, "wall_s": d["pipeline.run_pipeline"],
                "untraced_wall_s": d["untraced"], "layers": layers}

    def single_thread_rate(self, spark) -> float:
        """records/s of one pass over the first file of every source."""
        subset = self.subset()
        out = os.path.join(self.work, "local1-out")
        dead = os.path.join(self.work, "local1-dead")
        t0 = time.perf_counter()
        run_pipeline(spark, pipeline_spec(subset, out, dead), streaming=False)
        return sum(s.records for s in subset) / (time.perf_counter() - t0)


# --- streaming ----------------------------------------------------------------


def _checkpoint_files(checkpoint: str) -> tuple[dict[str, int], dict[int, float]]:
    """From a Structured Streaming checkpoint: the batch id that read each
    source file, and the commit time (mtime of ``commits/<id>``) of each
    committed batch."""
    file_batch: dict[str, int] = {}
    src_root = os.path.join(checkpoint, "sources")
    for src in os.listdir(src_root) if os.path.isdir(src_root) else []:
        d = os.path.join(src_root, src)
        for name in os.listdir(d):
            if name.startswith("."):
                continue
            try:
                with open(os.path.join(d, name)) as fh:
                    lines = fh.read().splitlines()[1:]
            except OSError:
                continue
            for line in lines:
                if line.startswith("{"):
                    entry = json.loads(line)
                    file_batch[os.path.basename(entry["path"])] = entry["batchId"]
    commits: dict[int, float] = {}
    cdir = os.path.join(checkpoint, "commits")
    for name in os.listdir(cdir) if os.path.isdir(cdir) else []:
        if name.isdigit():
            commits[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime
    return file_batch, commits


def _next_trigger(t: float) -> float:
    """The first processing-time trigger at or after ``t``: triggers fire
    on wall-clock multiples of the interval."""
    return math.ceil(t / STREAM_TRIGGER_S) * STREAM_TRIGGER_S


class StreamPath:
    """Open loop: one generator thread drops JSONL files into the watched
    directories of a running ``run_pipeline(streaming=True)`` query on a
    fixed schedule, whatever the query's progress.  Then a burst: a large
    file per source dropped at once, timed until it is committed."""

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.dirs = []
        for i, (tr, tenant) in enumerate(STREAM_SOURCES):
            d = os.path.join(work, "watch", f"src{i}-{tr}")
            os.makedirs(d)
            self.dirs.append(SourceDir(tr, tenant, d, 0, 0, 0))
        self.staging = os.path.join(work, "staging")
        os.makedirs(self.staging)
        self.out = os.path.join(work, "out")
        self.checkpoint = os.path.join(work, "ckpt")
        self._n = 0
        self.dropped: dict[str, tuple[float, float]] = {}  # name -> (due, actual)
        self.records = 0
        self.burst = []
        for i, src in enumerate(self.dirs):
            name = f"burst-{i}.jsonl"
            lines, _ = telemetry_lines(src.translator, BURST_FILE_RECORDS,
                                       seed * 100_000 + 90_000 + i, 0.0)
            write_lines(os.path.join(self.staging, name), lines)
            self.burst.append((name, src))
        self.burst_records = BURST_FILE_RECORDS * len(self.dirs)

    def _file(self) -> tuple[str, SourceDir]:
        """Stage the next file (round-robin over the sources)."""
        src = self.dirs[self._n % len(self.dirs)]
        name = f"f{self._n:05d}.jsonl"
        lines, _ = telemetry_lines(src.translator, STREAM_FILE_RECORDS,
                                   self.seed * 100_000 + self._n, 0.0,
                                   first_id=self._n * STREAM_FILE_RECORDS)
        write_lines(os.path.join(self.staging, name), lines)
        self._n += 1
        self.records += STREAM_FILE_RECORDS
        return name, src

    def _drop(self, name: str, src: SourceDir, due: float) -> None:
        os.rename(os.path.join(self.staging, name), os.path.join(src.path, name))
        self.dropped[name] = (due, time.time())

    def _wait_committed(self, names, timeout: float) -> dict[str, float]:
        """Block until every file in ``names`` is in a committed batch;
        returns each file's commit time."""
        deadline = time.time() + timeout
        while True:
            file_batch, commits = _checkpoint_files(self.checkpoint)
            done = {n: commits[file_batch[n]] for n in names
                    if n in file_batch and file_batch[n] in commits}
            if len(done) == len(names) or time.time() > deadline:
                return done
            time.sleep(0.02)

    def start(self, spark):
        self.query = run_pipeline(
            spark, pipeline_spec(self.dirs, self.out, None, self.checkpoint,
                                 f"{STREAM_TRIGGER_S} seconds"),
            streaming=True,
        )
        warm = [self._file() for _ in self.dirs]
        for name, src in warm:
            self._drop(name, src, time.time())
        self._wait_committed([n for n, _ in warm], STREAM_WAIT_S)

    def _drain(self) -> float:
        """Drop the burst files at once, half a second before a trigger,
        and return the seconds until the last of them is committed."""
        due = _next_trigger(time.time() + 0.6) - 0.5
        time.sleep(max(0.0, due - time.time()))
        for name, src in self.burst:
            self._drop(name, src, due)
        self.records += self.burst_records
        names = [n for n, _ in self.burst]
        done = self._wait_committed(names, STREAM_WAIT_S)
        if len(done) < len(names):
            raise RuntimeError(f"burst: {len(names) - len(done)} files not committed")
        return max(done.values()) - due

    def measure(self, spark, seconds: float, tracer: Tracer | None = None) -> dict:
        """Start the query, drop files for ``seconds`` on schedule, wait for
        every file to commit, drop the burst, stop and check.  Latency runs
        from a file's scheduled drop time to the commit of the batch that
        read it.  An exception fails the whole stream phase."""
        tracer = tracer or Tracer("", enabled=False)
        self.query = None
        try:
            return self._measure(spark, seconds, tracer)
        except Exception as ex:  # noqa: BLE001 — a failing stream is a counted failure
            print(f"stream failed: {ex!r}", flush=True)
            return {"attempted": 1, "failed": 1, "errors": [f"stream raised {ex!r}"],
                    "latency_samples": [], "drain_s": 0.0, "raised": True}
        finally:
            if self.query is not None:
                self.query.stop()

    def _measure(self, spark, seconds: float, tracer: Tracer) -> dict:
        with tracer.span(spark, "stream.start"):
            self.start(spark)
        # The query has already run a micro-batch (start), so no lead-in.
        n_files = int(seconds / STREAM_DROP_INTERVAL_S)
        staged = [self._file() for _ in range(n_files)]
        # Processing-time triggers fire on wall-clock multiples of the
        # interval; starting the schedule at a fixed phase of the clock
        # gives every run the same drop-to-trigger offsets.
        t0 = _next_trigger(time.time()) + STREAM_DROP_INTERVAL_S / 2

        def generator():
            for i, (name, src) in enumerate(staged):
                due = t0 + i * STREAM_DROP_INTERVAL_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self._drop(name, src, due)

        gen = threading.Thread(target=generator, name="perfbench-generator")
        with tracer.span(spark, "stream.open_loop"):
            gen.start()
            gen.join()
        self.open_names = all_names = [n for n, _ in staged]
        file_batch, commits = _checkpoint_files(self.checkpoint)
        self.backlog = sum(1 for n in self.open_names
                           if n not in file_batch or file_batch[n] not in commits)
        with tracer.span(spark, "stream.settle"):
            committed = self._wait_committed(all_names, STREAM_WAIT_S)
        self.progress = list(self.query.main.recentProgress)
        with tracer.span(spark, "stream.burst"):
            drain = self._drain()
        self.query.stop()
        with tracer.span(spark, "stream.check"):
            errors = self.check(spark)
        latencies = [committed[n] - self.dropped[n][0] for n in self.open_names
                     if n in committed]
        lost = n_files - len(committed)
        attempted = n_files + 1
        print(f"burst drain {drain:.3f} s", flush=True)
        return {"attempted": attempted, "failed": attempted if errors else lost,
                "errors": errors, "latency_samples": latencies, "drain_s": drain}

    def check(self, spark) -> list[str]:
        """The streamed output must equal the batch pipeline's routed rows
        over the same files (digest of tenant and payload).  The batch side
        is the engine's own plan (``build_cmf_stream`` then the Filterer),
        digested without writing it out."""
        built = build_cmf_stream(spark, pipeline_spec(self.dirs, self.out, None),
                                 streaming=False)
        wire = built[0] if isinstance(built, tuple) else built
        routed = filter_routable(extract_tenant(wire))
        got, want = routed_digest(spark.read.parquet(self.out)), routed_digest(routed)
        if got != want:
            return [f"stream digest {got} != batch digest {want}"]
        if got[0] != self.records:
            return [f"stream routed {got[0]} of {self.records} records"]
        return []

    def layers(self) -> dict:
        """Per-trigger breakdown from ``recentProgress`` and the checkpoint."""
        busy = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        keys = ("triggerExecution", "latestOffset", "getBatch", "queryPlanning",
                "addBatch", "walCommit", "commitOffsets")
        out = {}
        for k in keys:
            vals = [p["durationMs"].get(k, 0) for p in busy]
            name = "stream.trigger_ms" if k == "triggerExecution" else f"stream.{k}_ms"
            out[name] = statistics.median(vals) if vals else 0.0
        out["stream.rows_per_batch"] = (
            statistics.median(p["numInputRows"] for p in busy) if busy else 0.0)
        starts = {p["batchId"]: datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
                  .timestamp() for p in busy}
        file_batch, _ = _checkpoint_files(self.checkpoint)
        waits = [starts[file_batch[n]] - self.dropped[n][1] for n in self.open_names
                 if file_batch.get(n) in starts]
        out["stream.queue_wait_s"] = statistics.median(waits) if waits else 0.0
        out["stream.generator_late_s"] = max(
            self.dropped[n][1] - self.dropped[n][0] for n in self.open_names)
        out["stream.backlog_end_files"] = self.backlog
        return out


class Ingest:
    """The ``ingest`` workload: the batch path closed-loop, then the stream
    path open-loop and then one burst.  ``wall_s`` is the median batch
    pass, ``records_per_s`` the stream's burst drain rate, and the
    latencies come from the open-loop files."""

    def __init__(self, work: str, seed: int):
        self.batch = BatchPath(os.path.join(work, "batch"), seed)
        self.stream = StreamPath(os.path.join(work, "stream"), seed)

    def measure(self, spark, seconds: float) -> dict:
        t0 = time.perf_counter()
        b = self.batch.measure(spark, seconds / 2)
        t1 = time.perf_counter()
        s = self.stream.measure(spark, max(STREAM_MIN_OPEN_S, seconds / 2))
        print(f"batch phase {t1 - t0:.1f} s, stream phase {time.perf_counter() - t1:.1f} s",
              flush=True)
        drain = s["drain_s"]
        return {
            "attempted": b["attempted"] + s["attempted"],
            "failed": b["failed"] + s["failed"],
            "errors": b["errors"] + s["errors"],
            "metrics": {"records_per_s": self.stream.burst_records / drain if drain else 0.0,
                        "wall_s": b["wall_s"]},
            "latency_samples": s["latency_samples"],
        }

    def traced(self, spark, tracer: Tracer, event_log_dir: str, seconds: float) -> dict:
        with tracer.span(spark, "ingest.batch"):
            try:
                b = self.batch.traced(spark, tracer, event_log_dir)
            except Exception as ex:  # noqa: BLE001 — a failing pass is a counted failure
                b = {"errors": [f"traced batch raised {ex!r}"], "checks": 1, "wall_s": 0.0,
                     "untraced_wall_s": 0.0, "layers": {}}
        with tracer.span(spark, "ingest.stream"):
            s = self.stream.measure(spark, max(STREAM_MIN_OPEN_S, seconds / 2), tracer)
        layers = dict(b["layers"])
        if not s.get("raised"):
            layers.update(self.stream.layers())
        return {"attempted": b["checks"] + s["attempted"],
                "failed": len(b["errors"]) + s["failed"], "errors": b["errors"] + s["errors"],
                "wall_s": b["wall_s"], "untraced_wall_s": b["untraced_wall_s"],
                "layers": layers}
