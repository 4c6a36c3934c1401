"""Shared harness pieces: the Spark session set-up, the span tracer,
percentiles, memory and host facts.

Nothing here changes engine behaviour.  Sessions come from the engine's
own ``get_spark``; tracing only wraps the calls the workloads make.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import pickle
import resource
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

WARMUP_ROWS = 50_000
HEAP = "2g"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")


def configure_env(parallelism: int, tmp_dir: str) -> None:
    """Size the engine's defaults to ``local[parallelism]`` before the
    session module is imported (it reads these at import time), and keep
    Spark's and Python's scratch files under ``tmp_dir``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(parallelism)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(parallelism)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.makedirs(tmp_dir)
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp_dir
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData"
    # A fixed-size driver heap: adaptive heap growth made the JVM's peak
    # RSS vary by over 10% between identical runs.
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{HEAP} pyspark-shell"


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _set_event_log(spark_context_cls, event_log_dir: str | None) -> None:
    """Static confs must be in place before the context starts; JVM system
    properties are what a fresh ``SparkConf`` loads, so this reaches the
    next ``get_spark`` without changing how the engine builds it."""
    jvm = spark_context_cls._jvm
    if jvm is None:
        return
    system = jvm.java.lang.System
    props = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
             "spark.eventLog.dir": f"file://{event_log_dir}"}
    for key, value in props.items():
        if event_log_dir is None:
            system.clearProperty(key)
        else:
            system.setProperty(key, value)


def new_session(parallelism: int, event_log_dir: str | None = None):
    """Stop any running session and start a fresh one; returns the session
    and the seconds spent in ``get_spark`` and in the warm-up job.

    The first call in a process also launches the JVM.  ``event_log_dir``
    turns on Spark's event log for this session only (traced runs)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from pulsar_ingestion_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if event_log_dir is not None and SparkContext._jvm is None:
        raise RuntimeError("a traced session needs a running JVM: start an untraced one first")
    _set_event_log(SparkContext, event_log_dir)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{parallelism}]")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.shuffle.partitions", str(parallelism))
    warm = spark.range(WARMUP_ROWS).selectExpr(
        "sum(id) AS s", "count(DISTINCT id % 1000) AS d",
        "max(get_json_object(concat('{\"k\":', id, '}'), '$.k')) AS j",
    ).collect()[0]
    if warm["s"] != WARMUP_ROWS * (WARMUP_ROWS - 1) // 2 or warm["d"] != 1000:
        raise RuntimeError(f"warm-up job returned a wrong result: {warm}")
    return spark, t1 - t0, time.perf_counter() - t1


def source_digest() -> str:
    """Digest of every Python file of the checkout and of the benchmark's
    testdata: what the engine, the oracles and the checks are made of."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(ROOT):
        dirnames[:] = sorted(d for d in dirnames
                             if not d.startswith(".") and d not in ("__pycache__",
                                                                    "spark-warehouse"))
        in_testdata = os.path.relpath(dirpath, ROOT).startswith(os.path.join("perfbench",
                                                                             "testdata"))
        for name in sorted(files):
            if name.endswith(".py") or (in_testdata and name.endswith(".parquet")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def cached(name: str, compute, keep=lambda value: True):
    """``compute()``'s value, computed once per checkout and source state.

    For expected outputs that depend on the code and the fixed testdata
    but not on the seed: the first run of a checkout computes them (outside
    any timing) and later runs load them, which keeps a set of runs inside
    its time budget.  A value that fails ``keep`` or cannot be pickled is
    not kept."""
    path = os.path.join(CACHE_DIR, f"{name}-{source_digest()[:20]}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    value = compute()
    if not keep(value):
        return value
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "wb") as fh:
            pickle.dump(value, fh)
        os.replace(tmp, path)
    except (pickle.PicklingError, TypeError, AttributeError):
        os.remove(tmp)
    return value


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def peak_rss_mb(pid: int | None) -> tuple[float, float]:
    """Peak resident memory of this Python process and of the JVM, in MB."""
    jvm_kb = 0
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, jvm_kb / 1024.0


def host_facts(parallelism: int) -> dict:
    return {
        "nproc": os.cpu_count(),
        "parallelism": parallelism,
        "shuffle_partitions": parallelism,
        "isolated": round(os.getloadavg()[0], 2),
    }


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value, n)``.  Under 21 samples that percentile would
    lie at or below the median; the maximum is reported with percentile
    100 instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return 100.0, xs[-1], n
    i = n - 11
    return 100.0 * (i + 1) / n, xs[i], n


def latency_metrics(samples: list[float]) -> dict:
    if not samples:  # every timed operation failed; the run still reports
        return {"latency_p50_s": 0.0, "latency_tail_s": 0.0,
                "_tail_percentile": 0.0, "_latency_samples": 0}
    pct, tail, n = tail_percentile(samples)
    return {
        "latency_p50_s": statistics.median(samples),
        "latency_tail_s": tail,
        "_tail_percentile": pct,
        "_latency_samples": n,
    }


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, name))
    return files, nbytes


# --- tracing ----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Each span runs under its own Spark job group, so the status tracker
    attributes jobs and stages to it, and the event log (when the session
    has one) attributes shuffle bytes, input bytes and GC time.  A
    disabled tracer records nothing and sets no job group."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer's own calls

    @contextmanager
    def span(self, spark, name: str):
        if not self.enabled:
            yield None
            return
        t_enter = time.perf_counter()
        idx = len(self.spans)
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(idx)
        group = f"{self.run_id}:{idx}:{name}"
        sp.counts["group"] = group
        sc = spark.sparkContext
        sc.setJobGroup(group, name)
        self.bookkeeping_s += time.perf_counter() - t_enter
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            tracker = sc.statusTracker()
            jobs = list(tracker.getJobIdsForGroup(group))
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            sp.counts.update(jobs=len(jobs), stages=len(stages))
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(parent.counts["group"], parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its direct children cover."""
        own = {i: s.end - s.start for i, s in enumerate(self.spans)}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def dump(self, path: str, extra: dict) -> None:
        own = self.self_times()
        rows = [
            {"run_id": self.run_id, "id": i, "name": s.name, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": own[i],
             **{k: v for k, v in s.counts.items() if k != "group"}}
            for i, s in enumerate(self.spans)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": rows, **extra}, fh, indent=1)


def event_log_totals(event_log_dir: str) -> dict[str, dict]:
    """Per job group: shuffle bytes written, input bytes read, spill bytes
    and executor GC ms, summed over the tasks of its jobs."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    # Spark 4 rolls event logs: one eventlog_v2_<app> dir per application
    for path in sorted(glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        for st in ev.get("Stage IDs", []):
                            stage_group[st] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    acc = out.setdefault(group, {"shuffle_bytes": 0, "input_bytes": 0,
                                                 "spill_bytes": 0, "gc_ms": 0})
                    acc["shuffle_bytes"] += metrics.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    acc["input_bytes"] += metrics.get("Input Metrics", {}).get("Bytes Read", 0)
                    acc["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
                    acc["gc_ms"] += metrics.get("JVM GC Time", 0)
    return out


def event_log_sql_times(event_log_dir: str) -> list[tuple[str, float]]:
    """Every SQL execution in the event log as (physical plan text,
    seconds from its start to its end)."""
    plans: dict[int, tuple[str, int]] = {}
    out = []
    for path in sorted(glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                if "SparkListenerSQLExecution" not in line:
                    continue
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[ev["executionId"]] = (ev.get("physicalPlanDescription", ""), ev["time"])
                elif kind.endswith("SparkListenerSQLExecutionEnd") and ev["executionId"] in plans:
                    plan, start = plans.pop(ev["executionId"])
                    out.append((plan, (ev["time"] - start) / 1000.0))
    return out
