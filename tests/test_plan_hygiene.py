"""Registry-wide physical-plan hygiene: every registered query's plan is
compiled (not executed) and screened for the anti-patterns that kill
100 TB runs.  Complements test_plans.py (deep per-query assertions) with
a cheap breadth gate — a new query with an accidental cartesian product
or a row-at-a-time Python UDF fails here before it ever ships.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

# Queries with an INTENTIONAL non-broadcast cartesian product of bounded
# relations.  (BroadcastNestedLoopJoin is NOT screened: its product side
# is broadcast and therefore memory-bounded by construction — the
# sanctioned crossJoin(broadcast(<1-row aggregate>)) normalizer pattern
# plans as BNLJ.)  Every entry must stay justified.
CARTESIAN_OK = {
    "join_cross",          # region × nation demo — 5 × 25 rows by design
}


# Queries with an INTENTIONAL unpartitioned window (Window.orderBy with
# no partition key — funnels its input through ONE task).  Legal only
# when the window's input is a bounded AGGREGATE relation, never the
# data-scale stream.  Every entry must stay justified.
GLOBAL_WINDOW_OK = {
    "sketch_quantile_logbins",  # window over the O(bins)≈90-row sketch table
    "drift_chi2",               # margins over the |event_type|×2 contingency table
    "win_mom_growth",           # lag over the per-month rollup (~24 rows)
    "text_keyphrase_rake",      # row_number over the TakeOrdered K=20 relation
    "ml_lift_deciles",          # cumsum over the 10-row decile aggregate
    "ml_mutual_info",           # margins over the bins×2 contingency table
}


def _split_top(s):
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


def _n_unpartitioned_windows(plan: str) -> int:
    """Count windowspecdefinitions with NO partition expressions: the
    first top-level argument is either the frame itself or an ordering
    expression (carries ASC/DESC); partition expressions never do."""
    import re

    n = 0
    for m in re.finditer(r"windowspecdefinition\(", plan):
        start = m.end()
        depth, i = 1, start
        while depth and i < len(plan):
            if plan[i] in "([":
                depth += 1
            elif plan[i] in ")]":
                depth -= 1
            i += 1
        first = _split_top(plan[start : i - 1])[0]
        if first.startswith("specifiedwindowframe") or " ASC" in first or " DESC" in first:
            n += 1
    return n


def _struct_extreme_fields(plan: str):
    """Yield the field VALUES of every ``max``/``min`` (or partial) of a
    struct in a formatted plan — rendered ``struct(name1, value1, ...)``."""
    import re

    for m in re.finditer(r"\b(?:partial_)?(?:max|min)\(struct\(", plan):
        start = m.end()
        depth, i = 1, start
        while depth and i < len(plan):
            if plan[i] in "([":
                depth += 1
            elif plan[i] in ")]":
                depth -= 1
            i += 1
        yield _split_top(plan[start : i - 1])[1::2]


def _all_plans(spark):
    out = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF)
        out[name] = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        spark.catalog.clearCache()
    return out


@pytest.fixture(scope="module")
def plans(spark):
    return _all_plans(spark)


def test_no_rowwise_python_udf_anywhere(plans):
    """BatchEvalPython = row-at-a-time Python UDF — banned outright; the
    only sanctioned Python paths are Arrow-vectorized (ArrowEvalPython /
    mapInPandas / applyInPandas)."""
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, offenders


def test_no_unjustified_cartesian_products(plans):
    offenders = [
        n for n, p in plans.items()
        if "CartesianProduct" in p and n not in CARTESIAN_OK
    ]
    assert not offenders, offenders


def test_no_unpartitioned_windows_on_data_paths(plans):
    """An unpartitioned Window.orderBy sorts its whole input in one task
    (VERDICT r5: ml_auc_roc shipped one over the event stream).  Only
    bounded aggregate-sized inputs are exempt, via GLOBAL_WINDOW_OK."""
    offenders = [
        n for n, p in plans.items()
        if _n_unpartitioned_windows(p) > 0 and n not in GLOBAL_WINDOW_OK
    ]
    assert not offenders, offenders


def test_no_single_partition_exchange_on_data_paths(plans):
    """SinglePartition exchanges are legal only for final sketch-sized
    aggregates (1-row reductions); flag queries where one appears more
    than twice — a sign data-sized rows funnel through one task."""
    offenders = [
        n for n, p in plans.items() if p.count("Exchange SinglePartition") > 2
    ]
    assert not offenders, offenders


def test_struct_extremes_negate_only_behind_a_null_flag(plans):
    """A keep-best ``max``/``min`` of a struct that flips a tie-break by
    a bare ``-x`` overflows on the type's minimum under ANSI and lets a
    NULL tie-break lose where the window's NULLS FIRST would pick it.
    Mixed-direction keep-best goes through ``operators.ranking.
    best_struct``, which negates only decimals and floats, and only
    after the column's ``isnull`` flag; any other negated field is a
    hand-written encoding."""
    offenders = set()
    for name, plan in plans.items():
        for values in _struct_extreme_fields(plan):
            for j, v in enumerate(values):
                if v.startswith("-") and f"isnull({v[1:]})" not in values[:j]:
                    offenders.add(name)
    assert not offenders, sorted(offenders)


# The ``.collect(`` call sites under streaming/ off the fold contract:
# the contract's own collect, the drift monitor's stateless reference
# histogram, and the dimension snapshot that commits the batch's schema
# with its rows.
STREAMING_COLLECTS = {
    ("replay.py", "__call__"),
    ("monitor.py", "histogram"),
    ("dim_enrich.py", "apply_dim_batch"),
}

_ACTIONS = {"collect", "count", "first", "take", "head", "toPandas", "foreach", "write"}


def _subclasses(cls):
    for sub in cls.__subclasses__():
        yield sub
        yield from _subclasses(sub)


def test_one_replay_guard_for_add_merge_maintainers(tmp_path):
    """The batch-id replay rule and the one collect live in
    ``streaming/replay.py`` alone: no other streaming module compares
    ``batch_id <=`` or keeps its own watermark, every driver-state
    maintainer is a ``ReplayGuarded``, no subclass defines ``merge`` or
    ``__call__``, no ``summary`` or ``absorb`` body runs a DataFrame
    action, and ``.collect(`` appears only at ``STREAMING_COLLECTS``."""
    import ast
    import inspect
    import re
    import textwrap
    from pathlib import Path

    from pulsar_ingestion_spark.streaming import (
        mixture,
        monitor,
        profile,
        quantile,
        sampler,
        seasonal,
        sketches,
        skyline,
        trend,
    )
    from pulsar_ingestion_spark.streaming.replay import ReplayGuarded

    root = Path(sketches.__file__).parent
    offenders = [
        f"{p.name}:{i}"
        for p in sorted(root.glob("*.py"))
        if p.name != "replay.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"batch_id <=|last_batch *=|_seen_batch", line)
    ]
    assert not offenders, offenders
    maintainers = [
        sketches.HllStreamMaintainer("k"),
        sketches.CmsStreamMaintainer("k"),
        sketches.MgStreamMaintainer("k"),
        quantile.QuantileLogbinsStreamMaintainer("v"),
        mixture.MixturePlanMaintainer(),
        trend.TrendMonitor(),
        seasonal.SeasonalGridMaintainer(),
        profile.ProfileStreamMaintainer(["k"]),
        monitor.rate_monitor("k", str(tmp_path / "rate.jsonl")),
        skyline.SkylineStreamMaintainer("x", "y"),
        sampler.WeightedSampleMaintainer("g", "i", "w"),
    ]
    assert all(isinstance(m, ReplayGuarded) for m in maintainers)

    subclasses = {c for c in _subclasses(ReplayGuarded)
                  if c.__module__.startswith("pulsar_ingestion_spark.")}
    assert {type(m) for m in maintainers} <= subclasses
    for cls in subclasses:
        assert not {"merge", "__call__"} & set(vars(cls)), cls.__name__
        for hook in ("summary", "absorb"):
            tree = ast.parse(textwrap.dedent(inspect.getsource(vars(cls)[hook])))
            actions = {n.attr for n in ast.walk(tree)
                       if isinstance(n, ast.Attribute) and n.attr in _ACTIONS
                       and not (isinstance(n.value, ast.Name) and n.value.id == "F")}
            assert not actions, (cls.__name__, hook, actions)

    collects = set()
    for path in sorted(root.glob("*.py")):
        for fn, _ in _functions(path):
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "collect"):
                    collects.add((path.name, fn.name))
    assert collects == STREAMING_COLLECTS, sorted(collects ^ STREAMING_COLLECTS)


# The one lineage cut outside operators/iterate.py: graph_closeness_centrality
# freezes its limit(5) seed relation once, so the seeds it tests for
# emptiness are the seeds its BFS runs from.
CHECKPOINT_OK = {
    ("operators/iterate.py", "_checkpoint"),
    ("queries_graph.py", "q_graph_closeness_centrality"),
}

FIXPOINT_LOOPS = {
    "queries_graph.py": ["_peel_to_kcore", "_peel_to_ktruss", "bfs_hops", "bfs_hops_per_seed"],
    "operators/dedup.py": ["near_dup_clusters", "near_dup_clusters_lss"],
    "queries_geo.py": ["q_geo_dbscan_grid"],
}


def _functions(path):
    import ast

    src = path.read_text()
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            yield node, src


def test_one_fixpoint_loop_for_the_iterative_kernels():
    """Lineage cuts and round probes live in ``operators/iterate.py``:
    no other ``localCheckpoint`` call outside ``CHECKPOINT_OK``, and no
    loop runs its own ``count()``/``isEmpty()``/``limit`` probe, except
    the large-star/small-star set-equality check on tied counts."""
    import ast
    from pathlib import Path

    import pulsar_ingestion_spark as pkg

    root = Path(pkg.__file__).parent
    cuts = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for fn, _ in _functions(path):
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "localCheckpoint"):
                    cuts.add((rel, fn.name))
    assert cuts <= CHECKPOINT_OK, sorted(cuts - CHECKPOINT_OK)
    assert ("operators/iterate.py", "_checkpoint") in cuts

    probes = []
    for rel, names in FIXPOINT_LOOPS.items():
        found = {fn.name: (fn, src) for fn, src in _functions(root / rel)}
        for name in names:
            fn, src = found[name]
            for node in ast.walk(fn):
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                    continue
                attr = node.func.attr
                if (attr == "count" and not node.args) or attr in ("isEmpty", "limit"):
                    text = ast.get_source_segment(src, node)
                    if not (name == "near_dup_clusters_lss" and ".exceptAll(" in text):
                        probes.append(f"{rel}:{name}: {text}")
    assert not probes, probes


# Jobs to build and count() each fixpoint-loop query at sf0.001 (local[4],
# 4 shuffle partitions): one Spark action per round.  A ceiling may
# only come down.
FIXPOINT_JOB_CEILINGS = {
    "graph_kcore": 31,
    "graph_ktruss": 12,
    "graph_bfs_hops": 20,
    "graph_closeness_centrality": 27,
    "dedup_cluster_components": 19,
    "dedup_cluster_lss": 36,
    "geo_dbscan_grid": 57,
}


def test_fixpoint_query_job_ceilings(spark):
    from pulsar_ingestion_spark.session import load_tables

    qs = entrymod.queries()
    load_tables(spark, SF)  # footer reads stay outside the counted groups
    sc = spark.sparkContext
    over = {}
    for qid, ceiling in FIXPOINT_JOB_CEILINGS.items():
        spark.catalog.clearCache()
        group = f"fixpoint-jobs:{qid}"
        sc.setJobGroup(group, qid)
        try:
            qs[qid](spark, SF).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        if jobs > ceiling:
            over[qid] = (jobs, ceiling)
    assert not over, over


def test_one_ann_search_core():
    """The similarity searches share one implementation of each step.
    Over ``operators/similarity.py``, ``streaming/ann_index.py`` and the
    recall-sweep query: ``row_number`` is called in one top-level
    function (``top_k``); the HOF ``cosine_rounded`` is never called
    (every rerank scores with ``cosine_rounded_kernel``); the only
    ``pandas_udf`` kernels are the one sign-LSH kernel and the PQ
    encode; and the seeded-centroid ``.orderBy(F.md5(...))`` is written
    once."""
    import ast
    from pathlib import Path

    import pulsar_ingestion_spark as pkg

    root = Path(pkg.__file__).parent
    fns = {}
    for rel in ("operators/similarity.py", "streaming/ann_index.py", "queries_llm.py"):
        for node in ast.parse((root / rel).read_text()).body:
            if isinstance(node, ast.FunctionDef) and (
                    rel != "queries_llm.py" or node.name == "q_sim_search_ivf_recall_sweep"):
                fns[f"{rel}::{node.name}"] = node
    assert "queries_llm.py::q_sim_search_ivf_recall_sweep" in fns

    def called(node, name):
        return (isinstance(node, ast.Call)
                and name in (getattr(node.func, "attr", None), getattr(node.func, "id", None)))

    def callers(name):
        return sorted(q for q, fn in fns.items() if any(called(n, name) for n in ast.walk(fn)))

    assert callers("row_number") == ["operators/similarity.py::top_k"]
    assert callers("cosine_rounded") == []
    udfs = sorted(
        q for q, fn in fns.items() for n in ast.walk(fn)
        if isinstance(n, ast.FunctionDef)
        and any(called(d, "pandas_udf") for d in n.decorator_list)
    )
    assert udfs == ["operators/similarity.py::pq_encode_kernel",
                    "operators/similarity.py::signlsh_buckets_multi"], udfs
    md5_orders = [
        q for q, fn in fns.items() for n in ast.walk(fn)
        if called(n, "orderBy") and n.args and called(n.args[0], "md5")
    ]
    assert md5_orders == ["operators/similarity.py::seeded_centroids"], md5_orders


def test_one_tenant_router():
    """The Filterer decision is written once (``operators/filterer.py``)
    and every ingest run goes through it.  Over the package:
    ``extract_tenant`` and ``filter_routable`` are composed only in
    ``route``; one function builds the tenant topic (a ``concat`` beside
    a tenant-column reference); one batch write appends
    ``partitionBy("tenantId")`` dirs, and the only other tenant
    partitioning is the native streaming file sink;
    ``build_cmf_stream``'s result is never shape-tested; and
    the ordered-fold vector expressions ``F.aggregate(F.zip_with(...))``
    are ``vectors.dot`` and ``vectors.dist2``."""
    import ast
    from pathlib import Path

    import pulsar_ingestion_spark as pkg

    root = Path(pkg.__file__).parent

    def name(node):
        return getattr(node, "attr", None) or getattr(node, "id", None)

    def receivers(node):
        while isinstance(node, (ast.Call, ast.Attribute)):
            node = node.func if isinstance(node, ast.Call) else node.value
            if isinstance(node, ast.Attribute):
                yield node.attr

    sites = {k: [] for k in ("extract_tenant", "filter_routable", "topic", "write",
                             "writeStream", "tuple_check", "fold")}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text()).body:
            defs = top.body if isinstance(top, ast.ClassDef) else [top]
            for fn in defs:
                if not isinstance(fn, ast.FunctionDef):
                    continue
                where = f"{rel}::{fn.name}"
                for n in ast.walk(fn):
                    if not isinstance(n, ast.Call):
                        continue
                    f = name(n.func)
                    if f in ("extract_tenant", "filter_routable"):
                        sites[f].append(where)
                    elif f == "concat" and any(
                        isinstance(c, ast.Call) and name(c.func) == "col" and c.args
                        and (getattr(c.args[0], "value", None) == "tenantId"
                             or name(c.args[0]) == "tenant_col")
                        for c in ast.walk(fn)
                    ):
                        sites["topic"].append(where)
                    elif (f == "partitionBy" and n.args
                          and getattr(n.args[0], "value", None) == "tenantId"):
                        chain = list(receivers(n))
                        sites["writeStream" if "writeStream" in chain else "write"].append(where)
                    elif (f == "isinstance" and rel == "plans/pipeline.py"
                          and name(n.args[1]) == "tuple"):
                        sites["tuple_check"].append(where)
                    elif f == "aggregate" and n.args and isinstance(n.args[0], ast.Call) \
                            and name(n.args[0].func) == "zip_with":
                        sites["fold"].append(where)
    assert {k: sorted(v) for k, v in sites.items()} == {
        "extract_tenant": ["operators/filterer.py::route"],
        "filter_routable": ["operators/filterer.py::route"],
        "topic": ["operators/filterer.py::tenant_topic"],
        "write": ["operators/filterer.py::append_tenant_dirs"],
        "writeStream": ["plans/pipeline.py::_stream_writer"],
        "tuple_check": [],
        "fold": ["functions/vectors.py::dist2", "functions/vectors.py::dot"],
    }, sites


# Public top-level defs that no code outside tests/ calls, kept on
# purpose.  Every other uncalled def is deleted (ROADMAP direction 10).
KEEP_UNCALLED = {
    # the paper's surface: the legacy translator family's event-type split
    "operators/legacy.py::route_by_event_type",
    # the record accounting reads and attaches these (ROADMAP direction 9)
    "streaming/metrics.py::attach_metrics",
    "streaming/metrics.py::throughput_summary",
    "streaming/metrics.py::read_metrics",
    "streaming/monitor.py::read_alerts",
    "streaming/monitor.py::rate_monitor",
    # the query side of the streamed IVF index
    "streaming/ann_index.py::ivf_search",
}


def test_every_public_def_has_a_caller():
    """Every public top-level def of the package (registered queries
    and ``q_*`` aside) is named by some non-test module of the repo, its
    own included (a package ``__init__`` re-export does not count), or
    is on ``KEEP_UNCALLED``."""
    import ast
    from pathlib import Path

    import pulsar_ingestion_spark as pkg

    pkg_root = Path(pkg.__file__).parent
    repo = pkg_root.parent
    named = set()
    for path in repo.rglob("*.py"):
        rel = path.relative_to(repo).parts
        if rel[0] == "tests" or rel[0].startswith(".") or path.name == "__init__.py":
            continue
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Name):
                named.add(n.id)
            elif isinstance(n, ast.Attribute):
                named.add(n.attr)
            elif isinstance(n, ast.alias):
                named.add(n.name.rsplit(".", 1)[-1])
    uncalled = set()
    for path in sorted(pkg_root.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, ast.FunctionDef) and not node.decorator_list
                    and not node.name.startswith(("_", "q_")) and node.name not in named):
                uncalled.add(f"{path.relative_to(pkg_root).as_posix()}::{node.name}")
    assert uncalled == KEEP_UNCALLED, sorted(uncalled ^ KEEP_UNCALLED)
