"""Execute EVERY registered query at sf0.001 — the never-run-code gate.

VERDICT r3: ``sketch_bloom_build`` shipped in an end-of-round snapshot
without ever being executed and crashed at plan construction
(``F.shiftleft`` handed a Column bit count).  This test makes that
impossible to repeat: one parametrized case per registry entry, each
asserting the query plans, runs, and returns a driver-safe result
(≥0 rows, no array/map/struct output columns — the driver's hasher
rejects those).

Correctness-vs-oracle lives in ``tools/selfcheck.py`` and the driver's
CORRECTNESS gate; this test only guarantees *executability*, so it
limits each result to a handful of rows to stay fast.

It is also the build-job ratchet: a query's plan is built under its own
job group, and the jobs that ran (eager work inside the query function)
may not exceed the query's row in ``build_jobs_sf0.001.txt``, the output
of ``tools/qtime.py --census`` at sf0.001 (local[4], 4 shuffle
partitions).  An id with no row there must build with 0 jobs.  A ceiling
may only come down.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from pulsar_ingestion_spark.registry import QUERIES
from pulsar_ingestion_spark.session import load_tables

_IDS = sorted(QUERIES)
_CENSUS = (line.split() for line in
           Path(__file__).with_name("build_jobs_sf0.001.txt").read_text().splitlines())
BUILD_JOB_CEILINGS = {r[0]: int(r[1]) for r in _CENSUS if len(r) == 3 and r[1].isdigit()}


def test_registry_matches_entry():
    assert set(entrymod.queries()) == set(QUERIES)


@pytest.mark.parametrize("name", _IDS)
def test_query_executes(spark, sf_dir, name):
    load_tables(spark, sf_dir)  # footer reads stay outside the counted group
    sc = spark.sparkContext
    group = f"build-jobs:{name}"
    sc.setJobGroup(group, name)
    try:
        df = QUERIES[name](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert build_jobs <= BUILD_JOB_CEILINGS.get(name, 0), (
        f"{name}: building the plan ran {build_jobs} Spark jobs, over its "
        f"ceiling {BUILD_JOB_CEILINGS.get(name, 0)} in build_jobs_sf0.001.txt"
    )
    # schema must be resolvable and driver-hashable (no nested types)
    for f in df.schema.fields:
        kind = f.dataType.typeName()
        assert kind not in {"array", "map", "struct"}, (
            f"{name}: output column {f.name!r} is {kind}-typed — the driver "
            "hasher rejects nested values; serialize via array_join/to_json"
        )
    rows = df.limit(5).collect()
    assert rows is not None
