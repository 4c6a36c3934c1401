"""Streaming column profiler (streaming/profile.py): counts must equal
the batch dq_null_profile EXACTLY for any micro-batch cut; the distinct
estimate must equal the batch-HLL estimate of the same rows (register
max-merge); the MG candidate set must contain the true mode whenever
its guarantee says it must; replays must be no-ops."""

from __future__ import annotations

import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"
COLS = ["lang", "source", "n_chars"]


def _stream_docs(spark, tmp_path, maintainer, n_files, tag=""):
    src = str(tmp_path / f"src{tag}{n_files}")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(*COLS)
    docs.repartition(n_files).write.parquet(src)
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(maintainer)
        .option("checkpointLocation", str(tmp_path / f"ckpt{tag}{n_files}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_profile_counts_equal_batch_profile_any_cut(spark, tmp_path):
    from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer

    import __spark_entry__ as e

    batch = (
        e.queries()["dq_null_profile"](spark, SF_DIR).toPandas().set_index("col")
    )
    for n_files in (1, 4):
        m = ProfileStreamMaintainer(COLS)
        _stream_docs(spark, tmp_path, m, n_files)
        prof = m.profile()
        for c in COLS:
            assert prof[c]["n_rows"] == int(batch.loc[c]["n_rows"]), (c, n_files)
            assert prof[c]["n_null"] == int(batch.loc[c]["n_null"]), (c, n_files)


def test_profile_distinct_estimate_is_cut_invariant_and_sane(spark, tmp_path):
    """Register max-merge: each column's registers equal the portable HLL
    registers of that column alone, max-merged across the same cuts
    (for any cut, the registers of the whole table), so the stream
    estimate equals the one-batch estimate of the same rows regardless
    of the cut; it tracks the exact distinct count within the canonical
    ~1.04/sqrt(m) HLL band (m=64 -> 13%; allow 2x for the small
    fixtures)."""
    from pyspark.sql import functions as F

    from pulsar_ingestion_spark.operators.sketch import hll_registers
    from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    table = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = ProfileStreamMaintainer(COLS)
    _stream_docs(spark, tmp_path, one, 1, tag="a")
    four = ProfileStreamMaintainer(COLS)
    _stream_docs(spark, tmp_path, four, 4, tag="b")
    for c in COLS:
        regs = hll_registers(table.select(F.col(c).cast("string").alias(c)), c).collect()
        ref = {int(r["bucket"]): int(r["register"]) for r in regs}
        assert one._hll[c].registers == ref == four._hll[c].registers, c
        est1 = one.profile()[c]["distinct_est"]
        est4 = four.profile()[c]["distinct_est"]
        assert est1 == est4, c
        exact = docs[c].dropna().astype(str).nunique()
        assert abs(est1 - exact) <= max(3.0, 0.26 * exact), (c, est1, exact)


def test_profile_modal_candidates_contain_true_mode(spark, tmp_path):
    from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    m = ProfileStreamMaintainer(COLS)
    _stream_docs(spark, tmp_path, m, 4)
    prof = m.profile()
    for c in ("lang", "source"):  # low-cardinality: mode is heavy
        vc = docs[c].dropna().astype(str).value_counts()
        n = int(vc.sum())
        # the MG superset guarantee applies when the mode is heavy
        if int(vc.iloc[0]) > prof[c]["mg_error_bound"]:
            assert vc.index[0] in prof[c]["modal_candidates"], c
        # exact phase-2 recount over the candidates finds the true mode
        counts = {v: int(vc.get(v, 0)) for v in prof[c]["modal_candidates"]}
        assert max(counts.values()) == int(vc.iloc[0]), c
        assert n == prof[c]["n_rows"] - prof[c]["n_null"]


def test_profile_replay_is_a_no_op(spark):
    from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(*COLS)
    m = ProfileStreamMaintainer(COLS)
    m(docs, 0)
    before = m.profile()
    m(docs, 0)  # at-least-once replay: guarded out
    after = m.profile()
    assert after == before
    m(docs, 1)  # same rows under a NEW id: counts add (by design)
    assert m.profile()["lang"]["n_rows"] == 2 * before["lang"]["n_rows"]
    # ...but the HLL distinct estimate is unchanged (idempotent algebra)
    assert m.profile()["lang"]["distinct_est"] == before["lang"]["distinct_est"]


def _merge_jobs(spark, cols: list[str], group: str) -> list[int]:
    """Job ids of one profile merge of ``cols`` run under job ``group``;
    asserts that no job of the merge ran outside the group."""
    from pulsar_ingestion_spark.streaming.profile import ProfileStreamMaintainer

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(*cols)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        ProfileStreamMaintainer(cols)(docs, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    return list(tracker.getJobIdsForGroup(group))


def test_profile_jobs_run_under_the_callers_job_group(spark):
    """Every job of a merge runs under the caller's job group, so a
    tracer that attributes jobs by group sees the profile's cost."""
    assert len(_merge_jobs(spark, ["lang", "source"], "profile-merge-jobs")) >= 1


def test_profile_job_count_is_independent_of_width(spark):
    """One unpivoted scan and one action a batch: a 3-column merge starts
    as many jobs as a 1-column merge."""
    one = _merge_jobs(spark, COLS[:1], "profile-width-1")
    three = _merge_jobs(spark, COLS, "profile-width-3")
    assert len(one) == len(three) >= 1, (one, three)
