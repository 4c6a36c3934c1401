"""Round-8 regression tests for the ADVICE r7 fixes: NULL-keyed running
sums, empty-path totals schema, watermark lock-steal ownership, the
pre-r7 __default__ → app_id watermark migration, and the auto-scaling
blas-oracle plane formula staying in lockstep with auto_num_planes."""

from __future__ import annotations

import json
import os

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_keyed_running_sums_null_keys_match_window(spark):
    """Window.partitionBy treats a NULL key as an ordinary group — the
    offset join must too (null-safe equality), not drop the rows."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    rows = [(k, float(v), v + 1)
            for k in ("a", None, "b") for v in range(10)]
    df = spark.createDataFrame(rows, "k string, val double, x long")
    out, totals = keyed_running_sums(df, ["k"], [F.col("val")], ["x"],
                                     num_partitions=5)
    assert out.count() == 30  # nothing silently dropped
    w = (
        Window.partitionBy("k").orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ref = df.select("k", "val", F.sum("x").over(w).alias("cum_x"))
    got = {(r["k"], r["val"]): r["cum_x"] for r in out.collect()}
    want = {(r["k"], r["val"]): r["cum_x"] for r in ref.collect()}
    assert got == want
    tot = {r["k"]: r["total_x"] for r in totals.collect()}
    assert tot == {"a": 55, None: 55, "b": 55}


def test_keyed_running_sums_empty_schema_matches_nonempty(spark):
    """The empty-input path must emit totals with the SAME types as the
    inferred non-empty path (long for integral sums, double for
    fractional, key columns at their input types)."""
    from pulsar_ingestion_spark.operators.ranking import keyed_running_sums

    schema = "k string, val double, x long, y double"
    empty = spark.createDataFrame([], schema)
    full = spark.createDataFrame([("a", 1.0, 2, 0.5)], schema)
    _, t_empty = keyed_running_sums(empty, ["k"], [F.col("val")], ["x", "y"])
    _, t_full = keyed_running_sums(full, ["k"], [F.col("val")], ["x", "y"])
    assert t_empty.schema == t_full.schema
    assert [f.dataType.simpleString() for f in t_empty.schema.fields] == [
        "string", "bigint", "double",
    ]


def test_watermark_lock_steal_is_ownership_checked(spark, tmp_path):
    """A stalled writer whose lock was stolen must not unlink the new
    holder's lock, and must not publish its stale map over a newer one
    (ADVICE r7 versioned.py:303)."""
    from pulsar_ingestion_spark.operators.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    lock = t._watermark_file + ".lock"
    # simulate a NEW holder owning the lock with its own token
    with open(lock, "w") as fh:
        fh.write("someone-elses-token")
    # the stalled writer's cleanup path: only unlink if token matches
    assert t._lock_token(lock) == "someone-elses-token"
    # a fresh writer steals after its deadline; afterwards the lock is
    # gone (released by the OWNER, not by a stale finally-block)
    import time

    start = time.time()
    t._raise_batch_watermark(5, "appA")
    assert time.time() - start >= 9.5  # waited the full steal deadline
    assert not os.path.exists(lock)
    assert t.batch_watermark("appA") == 5


def test_watermark_stale_holder_does_not_clobber(tmp_path):
    """Directly exercise the re-validate-before-replace rail: a writer
    holding a mismatched lock token must drop its update."""
    from pulsar_ingestion_spark.operators.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    # seed a committed watermark
    t._raise_batch_watermark(10, "appA")
    # monkeypatch: make _lock_token always report foreign ownership so the
    # writer believes its lock was stolen mid-critical-section
    orig = VersionedTable.__dict__["_lock_token"]
    try:
        VersionedTable._lock_token = staticmethod(lambda _lock: "foreign")
        t._raise_batch_watermark(3, "appB")  # stale small update
    finally:
        VersionedTable._lock_token = orig
    # the stale writer must NOT have published appB, nor regressed appA
    wm = t._load_watermark_map(t._watermark_file)
    assert wm == {"appA": 10}
    # and no temp or lock debris
    assert not [f for f in os.listdir(t.manifest_dir) if f.startswith(".wm-")]


def test_migrate_default_app_aliases_legacy_watermark(spark, tmp_path):
    """Pre-r7 history committed under __default__; resuming the same
    checkpoint under a named app_id must no-op replays of those batches
    (ADVICE r7 pipeline.py:220)."""
    from pulsar_ingestion_spark.operators.versioned import VersionedTable

    root = str(tmp_path / "t")
    t = VersionedTable(root)
    df = spark.range(5).toDF("k")
    # legacy commits: no app id (pre-upgrade pipeline)
    legacy = t.stream_batch_committer()
    legacy(df, 0)
    legacy(df, 1)
    assert t.read(spark).count() == 10
    # upgrade: same checkpoint resumes under app_id=checkpoint path
    app = str(tmp_path / "ckpt")
    t.migrate_default_app(app)
    new = t.stream_batch_committer(app_id=app)
    new(df, 1)  # Structured Streaming replays the last batch
    assert t.read(spark).count() == 10  # no duplicate append
    new(df, 2)  # genuinely new batch still lands
    assert t.read(spark).count() == 15
    # a FRESH checkpoint (different app, not migrated) is unaffected:
    # its small batch ids are fresh and must land
    fresh = t.stream_batch_committer(app_id=str(tmp_path / "ckpt2"))
    fresh(df, 0)
    assert t.read(spark).count() == 20


def test_blas_auto_plane_formula_matches_duckdb():
    """The DuckDB-side plane-count expression in the auto blas oracle
    computes exactly auto_num_planes(n, target_block=512, lo=3, hi=8)
    for n across BOTH clamp boundaries — including far past the
    hyperplane-literal pool, where the pre-r10 one-sided 20-clamp
    silently diverged from the oracle's 8-literal CTE (ADVICE r9
    queries_llm.py:401)."""
    import duckdb

    from pulsar_ingestion_spark.operators.similarity import auto_num_planes

    # exactly the SQL _blas_oracle emits with max_planes=8
    expr = (
        "SELECT CASE WHEN n <= 512 THEN 3 "
        "ELSE GREATEST(3, LEAST(8, CAST(ceil(log2(n / 512.0)) AS BIGINT))) END "
        "FROM (SELECT {n} AS n)"
    )
    for n in [1, 500, 512, 513, 2000, 4096, 4097, 8192, 8193, 20000,
              100000, 131072, 131073, 2_000_000, 10_000_000_000]:
        duck = duckdb.sql(expr.format(n=n)).fetchone()[0]
        assert duck == auto_num_planes(n, target_block=512, lo=3, hi=8), n
    # and the 12-plane LSH/multiprobe variant
    expr12 = (
        "SELECT CASE WHEN n <= 512 THEN 6 "
        "ELSE GREATEST(6, LEAST(12, CAST(ceil(log2(n / 512.0)) AS BIGINT))) END "
        "FROM (SELECT {n} AS n)"
    )
    for n in [1, 512, 513, 2_000, 2_097_152, 2_097_153, 10_000_000_000]:
        duck = duckdb.sql(expr12.format(n=n)).fetchone()[0]
        assert duck == auto_num_planes(n, target_block=512, lo=6, hi=12), n


def test_blas_oracle_auto_matches_fixed_in_clamp_region(spark):
    """At fixture sizes (≤4096 vectors) the auto oracle must produce the
    same rows as the old fixed 3-plane oracle."""
    import duckdb

    from pulsar_ingestion_spark.queries_llm import _blas_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    )
    fixed = con.execute(_blas_oracle(64, 3, 8, 42, 0.4)).df()
    auto = con.execute(_blas_oracle(64, None, 8, 42, 0.4)).df()
    key = ["id_a", "id_b", "cos_sim"]
    assert sorted(map(tuple, fixed[key].values.tolist())) == sorted(
        map(tuple, auto[key].values.tolist())
    )
    assert len(auto) > 0


def test_minhash_signatures_explode_plan_matches_naive_hof(spark):
    """The explode+codegen-aggregate signature plan (round-8 scale fix)
    must produce EXACTLY the values of the naive array_min(transform(...))
    form it replaced for the md5 family — same minhashes, same shingle
    sets."""
    from pyspark.sql import functions as F2

    from pulsar_ingestion_spark.functions.text import shingles
    from pulsar_ingestion_spark.operators.dedup import (
        MINHASH_SEEDS,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    w = shingles(F2.col("text"), 3)
    def md5_sig(s):
        # NOTE: the inner lambda must stay unary — a second (defaulted)
        # parameter would make pyspark bind it as an (element, index) HOF
        return F2.array_min(
            F2.transform(w, lambda x: F2.md5(F2.concat(F2.lit(f"{s}:"), x)))
        )

    naive = docs.select(
        F2.col("doc_id"),
        w.alias("w"),
        *[md5_sig(s).alias(f"sig_{i}") for i, s in enumerate(MINHASH_SEEDS)],
    )
    got = {r["doc_id"]: r for r in minhash_signatures(docs, hash="md5").collect()}
    want = {r["doc_id"]: r for r in naive.collect()}
    assert set(got) == set(want)
    for d in want:
        assert sorted(got[d]["w"]) == sorted(want[d]["w"]), d
        for i in range(8):
            assert got[d][f"sig_{i}"] == want[d][f"sig_{i}"], (d, i)


def test_minhash_fast_rejects_unknown_hash(spark):
    import pytest as _pytest

    from pulsar_ingestion_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="hash family"):
        minhash_signatures(df, hash="sha1")


def test_bfs_hops_known_graph(spark):
    """bfs_hops on a hand-built graph: path 1-2-3-4-5 plus isolated
    component 8-9; seeds {1, 8}; max_hops 2 → distances are exact BFS
    hops, nodes beyond the bound are absent."""
    from pulsar_ingestion_spark.queries_graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "u long, v long"
    )
    bidir = edges.selectExpr("u as node", "v as nbr").unionAll(
        edges.selectExpr("v as node", "u as nbr")
    ).persist()
    seeds = spark.createDataFrame([(1,), (8,)], "node long")
    got = {r["node"]: r["dist"] for r in bfs_hops(bidir, seeds, 2).collect()}
    assert got == {1: 0, 8: 0, 2: 1, 9: 1, 3: 2}
    # hop bound respected: 4 (dist 3) and 5 (dist 4) not reached
    full = {r["node"]: r["dist"] for r in bfs_hops(bidir, seeds, 10).collect()}
    assert full == {1: 0, 8: 0, 2: 1, 9: 1, 3: 2, 4: 3, 5: 4}
    bidir.unpersist()
