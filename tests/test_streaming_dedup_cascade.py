"""Batch-equivalence, replay, and restart proofs for the streaming dedup
cascade (streaming/dedup_cascade.py) — the tests its module docstring
promises (VERDICT r7 item 1).

Claim under test: when documents arrive in ascending doc-id order, the
accepted set of the incremental cascade equals the batch cascade
(queries_llm.q_text_dedup_cascade)'s keep set EXACTLY, regardless of how
the stream is cut into micro-batches, and replayed/restarted batches
never change the state (exactly-once via the app-scoped batch
watermark).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.versioned import VersionedTable
from pulsar_ingestion_spark.streaming.dedup_cascade import (
    accepted_docs,
    stream_dedup_cascade,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )


def _run_cut(spark, root: str, n_batches: int) -> set[tuple]:
    """Split the sf0.001 documents into ``n_batches`` ascending-doc-id
    micro-batches, feed them through the cascade with synthetic batch
    ids, and return the accepted (doc_id, source) set."""
    docs = _docs(spark)
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    per = (len(ids) + n_batches - 1) // n_batches
    process = stream_dedup_cascade(root, app_id=f"cut{n_batches}")
    for b in range(n_batches):
        chunk = ids[b * per : (b + 1) * per]
        if not chunk:
            continue
        batch = docs.filter(
            (F.col("doc_id") >= chunk[0]) & (F.col("doc_id") <= chunk[-1])
        )
        process(batch, b)
    return {tuple(r) for r in accepted_docs(spark, root).collect()}


def test_batch_cut_invariance_and_funnel_equality(spark, tmp_path):
    """(a) The accepted set is identical for 1, 2, and 5 batch cuts, and
    its per-source counts equal q_text_dedup_cascade's n_final — i.e.
    the incremental cascade's keep set IS the batch cascade's keep set."""
    from pulsar_ingestion_spark.queries_llm import q_text_dedup_cascade

    sets = {
        n: _run_cut(spark, str(tmp_path / f"t{n}"), n) for n in (1, 2, 5)
    }
    assert sets[1] == sets[2] == sets[5]
    got = {}
    for doc_id, source in sets[1]:
        got[source] = got.get(source, 0) + 1
    funnel = {
        r["source"]: r["n_final"]
        for r in q_text_dedup_cascade(spark, SF_DIR).collect()
    }
    assert got == funnel
    # the cascade actually removed something at each stage on this corpus
    # (otherwise the equality above proves nothing)
    total = sum(
        r["n_docs"] for r in q_text_dedup_cascade(spark, SF_DIR).collect()
    )
    assert len(sets[1]) < total


def test_replayed_batch_is_a_noop(spark, tmp_path):
    """(b) Re-calling a committed batch id (Structured Streaming
    at-least-once replay) advances nothing: same version, same state."""
    root = str(tmp_path / "t")
    docs = _docs(spark)
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    mid = ids[len(ids) // 2]
    b0 = docs.filter(F.col("doc_id") <= mid)
    b1 = docs.filter(F.col("doc_id") > mid)
    process = stream_dedup_cascade(root, app_id="replay")
    process(b0, 0)
    process(b1, 1)
    table = VersionedTable(root)
    v = table.current_version()
    before = {tuple(r) for r in accepted_docs(spark, root).collect()}
    # replay both batches, out of order — watermark no-ops BEFORE any
    # state read, so decisions are never recomputed
    process(b1, 1)
    process(b0, 0)
    assert table.current_version() == v
    after = {tuple(r) for r in accepted_docs(spark, root).collect()}
    assert after == before


def test_restart_from_checkpoint_end_to_end(spark, tmp_path):
    """(c) Real Structured Streaming run (file source, availableNow) in
    the style of test_stream_committer_end_to_end_with_restart: restart
    on the same checkpoint duplicates nothing; late-arriving files dedup
    against the persisted state; the final accepted set equals the
    single-cut batch result."""
    docs = _docs(spark)
    rows = sorted(
        ((r["doc_id"], r["source"], r["text"]) for r in docs.collect()),
        key=lambda t: t[0],
    )
    src = tmp_path / "src"
    src.mkdir()

    def _write(name, chunk):
        (src / name).write_text(
            "\n".join(
                json.dumps({"doc_id": i, "source": s, "text": t})
                for i, s, t in chunk
            )
            + "\n"
        )

    _write("a.jsonl", rows[:300])
    root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("doc_id long, source string, text string").json(
        str(src)
    )

    def _run():
        q = (
            stream.writeStream.foreachBatch(
                stream_dedup_cascade(root, app_id=ckpt)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    first = {tuple(r) for r in accepted_docs(spark, root).collect()}
    assert first
    # restart, no new data → nothing changes
    _run()
    assert {tuple(r) for r in accepted_docs(spark, root).collect()} == first
    # the tail arrives as a second file → dedups against persisted state
    _write("b.jsonl", rows[300:])
    _run()
    final = {tuple(r) for r in accepted_docs(spark, root).collect()}
    expected = _run_cut(spark, str(tmp_path / "ref"), 1)
    assert final == expected


def test_accepted_docs_builds_without_a_job(spark, tmp_path, jobs_run_by):
    """The state's schema rides in its manifest, so building the
    accepted-docs frame reads no parquet footer: no Spark job runs."""
    root = str(tmp_path / "state")
    stream_dedup_cascade(root, app_id="schema")(_docs(spark), 0)
    df, jobs = jobs_run_by(lambda: accepted_docs(spark, root))
    assert jobs == 0
    assert df.count() > 0


def test_exact_copies_and_null_text_get_no_state_row(spark, tmp_path):
    """The exact stage: a later copy of a state doc's text, the second of
    two equal new texts in one batch, and NULL text leave no state row;
    the first of the two new texts is kept."""
    root = str(tmp_path / "state")
    process = stream_dedup_cascade(root, app_id="exact")
    docs = _docs(spark)
    process(docs, 0)
    first = {r["doc_id"] for r in VersionedTable(root).read(spark).collect()}
    novel = "an entirely new text about exact copies in one micro batch"
    batch = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100_000)
        .unionByName(docs.filter(F.col("doc_id") % 11 == 0)
                     .withColumn("doc_id", F.col("doc_id") + 200_000)
                     .withColumn("text", F.lit(None).cast("string")))
        .unionByName(spark.createDataFrame(
            [(300_002, "web", novel), (300_001, "web", novel)], docs.schema))
    )
    process(batch, 1)
    rows = VersionedTable(root).read(spark).collect()
    assert {r["doc_id"] for r in rows} == first | {300_001}
    assert all(r["accepted"] for r in rows if r["doc_id"] == 300_001)


def _scans(spark, df, root: str) -> int:
    """File scans under ``root`` in ``df``'s optimized plan.  A cached
    relation's plan counts once however often the plan reads the cache:
    it is computed once."""
    seen, n = set(), 0
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        leaves = todo.pop().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.getClass().getSimpleName()
            if kind == "InMemoryRelation":
                cache = leaf.cacheBuilder()
                key = spark._jvm.System.identityHashCode(cache)
                if key not in seen:
                    seen.add(key)
                    todo.append(cache.cachedPlan())
            elif kind == "AdaptiveSparkPlanExec":
                todo.append(leaf.inputPlan())
            elif kind in ("LogicalRelation", "FileSourceScanExec"):
                n += root in leaf.relation().location().rootPaths().toString()
    return n


def test_batch_plan_scans_source_and_state_once(spark, tmp_path, monkeypatch):
    """The second batch's plan (the one with state to probe) reads the
    micro-batch source once and the state table once."""
    root = str(tmp_path / "state")
    scans = []
    real = VersionedTable.stream_batch_committer

    def recording(self, app_id):
        commit = real(self, app_id)

        def wrapped(df, batch_id):
            # while the batch's cached survivors are live
            scans.append((_scans(spark, df, "documents.parquet"), _scans(spark, df, root)))
            commit(df, batch_id)

        return wrapped

    monkeypatch.setattr(VersionedTable, "stream_batch_committer", recording)
    process = stream_dedup_cascade(root, app_id="plan")
    docs = _docs(spark)
    process(docs.filter(F.col("doc_id") % 2 == 0), 0)
    process(docs.filter(F.col("doc_id") % 2 == 1), 1)
    assert scans == [(1, 0), (1, 1)]


def test_state_format_matches_minhash_signatures(spark, tmp_path):
    """The state row of each exact survivor carries md5(text), the
    document's shingle set and the band concat of the md5 MinHash
    signatures — the values ``minhash_signatures(hash="md5")`` gives —
    under the columns and types existing state roots were written with."""
    from pulsar_ingestion_spark.operators.dedup import minhash_signatures

    root = str(tmp_path / "state")
    _run_cut(spark, root, 2)
    state = VersionedTable(root).read(spark)
    assert [(f.name, f.dataType.simpleString()) for f in state.schema] == [
        ("doc_id", "bigint"), ("source", "string"), ("digest", "string"),
        ("w", "array<string>"), ("b0", "string"), ("b1", "string"),
        ("b2", "string"), ("b3", "string"), ("accepted", "boolean"),
    ]
    docs = _docs(spark)
    sigs = minhash_signatures(docs, hash="md5").select(
        "doc_id", F.col("w").alias("want_w"),
        *[F.concat(f"sig_{2 * b}", f"sig_{2 * b + 1}").alias(f"want_b{b}")
          for b in range(4)],
    )
    got = state.join(sigs, "doc_id").join(
        docs.select("doc_id", F.md5("text").alias("want_digest")), "doc_id"
    )
    assert got.count() == state.count() > 0
    bad = got.filter(
        (F.col("w") != F.col("want_w"))
        | (F.col("digest") != F.col("want_digest"))
        | F.greatest(*[F.col(f"b{b}") != F.col(f"want_b{b}") for b in range(4)])
    )
    assert bad.count() == 0
