"""Versioned-table (manifest) layer: snapshot isolation, time travel,
rollback, CAS commit races, and vacuum safety."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.versioned import CommitConflict, VersionedTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").cast("long").alias("id"))


def test_append_and_time_travel(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    v0 = t.append(_df(spark, 0, 10))
    v1 = t.append(_df(spark, 10, 30))
    assert (v0, v1) == (0, 1)
    assert t.read(spark, 0).count() == 10
    assert t.read(spark, 1).count() == 30
    assert t.read(spark).count() == 30  # latest
    assert t.describe(1).parent == 0


def test_overwrite_keeps_history(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.overwrite(_df(spark, 100, 105))
    assert t.read(spark).count() == 5
    assert t.read(spark, 0).count() == 10  # old snapshot intact
    assert t.describe().op == "overwrite"


def test_rollback_is_append_only(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    t.overwrite(_df(spark, 0, 3))
    v = t.rollback(0)
    assert v == 2
    assert t.read(spark).count() == 10
    assert t.versions() == [0, 1, 2]  # history never truncated


def test_every_commit_records_its_schema(spark, tmp_path, jobs_run_by):
    """append, overwrite, rollback and a stream append each record the
    schema they wrote, so a read of any version needs no footer job; a
    hand-written manifest without one is still read by inference."""
    t = VersionedTable(str(tmp_path / "t"))
    wide = _df(spark, 0, 4).withColumn("tag", F.lit("x"))
    t.append(_df(spark, 0, 10))
    t.overwrite(wide)
    t.rollback(0)
    t.stream_batch_committer("app")(wide, 0)
    for v, df in enumerate([_df(spark, 0, 10), wide, _df(spark, 0, 10), wide]):
        assert t.describe(v).schema == df.schema, v
        read, jobs = jobs_run_by(lambda: t.read(spark, v))
        assert jobs == 0, v
        assert read.columns == df.columns, v
    t._commit("append", t.describe(0).files, base=t.current_version())
    assert t.describe().schema is None
    assert t.read(spark).count() == 10


def test_snapshot_isolation_while_writing(spark, tmp_path):
    """Files staged by an in-flight write are invisible until the
    manifest commits."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))
    staged = t._write_files(_df(spark, 10, 20))  # staged, NOT committed
    assert staged
    assert t.read(spark).count() == 10  # reader still sees v0 only
    t._commit("append", t.describe().files + staged, base=t.current_version())
    assert t.read(spark).count() == 20


def test_commit_race_cas(spark, tmp_path):
    """A racer claiming the next slot forces the retry path; a commit
    against a stale base deterministically conflicts."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))
    # racer steals slot 1 directly
    racer_files = t._write_files(_df(spark, 5, 8))
    t._commit("append", t.describe().files + racer_files, base=t.current_version())
    # append still succeeds by retrying into slot 2
    t.append(_df(spark, 8, 10))
    assert t.current_version() == 2
    assert t.read(spark).count() == 10
    # a commit built against a stale base (racer committed between our
    # read and our link) must CONFLICT, never silently land
    with pytest.raises(CommitConflict):
        t._commit("append", [], base=t.current_version() - 1)


def test_commit_race_never_loses_racer_files(spark, tmp_path):
    """ADVICE r5 (high): if a racer commits between append()'s base-file
    read and the CAS, the retry must rebuild its file list against the
    racer's version — the final table contains BOTH writers' rows."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 5))  # v0

    # interpose on current_version: the first call (our append's base
    # read) is allowed, then a racer lands v1 before our CAS fires.
    real_current = t.current_version
    state = {"racer_done": False}

    def racing_current():
        v = real_current()
        if not state["racer_done"]:
            state["racer_done"] = True
            racer_files = t._write_files(_df(spark, 100, 110))
            t._commit("append", t.describe().files + racer_files, base=v)
        return v

    t.current_version = racing_current  # type: ignore[method-assign]
    t.append(_df(spark, 5, 8))
    t.current_version = real_current  # type: ignore[method-assign]
    # both the racer's 10 rows and our 3 rows survive
    assert t.read(spark).count() == 18
    ids = {r["id"] for r in t.read(spark).collect()}
    assert set(range(100, 110)) <= ids and set(range(5, 8)) <= ids


def test_vacuum_keeps_reachable_only(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))      # v0
    t.overwrite(_df(spark, 0, 5))    # v1 — v0's files now unreachable from v1+
    t.append(_df(spark, 5, 9))       # v2
    removed = t.vacuum(keep_last=2, grace_seconds=0.0)
    assert removed  # v0's exclusive files were deleted
    assert t.versions() == [1, 2]
    assert t.read(spark, 2).count() == 9
    assert t.read(spark, 1).count() == 5
    with pytest.raises(FileNotFoundError):
        t.describe(0)


def test_vacuum_never_breaks_retained_versions(spark, tmp_path):
    """Files shared between retained and expired versions survive."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))      # v0
    t.append(_df(spark, 10, 12))     # v1 shares v0's files
    t.append(_df(spark, 12, 15))     # v2 shares v0+v1's files
    t.vacuum(keep_last=2, grace_seconds=0.0)  # drops manifest v0 only
    assert t.read(spark, 1).count() == 12
    assert t.read(spark, 2).count() == 15


def test_vacuum_grace_protects_inflight_writer(spark, tmp_path):
    """ADVICE r5 (medium): files staged by a concurrent writer whose
    manifest has not committed yet must survive a default-grace vacuum —
    the writer's commit then succeeds with all its data intact."""
    t = VersionedTable(str(tmp_path / "t"))
    t.append(_df(spark, 0, 10))      # v0
    t.overwrite(_df(spark, 0, 5))    # v1
    t.append(_df(spark, 5, 9))       # v2
    staged = t._write_files(_df(spark, 50, 60))  # in-flight writer
    removed = t.vacuum(keep_last=2)  # default grace: every subdir is young
    assert removed == []             # nothing deleted, manifests still expire
    assert t.versions() == [1, 2]
    t._commit("append", t.describe().files + staged, base=t.current_version())
    assert t.read(spark).count() == 19  # 9 + the in-flight writer's 10


def test_vacuum_watermark_blocks_replay_of_expired_batch(spark, tmp_path):
    """ADVICE r5 (medium): vacuum persists a batch-id high-watermark
    before expiring manifests, so a delayed streaming replay of a
    vacuumed batch is still recognized and skipped."""
    t = VersionedTable(str(tmp_path / "t"))
    commit = t.stream_batch_committer()
    commit(_df(spark, 0, 10), 0)
    commit(_df(spark, 10, 15), 1)
    commit(_df(spark, 15, 18), 2)
    t.vacuum(keep_last=1, grace_seconds=0.0)  # batch-0/1 manifests expire
    assert t.committed_batch_ids() == {2}     # manifest scan forgot 0 and 1
    assert t.batch_watermark() == 2
    commit(_df(spark, 0, 10), 0)              # delayed replay of batch 0
    commit(_df(spark, 10, 15), 1)
    assert t.read(spark).count() == 18        # no duplicates


def test_stream_committer_idempotent_per_batch(spark, tmp_path):
    """A replayed foreachBatch call (same batch_id) must be a no-op —
    the exactly-once contract on top of streaming's at-least-once
    replay."""
    t = VersionedTable(str(tmp_path / "t"))
    commit = t.stream_batch_committer()
    commit(_df(spark, 0, 10), 0)
    commit(_df(spark, 10, 15), 1)
    assert t.read(spark).count() == 15
    commit(_df(spark, 10, 15), 1)  # replay of batch 1
    commit(_df(spark, 0, 10), 0)   # stale replay of batch 0
    assert t.read(spark).count() == 15
    assert t.committed_batch_ids() == {0, 1}
    assert t.describe().op == "stream-append"


def test_stream_committer_end_to_end_with_restart(spark, tmp_path):
    """File-source stream → versioned sink; a restart from the same
    checkpoint (which replays or no-ops depending on commit-log state)
    never duplicates rows."""
    import json as _json

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.jsonl").write_text(
        "\n".join(_json.dumps({"k": i}) for i in range(20)) + "\n"
    )
    t = VersionedTable(str(tmp_path / "t"))
    stream = (
        spark.readStream.schema("k long").json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(t.stream_batch_committer())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert t.read(spark).count() == 20
    # restart on the same checkpoint — no new data, no duplicates
    q2 = (
        stream.writeStream.foreachBatch(t.stream_batch_committer())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert t.read(spark).count() == 20
    # new file lands → exactly the new rows appear, as a new version
    (src / "b.jsonl").write_text(
        "\n".join(_json.dumps({"k": i}) for i in range(20, 25)) + "\n"
    )
    q3 = (
        stream.writeStream.foreachBatch(t.stream_batch_committer())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(120)
    assert t.read(spark).count() == 25


def test_versioned_model_based_random_ops(spark, tmp_path):
    """Model-based check: a random (seeded, deterministic) sequence of
    append/overwrite/rollback ops against an in-memory model — after
    every op, every retained version's row multiset matches the model."""
    import random

    rng = random.Random(42)
    t = VersionedTable(str(tmp_path / "t"))
    model: list[set[int]] = []  # model[v] = expected row ids of version v
    next_id = 0

    def fresh_rows(n):
        nonlocal next_id
        rows = set(range(next_id, next_id + n))
        next_id += n
        return rows

    for _ in range(12):
        op = rng.choice(["append", "append", "overwrite", "rollback"])
        if op == "rollback" and not model:
            op = "append"
        if op == "append":
            rows = fresh_rows(rng.randint(1, 5))
            df = spark.createDataFrame([(i,) for i in sorted(rows)], "id long")
            t.append(df)
            model.append((model[-1] if model else set()) | rows)
        elif op == "overwrite":
            rows = fresh_rows(rng.randint(1, 5))
            df = spark.createDataFrame([(i,) for i in sorted(rows)], "id long")
            t.overwrite(df)
            model.append(rows)
        else:
            target = rng.randrange(len(model))
            t.rollback(target)
            model.append(model[target])
        # invariant: every retained version matches the model exactly
        for v in t.versions():
            got = {r["id"] for r in t.read(spark, v).collect()}
            assert got == model[v], (v, got, model[v])
    assert t.current_version() == len(model) - 1


def test_pipeline_versioned_sink_end_to_end(spark, tmp_path):
    """The CLI/pipeline surface lands CMF output into a VersionedTable
    when sink_mode='versioned': rows arrive exactly once, the manifest
    history records the stream batches, and a checkpoint restart adds
    nothing."""
    import json as _json

    from pulsar_ingestion_spark.plans.pipeline import (
        PipelineSpec,
        SourceSpec,
        run_pipeline,
    )

    src = tmp_path / "geo"
    src.mkdir()
    rows = [
        {
            "Device_ID": f"d{i}", "Vehicle_ID": f"v{i % 3}",
            "Record_DateTime": "2024-02-02T08:00:%02dZ" % (i % 60),
            "Latitude": 1.0 + i, "Longitude": 6.0,
        }
        for i in range(10)
    ]
    (src / "a.jsonl").write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    spec = PipelineSpec(
        sources=[SourceSpec(kind="jsonl", translator="geotab",
                            options={"path": str(src)}, tenant="t-ver")],
        output_path=str(tmp_path / "table"),
        checkpoint=str(tmp_path / "ckpt"),
        sink_mode="versioned",
    )
    q = run_pipeline(spark, spec, streaming=True)
    q.awaitTermination(120)
    t = VersionedTable(str(tmp_path / "table"))
    out = t.read(spark)
    assert out.count() == 10
    assert out.select("tenantId").distinct().collect()[0][0] == "t-ver"
    assert t.describe().op == "stream-append"
    # restart on the same checkpoint: no duplicates, no new version rows
    v_before = t.current_version()
    q2 = run_pipeline(spark, spec, streaming=True)
    q2.awaitTermination(120)
    assert t.read(spark).count() == 10
    assert t.current_version() in (v_before, v_before + 1)  # empty replay may commit nothing


def test_watermark_is_scoped_per_app_id(spark, tmp_path):
    """ADVICE r6 (medium): batch ids are only monotonic PER CHECKPOINT.
    A second stream (or a checkpoint-reset restart under a new app_id)
    starting over at batch 0 must NOT be swallowed by another stream's
    high watermark."""
    t = VersionedTable(str(tmp_path / "t"))
    commit_a = t.stream_batch_committer("app-a")
    commit_a(_df(spark, 0, 10), 0)
    commit_a(_df(spark, 10, 15), 1)
    commit_a(_df(spark, 15, 18), 2)
    assert t.batch_watermark("app-a") == 2
    # stream B starts at batch 0 — would be skipped by a global watermark
    commit_b = t.stream_batch_committer("app-b")
    commit_b(_df(spark, 100, 105), 0)
    assert t.read(spark).count() == 23  # B's 5 rows landed
    # replay dedup still works within each app
    commit_b(_df(spark, 100, 105), 0)
    commit_a(_df(spark, 0, 10), 0)
    assert t.read(spark).count() == 23
    assert t.committed_batch_ids("app-a") == {0, 1, 2}
    assert t.committed_batch_ids("app-b") == {0}


def test_watermark_per_app_survives_vacuum(spark, tmp_path):
    """vacuum raises each app's watermark independently before expiring
    manifests, so a delayed replay of either stream's vacuumed batch
    no-ops while the other stream's small ids stay committable."""
    t = VersionedTable(str(tmp_path / "t"))
    commit_a = t.stream_batch_committer("app-a")
    commit_b = t.stream_batch_committer("app-b")
    commit_a(_df(spark, 0, 10), 0)
    commit_a(_df(spark, 10, 15), 1)
    commit_b(_df(spark, 50, 52), 0)
    commit_a(_df(spark, 15, 18), 2)
    t.vacuum(keep_last=1, grace_seconds=0.0)
    assert t.batch_watermark("app-a") == 2
    assert t.batch_watermark("app-b") == 0
    n = t.read(spark).count()
    commit_a(_df(spark, 0, 10), 0)   # delayed replays of expired batches
    commit_b(_df(spark, 50, 52), 0)
    assert t.read(spark).count() == n
    # app-b's NEXT batch still lands
    commit_b(_df(spark, 52, 55), 1)
    assert t.read(spark).count() == n + 3


def test_watermark_legacy_file_format_still_read(spark, tmp_path):
    """Pre-r7 watermark files ({"max_batch_id": N}) map to the default
    app so existing tables keep their replay protection."""
    import json as _json
    import os as _os

    t = VersionedTable(str(tmp_path / "t"))
    commit = t.stream_batch_committer()
    commit(_df(spark, 0, 10), 0)
    with open(t._watermark_file, "w") as fh:
        _json.dump({"max_batch_id": 5}, fh)
    assert t.batch_watermark() == 5
    commit(_df(spark, 10, 20), 3)  # <= 5 for the default app: replay no-op
    assert t.read(spark).count() == 10


def test_watermark_file_regression_outvoted_by_manifests(spark, tmp_path):
    """ADVICE r6 (low): a stale writer clobbering the watermark file with
    a smaller value cannot lower the EFFECTIVE watermark while manifests
    proving the higher commit are retained — batch_watermarks() max-merges
    the manifest metas over the file."""
    import json as _json

    t = VersionedTable(str(tmp_path / "t"))
    commit = t.stream_batch_committer("app-a")
    commit(_df(spark, 0, 10), 0)
    commit(_df(spark, 10, 15), 7)
    # simulate the lost-update: stale writer replaces the file with 0
    with open(t._watermark_file, "w") as fh:
        _json.dump({"apps": {"app-a": 0}}, fh)
    assert t.batch_watermark("app-a") == 7  # manifests out-vote the file
    commit(_df(spark, 10, 15), 7)           # replay still no-ops
    assert t.read(spark).count() == 15
