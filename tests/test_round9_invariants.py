"""Round-9 regression tests for VERDICT/ADVICE r8 findings.

ADVICE r8 (medium): migrate_default_app was gated only on
checkpoint-dir existence, so a RESET checkpoint (fresh batch ids 0..k)
writing to a table with a legacy __default__ watermark W>k would — on
any restart after its first batch — have its watermark raised to W and
silently drop batches k+1..W.  The migration is now evidence-gated:
first-resume-only AND the checkpoint's own offsets/commits log must
show ids reaching the legacy watermark.
"""

from __future__ import annotations

import os


def _fake_checkpoint(path, batch_ids):
    """Materialize the two Structured Streaming log dirs with one file
    per batch id — file names ARE the ids, same as Spark's layout."""
    for sub in ("offsets", "commits"):
        os.makedirs(os.path.join(path, sub), exist_ok=True)
        for b in batch_ids:
            with open(os.path.join(path, sub, str(b)), "w") as fh:
                fh.write("{}")


def test_checkpoint_max_batch_reads_log_ids(tmp_path):
    from pulsar_ingestion_spark.plans.pipeline import _checkpoint_max_batch

    ckpt = str(tmp_path / "ckpt")
    assert _checkpoint_max_batch(ckpt) == -1  # missing dir
    os.makedirs(os.path.join(ckpt, "offsets"))
    assert _checkpoint_max_batch(ckpt) == -1  # empty log
    _fake_checkpoint(ckpt, [0, 1, 7])
    # non-numeric entries (Spark writes .tmp files and a metadata file)
    open(os.path.join(ckpt, "offsets", ".7.tmp"), "w").close()
    assert _checkpoint_max_batch(ckpt) == 7


def test_reset_checkpoint_does_not_inherit_legacy_watermark(spark, tmp_path):
    """The ADVICE r8 data-loss scenario: legacy history committed
    batches 0..10 under __default__; a RESET checkpoint replays fresh
    ids 0..k — migration must refuse the alias, and the fresh batches
    must land."""
    from pulsar_ingestion_spark.operators.versioned import VersionedTable
    from pulsar_ingestion_spark.plans.pipeline import _checkpoint_max_batch

    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(5).toDF("k")
    legacy = t.stream_batch_committer()  # pre-upgrade: no app id
    legacy(df, 9)
    legacy(df, 10)
    assert t.read(spark).count() == 10

    # reset checkpoint: its log only ever produced ids 0..1
    ckpt = str(tmp_path / "ckpt-reset")
    _fake_checkpoint(ckpt, [0, 1])
    t.migrate_default_app(ckpt, committed_hint=_checkpoint_max_batch(ckpt))
    committer = t.stream_batch_committer(app_id=ckpt)
    committer(df, 2)  # k+1 .. would have been swallowed pre-fix
    assert t.read(spark).count() == 15
    committer(df, 3)
    assert t.read(spark).count() == 20
    # the legacy watermark itself is untouched
    assert t.batch_watermarks()["__default__"] == 10


def test_legacy_resume_still_migrates_and_noops_replay(spark, tmp_path):
    """The case the migration exists for: the SAME checkpoint that
    produced the legacy ids resumes under an app_id — replayed old
    batches must still no-op."""
    from pulsar_ingestion_spark.operators.versioned import VersionedTable
    from pulsar_ingestion_spark.plans.pipeline import _checkpoint_max_batch

    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(5).toDF("k")
    legacy = t.stream_batch_committer()
    for b in range(3):
        legacy(df, b)
    assert t.read(spark).count() == 15

    ckpt = str(tmp_path / "ckpt-legacy")
    _fake_checkpoint(ckpt, [0, 1, 2])  # the checkpoint reached id 2
    t.migrate_default_app(ckpt, committed_hint=_checkpoint_max_batch(ckpt))
    committer = t.stream_batch_committer(app_id=ckpt)
    committer(df, 2)  # replay of the last legacy batch: must no-op
    assert t.read(spark).count() == 15
    committer(df, 3)  # genuinely new batch lands
    assert t.read(spark).count() == 20


def test_migration_is_first_resume_only(spark, tmp_path):
    """Once the app has a watermark of its own, a later call must not
    alias a larger legacy id onto it (in-flight fresh batches would be
    dropped)."""
    from pulsar_ingestion_spark.operators.versioned import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    df = spark.range(5).toDF("k")
    legacy = t.stream_batch_committer()
    legacy(df, 10)

    app = str(tmp_path / "ckpt")
    committer = t.stream_batch_committer(app_id=app)
    committer(df, 0)  # the app is live with its own sequence
    t.migrate_default_app(app, committed_hint=10)  # hint would pass...
    committer(df, 1)  # ...but the first-resume guard must have refused
    assert t.batch_watermarks()[app] == 1
    assert t.read(spark).count() == 15
