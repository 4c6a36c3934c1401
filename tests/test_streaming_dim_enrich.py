"""Streaming dimension enrichment (streaming/dim_enrich.py): the
latest-wins snapshot must equal the batch changelog collapse for any
micro-batch cut and any delivery order; replay is idempotent; a lower
version never overwrites a higher one; the key guard fires."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

CHANGELOG = [
    # (user_id, version, tier)
    (1, 1, "bronze"), (1, 2, "silver"), (1, 3, "gold"),
    (2, 1, "bronze"), (2, 2, "gold"),
    (3, 5, "silver"),
]


def _expected_latest():
    best = {}
    for k, v, p in CHANGELOG:
        if k not in best or v > best[k][0]:
            best[k] = (v, p)
    return {k: (v, p) for k, (v, p) in best.items()}


def test_latest_wins_any_batch_split_and_order(spark):
    from pulsar_ingestion_spark.streaming.dim_enrich import DimEnrichMaintainer

    want = _expected_latest()
    splits = [
        [CHANGELOG],                      # one batch
        [CHANGELOG[:3], CHANGELOG[3:]],   # two batches
        [list(reversed(CHANGELOG))],      # reversed delivery
        [CHANGELOG[3:], CHANGELOG[:3]],   # out-of-order batches
    ]
    for i, batches in enumerate(splits):
        m = DimEnrichMaintainer("user_id", "version", ["tier"])
        for bid, rows in enumerate(batches):
            m.apply_dim_batch(
                spark.createDataFrame(
                    rows, "user_id int, version int, tier string"
                ),
                bid,
            )
        got = {k: v_and_p for k, v_and_p in (
            (k, (ver, payload[0])) for k, (ver, payload) in m._state.items()
        )}
        assert got == want, i


def test_replay_and_stale_version_are_noops(spark):
    from pulsar_ingestion_spark.streaming.dim_enrich import DimEnrichMaintainer

    m = DimEnrichMaintainer("user_id", "version", ["tier"])
    df = spark.createDataFrame(CHANGELOG, "user_id int, version int, tier string")
    m.apply_dim_batch(df, 0)
    state1 = dict(m._state)
    m.apply_dim_batch(df, 0)  # replay
    assert m._state == state1
    stale = spark.createDataFrame(
        [(1, 1, "bronze")], "user_id int, version int, tier string"
    )
    m.apply_dim_batch(stale, 1)  # lower version — must not regress
    assert m._state == state1


def test_enrich_matches_batch_changelog_collapse(spark):
    from pulsar_ingestion_spark.streaming.dim_enrich import DimEnrichMaintainer

    m = DimEnrichMaintainer("user_id", "version", ["tier"])
    df = spark.createDataFrame(CHANGELOG, "user_id int, version int, tier string")
    m.apply_dim_batch(df, 0)
    facts = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3), (13, 4)], "event_id int, user_id int"
    )
    out = {
        r["event_id"]: (r["tier"], r["dim_version"])
        for r in m.enrich(facts).collect()
    }
    assert out[10] == ("gold", 3)
    assert out[11] == ("gold", 2)
    assert out[12] == ("silver", 5)
    assert out[13] == (None, None)  # unmatched fact keeps NULL payload
    # plan check: the snapshot side must be broadcast
    plan = m.enrich(facts)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_empty_snapshot_enrich_keeps_schema(spark):
    from pulsar_ingestion_spark.streaming.dim_enrich import DimEnrichMaintainer

    dim_schema = spark.createDataFrame(
        [], "user_id int, version int, tier string"
    ).schema
    m = DimEnrichMaintainer("user_id", "version", ["tier"],
                            dim_schema=dim_schema)
    facts = spark.createDataFrame([(10, 1)], "event_id int, user_id int")
    out = m.enrich(facts)
    assert set(out.columns) == {"event_id", "user_id", "tier", "dim_version"}
    r = out.first()
    assert r["tier"] is None and r["dim_version"] is None


def test_enrich_before_any_schema_raises(spark):
    """ADVICE r12: the old empty-state path hardcoded string/long casts —
    with no schema known the maintainer must refuse rather than guess."""
    from pulsar_ingestion_spark.streaming.dim_enrich import DimEnrichMaintainer

    m = DimEnrichMaintainer("user_id", "version", ["tier"])
    facts = spark.createDataFrame([(10, 1)], "event_id int, user_id int")
    with pytest.raises(ValueError, match="dim_schema"):
        m.enrich(facts)


def test_empty_and_populated_snapshot_schemas_union(spark):
    """ADVICE r12: non-string payload / non-long version — the empty-state
    output schema must equal the populated-state schema so consecutive
    micro-batch outputs union cleanly."""
    from pulsar_ingestion_spark.streaming.dim_enrich import DimEnrichMaintainer

    # double payload, int version (the old path cast these to string/long)
    dim = spark.createDataFrame(
        [(1, 7, 0.25)], "user_id int, version int, discount double"
    )
    m = DimEnrichMaintainer("user_id", "version", ["discount"],
                            dim_schema=dim.schema)
    facts = spark.createDataFrame([(10, 1)], "event_id int, user_id int")
    empty_out = m.enrich(facts)
    m.apply_dim_batch(dim, 0)
    full_out = m.enrich(facts)
    assert empty_out.schema == full_out.schema
    # all-NULL payload column: inference would raise, the typed path works
    all_null = spark.createDataFrame(
        [(2, 1, None)], "user_id int, version int, discount double"
    )
    m.apply_dim_batch(all_null, 1)
    assert m.enrich(facts).schema == full_out.schema


def test_equal_version_tiebreak_is_batch_cut_invariant(spark):
    """ADVICE r12: two rows sharing a version but differing in payload must
    resolve identically whether they arrive in one micro-batch or across
    two, in either order (in-batch desc-payload rule == cross-batch rule)."""
    from pulsar_ingestion_spark.streaming.dim_enrich import DimEnrichMaintainer

    a = (1, 5, "alpha")
    b = (1, 5, "beta")  # larger payload → must win under the desc tiebreak
    ddl = "user_id int, version int, tier string"
    finals = []
    for batches in ([[a, b]], [[b, a]], [[a], [b]], [[b], [a]]):
        m = DimEnrichMaintainer("user_id", "version", ["tier"])
        for bid, rows in enumerate(batches):
            m.apply_dim_batch(spark.createDataFrame(rows, ddl), bid)
        finals.append(m._state[1])
    assert all(f == (5, ("beta",)) for f in finals), finals
    # NULL payload sorts below any value (Spark DESC NULLS LAST) — and the
    # Python-side rank must not raise on None
    for batches in ([[(1, 5, None), a]], [[(1, 5, None)], [a]],
                    [[a], [(1, 5, None)]]):
        m = DimEnrichMaintainer("user_id", "version", ["tier"])
        for bid, rows in enumerate(batches):
            m.apply_dim_batch(spark.createDataFrame(rows, ddl), bid)
        assert m._state[1] == (5, ("alpha",))


def test_key_guard_fires(spark):
    from pulsar_ingestion_spark.streaming.dim_enrich import DimEnrichMaintainer

    m = DimEnrichMaintainer("user_id", "version", ["tier"], max_keys=2)
    df = spark.createDataFrame(
        [(i, 1, "x") for i in range(5)], "user_id int, version int, tier string"
    )
    with pytest.raises(ValueError, match="max_keys"):
        m.apply_dim_batch(df, 0)
    assert m._state == {}  # the rejected batch left no keys behind
    m.apply_dim_batch(df.filter("user_id < 2"), 1)
    assert sorted(r.user_id for r in m.snapshot_df(spark).collect()) == [0, 1]
