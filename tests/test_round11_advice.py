"""Round-11 ADVICE fixes: topic templates (tenant mid-URL), cosine
kernel abnormal-row parity, ANN search before the first commit, and the
watermark steal-restore fallback on no-hardlink filesystems."""

from __future__ import annotations

import errno
import json
import os
import threading
import time
from urllib.parse import unquote

import pytest
from pyspark.sql import functions as F

from pulsar_ingestion_spark.plans.pipeline import (
    PipelineSpec,
    SourceSpec,
    run_pipeline,
)


def _write_jsonl(path, docs):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.jsonl"), "w") as fh:
        for d in docs:
            fh.write(json.dumps(d) + "\n")


GEOTAB_DOC = {
    "Device_ID": "d1", "Vehicle_ID": "v1",
    "Record_DateTime": "2023-10-26T10:00:00.000Z",
    "Latitude": 1.0, "Longitude": 2.0,
}


def test_publish_topic_template_mid_url_tenant(spark, tmp_path):
    """The reference Filterer routes to
    persistent://${tenantId}/integration/telemetry — tenant mid-URL —
    which topic_prefix alone cannot express (ADVICE r10).  The template
    substitutes {tenant} anywhere in the topic string."""
    _write_jsonl(tmp_path / "geotab", [GEOTAB_DOC])
    spec = PipelineSpec(
        sources=[SourceSpec(kind="jsonl", translator="geotab",
                            options={"path": str(tmp_path / "geotab")},
                            tenant="acme")],
        output_path=str(tmp_path / "unused-out"),
        publish={"kind": "jsonl",
                 "topic_template": "persistent://{tenant}/integration/telemetry",
                 "path": str(tmp_path / "topics")},
    )
    assert run_pipeline(spark, spec, streaming=False) is None
    dirs = [d for d in os.listdir(tmp_path / "topics") if d.startswith("topic=")]
    assert len(dirs) == 1
    # partition dir names escape URI characters; decode before comparing
    assert unquote(dirs[0]) == "topic=persistent://acme/integration/telemetry"
    rows = (
        spark.read.format("text")
        .load(str(tmp_path / "topics" / dirs[0]))
        .collect()
    )
    assert json.loads(rows[0]["value"])["vehicleId"] == "v1"


def test_publish_topic_template_requires_placeholder(spark, tmp_path):
    _write_jsonl(tmp_path / "geotab", [GEOTAB_DOC])
    spec = PipelineSpec(
        sources=[SourceSpec(kind="jsonl", translator="geotab",
                            options={"path": str(tmp_path / "geotab")},
                            tenant="acme")],
        output_path=str(tmp_path / "unused-out"),
        publish={"kind": "jsonl", "topic_template": "no-placeholder-here",
                 "path": str(tmp_path / "topics")},
    )
    with pytest.raises(ValueError, match="tenant"):
        run_pipeline(spark, spec, streaming=False)


def test_cosine_kernel_abnormal_rows_match_hof(spark):
    """ADVICE r10 vectors.py: a valid equal-length pair with NaN
    COMPONENTS must return NaN from the kernel exactly like the HOF
    fold (previously the kernel's NaN-as-null sentinel turned it into
    NULL); null elements / ragged / null operands stay NULL on both."""
    from pulsar_ingestion_spark.functions.vectors import (
        cosine_rounded,
        cosine_rounded_kernel,
    )

    df = spark.sql("""
    SELECT * FROM VALUES
      (1, array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
      (2, array(CAST(1.0 AS FLOAT), CAST('NaN' AS FLOAT)),
          array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
      (3, array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
          array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
      (4, array(CAST(1.0 AS FLOAT)),
          array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
      (5, CAST(NULL AS ARRAY<FLOAT>),
          array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))
    AS t(id, a, b)
    """)
    rows = df.select(
        "id",
        cosine_rounded(F.col("a"), F.col("b")).alias("hof"),
        cosine_rounded_kernel(F.col("a"), F.col("b")).alias("kernel"),
    ).collect()
    import math

    for r in rows:
        h, k = r["hof"], r["kernel"]
        if h is None:
            assert k is None, r["id"]
        elif math.isnan(h):
            assert k is not None and math.isnan(k), r["id"]
        else:
            assert h == k, r["id"]


def test_ann_search_empty_index_returns_zero_rows(spark, tmp_path):
    """A search racing the first micro-batch (no committed version yet)
    returns an empty frame with the normal schema instead of raising
    FileNotFoundError."""
    from pulsar_ingestion_spark.streaming.ann_index import ann_search

    queries = spark.createDataFrame(
        [(1, [0.1] * 4)], "vec_id long, embedding array<float>"
    )
    out = ann_search(spark, str(tmp_path / "never-committed"), queries, dim=4)
    assert out.columns == ["query_id", "cand_id", "cos_sim", "rank"]
    assert out.count() == 0


def test_watermark_steal_restore_falls_back_to_rename(tmp_path, monkeypatch):
    """ADVICE r10 versioned.py: when a steal grabs a FRESH lock (changed
    hands inside the read->rename window) on a filesystem WITHOUT hard
    links, the lock must be restored via rename — not silently deleted,
    which would displace a live holder."""
    import pulsar_ingestion_spark.operators.versioned as V

    t = V.VersionedTable(str(tmp_path / "t"))
    lock = t._watermark_file + ".lock"
    os.makedirs(t.manifest_dir, exist_ok=True)
    with open(lock, "w") as fh:
        fh.write("stale-holder")

    state = {"swapped": False, "link_attempts": 0, "restored_content": None}
    real_rename = os.rename

    def fake_link(src, dst):
        state["link_attempts"] += 1
        raise OSError(errno.EPERM, "hard links not supported")

    def fake_rename(src, dst):
        # at the atomic grab point, simulate the lock changing hands:
        # the thief renames a lock that now belongs to a fresh holder
        if src == lock and ".steal-" in dst and not state["swapped"]:
            with open(lock, "w") as fh:
                fh.write("fresh-holder")
            state["swapped"] = True
        real_rename(src, dst)
        if dst == lock:  # the restore fallback fired
            with open(lock) as fh:
                state["restored_content"] = fh.read()

    monkeypatch.setattr(V.os, "link", fake_link)
    monkeypatch.setattr(V.os, "rename", fake_rename)

    done = threading.Event()

    def writer():
        t._raise_batch_watermark(9, "appZ")
        done.set()

    th = threading.Thread(target=writer, daemon=True)
    th.start()
    # wait for the restore to happen, then release the "fresh holder"'s
    # lock so the stalled writer can finally acquire
    deadline = time.time() + 40
    while state["restored_content"] is None and time.time() < deadline:
        time.sleep(0.05)
    assert state["restored_content"] == "fresh-holder", (
        "grabbed fresh lock was not restored via the rename fallback"
    )
    assert state["link_attempts"] >= 1
    try:
        os.unlink(lock)
    except FileNotFoundError:
        pass
    assert done.wait(40)
    assert t.batch_watermark("appZ") == 9
