#!/usr/bin/env python
"""Capture .explain("formatted") plan evidence for the streaming
maintainers' PER-BATCH computations (round 14, VERDICT r13 item 5 —
plans for ann_index, dedup_cascade, sketches, skyline).

The maintainers are foreachBatch closures that end in an action
(collect / versioned-table commit), so the plan is captured by
INTERCEPTING that action: the recorded plan is exactly the DataFrame
the maintainer executed, not a reconstruction.  Batches are the same
deterministic ``pmod(xxhash64(id, seed), N)`` cuts as tools/qtime.py;
the captured batch is a STEADY-STATE one (state populated by the prior
batches) so the state-side joins appear in the plan.  The ann read
path (ann_search) returns a DataFrame and is explained directly.

Usage: python tools/capture_stream_plans.py [tag]      (default: r14)
Writes plans/<tag>/stream_<name>.txt
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from collections.abc import Sequence

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# patch the CLASSIC DataFrame: in Spark 4 pyspark.sql.DataFrame is the
# dispatching base class; instances override collect there
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench.maintainers import hash_cuts  # noqa: E402

N_BATCHES = 4  # capture at batch N-1: state holds 3 prior batches


def _explain(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pulsar_ingestion_spark.operators.versioned import VersionedTable
    from pulsar_ingestion_spark.session import get_spark, load_tables

    spark = get_spark("capture-stream-plans")
    spark.sparkContext.setLogLevel("ERROR")
    tabs = load_tables(spark, sf_dir)
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(outdir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="stream-plans-")

    captured: list[tuple[str, str]] = []  # (action label, plan text)
    watching = False

    real_collect = DataFrame.collect

    def spy_collect(self):
        if watching:
            captured.append(("collect()", _explain(self)))
        return real_collect(self)

    real_committer = VersionedTable.stream_batch_committer

    def spy_committer(self, app_id="default"):
        commit = real_committer(self, app_id)

        def wrapped(batch_df, batch_id):
            if watching:
                captured.append(
                    (f"versioned commit (batch {batch_id})", _explain(batch_df))
                )
            return commit(batch_df, batch_id)

        return wrapped

    DataFrame.collect = spy_collect
    VersionedTable.stream_batch_committer = spy_committer
    try:
        def run(name: str, process, batches, extra: Sequence[tuple[str, str]] = ()):
            nonlocal watching
            captured.clear()
            for i, b in enumerate(batches):
                watching = i == len(batches) - 1  # steady-state batch only
                process(b, i)
            watching = False
            parts = [
                f"== streaming maintainer: {name} — per-batch plan at steady state "
                f"(batch {len(batches) - 1} of {len(batches)}, sf_dir={sf_dir}) ==\n"
            ]
            for label, plan in list(captured) + list(extra):
                parts.append(f"\n-- action: {label} --\n{plan}")
            with open(os.path.join(outdir, f"stream_{name}.txt"), "w") as fh:
                fh.write("".join(parts))
            spark.catalog.clearCache()
            print(name, "ok", f"({len(captured) + len(extra)} plans)")

        ev, docs, emb = tabs["events"], tabs["documents"], tabs["embeddings"]
        li = tabs["lineitem"].withColumn("_id", F.monotonically_increasing_id())
        ev_cuts = hash_cuts(ev, "user_id", N_BATCHES, seed=0)
        doc_cuts = hash_cuts(docs, "doc_id", N_BATCHES, seed=0)
        emb_cuts = hash_cuts(emb, "vec_id", N_BATCHES, seed=0)
        li_cuts = hash_cuts(li, "_id", N_BATCHES, seed=0)

        from pulsar_ingestion_spark.streaming.ann_index import ann_search, stream_ann_index
        from pulsar_ingestion_spark.streaming.dedup_cascade import stream_dedup_cascade
        from pulsar_ingestion_spark.streaming.sketches import (
            CmsStreamMaintainer,
            HllStreamMaintainer,
            MgStreamMaintainer,
        )
        from pulsar_ingestion_spark.streaming.skyline import SkylineStreamMaintainer

        ann_root = os.path.join(tmp, "ann")
        qdf = emb.limit(8)
        run(
            "ann_index",
            stream_ann_index(ann_root, app_id="cp", dim=64, num_planes=8),
            emb_cuts,
            extra=[("ann_search read path", _explain(ann_search(spark, ann_root, qdf, 64)))],
        )
        run("dedup_cascade", stream_dedup_cascade(os.path.join(tmp, "casc"), app_id="cp"),
            doc_cuts)
        run("sketch_hll", HllStreamMaintainer("user_id"), ev_cuts)
        run("sketch_cms", CmsStreamMaintainer("event_type"), ev_cuts)
        run("sketch_mg", MgStreamMaintainer("event_type"), ev_cuts)
        run("skyline", SkylineStreamMaintainer("l_quantity", "l_extendedprice"), li_cuts)
    finally:
        DataFrame.collect = real_collect
        VersionedTable.stream_batch_committer = real_committer
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
