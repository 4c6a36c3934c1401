"""Smoke test of the timing tool (tools/qtime.py) on the suite's session:
one query and two maintainers, one measured run and two batches."""

from __future__ import annotations

import pytest

MAINTAINER_NAMES = {
    "ann_index", "ivf_index", "dedup_cascade", "sketch_hll", "sketch_cms",
    "sketch_mg", "skyline", "quantile_logbins", "weighted_sample",
    "seasonal_grid", "trend_monitor", "mixture_plan", "profile", "dim_enrich",
    "drift_monitor",
}


def test_qtime_times_a_query_and_maintainers(spark, sf_dir, tmp_path):
    from perfbench.common import Tracer
    from tools.qtime import MAINTAINERS, QUERY_COLS, time_maintainer, time_query

    assert set(MAINTAINERS) == MAINTAINER_NAMES
    q = time_query(spark, Tracer("qtime-test", enabled=True), "agg_mode", sf_dir, n=1)
    assert set(q) == set(QUERY_COLS) and QUERY_COLS[0] == "first_s"
    # the discarded first run is reported too
    assert q["first_s"] > 0 and q["min_s"] > 0 and q["build_s"] > 0 and q["exec_s"] > 0
    assert q["jobs"] >= 1 and q["stages"] >= 1
    for name in ("sketch_hll", "dedup_cascade"):
        m = time_maintainer(spark, name, sf_dir, 2, str(tmp_path / name))
        assert m["batch0_s"] > 0 and m["steady_s"] > 0, name
        assert m["total_s"] == pytest.approx(m["batch0_s"] + m["steady_s"]), name
        assert m["batch0_jobs"] >= 1 and m["steady_stages"] >= m["steady_jobs"] >= 1, name
