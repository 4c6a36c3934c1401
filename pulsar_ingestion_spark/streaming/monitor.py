"""Streaming drift monitor: per-micro-batch PSI against a frozen
reference histogram, with an alert log the operator can tail.

The batch-side analysis (queries_quality.q_drift_psi) compares two fixed
windows; in operation the comparison runs CONTINUOUSLY — every incoming
micro-batch is binned the same way and scored against the reference
distribution, and batches whose PSI crosses the threshold are flagged.
`foreachBatch` is the right host: the reference histogram is a tiny
broadcast-able local dict (bins × counts), the per-batch work is one
groupBy over the batch, and the verdict appends to a JSONL alert log
(in production: a metrics sink / alerting topic).

Scale notes: the reference histogram is O(bins); each micro-batch
reduces to O(bins) partials before any driver-side math.  Nothing here
grows with history — the monitor is stateless across batches by design
(state lives in the frozen reference), so checkpoint recovery is
trivial.
"""

from __future__ import annotations

import json
import math
import os
from collections import deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_ingestion_spark.streaming.replay import ReplayGuarded

_BINS = 10


def histogram(df: DataFrame, value_col: str, bin_width: float) -> dict[int, int]:
    """Collect the (bounded) bin→count reference histogram."""
    # clamp BOTH ends: values below 0 would otherwise land in negative
    # bin ids that inflate the totals but fall outside psi()'s bin loop,
    # silently dropping probability mass (ADVICE r5).  NULLs are dropped
    # BEFORE binning: greatest/least skip NULLs, so a NULL value would
    # otherwise evaluate greatest(0, least(NULL, 9)) = 9 and count in the
    # top bin, inflating the tail on null-heavy batches (ADVICE r6).
    rows = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.greatest(
                F.lit(0),
                F.least(F.floor(F.col(value_col) / bin_width), F.lit(_BINS - 1)),
            ).cast("int").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    return {r["bin"]: r["cnt"] for r in rows}


def psi(ref: dict[int, int], obs: dict[int, int]) -> float:
    """Laplace-smoothed PSI between two bin-count dicts."""
    n_ref = sum(ref.values())
    n_obs = sum(obs.values())
    total = 0.0
    for b in range(_BINS):
        p = (ref.get(b, 0) + 1) / (n_ref + _BINS)
        q = (obs.get(b, 0) + 1) / (n_obs + _BINS)
        total += (q - p) * math.log(q / p)
    return total


def wasserstein1(ref: dict[int, int], obs: dict[int, int], bin_width: float) -> float:
    """Binned 1-D Wasserstein-1 between two bin-count dicts: Σ over bin
    edges of |F_ref − F_obs| · bin_width — the batch-side
    drift_wasserstein metric at histogram resolution.  Unlike PSI, W1
    weighs HOW FAR mass moved, so a tail excursion and a neighboring-bin
    wobble of equal probability score very differently.  No smoothing
    needed (CDF differences are well-defined on empty bins)."""
    n_ref = sum(ref.values()) or 1
    n_obs = sum(obs.values()) or 1
    total, cum_r, cum_o = 0.0, 0, 0
    for b in range(_BINS - 1):  # last edge: both CDFs are 1, gap 0
        cum_r += ref.get(b, 0)
        cum_o += obs.get(b, 0)
        total += abs(cum_r / n_ref - cum_o / n_obs) * bin_width
    return total


def kolmogorov_smirnov(ref: dict[int, int], obs: dict[int, int]) -> float:
    """Binned two-sample KS statistic: max over bin edges of
    |F_ref − F_obs| — the batch-side drift_ks metric at histogram
    resolution.  Scale-free ([0, 1] regardless of bin_width), so unlike
    W1 its threshold is portable across monitored columns; like W1 it
    needs no smoothing."""
    n_ref = sum(ref.values()) or 1
    n_obs = sum(obs.values()) or 1
    gap, cum_r, cum_o = 0.0, 0, 0
    for b in range(_BINS - 1):  # last edge: both CDFs are 1, gap 0
        cum_r += ref.get(b, 0)
        cum_o += obs.get(b, 0)
        gap = max(gap, abs(cum_r / n_ref - cum_o / n_obs))
    return gap


def drift_monitor(
    ref: dict[int, int],
    value_col: str,
    bin_width: float,
    alert_log: str,
    threshold: float = 0.25,
    metric: str = "psi",
    w1_threshold: float | None = None,
    ks_threshold: float | None = None,
):
    """foreachBatch target: score each micro-batch vs ``ref`` and append
    a JSONL verdict per batch to ``alert_log``.  ``metric`` selects
    "psi" (default), "w1", "ks", "both" (psi+w1), or "all" — every score
    comes from the SAME per-batch O(bins) histogram, so adding metrics
    costs nothing at data scale."""
    if metric not in ("psi", "w1", "ks", "both", "all"):
        raise ValueError(f"unknown drift metric {metric!r}")
    if metric in ("w1", "both", "all") and w1_threshold is None:
        # PSI has a default threshold; W1's scale depends on bin_width, so
        # there is no sane universal default — selecting the metric
        # without a threshold would silently disable alerting (ADVICE r6).
        raise ValueError(
            "w1_threshold is required when metric is 'w1', 'both', or 'all' — "
            "without it the W1 score could never raise an alert"
        )
    if metric in ("ks", "all") and ks_threshold is None:
        # same discipline as W1: an unset threshold must fail loudly, not
        # silently disable alerting (KS is in [0,1] but the right cut
        # still depends on batch size and the column's natural wobble)
        raise ValueError(
            "ks_threshold is required when metric is 'ks' or 'all' — "
            "without it the KS score could never raise an alert"
        )

    def check(batch_df: DataFrame, batch_id: int) -> None:
        obs = histogram(batch_df, value_col, bin_width)
        if not obs:
            return
        rec: dict = {"batch_id": int(batch_id), "n": sum(obs.values())}
        alert = False
        if metric in ("psi", "both", "all"):
            score = psi(ref, obs)
            rec["psi"] = round(score, 6)
            alert = alert or score > threshold
        if metric in ("w1", "both", "all"):
            w1 = wasserstein1(ref, obs, bin_width)
            rec["w1"] = round(w1, 6)
            alert = alert or (w1_threshold is not None and w1 > w1_threshold)
        if metric in ("ks", "all"):
            ks = kolmogorov_smirnov(ref, obs)
            rec["ks"] = round(ks, 6)
            alert = alert or (ks_threshold is not None and ks > ks_threshold)
        rec["alert"] = alert
        with open(alert_log, "a") as fh:
            fh.write(json.dumps(rec) + "\n")

    return check


def read_alerts(alert_log: str) -> list[dict]:
    if not os.path.exists(alert_log):
        return []
    with open(alert_log) as fh:
        return [json.loads(line) for line in fh if line.strip()]


class RateMonitor(ReplayGuarded):
    """The :func:`rate_monitor` foreachBatch target."""

    def __init__(self, key_col: str, alert_log: str, ratio: float,
                 window: int, min_trail: int, evict_after: int):
        self.key_col = key_col
        self.alert_log = alert_log
        self.ratio = ratio
        self.window = window
        self.min_trail = min_trail
        self.evict_after = evict_after
        self.trails: dict = {}
        self.silent_for: dict = {}

    def merge(self, batch_df: DataFrame, batch_id: int) -> None:
        counts = {
            r["k"]: r["cnt"]
            for r in batch_df.groupBy(F.col(self.key_col).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        # update copies, committed only after the alert write
        new_trails = {
            k: deque(t, maxlen=self.window) for k, t in self.trails.items()
        }
        new_silent = dict(self.silent_for)
        recs = []
        for key in sorted(set(self.trails) | set(counts), key=str):
            cnt = counts.get(key, 0)
            trail = new_trails.setdefault(key, deque(maxlen=self.window))
            rec: dict = {"batch_id": batch_id, "key": key, "n": cnt,
                         "trail_avg": None, "burst": False, "silent": False,
                         "alert": False}
            if len(trail) >= self.min_trail:
                avg = sum(trail) / len(trail)
                rec["trail_avg"] = round(avg, 6)
                rec["burst"] = bool(avg > 0 and cnt > self.ratio * avg)
                rec["silent"] = bool(avg > 0 and cnt == 0)
                rec["alert"] = rec["burst"] or rec["silent"]
            if cnt > 0:
                trail.append(cnt)
                new_silent[key] = 0
            else:
                new_silent[key] = new_silent.get(key, 0) + 1
                if new_silent[key] >= self.evict_after:
                    rec["evicted"] = True
                    del new_trails[key]
                    del new_silent[key]
            recs.append(rec)
        with open(self.alert_log, "a") as fh:
            fh.writelines(json.dumps(rec) + "\n" for rec in recs)
        self.trails, self.silent_for = new_trails, new_silent


def rate_monitor(
    key_col: str,
    alert_log: str,
    ratio: float = 1.5,
    window: int = 7,
    min_trail: int = 3,
    evict_after: int | None = None,
) -> RateMonitor:
    """foreachBatch target: per-key volume burst/dropout alarm — the
    streaming twin of the batch ``events_burst_days`` query.  Each
    micro-batch's per-key row count is compared against that key's
    trailing ``window``-batch average (≥ ``min_trail`` batches of
    history required): counts above ``ratio``× the average flag
    ``burst``; keys that were active but produce NOTHING this batch
    flag ``silent`` (the dropout case a distribution-drift monitor
    cannot see, because an empty batch has no distribution).

    State is the per-key deque of the last ``window`` ACTIVE counts —
    O(keys·window) integers on the driver, the same size class as the
    drift monitor's reference histogram.  After a checkpoint restart
    the trail re-warms in ``min_trail`` batches by design (rate alarms
    are self-warming; persisting them would couple monitoring state to
    the data checkpoint).  Per-batch work is one map-side-combined
    count per key.

    Silent batches do NOT enter the trail (ADVICE r8): appending the
    outage zeros decayed the trailing average to 0 within ``window``
    batches, at which point the ``avg > 0`` guard self-extinguished the
    alarm — a sustained dropout alerted for only ``window`` batches and
    then went quiet.  Keeping the pre-outage rate as the baseline makes
    ``silent`` hold for the entire outage.  Keys silent for
    ``evict_after`` consecutive batches (default ``4 * window``) are
    evicted with a final ``evicted`` record — dead keys no longer grow
    driver state forever; a re-appearing key re-warms like a new one.

    A re-delivered batch id is skipped (:mod:`.replay`): appending its
    counts again would warm the trail early and skew ``trail_avg``."""
    return RateMonitor(key_col, alert_log, ratio, window, min_trail,
                       4 * window if evict_after is None else evict_after)


def freshness_monitor(
    key_col: str,
    ts_col: str,
    alert_log: str,
    stale_after_s: float,
):
    """foreachBatch target: per-key event-time freshness alarm — the
    streaming twin of the batch ``dq_freshness`` query.  Tracks each
    key's high-water event timestamp across batches; a key whose last
    seen event time lags the GLOBAL high-water mark by more than
    ``stale_after_s`` flags ``stale`` (the per-source outage a volume
    monitor only catches if that key's traffic was steady).

    Event-time against event-time (not wall clock): replaying history
    through the monitor yields the same verdicts the live run gave —
    the same watermark discipline as the engine's own late-data
    handling.  State is one max-timestamp per key (O(keys)); per-batch
    work is one map-side-combined max per key."""
    high: dict = {}

    def check(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.filter(F.col(ts_col).isNotNull())
            .groupBy(F.col(key_col).alias("k"))
            .agg(F.max(F.unix_micros(F.col(ts_col))).alias("mx"))
            .collect()
        )
        for r in rows:
            prev = high.get(r["k"])
            if prev is None or r["mx"] > prev:
                high[r["k"]] = r["mx"]
        if not high:
            return
        wm = max(high.values())
        recs = []
        for key in sorted(high, key=str):
            lag_s = (wm - high[key]) / 1_000_000
            recs.append({
                "batch_id": int(batch_id),
                "key": key,
                "lag_seconds": round(lag_s, 3),
                "stale": bool(lag_s > stale_after_s),
            })
        with open(alert_log, "a") as fh:
            for rec in recs:
                fh.write(json.dumps(rec) + "\n")

    return check
