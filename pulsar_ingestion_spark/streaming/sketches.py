"""Streaming maintenance of the engine's mergeable sketches — the
100 TB monitoring story for distinct counts and heavy hitters.

The batch side (queries_sketch.py) builds engine-portable sketches —
HLL registers and count-min counters derived from deterministic md5
hashes.  Mergeability is the whole point of those encodings: per-batch
sketches combine into the running sketch WITHOUT touching earlier data,
so a stream can maintain "distinct users ever" / "events per type ever"
with O(sketch) driver state — registers (64 ints) or depth×width
counters — while each micro-batch contributes one map-side-combined
aggregation of its own rows.

Replay semantics differ by merge algebra, and that difference is the
design point of this module (tests pin both):

* **HLL merges by register-wise MAX — idempotent.**  An at-least-once
  replay of a batch re-maxes the same registers and changes nothing.
  (Same algebra that makes per-day sketch rollups safe to recompute at
  100 TB.)  It still runs on :mod:`.replay`'s fold contract, so a
  replayed id is skipped without running a job.
* **CMS merges by cell-wise ADD — NOT idempotent.**  A replayed batch
  would double-count; :mod:`.replay`'s guard skips it.
* **MG (Misra-Gries) merges by counter ADD + reduction — NOT
  idempotent** (replay-guarded like CMS), and unlike the other two its
  estimates are LOWER bounds with a provable undercount cap
  (n/(budget+1), by mass conservation across both reduction layers) —
  the candidate-generation half of the exact 2-pass heavy hitters in
  ``sketch_heavy_hitters``.

Registers and buckets come from the same `operators.sketch` helpers as
the batch queries (`hll_registers` for `sketch_hll_portable`,
`cms_bucket` for `sketch_countmin`), so a stream-maintained sketch is
comparable against the batch sketch of the same rows; the equivalence
tests assert exact equality of estimates across arbitrary micro-batch
cuts.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_ingestion_spark.operators.sketch import (
    _CMS_DEPTH,
    _CMS_WIDTH,
    cms_bucket,
    hll_estimate,
    hll_registers,
)
from pulsar_ingestion_spark.queries_sketch import mg_merge_reduce, mg_summaries
from pulsar_ingestion_spark.streaming.replay import ReplayGuarded


class HllStreamMaintainer(ReplayGuarded):
    """foreachBatch target maintaining a portable HLL over ``col``.

    Per batch: one distributed ``groupBy(bucket).max(rho)`` collapses the
    batch to ≤ m rows, which max-merge into the driver-held registers.
    ``estimate()`` replicates `sketch_hll_portable`'s integer-exact math
    (scaled harmonic sum, comparison-ladder rho, linear-counting
    small-range correction) so the stream estimate EQUALS the batch
    query's on the same rows — any micro-batch cut, any replay.
    """

    def __init__(self, col: str):
        self.col = col
        self.registers: dict[int, int] = {}  # bucket -> max rho

    def summary(self, batch_df: DataFrame) -> DataFrame:
        return hll_registers(batch_df, self.col)

    def absorb(self, rows, batch_id: int) -> None:
        """Max-merge collected ``(bucket, register)`` rows."""
        for r in rows:
            b = int(r["bucket"])
            if r["register"] > self.registers.get(b, 0):
                self.registers[b] = int(r["register"])

    def estimate(self) -> float:
        """Same math as the batch query, driver-side: scaled-integer
        harmonic sum, then the linear-counting small-range branch."""
        return hll_estimate(self.registers)


class CmsStreamMaintainer(ReplayGuarded):
    """foreachBatch target maintaining a count-min sketch over ``col``.

    Per batch: one distributed ``groupBy(depth, bucket).count()``
    collapses the batch to ≤ depth×width rows, which ADD into the
    driver-held counters.

    ``estimate(key)`` is the standard min-over-depths point query with
    the batch queries' exact bucket derivation (md5 prefix), so after
    any sequence of batches the estimates equal `sketch_countmin`'s on
    the union of the batches.
    """

    def __init__(self, col: str, depth: int = _CMS_DEPTH, width: int = _CMS_WIDTH):
        self.col = col
        self.depth = depth
        self.width = width
        self.counters: dict[tuple[int, int], int] = {}

    def summary(self, batch_df: DataFrame) -> DataFrame:
        depths = F.array([F.lit(i) for i in range(self.depth)])
        return (
            batch_df.filter(F.col(self.col).isNotNull())
            .select(F.explode(depths).alias("depth"), F.col(self.col).alias("k"))
            .select("depth", cms_bucket(F.col("depth"), F.col("k"), self.width).alias("bucket"))
            .groupBy("depth", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def absorb(self, rows, batch_id: int) -> None:
        for r in rows:
            cell = (int(r["depth"]), int(r["bucket"]))
            self.counters[cell] = self.counters.get(cell, 0) + int(r["cnt"])

    def estimate(self, key) -> int:
        """Point query: min over depths of the key's counter cells."""
        est = None
        for d in range(self.depth):
            digest = hashlib.md5(f"cms{d}:{key}".encode()).hexdigest()
            bucket = int(digest[:8], 16) % self.width
            c = self.counters.get((d, bucket), 0)
            est = c if est is None else min(est, c)
        return int(est or 0)


class MgStreamMaintainer(ReplayGuarded):
    """foreachBatch target maintaining a weighted Misra-Gries frequent-
    items summary over ``col`` — the streaming twin of
    ``sketch_heavy_hitters``'s phase-1 (round 11, session 3; completes
    the streaming sketch family: HLL = cardinality, CMS = point counts,
    MG = heavy hitters).

    Per batch: the same per-partition Arrow MG summarizer the batch
    query runs (``mg_summaries``) collapses the batch to
    <= budget rows per partition; the collected summaries merge into the
    driver-held counters via the shared :func:`mg_merge_reduce` (MG
    summaries are MERGEABLE — Agarwal et al. 2013 — so the merged
    summary carries the same undercount bound as a single-pass MG over
    the concatenated stream).

    Guarantees after ANY micro-batch cut sequence, in terms of
    min_budget = min(budget, the summarizer's fixed per-partition
    budget) — the per-partition layer is pinned at the batch query's
    ``_HH_MG_COUNTERS``, so a driver budget above it does NOT widen the
    guarantee (session-3 review finding #1; ``error_bound()`` already
    reports the min-based bound).  Tests pin all three:

    * undercount bound: exact_count − n/(min_budget+1) <= est <=
      exact_count for every tracked token (n = total non-null rows);
    * superset: every token with exact_count > n/K is tracked, for any
      K <= min_budget + 1 — the candidate set for an exact phase-2
      recount;
    * replay no-op: re-delivering a seen batch_id changes nothing.
    """

    def __init__(self, col: str, budget: int = 64):
        self.col = col
        self.budget = budget
        self.counters: dict = {}
        self.total = 0

    def summary(self, batch_df: DataFrame) -> DataFrame:
        toks = batch_df.filter(F.col(self.col).isNotNull()).select(
            F.lit(self.col).alias("col"), F.col(self.col).cast("string").alias("token")
        )
        # the summarizer's NULL-token sentinel rows carry each partition's
        # exact row count, so the total rides the same collect as the
        # summaries (<= budget+1 rows per partition)
        return mg_summaries(toks)

    def absorb(self, summaries, batch_id: int) -> None:
        """Merge collected ``(token, est)`` rows, sentinels included."""
        add: dict = {}
        n = 0
        for r in summaries:
            if r["token"] is None:
                n += int(r["est"])
            else:
                add[r["token"]] = add.get(r["token"], 0) + int(r["est"])
        self.counters = mg_merge_reduce(dict(self.counters), add, self.budget)
        self.total += n

    def error_bound(self) -> int:
        """Max undercount of any estimate: floor(n / (min_budget+1)).

        The stream pipeline stacks two MG layers (per-partition summaries
        at the fixed batch-query budget, then the driver merge at
        ``self.budget``), but the bound does not stack — by mass
        conservation: mass enters the partition layer exactly once (n
        total) and the driver layer only with what survived, so total
        reduced mass across BOTH layers is <= n, and every reduction
        removing subtractor m removes >= (min_budget+1)·m of it.  Any
        one token's undercount is at most the sum of the subtractors of
        reductions that touched it <= n/(min_budget+1)."""
        from pulsar_ingestion_spark.queries_sketch import _HH_MG_COUNTERS

        return self.total // (min(self.budget, _HH_MG_COUNTERS) + 1)

    def estimate(self, token) -> int:
        """Residual MG estimate (exact_count - error_bound() <= est <=
        exact_count; 0 for untracked tokens)."""
        return int(self.counters.get(token, 0))

    def candidates(self) -> set:
        """Tracked tokens — a guaranteed superset of every token with
        exact frequency > total/K for any K <= min(budget, the
        per-partition summarizer budget) + 1 (feed these to an exact
        recount for exact heavy hitters, as the batch query's phase 2
        does)."""
        return set(self.counters)
