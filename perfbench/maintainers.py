"""The streaming maintainers of the ``analytics`` workload: each
``streaming/`` maintainer's ``process(batch, batch_id)`` fed deterministic
micro-batch cuts of a testdata table, the way the equivalence tests and
``tools/stream_bench.py`` feed them; the seed salts the cut hash.  Each maintainer's final state is
checked against the same maintainer fed the whole table as one batch."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench.common import Tracer, cached
from pulsar_ingestion_spark.session import load_tables
from pulsar_ingestion_spark.streaming.dedup_cascade import accepted_docs, stream_dedup_cascade
from pulsar_ingestion_spark.streaming.mixture import MixturePlanMaintainer
from pulsar_ingestion_spark.streaming.quantile import QuantileLogbinsStreamMaintainer
from pulsar_ingestion_spark.streaming.sketches import HllStreamMaintainer

N_CUTS = 2
NAMES = ["dedup_cascade", "sketch_hll", "quantile_logbins", "mixture_plan"]


def hash_cuts(df, id_col: str, n: int, seed: int):
    """Deterministic cuts: ``pmod(xxhash64(id, seed), n) == i``."""
    key = F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.lit(n))
    return [df.filter(key == i) for i in range(n)]


def range_cuts(df, id_col: str, n: int, max_id: int):
    """Ascending-id cuts.  The dedup cascade equals its one-batch result
    only when documents arrive in id order (its partner rule)."""
    per = -(-(max_id + 1) // n)
    return [df.filter((F.col(id_col) >= i * per) & (F.col(id_col) < (i + 1) * per))
            for i in range(n)]


class _Versioned:
    """A versioned-table maintainer: fresh state root per instance."""

    def __init__(self, root: str, make, state):
        self.root, self._state = root, state
        self.process = make(root)

    def __call__(self, batch, batch_id):
        self.process(batch, batch_id)

    def state(self, spark):
        return self._state(spark, self.root)


def _mixture_state(m: MixturePlanMaintainer) -> list[tuple]:
    # plan() sums per-source floats in first-seen order, which depends on
    # the cut; token counts are exact, shares are compared to 12 digits.
    return [tuple(round(v, 12) if isinstance(v, float) else v for v in row)
            for row in m.plan()]


class Maintainers:
    """The maintainers over the testdata tables in ``sf_dir``."""

    def __init__(self, work: str, sf_dir: str, rows: dict[str, int], seed: int):
        self.work, self.sf_dir, self.rows, self.seed = work, sf_dir, rows, seed
        self._roots = 0
        self.reference = None

    def _root(self) -> str:
        self._roots += 1
        return os.path.join(self.work, "state", f"r{self._roots}")

    def build(self, spark) -> None:
        t = load_tables(spark, self.sf_dir)
        ev, orders = t["events"], t["orders"]
        docs = t["documents"].select("doc_id", "source", "text")
        # name -> (factory, state getter, table name, whole table, cuts)
        self.specs = {
            "dedup_cascade": (
                lambda: _Versioned(self._root(), lambda r: stream_dedup_cascade(r, app_id="pb"),
                                   lambda s, r: sorted(tuple(x) for x in
                                                       accepted_docs(s, r).collect())),
                lambda m, s: m.state(s), "documents", docs,
                range_cuts(docs, "doc_id", N_CUTS, self.rows["documents"] - 1)),
            "sketch_hll": (lambda: HllStreamMaintainer("user_id"),
                           lambda m, s: dict(m.registers), "events", ev,
                           hash_cuts(ev, "event_id", N_CUTS, self.seed)),
            "quantile_logbins": (
                lambda: QuantileLogbinsStreamMaintainer("o_totalprice"),
                lambda m, s: (m.count(), m.n_bins(),
                              [m.quantile(q) for q in (0.01, 0.1, 0.5, 0.9, 0.99)]),
                "orders", orders, hash_cuts(orders, "o_orderkey", N_CUTS, self.seed)),
            "mixture_plan": (MixturePlanMaintainer, lambda m, s: _mixture_state(m),
                             "documents", docs, hash_cuts(docs, "doc_id", N_CUTS, self.seed)),
        }
        self.fed_rows = {name: self.rows[spec[2]] for name, spec in self.specs.items()}

    def run(self, spark, tracer: Tracer | None = None) -> tuple[dict[str, tuple], int]:
        """Feed every maintainer all its cuts; returns name -> (maintainer,
        per-batch seconds) for those that finished, and how many raised."""
        tracer = tracer or Tracer("", enabled=False)
        done, failed = {}, 0
        for name, (make, _state, _table, _whole, cuts) in self.specs.items():
            per = []
            try:
                m = make()
                for i, batch in enumerate(cuts):
                    t0 = time.perf_counter()
                    with tracer.span(spark, f"maintainers.{name}.batch{i}"):
                        m(batch, i)
                    per.append(time.perf_counter() - t0)
            except Exception as ex:  # noqa: BLE001 — a failing maintainer is a counted failure
                failed += 1
                print(f"maintainer failed: {name}: {ex!r}", flush=True)
                continue
            done[name] = (m, per)
        return done, failed

    def _reference(self, spark) -> dict:
        """Each maintainer's state fed the whole table as one batch (an
        exception in its place if that raised)."""
        states = {}
        for name, (make, state, _table, whole, _cuts) in self.specs.items():
            try:
                m = make()
                m(whole, 0)
                states[name] = state(m, spark)
            except Exception as ex:  # noqa: BLE001
                states[name] = ex
        return states

    def check(self, spark, done: dict[str, tuple]) -> list[str]:
        """Each final state against the maintainer fed the whole table as
        one batch, computed untimed, once per checkout and source state
        (it depends on neither the seed nor the cuts).  A check that raises
        is an error like a mismatch."""
        if self.reference is None:
            self.reference = cached("maintainers", lambda: self._reference(spark),
                                    keep=lambda r: not any(isinstance(v, Exception)
                                                           for v in r.values()))
        errors = []
        for name, (m, _per) in done.items():
            want = self.reference[name]
            try:
                got = self.specs[name][1](m, spark)
            except Exception as ex:  # noqa: BLE001
                got = ex
            if isinstance(want, Exception) or isinstance(got, Exception):
                raised = want if isinstance(want, Exception) else got
                errors.append(f"{name}: state raised {raised!r}")
            elif got != want:
                errors.append(f"{name}: state after {N_CUTS} cuts differs from one batch")
        return errors
