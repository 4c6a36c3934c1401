"""Seeded telemetry input for the ``ingest`` workload.

The JSON lines reuse the repo's load generator (``tools/loadgen.py``), so
a malformed line is the exact shape that generator emits.  The same seed
gives byte-identical files; sizes do not depend on the seed, so runs with
different seeds do the same amount of work on different values.

The ``analytics`` workload reads no generated data: it runs on the copy of
the repository's sf0.01 testdata under ``perfbench/testdata/``.
"""

from __future__ import annotations

import json
import random

from tools.loadgen import gen_row

MALFORMED_LINE = '{"truncated": \n'


def telemetry_lines(kind: str, rows: int, seed: int, malformed_pct: float,
                    first_id: int = 0) -> tuple[list[str], int]:
    """``rows`` JSON lines of loadgen ``kind`` records; returns the lines
    and how many of them are malformed."""
    rng = random.Random(seed)
    lines, bad = [], 0
    for i in range(first_id, first_id + rows):
        if rng.random() * 100 < malformed_pct:
            lines.append(MALFORMED_LINE)
            bad += 1
        else:
            lines.append(json.dumps(gen_row(kind, i, rng)) + "\n")
    return lines, bad


def write_lines(path: str, lines: list[str]) -> int:
    """Write ``lines`` to ``path``; returns the byte size."""
    data = "".join(lines).encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)
