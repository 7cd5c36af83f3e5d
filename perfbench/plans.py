"""Seeded operation plans and the statistics the report uses.

Everything here is plain Python so the harness tests can check it
without a Spark session.  The workload seed only chooses inputs: which
cell an edit hits and what it writes, which page a preview shows, how
long an undo/redo burst is, and the order entries run in.  The tables
themselves are fixed (``datagen.DATA_SEED``).
"""

from __future__ import annotations

import math
import random
import statistics
from typing import NamedTuple, Optional, Sequence

#: numeric lineitem columns an edit may write; l_extendedprice is the
#: pivot's value column, so about a quarter of the edits move the pivot
EDIT_COLUMNS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
#: edit steps between two undo/redo bursts
STEPS_PER_BURST = 3


class Step(NamedTuple):
    rid: int
    column: str
    value: float
    offset: int  # first row of the preview page read after the edit


def editor_plan(seed: int, n_rows: int, page: int, n_ops: int = 400) -> list:
    """The editor session's operations, in order: ``Step`` records with
    ``"undo"`` / ``"redo"`` strings interleaved.  Every
    ``STEPS_PER_BURST`` steps an undo burst of 1–2 follows, then 0..k
    redos of it.  A run consumes a prefix; the plan is long enough that
    no run reaches its end."""
    rng = random.Random(f"editor:{seed}")
    ops: list = []
    while len(ops) < n_ops:
        for _ in range(STEPS_PER_BURST):
            col = rng.choice(EDIT_COLUMNS)
            if col == "l_quantity":
                value = float(rng.randint(1, 50))
            elif col == "l_extendedprice":
                value = round(rng.uniform(900.0, 105_000.0), 2)
            else:
                value = rng.randint(0, 10) / 100.0
            ops.append(
                Step(rng.randrange(n_rows), col, value, rng.randrange(n_rows - page))
            )
        k = rng.randint(1, 2)
        ops += ["undo"] * k + ["redo"] * rng.randint(0, k)
    return ops[:n_ops]


def gated_prefix(plan: list, steps: int) -> int:
    """Length of the shortest prefix of ``plan`` that holds ``steps``
    ``Step`` records, and with them the undo/redo bursts between."""
    seen = 0
    for i, op in enumerate(plan):
        if isinstance(op, Step):
            seen += 1
            if seen == steps:
                return i + 1
    raise ValueError(f"plan holds fewer than {steps} steps")


def entry_plan(seed: int, names: Sequence[str], n_passes: int = 50) -> list[list[str]]:
    """One seeded permutation of ``names`` per pass."""
    rng = random.Random(f"entries:{seed}")
    passes = []
    for _ in range(n_passes):
        order = list(names)
        rng.shuffle(order)
        passes.append(order)
    return passes


class Tail(NamedTuple):
    percentile: int
    value: float
    n: int


def tail(samples: Sequence[float], beyond: int = 10) -> Optional[Tail]:
    """The highest whole percentile (nearest-rank) that still has at
    least ``beyond`` samples above its rank; None below ``2 * beyond``
    samples, where that percentile would fall under the median."""
    n = len(samples)
    if n < 2 * beyond:
        return None
    ordered = sorted(samples)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            return Tail(p, ordered[rank - 1], n)
    return None


def median(samples: Sequence[float]) -> float:
    return statistics.median(samples) if samples else float("nan")
