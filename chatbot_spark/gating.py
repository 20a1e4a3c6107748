"""Shared helpers for the size-gated driver solves (r13 §§7-15).

Two concerns live here:

* ``rows_at_most`` — the cheap gate PROBE (r13 verdict item 3): the
  original gates paid a full ``count()`` on the gated input per call,
  which at corpus scale is a complete columnless scan (and, for the
  gates that counted the DISTINCT symmetrized edge set, a full shuffle)
  even when the answer is obviously "too big". The probe counts a
  ``limit(n + 1)`` of the RAW input instead: ``LocalLimit`` stops every
  scan task after n + 1 rows and no shuffle is involved, so the
  over-gate answer costs a bounded, truncated read. Callers that used
  to gate on a post-shuffle set (distinct / symmetrized edges) now gate
  on the raw row count — a strictly conservative bound re driver
  memory: raw <= n implies the collected distinct-symmetrized set is
  <= 2 n rows (~32 MB of long pairs at the 1 M default), and the gate
  threshold is a heuristic, not a semantic surface — both regimes are
  pinned bit-identical by the gate-equality tests.

* ``effective_gate`` — the bench regression leg (r13 verdict item 2):
  every driver gate resolves its threshold through this hook
  (``driver_solves`` = hook + probe, the one call each gate makes), so
  setting ``CBS_FORCE_DISTRIBUTED=1`` forces the distributed rounds on
  any input. bench.py uses it to time a small "gate-off" leg
  (``<name>__gateoff`` entries) each round; without it a regression in
  the distributed recurrences — the 100 TB path — would be invisible
  to the canonical bench, because at sf0.1 every gated entry
  driver-solves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

__all__ = ["DRIVER_SOLVE_ROWS", "driver_solves", "effective_gate", "rows_at_most"]

_FORCE_DISTRIBUTED_ENV = "CBS_FORCE_DISTRIBUTED"

# Row gate of the driver-local graph solves (connected/incremental
# components, PageRank, LPA and its maintenance verbs; r13): the CRUD
# verbs hand these solvers DELTA-sized inputs by contract (incremental:
# contracted on touched components; decremental: the affected slice), so
# at 100 TB the iterative part is small even though the corpus is not.
# At or below this many raw edge rows (~16 MB of long pairs — the same
# order as components.DEFAULT_BROADCAST_NODE_ROWS and Spark's broadcast
# budget) the recurrence replays bit-exactly in vectorized numpy on the
# driver instead of as driver-coordinated Spark rounds: profiling (r13)
# showed these solves spend their wall time on the per-round job floor
# (~27 ms per job × ~5 jobs per round × rounds), not on data.
# Corpus-scale edge sets exceed the gate and take the distributed rounds
# unchanged.
DRIVER_SOLVE_ROWS = 1_000_000


def effective_gate(requested: int) -> int:
    """Resolve a driver-solve gate threshold: 0 (gate off — the
    distributed path) when ``CBS_FORCE_DISTRIBUTED=1`` is set, else the
    requested threshold unchanged."""
    if os.environ.get(_FORCE_DISTRIBUTED_ENV) == "1":
        return 0
    return requested


def rows_at_most(df: DataFrame, n: int) -> bool:
    """True iff ``df`` has at most ``n`` rows, decided by a truncated
    probe (``limit(n + 1)`` then count): every scan task stops pulling
    past n + 1 rows, so an over-gate input pays a bounded read instead
    of a full scan. Call it on the RAW (pre-shuffle) input — a limit on
    a distinct/aggregate still executes the full exchange upstream."""
    return df.limit(n + 1).count() <= n


def driver_solves(df: DataFrame, n: int) -> bool:
    """The regime decision of a size gate with threshold ``n``: True
    (solve on the driver) iff the gate is not forced off and ``df`` has
    at most ``n`` rows by the truncated :func:`rows_at_most` probe."""
    n = effective_gate(n)
    return n > 0 and rows_at_most(df, n)
