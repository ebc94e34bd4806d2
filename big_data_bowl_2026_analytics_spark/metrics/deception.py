"""Deception metric: change-point detection on each play's
non-completion-probability series (SURVEY §2.9 U3/U4).

The reference runs ruptures PELT (L2 cost, pen=0.01) per play in a
Python loop (reference src/metrics/deception.py:18-117). Here the
scores stage (``pipeline/scores.py::compute_scores``) collects each
play's frame-sorted probabilities into one array in a single
aggregate, and :func:`deception_score` is a Series pandas UDF over
that array column: each Arrow batch carries many plays, and each
array goes through :func:`deception_for_series`. The change-point
search is a self-contained numpy PELT implementing the standard
algorithm (Killick et al. 2012) with the same candidate lattice
ruptures uses by default (min_size=2, jump=5) so scores match the
reference bit-for-bit on the same series.

Scale: state per play is one short probability series (~tens of
frames at 10 Hz); millions of plays fan out over the cluster with one
shuffle on the play key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

_PEN = 0.01
_MIN_SIZE = 2
_JUMP = 5


def _l2_cost_fns(signal: np.ndarray):
    """``cost(a, b)``: the L2 cost of segment ``signal[a:b]``. Prefix
    sums make each call O(1):
    cost(a, b) = sum(x[a:b]^2) - (sum(x[a:b])^2) / (b - a)."""
    x = np.asarray(signal, dtype=float)
    c1 = np.concatenate([[0.0], np.cumsum(x)])
    c2 = np.concatenate([[0.0], np.cumsum(x * x)])

    def cost(a: int, b: int) -> float:
        s = c1[b] - c1[a]
        return (c2[b] - c2[a]) - s * s / (b - a)

    return cost


def pelt_l2(signal: np.ndarray, pen: float = _PEN, min_size: int = _MIN_SIZE, jump: int = _JUMP) -> list[int]:
    """PELT with L2 (sum of squared deviations) segment cost.

    Returns the optimal breakpoint list ending with ``len(signal)`` —
    the same contract as ruptures' ``predict``: candidate breakpoints
    lie on the ``jump`` lattice and segments are at least ``min_size``
    long.

    Optimality caveat (shared with ruptures, on purpose): Killick's
    pruning theorem assumes every evaluation point stays usable as a
    predecessor of every later end. The jump lattice breaks that
    premise exactly when the FINAL end sits ``< min_size`` past the
    last lattice point (``n % jump == 1`` under the 2/5 defaults): a
    state pruned against that lattice point may have been the true
    optimum for ``n``. ruptures' ``Pelt.seg`` carries the identical
    lattice and pruning rule, so this implementation reproduces its
    output bit-for-bit — including that artifact — which is the
    reference-parity contract (CLAUDE.md). The hypothesis suite pins
    strict lattice-optimality for every ``n % jump != 1`` and
    never-better-than-optimal plus a concrete ruptures-parity
    counterexample for the artifact class.
    """
    n = len(signal)
    cost = _l2_cost_fns(signal)
    ends = [k for k in range(0, n, jump) if k >= min_size]
    ends.append(n)

    # partitions[t] = (best total cost up to t, breakpoint list up to t)
    partitions: dict[int, tuple[float, list[int]]] = {0: (0.0, [])}
    admissible: list[int] = []
    for bkp in ends:
        new_adm = (bkp - min_size) // jump * jump
        admissible.append(new_adm)
        best_total = np.inf
        best_prev: list[int] = []
        kept: list[int] = []
        totals: list[float] = []
        for t in admissible:
            if t not in partitions or bkp - t < min_size:
                totals.append(np.inf)
                continue
            prev_cost, prev_bkps = partitions[t]
            total = prev_cost + cost(t, bkp) + pen
            totals.append(total)
            if total < best_total:
                best_total = total
                best_prev = [*prev_bkps, bkp]
        partitions[bkp] = (best_total, best_prev)
        # PELT pruning: discard t that can never beat the current best.
        admissible = [
            t
            for t, tot in zip(admissible, totals)
            if tot <= best_total + pen
        ]
    _, bkps = partitions[n]
    return bkps


def partition_objective(
    signal: np.ndarray, bkps: list[int], pen: float = _PEN
) -> float:
    """Total penalized objective Σ(segment L2 cost + pen) of a
    breakpoint list (ruptures contract: ends with len(signal))."""
    cost = _l2_cost_fns(signal)
    edges = [0, *bkps]
    return float(sum(cost(a, b) + pen for a, b in zip(edges, edges[1:])))


def optimal_partition_objective(
    signal: np.ndarray,
    pen: float = _PEN,
    min_size: int = _MIN_SIZE,
    jump: int = _JUMP,
) -> float:
    """EXACT optimum of the penalized objective over the same candidate
    lattice — the unpruned O(m²) dynamic program. PELT's pruning is
    exactness-preserving (Killick et al. 2012, Thm 3.1) whenever every
    end is a valid predecessor of every later end, which the 2/5
    lattice guarantees for all series lengths except ``n % jump == 1``
    (see :func:`pelt_l2`). So ``partition_objective(x, pelt_l2(x)) ==
    optimal_partition_objective(x)`` holds for every ``n % 5 != 1``
    and is otherwise ``>=`` with a gap only in the documented
    ruptures-parity artifact; q28 emits BOTH values per row, so any
    gap is visible in the output rather than silently absorbed."""
    x = np.asarray(signal, dtype=float)
    n = x.size
    cost = _l2_cost_fns(x)
    ends = [k for k in range(0, n, jump) if k >= min_size]
    ends.append(n)
    starts = [0, *ends[:-1]]
    best: dict[int, float] = {0: 0.0}
    for bkp in ends:
        total = np.inf
        for t in starts:
            if t in best and bkp - t >= min_size:
                total = min(total, best[t] + cost(t, bkp) + pen)
        best[bkp] = total
    return float(best[n])


def detect_change_point(signal: np.ndarray) -> int:
    """Reference semantics (deception.py:18-80): among PELT breakpoints
    (excluding the trailing series length), return the one whose
    adjacent-segment mean shift is largest; no breakpoints -> return
    len(signal) as the no-change sentinel."""
    bkps = pelt_l2(signal)
    n = len(signal)
    if len(bkps) <= 1:
        return n
    magnitudes = []
    for i in range(len(bkps) - 1):
        cp = bkps[i]
        start_prev = bkps[i - 1] if i > 0 else 0
        first = signal[start_prev:cp]
        second = signal[cp : bkps[i + 1]]
        if first.size > 0 and second.size > 0:
            magnitudes.append(abs(second.mean() - first.mean()))
        else:
            magnitudes.append(0.0)
    return int(bkps[int(np.argmax(magnitudes))])


def deception_for_series(signal: np.ndarray) -> float:
    """U4 (deception.py:83-117): mean(post) - mean(pre) around the
    change point; fallback last - first when no change point."""
    n = len(signal)
    cp = detect_change_point(signal)
    if cp == n:
        return float(signal[-1] - signal[0])
    return float(signal[cp:].mean() - signal[:cp].mean())


@pandas_udf(DoubleType())
def deception_score(series: pd.Series) -> pd.Series:
    """Deception per play from a column of frame-ordered probability
    arrays: :func:`deception_for_series` on each array, one Arrow
    batch of plays per call."""
    return pd.Series(
        [deception_for_series(np.asarray(s, dtype=float)) for s in series],
        dtype=float,
    )


# Pickle this module's functions BY VALUE into UDF closures: Spark's
# Python workers otherwise resolve them by module name, which fails
# whenever the package isn't on the worker's import path (e.g. the
# driver imported the repo by file location from another cwd).
import sys as _sys

try:  # pragma: no cover - exercised via worker round-trips in tests
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass
