"""Session-10 property tests: the Viterbi operator
(operators/markov.py::viterbi_paths) pinned against an exhaustive
all-paths decode, ties included.
"""

from __future__ import annotations


def _brute_viterbi(emit, trans, init, states, T):
    """All-paths brute force in plain Python: returns (best_path,
    best_logp) with the SAME tie-break chain as the operator
    (lexicographically smallest state-index path among ties, which is
    what per-cell smallest-prev + terminal smallest-state yields when
    every tie is global)."""
    import itertools

    best = None
    for path in itertools.product(range(len(states)), repeat=T):
        lp = init[states[path[0]]] + emit[(1, states[path[0]])]
        for t in range(1, T):
            lp += trans[(states[path[t - 1]], states[path[t]])]
            lp += emit[(t + 1, states[path[t]])]
        key = (-lp, path)
        if best is None or key < best[0]:
            best = (key, path, lp)
    return [states[i] for i in best[1]], best[2]


def test_viterbi_matches_brute_force(spark):
    """Operator decode == exhaustive-path argmax on random models
    (continuous scores: ties are measure-zero, so the per-cell DP
    argmax and the global argmax coincide), and the all-equal model
    exercises the deterministic smallest-index tie-break chain."""
    import random

    from big_data_bowl_2026_analytics_spark.operators.markov import (
        viterbi_paths,
    )

    states = ["a", "b", "c"]
    T = 4
    rng = random.Random(11)
    n_seq = 6
    emit_rows, want = [], {}
    emits = {}
    for s in range(n_seq):
        e = {
            (t, st): rng.uniform(-5, 0)
            for t in range(1, T + 1)
            for st in states
        }
        emits[s] = e
        emit_rows += [
            (s, t, st, lp) for (t, st), lp in e.items()
        ]
    trans = {
        (p, n): rng.uniform(-5, 0) for p in states for n in states
    }
    init = {st: rng.uniform(-5, 0) for st in states}
    for s in range(n_seq):
        want[s] = _brute_viterbi(emits[s], trans, init, states, T)

    edf = spark.createDataFrame(
        emit_rows, "seq_id long, t long, state string, logp double"
    )
    tdf = spark.createDataFrame(
        [(p, n, lp) for (p, n), lp in trans.items()],
        "prev_state string, state string, logp double",
    )
    idf = spark.createDataFrame(
        list(init.items()), "state string, logp double"
    )
    got_rows = viterbi_paths(edf, tdf, idf, T).collect()
    got: dict[int, list] = {}
    logp: dict[int, float] = {}
    for r in got_rows:
        got.setdefault(r.seq_id, [None] * T)[r.t - 1] = r.state
        logp[r.seq_id] = r.path_logp
    for s in range(n_seq):
        path, lp = want[s]
        assert got[s] == path, f"seq {s}"
        assert abs(logp[s] - lp) < 1e-9

    # all-equal scores: every path is optimal; the tie-break chain
    # (smallest prev index per cell, smallest terminal index) must
    # decode the all-'a' path
    e0 = spark.createDataFrame(
        [(0, t, st, -1.0) for t in range(1, T + 1) for st in states],
        "seq_id long, t long, state string, logp double",
    )
    t0 = spark.createDataFrame(
        [(p, n, -1.0) for p in states for n in states],
        "prev_state string, state string, logp double",
    )
    i0 = spark.createDataFrame(
        [(st, -1.0) for st in states], "state string, logp double"
    )
    rows0 = sorted(
        viterbi_paths(e0, t0, i0, T).collect(), key=lambda r: r.t
    )
    assert [r.state for r in rows0] == ["a"] * T
    assert [r.t for r in rows0] == list(range(1, T + 1))
