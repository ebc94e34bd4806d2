"""Markov-chain decoding operators.

``viterbi_paths`` is the max-plus sibling of the unrolled
message-passing family (graph.py::pagerank/hits, the q125/q299/q362
discipline): a FIXED number of rounds, each one broadcast join +
grouped max-struct over a (sequences x states) frame, with the k-state
model broadcast and lineage truncated per round. Built ahead of the
round-11 query wiring (decode the most likely regime path per user
over q138's transition matrix); pinned now by a brute-force property
test (tests/test_session10_properties.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _state_index(init: DataFrame) -> DataFrame:
    """Deterministic 0-based index over the (bounded, k-row) state
    set, ordered by state value — the numeric tie-break key that lets
    string states ride inside max-structs. A k-row window is a
    bounded funnel, never data-sized."""
    w = Window.orderBy("state")
    return init.select(
        "state", (F.row_number().over(w) - 1).alias("_sidx")
    )


def viterbi_paths(
    emissions: DataFrame,
    transitions: DataFrame,
    init: DataFrame,
    n_steps: int,
) -> DataFrame:
    """Exact Viterbi decode per sequence over a SHARED k-state model.

    Inputs (log-domain throughout):
      - ``emissions``: (seq_id, t, state, logp), dense over every
        t in 1..n_steps and every state — the per-step evidence;
      - ``transitions``: (prev_state, state, logp), dense k x k;
      - ``init``: (state, logp).

    Returns one row per (seq_id, t): the decoded ``state`` plus the
    sequence's total ``path_logp`` (constant within a seq_id).

    Semantics: best_1(s) = init(s) + emit_1(s);
    best_t(s) = max_p [best_{t-1}(p) + trans(p, s)] + emit_t(s). Every
    argmax (per-cell backpointer AND the terminal pick) tie-breaks
    toward the SMALLEST state index, so equal-score models decode
    deterministically on any engine or partitioning.

    Scale: the model (k states, k^2 transitions) is broadcast; the
    rolling frame is |seqs| x k rows; each of the n_steps - 1 forward
    rounds is one broadcast join + one grouped max-struct + one
    emission equi-join (no windows on the data grain), checkpointed so
    the unroll's lineage stays linear. The backward pass is
    n_steps - 1 equi-joins of the |seqs|-row path head against the
    (|seqs| x k) backpointer frames. k and n_steps are model
    constants — the only data-sized axis is the sequence count,
    exactly like the other unrolled operators.
    """
    if n_steps < 1:
        raise ValueError("n_steps must be >= 1")
    sidx = _state_index(init)
    init_ix = (
        init.join(sidx, "state")
        .select("state", "_sidx", F.col("logp").alias("ip"))
    )
    trans_ix = transitions.select(
        "prev_state", "state", F.col("logp").alias("tp")
    )

    best = (
        emissions.where(F.col("t") == 1)
        .join(F.broadcast(init_ix), "state")
        .select(
            "seq_id",
            "state",
            "_sidx",
            (F.col("logp") + F.col("ip")).alias("score"),
        )
        .localCheckpoint(eager=False)
    )
    backptrs: list[tuple[int, DataFrame]] = []
    for t in range(2, n_steps + 1):
        cand = best.select(
            "seq_id",
            F.col("state").alias("prev_state"),
            F.col("_sidx").alias("_pidx"),
            "score",
        ).join(F.broadcast(trans_ix), "prev_state")
        # per-cell argmax with the smallest-prev-index tie-break
        agg = (
            cand.groupBy("seq_id", "state")
            .agg(
                F.max(
                    F.struct(
                        (F.col("score") + F.col("tp")).alias("s"),
                        (-F.col("_pidx")).alias("_np"),
                        F.col("prev_state").alias("prev_state"),
                    )
                ).alias("m")
            )
            .localCheckpoint(eager=False)  # feeds best AND backptr
        )
        backptrs.append(
            (t, agg.select("seq_id", "state", F.col("m.prev_state")))
        )
        emit_t = emissions.where(F.col("t") == t).select(
            "seq_id", "state", F.col("logp").alias("ep")
        )
        best = (
            agg.join(emit_t, ["seq_id", "state"])
            .join(F.broadcast(sidx), "state")
            .select(
                "seq_id",
                "state",
                "_sidx",
                (F.col("m.s") + F.col("ep")).alias("score"),
            )
            .localCheckpoint(eager=False)
        )

    # terminal pick: best score, smallest state index on ties
    final = best.groupBy("seq_id").agg(
        F.max(
            F.struct(
                F.col("score").alias("s"),
                (-F.col("_sidx")).alias("_ns"),
                F.col("state").alias("state"),
            )
        ).alias("m")
    )
    head = final.select(
        "seq_id",
        F.lit(n_steps).alias("t"),
        F.col("m.state").alias("state"),
        F.col("m.s").alias("path_logp"),
    ).localCheckpoint(eager=False)
    rows = [head]
    cur = head
    for t, bp in reversed(backptrs):
        # checkpoint per step: each union branch below reuses the
        # backward prefix instead of re-executing its whole join
        # chain (quadratic in n_steps otherwise — the q229 lesson
        # applied to the backward pass).
        cur = (
            cur.where(F.col("t") == t)
            .join(bp, ["seq_id", "state"])
            .select(
                "seq_id",
                F.lit(t - 1).alias("t"),
                F.col("prev_state").alias("state"),
                "path_logp",
            )
            .localCheckpoint(eager=False)
        )
        rows.append(cur)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def event_transitions(ev: DataFrame) -> DataFrame:
    """``(event_type, next_type)`` for every event that has a successor
    in its user's (ts, event_id) order — the one fact-table pass of the
    event-type Markov chain (one shuffle on user_id)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())


def transition_counts(seq: DataFrame) -> DataFrame:
    """Exact BIGINT count ``c`` per ``(prev_type, next_type)`` pair."""
    return seq.groupBy(F.col("event_type").alias("prev_type"), "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def stationary_shares(
    pairs: DataFrame, tot: DataFrame, rounds: int = 12
) -> tuple[DataFrame, DataFrame]:
    """Power iteration ``pi <- pi P`` from the uniform start over the
    chain with transition counts ``pairs`` and per-row totals ``tot``
    ``(prev_type, t)``. Returns ``(pi, prev_pi)``, both ``(ty, pi)``:
    the last round and the one before it, so callers can report the
    L1 step. Every round lives on the bounded |types|^2 frame.
    """
    pmat = pairs.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        (F.col("c").cast("double") / F.col("t")).alias("p"),
    )
    k = tot.agg(F.count(F.lit(1)).alias("k"))
    pi = tot.crossJoin(F.broadcast(k)).select(
        F.col("prev_type").alias("ty"),
        (F.lit(1.0) / F.col("k")).alias("pi"),
    )
    prev_pi = None
    for _ in range(rounds):
        prev_pi = pi
        pi = (
            pi.join(pmat, pi.ty == pmat.prev_type)
            .groupBy(F.col("next_type").alias("ty2"))
            .agg(F.sum(F.col("pi") * F.col("p")).alias("pi"))
            .select(F.col("ty2").alias("ty"), "pi")
        )
    return pi, prev_pi
