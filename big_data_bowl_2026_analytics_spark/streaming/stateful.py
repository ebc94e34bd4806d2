"""Custom stateful streaming operator via ``applyInPandasWithState``.

Where the built-in windowed aggregates (events.py) cover time-bucketed
state, this is the escape hatch for arbitrary per-key state machines:
the example keeps a running per-user profile (event count, value sum,
max single value) that survives across micro-batches in the state
store and emits an updated row whenever a batch touches the user.

Scale: state is partitioned by the grouping key across the cluster's
state store; each micro-batch only loads/updates the touched keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def running_user_profile(events: DataFrame) -> DataFrame:
    """Streaming per-user running profile with explicit state."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n, total, mx = state.get
        else:
            n, total, mx = 0, 0.0, float("-inf")
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [round(total, 6)],
                "max_value": [mx],
            }
        )

    # Project to exactly the columns `update` touches BEFORE the
    # grouped-state boundary: Catalyst cannot prune into the pandas
    # function, so every input column (notably the wide `props`
    # string) would otherwise be shuffled AND Arrow-serialized per
    # micro-batch (guide §4.3).
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
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


_TRANSITION_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_type", StringType()),
    ]
)

_TRANSITION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("prev_type", StringType()),
        StructField("next_type", StringType()),
        StructField("n", LongType()),
    ]
)


def transition_increments(events: DataFrame) -> DataFrame:
    """Streaming twin of q353's transition counting: per user, the
    state store keeps only the LAST seen event (ts, id, type) — O(1)
    state per key — and each micro-batch emits the (prev_type,
    next_type) pair-count increments it completes, including the
    stitch pair across the batch boundary. Summing the emitted
    increments reproduces the batch lead()-pair counts exactly,
    PROVIDED each user's events arrive in (ts, event_id) order across
    micro-batches (the in-order-ingest contract a per-key-ordered
    source like Kafka-keyed-by-user provides; within a batch the
    operator sorts, so only cross-batch disorder can misattribute a
    transition). The drain test feeds time-split files to honor the
    contract.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.assign(
            _us=batch["ts"].astype("datetime64[us]").astype("int64")
        ).sort_values(["_us", "event_id"], kind="mergesort")
        types = batch["event_type"].tolist()
        if state.exists:
            _ts, _eid, last_type = state.get
            seq = [last_type, *types]
        else:
            seq = types
        pairs: dict[tuple[str, str], int] = {}
        for a, b in zip(seq, seq[1:]):
            pairs[(a, b)] = pairs.get((a, b), 0) + 1
        tail = batch.iloc[-1]
        state.update(
            (int(tail["_us"]), int(tail["event_id"]), str(tail["event_type"]))
        )
        if pairs:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(pairs),
                    "prev_type": [k[0] for k in pairs],
                    "next_type": [k[1] for k in pairs],
                    "n": list(pairs.values()),
                }
            )

    # §4.3 pre-projection: `update` reads only ts/event_id/event_type.
    return events.select(
        "user_id", "ts", "event_id", "event_type"
    ).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_TRANSITION_OUTPUT_SCHEMA,
        stateStructType=_TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def half_up_cents(values: np.ndarray) -> np.ndarray:
    """Quantize float values to int64 cents with HALF-UP (away from
    zero) rounding — Spark ``F.round``'s rule on the exact binary
    value, so streaming and batch compare identical integers even on
    exactly-representable .5 products (0.125 * 100 == 12.5 → 13,
    where pandas' half-to-even ``round`` would emit 12; ADVICE r9).
    """
    scaled = values * 100.0
    return np.where(
        scaled >= 0.0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
    ).astype("int64")


_RECORD_STATE_SCHEMA = StructType(
    [
        StructField("max_cents", LongType()),
        StructField("n_records", LongType()),
    ]
)

_RECORD_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("cents", LongType()),
        StructField("record_idx", LongType()),
    ]
)


def running_value_records(events: DataFrame) -> DataFrame:
    """Streaming twin of q386's prefix-max record semantics, applied
    to the event stream: per user, emit every event whose exact-cents
    value STRICTLY exceeds all of that user's earlier events — the
    "new personal best" detector (biggest basket, longest session,
    highest score) that powers real-time milestone triggers. State is
    O(1) per key: the running max in exact integer cents plus the
    record count (for the emitted 1-based record_idx).

    Values quantize to cents (HALF-UP round of value * 100, as int64)
    BEFORE the comparison so stream and batch compare identical
    integers — the q144 rule (floats are never a cross-engine/
    cross-path compare key). HALF-UP (away from zero) is the batch
    side's Spark ``F.round`` rule; pandas ``Series.round`` is
    half-to-even and would diverge on exactly-representable .5
    products such as 0.125 * 100 (ADVICE r9). Equal-to-max is NOT a
    record (strict >, the q386 convention; the first event always
    is).

    Exact stream-equals-batch contract: draining this over in-order
    micro-batches (per-user (ts, event_id) order across batches —
    time-split files in the test, a user-keyed Kafka topic in
    production; within a batch the operator sorts) yields EXACTLY the
    rows a batch prefix-max window flags, record_idx included —
    integer comparisons, so the drain test asserts full-row equality,
    not an error bound.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.assign(
            _us=batch["ts"].astype("datetime64[us]").astype("int64"),
            _cents=half_up_cents(batch["value"].to_numpy(dtype="float64")),
        ).sort_values(["_us", "event_id"], kind="mergesort")
        if state.exists:
            max_cents, n_records = state.get
            have = True
        else:
            max_cents, n_records = 0, 0
            have = False
        out_eid: list[int] = []
        out_cents: list[int] = []
        out_idx: list[int] = []
        for eid, cents in zip(batch["event_id"], batch["_cents"]):
            if not have or cents > max_cents:
                n_records += 1
                out_eid.append(int(eid))
                out_cents.append(int(cents))
                out_idx.append(n_records)
                max_cents = int(cents)
                have = True
        state.update((int(max_cents), int(n_records)))
        if out_eid:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_eid),
                    "event_id": out_eid,
                    "cents": out_cents,
                    "record_idx": out_idx,
                }
            )

    # §4.3 pre-projection: `update` reads only ts/event_id/value.
    return events.select(
        "user_id", "ts", "event_id", "value"
    ).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RECORD_OUTPUT_SCHEMA,
        stateStructType=_RECORD_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_LATENESS_STATE_SCHEMA = StructType(
    [
        StructField("high_water_us", LongType()),
        StructField("n", LongType()),
        StructField("n_late", LongType()),
        StructField("sum_late_us", LongType()),
        StructField("max_late_us", LongType()),
    ]
)

_LATENESS_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("n_late", LongType()),
        StructField("sum_late_us", LongType()),
        StructField("max_late_us", LongType()),
    ]
)


def lateness_audit_snapshots(events: DataFrame) -> DataFrame:
    """Streaming twin of q159's out-of-order lateness audit
    (plans/queries/timeseries.py): per event_type (the per-source
    watermark grain), the state store keeps ONLY the running
    high-watermark timestamp plus four integer counters — O(1) state
    per key — and each micro-batch emits the updated cumulative
    snapshot (n, n_late, sum_late_us, max_late_us). This is the live
    version of the statistic that sizes ``withWatermark``: an operator
    watching max_late_us knows, continuously, the smallest watermark
    delay that would not drop data.

    Lateness of an event = running-max event time in ARRIVAL order
    minus the event's own time, exactly q159's definition (arrival
    order = event_id, the ingest sequence; the window includes the
    current row so lateness is never negative). All arithmetic is
    integer microseconds — a batch drain reproduces q159's n /
    n_late / sum_late_us / max_late_us EXACTLY, provided each type's
    events arrive in event_id order across micro-batches (the
    in-order-ingest contract; within a batch the operator sorts, so
    only cross-batch disorder can misstate the high-watermark). The
    drain test feeds event_id-split files to honor the contract.

    Scale: |event_types| keys × 5 int64s of state; the per-batch work
    is one vectorized cummax over the touched rows. Snapshots are
    emitted in update mode — downstream takes the max-n row per key
    (n is monotone) or the latest by sink time.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.sort_values("event_id", kind="mergesort")
        ts_us = (
            batch["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        )
        if state.exists:
            hw0, n, n_late, sum_late, max_late = (int(v) for v in state.get)
        else:
            hw0 = np.iinfo(np.int64).min
            n = n_late = sum_late = max_late = 0
        hw = np.maximum.accumulate(
            np.concatenate((np.array([hw0], dtype=np.int64), ts_us))
        )[1:]
        late = hw - ts_us
        n += len(batch)
        n_late += int((late > 0).sum())
        sum_late += int(late.sum())
        max_late = max(max_late, int(late.max()))
        state.update((int(hw[-1]), n, n_late, sum_late, max_late))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n": [n],
                "n_late": [n_late],
                "sum_late_us": [sum_late],
                "max_late_us": [max_late],
            }
        )

    # §4.3 pre-projection: `update` reads only event_id/ts.
    return events.select(
        "event_type", "event_id", "ts"
    ).groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_LATENESS_OUTPUT_SCHEMA,
        stateStructType=_LATENESS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def mg_merge(
    summary: dict[int, int], add: dict[int, int], k: int
) -> tuple[dict[int, int], int]:
    """One Misra-Gries MERGE step (Agarwal et al., 'Mergeable
    Summaries'): combine the counter dicts, then — if more than k
    keys remain — subtract the (k+1)-th largest counter value d from
    every counter and drop the non-positive. Exactly the keys whose
    counters strictly exceed d survive, so one pass leaves <= k; the
    subtraction removes >= (k+1)*d mass (the top k+1 counters each
    lose d or their full value >= ... == d), which is what proves the
    (k+1)*D <= n - S decrement bound. Returns (new_summary, d).

    Pure function so the merge theorem is pinned by a hypothesis test
    (tests/test_session10_properties.py) independent of the Spark
    state plumbing in heavy_hitter_summaries; the Spark drain test
    lives in tests/test_streaming_multimodal.py.
    """
    merged = dict(summary)
    for key_, c in add.items():
        merged[key_] = merged.get(key_, 0) + c
    if len(merged) <= k:
        return merged, 0
    d = sorted(merged.values(), reverse=True)[k]
    return {u: c - d for u, c in merged.items() if c > d}, d


_MG_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n_seen", LongType()),
        StructField("n_decremented", LongType()),
    ]
)

_MG_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("user_id", LongType()),
        StructField("est_count", LongType()),
        StructField("n_seen", LongType()),
        StructField("n_decremented", LongType()),
    ]
)


def heavy_hitter_summaries(events: DataFrame, k: int = 16) -> DataFrame:
    """Streaming Misra-Gries heavy-hitter summaries per event_type:
    the state store keeps AT MOST k (user_id, counter) pairs per key
    plus two scalars — bounded state regardless of user cardinality,
    where an exact streaming top-k (q109's batch shape) would need
    state linear in distinct users.

    Micro-batch merge is the Agarwal et al. MERGE operation (combine
    counts, then subtract the (k+1)-th largest counter from all and
    drop the non-positive): one pass leaves <= k survivors, and every
    subtraction of d removes >= (k+1)*d total mass, so the cumulative
    decrement D satisfies (k+1)*D <= n_seen - sum(counters). The
    guarantees are therefore:

      est_count <= true_count <= est_count + D   (keys in the summary)
      true_count <= D                            (keys absent from it)

    so any user with true count > D is guaranteed present. Unlike the
    prefix-scan stateful twins (transitions, records, lateness), these
    bounds hold under ANY ingest order — counting is commutative and
    the merge theorem is order-free — so the drain test needs no
    in-order-ingest contract. If distinct users per type <= k the
    summary is EXACT (no decrement ever fires).

    Snapshots are emitted in update mode, one row per summary entry;
    downstream takes the rows with the max n_seen per type (n_seen is
    monotone).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        if state.exists:
            keys, counts, n_seen, dec = state.get
            summary = dict(zip(keys, counts))
        else:
            summary, n_seen, dec = {}, 0, 0
        n_seen += int(len(batch))
        add = {
            int(uid): int(c)
            for uid, c in batch["user_id"].value_counts().items()
        }
        summary, d = mg_merge(summary, add, k)
        dec += d
        state.update(
            (
                list(summary.keys()),
                list(summary.values()),
                int(n_seen),
                int(dec),
            )
        )
        yield pd.DataFrame(
            {
                "event_type": [event_type] * len(summary),
                "user_id": list(summary.keys()),
                "est_count": list(summary.values()),
                "n_seen": [n_seen] * len(summary),
                "n_decremented": [dec] * len(summary),
            }
        )

    # §4.3 pre-projection: `update` reads only user_id.
    return events.select(
        "event_type", "user_id"
    ).groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_MG_OUTPUT_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_PH_STATE_SCHEMA = StructType(
    [
        StructField("m", LongType()),
        StructField("m_min", LongType()),
        StructField("max_ph", LongType()),
        StructField("n", LongType()),
        StructField("first_alarm_n", LongType()),  # 0 = none yet
    ]
)

_PH_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n", LongType()),
        StructField("max_ph_cents", LongType()),
        StructField("alarmed", LongType()),  # 0/1 integer flag
        StructField("first_alarm_n", LongType()),
    ]
)


def page_hinkley_alarms(
    events: DataFrame,
    ref_mean_cents: int,
    delta_cents: int = 50,
    lambda_cents: int = 200_000,
) -> DataFrame:
    """Streaming twin of q401's Page-Hinkley drift monitor — the
    online half of the deliberate lambda split (the activity_lease
    precedent): the batch query centers deviations on the corpus mean
    (a two-pass statistic a stream cannot know), so the streaming
    detector centers on a CONFIGURED reference mean in exact integer
    cents — deploy config, exactly like slo_burn_windows' base error
    rate. Everything else is the same integer lattice: per event
    type, O(1) state holds the running deviation sum m, its running
    minimum, the max excursion, the row count, and the first-alarm
    index; dev = cents − ref − δ is exact BIGINT, so the drained
    snapshots equal a batch recomputation AT THE SAME REFERENCE MEAN
    row-for-row (no error bound).

    Values quantize via half_up_cents BEFORE differencing (the q144 /
    ADVICE-r9 rule); the in-order-ingest contract is per-type
    (ts, event_id) order across micro-batches (time-split files in
    the test; a type-keyed topic in production), the operator sorts
    within each batch. Snapshots are emitted in update mode; n is
    monotone per key, so downstream takes the max-n row per type.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.assign(
            _us=batch["ts"].astype("datetime64[us]").astype("int64"),
            _cents=half_up_cents(batch["value"].to_numpy(dtype="float64")),
        ).sort_values(["_us", "event_id"], kind="mergesort")
        if state.exists:
            m, m_min, max_ph, n, first_alarm = state.get
        else:
            m, m_min, max_ph, n, first_alarm = 0, 0, 0, 0, 0
        for cents in batch["_cents"]:
            n += 1
            m += int(cents) - ref_mean_cents - delta_cents
            # the running min is over m_1..m_t (q401's convention —
            # no phantom m_0 = 0), so the first row pins it
            if n == 1 or m < m_min:
                m_min = m
            ph = m - m_min
            if ph > max_ph:
                max_ph = ph
            if first_alarm == 0 and ph > lambda_cents:
                first_alarm = n
        state.update(
            (int(m), int(m_min), int(max_ph), int(n), int(first_alarm))
        )
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n": [n],
                "max_ph_cents": [max_ph],
                "alarmed": [1 if max_ph > lambda_cents else 0],
                "first_alarm_n": [first_alarm],
            }
        )

    # §4.3 pre-projection: `update` reads only ts/event_id/value.
    return events.select(
        "event_type", "ts", "event_id", "value"
    ).groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_PH_OUTPUT_SCHEMA,
        stateStructType=_PH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SPRT_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", LongType()),
        StructField("n_at_decision", LongType()),  # 0 = none yet
        StructField("llr_at_decision", LongType()),
    ]
)

_SPRT_OUTPUT_SCHEMA = StructType(
    [
        StructField("arm", StringType()),
        StructField("n_total", LongType()),
        StructField("n_conversions", LongType()),
        StructField("llr_ppm", LongType()),
        StructField("n_at_decision", LongType()),
        StructField("decision", StringType()),
    ]
)


def sprt_decision_stream(
    events: DataFrame,
    c0_ppm: int,
    c1_ppm: int,
    bound_ppm: int,
    success_type: str = "purchase",
) -> DataFrame:
    """Streaming twin of q402's Wald SPRT: the collapsed Bernoulli
    log-likelihood llr_t = c0·t + (c1−c0)·s_t means the ENTIRE test
    state is two integers per arm (rows seen, successes seen) plus
    the frozen first-crossing record — the textbook example of a
    sequential test as an O(1) state machine. Constants arrive as
    precomputed integer ppm (the q402 convention: no in-engine ln),
    so every update, boundary comparison, and the frozen decision are
    exact integer arithmetic; the drained snapshots equal the batch
    window scan at the same constants row-for-row.

    The arm column must be precomputed upstream (the batch query's
    seeded hash split or a real assignment service); SPRT consumes
    any Bernoulli stream. In-order ingest per arm is required only
    for the first-crossing INDEX — n/s/llr are order-free counts.
    Update-mode snapshots; n_total is monotone per key.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (arm,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        batch = batch.assign(
            _us=batch["ts"].astype("datetime64[us]").astype("int64")
        ).sort_values(["_us", "event_id"], kind="mergesort")
        if state.exists:
            n, s, n_dec, llr_dec = state.get
        else:
            n, s, n_dec, llr_dec = 0, 0, 0, 0
        for etype in batch["event_type"]:
            n += 1
            s += 1 if etype == success_type else 0
            if n_dec == 0:
                llr = c0_ppm * n + (c1_ppm - c0_ppm) * s
                if llr >= bound_ppm or llr <= -bound_ppm:
                    n_dec, llr_dec = n, llr
        state.update((int(n), int(s), int(n_dec), int(llr_dec)))
        llr_now = c0_ppm * n + (c1_ppm - c0_ppm) * s
        decision = (
            "continue"
            if n_dec == 0
            else ("accept_h1" if llr_dec >= bound_ppm else "accept_h0")
        )
        yield pd.DataFrame(
            {
                "arm": [arm],
                "n_total": [n],
                "n_conversions": [s],
                "llr_ppm": [llr_now],
                "n_at_decision": [n_dec],
                "decision": [decision],
            }
        )

    # §4.3 pre-projection: `update` reads only ts/event_id/event_type.
    return events.select(
        "arm", "ts", "event_id", "event_type"
    ).groupBy("arm").applyInPandasWithState(
        update,
        outputStructType=_SPRT_OUTPUT_SCHEMA,
        stateStructType=_SPRT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ARES_STATE_SCHEMA = StructType(
    [
        StructField("event_ids", ArrayType(LongType())),
        StructField("weights", ArrayType(LongType())),
        StructField("keys", ArrayType(DoubleType())),
        StructField("n_seen", LongType()),
        StructField("w_seen", LongType()),
    ]
)

_ARES_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("rank", LongType()),
        StructField("event_id", LongType()),
        StructField("weight", LongType()),
        StructField("res_key", DoubleType()),
        StructField("n_seen", LongType()),
    ]
)


def weighted_reservoir_snapshots(events: DataFrame, k: int = 5) -> DataFrame:
    """Streaming twin of q370's Efraimidis-Spirakis A-Res weighted
    reservoir: per event type, O(k) state holds the k events with the
    largest deterministic priority ln(u)/w (u = (md5-16bit+1)/65537 of
    the event id — q370's exact hash convention; w = exact integer
    cents via half_up_cents, non-positive weights skipped like the
    batch query's n_chars > 0 filter). The reservoir is the top-k of a
    MERGE-CLOSED order statistic — top-k(A ∪ B) = top-k(top-k(A) ∪ B)
    — so unlike the prefix-scan twins (page_hinkley_alarms,
    sprt_decision_stream) there is NO in-order-ingest contract at all:
    any file split, any batch boundary, any arrival order drains to
    the identical reservoir. That makes it the sampling member of the
    mergeable-summary family (HLL distinct / CMS frequency / MG heavy
    hitters / value-histogram quantiles / this).

    Priorities are computed in Python here and in the JVM for the
    batch query; ln is correctly-rounded-stable in practice but the
    two libms are only guaranteed within 1 ulp of each other, so
    cross-engine SELECTION agreement is generic (distinct (u, w) pairs
    sit far apart) rather than adversarially exact — the drain test
    therefore pins the stream against a pure-Python reference of the
    same scheme plus split-invariance, not against the JVM doubles.

    Snapshots are emitted in update mode, one row per reservoir slot;
    n_seen is monotone per key, so downstream takes the max-n_seen
    batch's rows (the heavy_hitter_summaries convention).
    """
    import hashlib
    import math

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        cents = half_up_cents(batch["value"].to_numpy(dtype="float64"))
        ids = batch["event_id"].to_numpy(dtype="int64")
        if state.exists:
            sids, sweights, skeys, n_seen, w_seen = state.get
            items = list(zip(sids, sweights, skeys))
        else:
            items, n_seen, w_seen = [], 0, 0
        for eid, w in zip(ids, cents):
            n_seen += 1
            w = int(w)
            if w <= 0:
                continue
            w_seen += w
            u = (
                int(
                    hashlib.md5(
                        f"ares|{int(eid)}".encode()
                    ).hexdigest()[:4],
                    16,
                )
                + 1
            ) / 65537.0
            items.append((int(eid), w, math.log(u) / w))
        items.sort(key=lambda t: (-t[2], t[0]))
        items = items[:k]
        state.update(
            (
                [i for i, _, _ in items],
                [w for _, w, _ in items],
                [kk for _, _, kk in items],
                int(n_seen),
                int(w_seen),
            )
        )
        yield pd.DataFrame(
            {
                "event_type": [event_type] * len(items),
                "rank": list(range(1, len(items) + 1)),
                "event_id": [i for i, _, _ in items],
                "weight": [w for _, w, _ in items],
                "res_key": [kk for _, _, kk in items],
                "n_seen": [n_seen] * len(items),
            }
        )

    # §4.3 pre-projection: `update` reads only event_id/value.
    return events.select(
        "event_type", "event_id", "value"
    ).groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_ARES_OUTPUT_SCHEMA,
        stateStructType=_ARES_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_KMV_STATE_SCHEMA = StructType(
    [
        StructField("hashes", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)

_KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("hour_start", TimestampType()),
        StructField("n_seen", LongType()),
        StructField("n_kept", LongType()),
        StructField("kth_hash", LongType()),
        StructField("distinct_est", DoubleType()),
        StructField("hashes", ArrayType(LongType())),
    ]
)

#: KMV hash domain: 15 hex digits = 60 bits, inside int64 for the
#: ArrayType(LongType) state and exact integer comparisons everywhere.
_KMV_DOMAIN = float(1 << 60)


def _kmv_hash(uid: int) -> int:
    import hashlib

    return int(
        hashlib.md5(f"kmv|{int(uid)}".encode()).hexdigest()[:15], 16
    )


def kmv_window_summaries(events: DataFrame, k: int = 64) -> DataFrame:
    """Hourly KMV (k-minimum-values / theta) sketch of the window's
    user set — the CARDINALITY-algebra member of the mergeable
    windowed-sketch family: where hourly_minhash_signatures estimates
    similarity FRACTIONS, the KMV sketch estimates set SIZES — window
    distinct users as (k−1)/θ (θ = k-th smallest hash / 2^60, the
    Bar-Yossef et al. estimator, relative error ~1/√(k−2)) — and, via
    ``kmv_union_intersection`` over any two drained windows, the size
    of their UNION and INTERSECTION, with the same bound. That is the
    audience-arithmetic question ("how many users did hours A and B
    share?") that HLL alone cannot answer well and MinHash answers
    only as a ratio.

    The state per hour is the ≤k smallest DISTINCT 60-bit hashes —
    k·8 bytes — and k-min-of-union is merge-closed (the reservoir
    theorem with priorities = hashes), so drains are split- and
    order-invariant with NO ingest contract; below k distinct users
    the sketch IS the exact distinct set. Snapshots in update mode;
    n_seen is monotone per key.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (hour_start,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if batch.empty:
            return
        if state.exists:
            hashes, n_seen = state.get
            kept = set(hashes)
        else:
            kept, n_seen = set(), 0
        n_seen += len(batch)
        for uid in batch["user_id"].to_numpy(dtype="int64"):
            kept.add(_kmv_hash(uid))
        merged = sorted(kept)[:k]
        state.update((merged, int(n_seen)))
        full = len(merged) == k
        kth = merged[-1] if merged else 0
        est = (
            (k - 1) / (kth / _KMV_DOMAIN)
            if full and kth > 0
            else float(len(merged))
        )
        yield pd.DataFrame(
            {
                "hour_start": [hour_start],
                "n_seen": [n_seen],
                "n_kept": [len(merged)],
                "kth_hash": [kth],
                "distinct_est": [est],
                "hashes": [merged],
            }
        )

    hours = events.select(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        "user_id",
    )
    return hours.groupBy("hour_start").applyInPandasWithState(
        update,
        outputStructType=_KMV_OUTPUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def kmv_union_intersection(
    hashes_a: list[int], hashes_b: list[int], k: int = 64
) -> dict:
    """Set algebra over two drained KMV sketches: k-min of the union
    is recoverable from the parts (merge closure), θ estimates the
    union size, and the fraction of the union's k-minima present in
    BOTH sketches estimates Jaccard — intersection ≈ J × |A ∪ B|
    (Beyer et al., the standard KMV composition). Exact below k."""
    sa, sb = set(hashes_a), set(hashes_b)
    union = sorted(sa | sb)[:k]
    full = len(union) == k
    if not union:
        return {"union_est": 0.0, "jaccard_est": 0.0, "intersection_est": 0.0}
    kth = union[-1]
    union_est = (k - 1) / (kth / _KMV_DOMAIN) if full else float(len(union))
    in_both = sum(1 for h in union if h in sa and h in sb)
    j = in_both / len(union)
    return {
        "union_est": union_est,
        "jaccard_est": j,
        "intersection_est": j * union_est,
    }
