"""Ordered / window operators (SURVEY §2.5 W1-W5).

The reference's per-play ordered-frame semantics (implicit pandas row
order) become explicit window specs: every 'first/last/previous frame'
is ordered by the frame axis with a unique-key tie-break, because Spark
(and any shuffled engine) has no physical row order to lean on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...functions.scalar import fround
from ...operators.temporal import sessionize
from ...sources.readers import read_table
from ..registry import query


@query(
    "q20_running_total",
    tags=("window",),
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) + 1e-9, 2) AS running_spend
FROM orders
""",
)
def q20_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend in order-date order (W1 ordered
    series; frame ROWS UNBOUNDED PRECEDING..CURRENT).

    Scale: one shuffle on o_custkey; within-partition sort feeds a
    streaming frame aggregator — no per-row re-scan. Deterministic
    because the order key (o_orderdate, o_orderkey) is unique.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"]
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        fround(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "q21_lag_delta",
    tags=("window", "lag"),
    oracle="""
SELECT event_id, user_id,
       round(value - lag(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
       ) + 1e-9, 2) AS delta
FROM events
""",
)
def q21_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user delta vs previous event (lag) — the frame-to-frame
    kinematic difference pattern, with NULL for each user's first event
    on both engines.
    """
    ev = read_table(spark, sf_dir, "events", ["event_id", "user_id", "ts", "value"])
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        fround(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    )


@query(
    "q22_rebase_time_axis",
    tags=("window", "rebase"),
    oracle="""
SELECT event_id, user_id,
       round(epoch(ts) - min(epoch(ts)) OVER (PARTITION BY user_id) + 1e-9, 6)
         AS secs_since_first
FROM events
""",
)
def q22_rebase_time_axis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebase each user's timeline to zero — the frame-id re-basing used
    to concatenate before/after-throw timelines (W4,
    reference src/visualization/play.py:130-132), done with a window min
    instead of a collected scalar.
    """
    ev = read_table(spark, sf_dir, "events", ["event_id", "user_id", "ts"])
    w = Window.partitionBy("user_id")
    epoch = F.col("ts").cast("double")
    return ev.select(
        "event_id",
        "user_id",
        fround(epoch - F.min(epoch).over(w), 6).alias("secs_since_first"),
    )


@query(
    "q23_linear_interpolation",
    tags=("explode", "sequence"),
    oracle="""
SELECT o_orderkey, s.step AS step,
       round(o_totalprice * s.step / 8 + 1e-9, 4) AS interp_value
FROM orders, (SELECT unnest(generate_series(0, 8)) AS step) s
WHERE o_orderkey % 997 = 0
""",
)
def q23_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense linear interpolation between endpoints via sequence +
    posexplode — the ball-flight np.linspace (W5, reference
    src/visualization/play.py:148-162) as a generator expression, not a
    driver loop.

    Scale: row expansion happens executor-side after the highly
    selective key predicate is pushed to the scan.
    """
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"])
    return (
        orders.where(F.col("o_orderkey") % 997 == 0)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.posexplode(F.sequence(F.lit(0), F.lit(8))).alias("pos", "step"),
        )
        .select(
            "o_orderkey",
            F.col("step").cast("bigint").alias("step"),
            fround(F.col("o_totalprice") * F.col("step") / 8, 4).alias("interp_value"),
        )
    )


@query(
    "q24_sessionization",
    tags=("window", "session"),
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, event_id, ts, value,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       round(sum(value) + 1e-9, 2) AS session_value,
       round(max(epoch(ts)) - min(epoch(ts)) + 1e-9, 6) AS duration_secs
FROM sessions
GROUP BY user_id, session_id
""",
)
def q24_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag -> boundary
    flag -> running sum as session id -> per-session aggregates. The
    batch twin of the native session-window operator (q27); this
    composition is how engines without a session primitive express it
    at scale (one shuffle on user_id, both windows and the final agg
    share it).
    """
    ev = read_table(spark, sf_dir, "events", ["user_id", "event_id", "ts", "value"])
    epoch = F.col("ts").cast("double")
    return sessionize(ev).groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        fround(F.sum("value"), 2).alias("session_value"),
        fround(F.max(epoch) - F.min(epoch), 6).alias("duration_secs"),
    )


@query(
    "q28_changepoint_detection",
    tags=("changepoint", "applyInPandas"),
    oracle=None,  # iterative PELT is not SQL-expressible; rows-only check
)
def q28_changepoint_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user change-point score over the ordered event-value series:
    the deception metric's PELT (SURVEY §2.9 U3/U4,
    metrics/deception.py) run as a grouped-map operator on the events
    table — one row per user with the detected mean-shift magnitude.

    No SQL oracle: PELT is an iterative dynamic program; the driver
    records the weaker rows-only check. To make even that gate carry
    information, every row is SELF-VALIDATING: ``pelt_objective`` is
    the penalized cost of the breakpoints PELT chose and
    ``opt_objective`` the exact optimum from the unpruned O(m²) DP
    over the same candidate lattice. PELT's pruning is
    exactness-preserving for every series length with ``n % 5 != 1``,
    so ``is_optimal`` must be true on those rows; on ``n % 5 == 1``
    rows a false value is the documented ruptures-parity tail-pruning
    artifact (metrics/deception.py::pelt_l2), surfaced rather than
    hidden (invariants asserted in tests/test_pelt_hypothesis.py)."""
    from ...metrics.deception import (
        deception_for_series,
        optimal_partition_objective,
        partition_objective,
        pelt_l2,
    )
    import pandas as pd

    ev = read_table(spark, sf_dir, "events", ["user_id", "event_id", "ts", "value"])

    def per_user(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        sig = pdf["value"].to_numpy(dtype=float)
        chosen = partition_objective(sig, pelt_l2(sig))
        optimum = optimal_partition_objective(sig)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(sig)],
                "shift_score": [round(deception_for_series(sig) + 1e-9, 6)],
                "pelt_objective": [round(chosen + 1e-9, 6)],
                "opt_objective": [round(optimum + 1e-9, 6)],
                "is_optimal": [bool(abs(chosen - optimum) <= 1e-9)],
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        per_user,
        schema=(
            "user_id long, n_events long, shift_score double, "
            "pelt_objective double, opt_objective double, is_optimal boolean"
        ),
    )


@query(
    "q84_window_navigation",
    tags=("window", "navigation"),
    oracle="""
SELECT event_id, user_id, value,
       lead(value, 1) OVER w AS next_value,
       first_value(value) OVER w AS first_session_value,
       nth_value(value, 2) OVER w AS second_value,
       last_value(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS final_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q84_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window navigation family (lead / first_value / nth_value /
    frame-spanning last_value) per user timeline — completes lag (q21)
    and the ranking family (q56). The order carries the unique
    event_id tie-break; every emitted value is a raw pass-through
    (navigation moves doubles, never derives them), so the comparison
    is bit-exact.

    Scale: one shuffle on user_id; all four functions share one sorted
    pass. The UNBOUNDED FOLLOWING frame is the only one that buffers a
    full partition — fine for per-user cardinalities; a running frame
    is the scale form when groups are huge.
    """
    ev = read_table(
        spark, sf_dir, "events", ["event_id", "user_id", "ts", "value"]
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lead("value", 1).over(w).alias("next_value"),
        F.first("value").over(w).alias("first_session_value"),
        F.nth_value("value", 2).over(w).alias("second_value"),
        F.last("value").over(w_full).alias("final_value"),
    )


@query(
    "q110_rolling_regression",
    tags=("window", "timeseries", "feature-gen"),
    oracle="""
WITH based AS (
  SELECT user_id, event_id, value,
         epoch(ts) - first_value(epoch(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS x
  FROM events
), sums AS (
  SELECT user_id, event_id, x, value,
         count(*)       OVER w AS n,
         sum(x)         OVER w AS sx,
         sum(value)     OVER w AS sy,
         sum(x * x)     OVER w AS sxx,
         sum(x * value) OVER w AS sxy
  FROM based
  WINDOW w AS (PARTITION BY user_id ORDER BY x, event_id
               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id, n,
       round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
             END + 1e-9, 6) + 0 AS slope,
       round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                  ELSE (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             END + 1e-9, 6) + 0 AS intercept
FROM sums
""",
)
def q110_rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-16-event OLS trend per user (slope + intercept of
    value against seconds-since-first-event) — the rolling-regression
    feature a time-series model derives per entity, computed entirely
    from windowed sums via the closed form
    ``slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)``.

    The x axis is rebased per user (x − first x) so the quadratic
    sums stay small and cancellation-free; all five running sums share
    ONE window frame over one (user_id; x, event_id) sort — a single
    shuffle, no self-join, no per-row Python. Cross-engine float
    parity is NOT guaranteed by the frame scan alone: DuckDB computes
    sliding-window aggregates via segment trees, whose addition
    association order can differ from Spark's sequential scan — the
    documented 6-decimal fround pair absorbs the difference (and the
    ``+ 0`` after the round normalizes -0.0, footgun 9).

    Scale: identical shape at any row count — windows partition by
    user; the frame is O(16) per row. The reference's per-play numpy
    fits (deception.py segment means) are the same pattern one level
    up; this is the engine-native form.
    """
    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "value"]
    )
    w_first = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    based = ev.select(
        "user_id",
        "event_id",
        "value",
        (
            F.col("ts").cast("double")
            - F.first(F.col("ts").cast("double")).over(w_first)
        ).alias("x"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("x", "event_id")
        .rowsBetween(-15, Window.currentRow)
    )
    sums = based.select(
        "user_id",
        "event_id",
        "x",
        "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("value").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("x") * F.col("value")).over(w).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return sums.select(
        "user_id",
        "event_id",
        "n",
        # + 0 maps IEEE -0.0 to +0.0 AFTER rounding on both engines:
        # DuckDB's round preserves the sign of a negative zero, Spark's
        # does not — equal by ==, different under a repr/byte hash
        # (caught by tools/driver_sim.py; CLAUDE.md footgun 9).
        (fround(F.when(den == 0, F.lit(None)).otherwise(slope), 6) + F.lit(0))
        .alias("slope"),
        (
            fround(F.when(den == 0, F.lit(None)).otherwise(intercept), 6)
            + F.lit(0)
        ).alias("intercept"),
    )
