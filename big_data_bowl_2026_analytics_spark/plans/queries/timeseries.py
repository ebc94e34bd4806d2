"""Event-time windowed aggregation over the events table: tumbling
windows, sessions and lateness audits as batch queries. The reference
has no streaming surface, and Structured Streaming is out of scope
(SURVEY §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...functions.scalar import fround
from ...operators.markov import (
    event_transitions,
    stationary_shares,
    transition_counts,
)
from ...operators.temporal import hour_grid, hourly_counts, sessionize
from ...sources.readers import parallelize_scan, read_table
from ..oracle_sql import EVENT_SESSIONS
from ..registry import query
from ...core.session import local_frame
from .splits import _hash16, _hash16_sql


#: Oracle CTEs for the dense hourly event series (engine side:
#: ``operators.temporal.hourly_counts`` and ``hour_grid``): events per
#: epoch hour, the first and last hour, and the dense grid that turns
#: missing hours into zeros — keyed by hour-of-day or by offset.
_HOURLY_COUNTS_CTE = """counts AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
)"""
_HOUR_BOUNDS_CTES = f"""{_HOURLY_COUNTS_CTE}, bounds AS (
  SELECT min(h) AS mn, max(h) AS mx FROM counts
)"""
_HOD_GRID_CTES = f"""{_HOUR_BOUNDS_CTES}, dense AS MATERIALIZED (
  SELECT g.h, CAST(g.h % 24 AS BIGINT) AS hod,
         CAST(coalesce(c.x, 0) AS BIGINT) AS x
  FROM (SELECT unnest(generate_series(mn, mx)) AS h FROM bounds) g
  LEFT JOIN counts c ON c.h = g.h
)"""
_IDX_GRID_CTES = f"""{_HOUR_BOUNDS_CTES}, dense AS (
  SELECT hr.h - b.mn AS idx, CAST(coalesce(c.x, 0) AS BIGINT) AS x
  FROM (SELECT unnest(generate_series(mn, mx)) AS h FROM bounds) hr
  CROSS JOIN bounds b
  LEFT JOIN counts c ON c.h = hr.h
)"""

#: Oracle CTEs of the per-type hourly grid: counts per (type, hour),
#: the hour bounds, every hour, and the types.
_TYPED_HOUR_GRID_CTES = """counts AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT min(h) AS mn, max(h) AS mx FROM counts
), hours AS (
  SELECT unnest(generate_series(mn, mx)) AS h FROM bounds
), types AS (
  SELECT DISTINCT event_type FROM counts
)"""


def _hourly_offset_series(ev: DataFrame) -> DataFrame:
    """``(idx, x)``: events per hour on the dense grid, keyed by the
    offset from the first hour (oracle side: ``_IDX_GRID_CTES``)."""
    counts = hourly_counts(ev)
    counts = counts.localCheckpoint(eager=False)  # bounds + dense branches
    return (
        hour_grid(counts)
        .join(counts, "h", "left")
        .select(
            (F.col("h") - F.col("mn")).alias("idx"),
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
    )

@query(
    "q25_tumbling_window_hourly",
    tags=("timeseries", "window-agg"),
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value) + 1e-9, 2) AS total_value,
       round(avg(value) + 1e-9, 4) AS avg_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def q25_tumbling_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregates per event type using the
    native event-time window operator.

    Scale: F.window assigns each row to its hour bucket map-side; the
    groupBy shuffles on (bucket, type) with partial aggregation — the
    same plan Structured Streaming runs incrementally with a watermark.
    """
    ev = read_table(spark, sf_dir, "events", ["ts", "event_type", "value"])
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fround(F.sum("value"), 2).alias("total_value"),
            fround(F.avg("value"), 4).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
            "avg_value",
        )
    )


@query(
    "q26_daily_active_users",
    tags=("timeseries", "distinct"),
    oracle="""
SELECT date_trunc('day', ts) AS day,
       count(DISTINCT user_id) AS dau,
       count(*) AS n_events
FROM events
GROUP BY date_trunc('day', ts)
""",
)
def q26_daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users — exact distinct per day. At 100 TB the same
    query would switch to approx_count_distinct (HLL sketch, mergeable,
    no expand); exact form kept here because the oracle hashes values.
    """
    ev = read_table(spark, sf_dir, "events", ["ts", "user_id"])
    return ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.countDistinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "q27_session_window_native",
    tags=("timeseries", "session"),
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value) + 1e-9, 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
""",
)
def q27_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via the native merging session_window
    operator — same semantics as the q24 lag/cumsum composition (the
    oracle IS that composition), but executed by the engine's
    session-merge state operator, which is also what a Structured
    Streaming ``session_window`` aggregate runs."""
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts", "value"])
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fround(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@query(
    "q64_hierarchical_rollup",
    tags=("timeseries", "rollup"),
    oracle="""
SELECT date_trunc('day', ts) AS day,
       event_type,
       count(*) AS n,
       round(sum(value) + 1e-9, 2) AS total_value,
       round(sum(value) / count(*) + 1e-9, 4) AS avg_value
FROM events
GROUP BY date_trunc('day', ts), event_type
""",
)
def q64_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: DAILY aggregates computed
    FROM the hourly aggregate layer rather than the raw events —
    sum/count compose losslessly, avg re-derives as total/n. At scale
    this is the continuous-aggregate pattern: each coarser granularity
    reads the (thousands x smaller) finer rollup, not the fact table.
    The oracle aggregates raw events directly, proving composition
    changes nothing."""
    ev = read_table(spark, sf_dir, "events", ["ts", "event_type", "value"])
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            fround(F.sum("sum_value"), 2).alias("total_value"),
            fround(F.sum("sum_value") / F.sum("n"), 4).alias("avg_value"),
        )
    )


@query(
    "q65_trailing_hour_window",
    tags=("timeseries", "range-frame"),
    oracle="""
SELECT event_id,
       count(*) OVER w AS n_trailing_hour,
       round(sum(value) OVER w + 1e-9, 2) AS sum_trailing_hour
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
)
""",
)
def q65_trailing_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-hour activity (count + value sum over the
    user's previous 60 minutes) via a RANGE frame on integer
    microseconds — value-based frames stay exact and engine-portable
    where float epochs would not. Scale: partitioned by user_id, so
    the ordered frame scan parallelizes across users; equal timestamps
    are frame peers on both engines, which keeps ties deterministic."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["event_id", "ts", "user_id", "value"])
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
        fround(F.sum("value").over(w), 2).alias("sum_trailing_hour"),
    )


@query(
    "q138_event_transition_matrix",
    tags=("timeseries", "sequence", "markov"),
    oracle="""
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), trans AS (
  SELECT from_type, to_type, count(*) AS n_trans
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
), outdeg AS (
  SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type,
       CAST(n_trans AS BIGINT) AS n_trans,
       round(CAST(n_trans AS DOUBLE) / n_from + 1e-9, 6) AS p_transition
FROM trans t JOIN outdeg USING (from_type)
""",
)
def q138_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    stream (lead over (ts, event_id) — the unique-sort-key rule) with
    empirical transition probabilities — the sequence-mining summary
    behind next-event prediction and bot detection (improbable
    transition chains). One shuffle on user_id for the lead; the
    transition frame is |types|² ≤ tiny, so the out-degree join is
    broadcast-sized at any corpus scale. Counts are exact integers;
    the probability is an integer ratio under the fround pair."""
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"]
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    trans = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    outdeg = trans.groupBy("from_type").agg(F.sum("n_trans").alias("n_from"))
    return (
        trans.join(F.broadcast(outdeg), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n_trans").cast("bigint").alias("n_trans"),
            fround(
                F.col("n_trans").cast("double") / F.col("n_from"), 6
            ).alias("p_transition"),
        )
    )


@query(
    "q146_rolling_distinct_users",
    tags=("timeseries", "distinct", "sliding-window"),
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
), days AS (
  SELECT DISTINCT day FROM ud
), win AS (
  SELECT u.user_id, d.day AS win_end
  FROM ud u JOIN days d
    ON d.day >= u.day AND d.day <= u.day + INTERVAL 6 DAY
)
SELECT CAST(w.win_end AS VARCHAR) AS win_end,
       CAST(dau.n AS BIGINT) AS dau,
       CAST(count(DISTINCT w.user_id) AS BIGINT) AS wau7
FROM win w
JOIN (SELECT day, count(*) AS n FROM ud GROUP BY day) dau
  ON dau.day = w.win_end
GROUP BY w.win_end, dau.n
""",
)
def q146_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (the WAU curve next
    to DAU) — sliding-window COUNT DISTINCT, the one windowed
    aggregate ordinary window frames cannot express (distinct does not
    decompose over frames). The scalable form: reduce to distinct
    (user, day) FIRST (events → at most users×days rows), explode each
    into the ≤7 window-ends it contributes to, and count distinct per
    window-end — a bounded 7× blowup of the reduced frame, never of
    raw events, with the window set restricted to days that actually
    occur. The oracle uses the range-join formulation DuckDB can
    afford; both reduce to identical integer counts. win_end ships as
    an ISO string — the date-vs-datetime pandas dtype class (CLAUDE.md
    footgun 8 family, q54) is sidestepped entirely."""
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts"])
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct().localCheckpoint(eager=False)
    days = ud.select("day").distinct().select(F.col("day").alias("win_end"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("win_end"),
    ).join(F.broadcast(days), "win_end", "left_semi")
    wau = contrib.groupBy("win_end").agg(
        F.countDistinct("user_id").alias("wau7")
    )
    return wau.join(
        F.broadcast(dau.select(F.col("day").alias("win_end"), "dau")), "win_end"
    ).select(
        F.col("win_end").cast("string").alias("win_end"),
        F.col("dau").cast("bigint").alias("dau"),
        "wau7",
    )


@query(
    "q147_hll_sketch_merge",
    tags=("sketch", "mergeable", "timeseries"),
    oracle="""
SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS merged_within_5pct,
       TRUE AS single_within_5pct,
       TRUE AS merge_consistent
FROM events
GROUP BY 1
""",
)
def q147_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch COLUMNS (Datasketches binary sketches as
    data): build one sketch per (week, day), union the daily sketches
    into a weekly estimate, and verify the properties that make sketch
    TABLES the 100 TB distinct-counting architecture: the merged and
    the single-pass estimates each land within 5% of the exact count,
    and they agree with each other within the same budget. Estimate
    EQUALITY across different merge trees is deliberately NOT claimed:
    Datasketches HLL picks its estimator from merge history (a
    standalone sketch reports HIP; unions invalidate HIP and read the
    composite estimator, and even union-of-one differs from
    union-of-seven) — a real sf0.1 failure caught by the full-scale
    sweep after the small-SF runs masked it in exact coupon mode. Raw
    estimates are engine-specific, so the strict contract is the q44
    pattern: exact counts plus error-bound booleans the oracle pins
    TRUE — a sketch regression flips a boolean and fails the hash
    gate."""
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts"])
    week = F.date_trunc("week", F.col("ts")).cast("date").cast("string")
    day = F.to_date("ts")
    daily = (
        ev.select(week.alias("week"), day.alias("day"), "user_id")
        .groupBy("week", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    merged = daily.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    single = ev.groupBy(week.alias("week")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "est_single"
        ),
        F.countDistinct("user_id").alias("exact_users"),
    )
    joined = single.join(merged, "week")
    budget = F.lit(0.05) * F.col("exact_users")
    return joined.select(
        "week",
        F.col("exact_users").cast("bigint").alias("exact_users"),
        (
            F.abs(F.col("est_merged") - F.col("exact_users")) <= budget
        ).alias("merged_within_5pct"),
        (
            F.abs(F.col("est_single") - F.col("exact_users")) <= budget
        ).alias("single_within_5pct"),
        (
            F.abs(F.col("est_merged") - F.col("est_single")) <= budget
        ).alias("merge_consistent"),
    )


@query(
    "q155_m4_downsampling",
    tags=("timeseries", "downsampling"),
    oracle="""
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, ts, event_id, value
  FROM events
), rn AS (
  SELECT event_type, bucket, value,
         row_number() OVER wa AS rn_a,
         row_number() OVER wd AS rn_d
  FROM b
  WINDOW wa AS (PARTITION BY event_type, bucket ORDER BY ts, event_id),
         wd AS (PARTITION BY event_type, bucket ORDER BY ts DESC, event_id DESC)
)
SELECT event_type, bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(value) AS min_v,
       max(value) AS max_v,
       max(CASE WHEN rn_a = 1 THEN value END) AS first_v,
       max(CASE WHEN rn_d = 1 THEN value END) AS last_v
FROM rn
GROUP BY event_type, bucket
""",
)
def q155_m4_downsampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014): per
    series and time bucket keep exactly min / max / first / last —
    the four points that make a pixel-perfect line rendering of
    billions of points from a bounded result.

    All four outputs are PASS-THROUGH doubles (no derived float math,
    so no rounding needed — identical bits on both engines); first /
    last are selected by a total order (ts, event_id) so ties can't
    flip between engines.

    Scale: one shuffle on (series, bucket) for the windows, reused by
    the groupBy (same partitioning key) — the canonical pre-aggregation
    a 100 TB dashboard pipeline materializes per zoom level.
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["event_type", "ts", "event_id", "value"]
    )
    b = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    rn = b.select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return rn.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("first_v"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("last_v"),
    )


@query(
    "q159_out_of_order_audit",
    tags=("timeseries", "streaming", "audit"),
    oracle="""
WITH arr AS (
  SELECT event_type, event_id,
         epoch_us(ts) AS ts_us,
         max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) AS high_water
  FROM events
), late AS (
  SELECT event_type, high_water - ts_us AS late_us FROM arr
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE late_us > 0) AS BIGINT) AS n_late,
       round(count(*) FILTER (WHERE late_us > 0) * 1.0 / count(*) + 1e-9, 6)
         AS pct_late,
       CAST(max(late_us) AS BIGINT) AS max_late_us,
       CAST(CAST(sum(late_us) AS BIGINT) // count(*) AS BIGINT)
         AS avg_late_us
FROM late
GROUP BY event_type
""",
)
def q159_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit: how far behind the per-source
    high-watermark do events arrive? ``late_us`` is the gap between an
    event's timestamp and the running max timestamp in ARRIVAL order
    (event_id = ingest sequence) — exactly the statistic that sizes a
    Structured Streaming ``withWatermark`` delay: a watermark below
    ``max_late_us`` silently drops rows.

    Scale: the running max partitions by source (per-source watermark,
    the production shape) — no global ordering, no single-partition
    window. Lateness is integer microseconds end-to-end; pct_late
    rounds an integer-exact division, and avg_late_us is a pure
    integer floor-division (at 10x the mean reaches ~1e12 us, where a
    2-dp round sits below the double's ulp — the q409 big-magnitude
    lattice rule, caught by the round-12 10x sweep).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["event_type", "event_id", "ts"])
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    arr = ev.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.max(F.unix_micros("ts")).over(w).alias("high_water"),
    )
    late = arr.select(
        "event_type", (F.col("high_water") - F.col("ts_us")).alias("late_us")
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("late_us") > 0).alias("n_late"),
        fround(
            F.count_if(F.col("late_us") > 0) * 1.0 / F.count(F.lit(1)), 6
        ).alias("pct_late"),
        F.max("late_us").alias("max_late_us"),
        # exact integer division, NOT a rounded float average: at 10x
        # the mean lateness reaches ~1e12 us, where a 2-dp round sits
        # BELOW the double's ulp (the q409 big-magnitude lattice rule;
        # caught by the round-12 10x sweep as a last-digit hash
        # divergence) — floor-µs is exact at any scale on both engines
        F.expr("sum(late_us) div count(1)")
        .cast("bigint")
        .alias("avg_late_us"),
    )


@query(
    "q162_event_dedup_audit",
    tags=("timeseries", "streaming", "dedup", "audit"),
    oracle="""
WITH keyed AS (
  SELECT event_type, user_id, value, date_trunc('hour', ts) AS bucket,
         count(*) AS n
  FROM events
  GROUP BY event_type, user_id, value, date_trunc('hour', ts)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(count(*) FILTER (WHERE n > 1) AS BIGINT) AS n_dup_keys,
       CAST(sum(n - 1) AS BIGINT) AS n_redundant_rows,
       CAST(sum(n) AS BIGINT) AS n_rows,
       round(sum(n - 1) * 1.0 / sum(n) + 1e-9, 6) AS redundancy_ratio
FROM keyed
GROUP BY event_type
""",
)
def q162_event_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotency audit for an event stream: how many rows are exact
    replays of (type, user, value) within the same hour — the batch
    measurement that sizes Structured Streaming's
    ``dropDuplicatesWithinWatermark`` state (each redundant row is one
    the streaming dedup would suppress; the hour bucket is the state
    retention the watermark would need).

    Scale: one partial-aggregated shuffle on the dedup key (the same
    key the streaming operator keeps in its state store), then a
    per-type reduction of the already-collapsed key frame. All
    outputs are integer counts plus one integer-exact ratio.
    """
    ev = read_table(
        spark, sf_dir, "events", ["event_type", "user_id", "value", "ts"]
    )
    keyed = ev.groupBy(
        "event_type",
        "user_id",
        "value",
        F.date_trunc("hour", "ts").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return keyed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.count_if(F.col("n") > 1).alias("n_dup_keys"),
        F.sum(F.col("n") - 1).alias("n_redundant_rows"),
        F.sum("n").alias("n_rows"),
        fround(F.sum(F.col("n") - 1) * 1.0 / F.sum("n"), 6).alias(
            "redundancy_ratio"
        ),
    )


#: Oracle CTEs of ``_seasonal_naive_pairs``.
_SEASONAL_NAIVE_CTES = """hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         round(sum(value) + 1e-9, 2) AS v
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), joined AS (
  SELECT a.event_type, a.v, p.v AS pv
  FROM hourly a
  JOIN hourly p
    ON p.event_type = a.event_type
   AND p.bucket = a.bucket - INTERVAL 24 HOUR
)"""


def _seasonal_naive_pairs(ev: DataFrame) -> DataFrame:
    """``(event_type, bucket, v, pv)``: each type's hourly value total
    ``v`` next to the same hour a day earlier ``pv`` — the
    seasonal-naive forecast (oracle side: ``_SEASONAL_NAIVE_CTES``)."""
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(fround(F.sum("value"), 2).alias("v"))
        .localCheckpoint(eager=False)
    )
    prev = hourly.select(
        "event_type",
        (F.col("bucket") + F.expr("INTERVAL 24 HOURS")).alias("bucket"),
        F.col("v").alias("pv"),
    )
    return hourly.join(prev, ["event_type", "bucket"])


@query(
    "q173_seasonal_naive_backtest",
    tags=("timeseries", "forecast", "audit"),
    oracle=f"""
WITH {_SEASONAL_NAIVE_CTES}
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum(abs(v - pv)) / count(*) + 1e-9, 4) AS mae,
       round(avg(CASE WHEN abs(v) + abs(pv) = 0 THEN NULL
                      ELSE 2 * abs(v - pv) / (abs(v) + abs(pv)) END)
             + 1e-9, 6) AS smape
FROM joined
GROUP BY event_type
""",
)
def q173_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's total
    from the same hour one day earlier and score MAE / sMAPE per
    series — the BASELINE every real forecasting model must beat, and
    the standard data-freshness sanity metric for event pipelines
    (if seasonal-naive suddenly degrades, the process changed).

    The hourly aggregate is rounded to cents FIRST, so both engines
    difference identical inputs; the lag join is exact timestamp
    equality (microsecond integers); zero-magnitude sMAPE terms drop
    to NULL identically on both sides.

    Scale: one shuffle to the (series, hour) grain; the lag is an
    equi-join of that bounded series frame against itself — never a
    window over the raw event stream.
    """
    ev = read_table(spark, sf_dir, "events", ["event_type", "ts", "value"])
    joined = _seasonal_naive_pairs(ev)
    mag = F.abs("v") + F.abs("pv")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        fround(F.sum(F.abs(F.col("v") - F.col("pv"))) / F.count(F.lit(1)), 4)
        .alias("mae"),
        fround(
            F.avg(
                F.when(mag == 0, F.lit(None)).otherwise(
                    2 * F.abs(F.col("v") - F.col("pv")) / mag
                )
            ),
            6,
        ).alias("smape"),
    )


@query(
    "q181_hll_intersection_estimate",
    tags=("sketch", "audit", "approx"),
    oracle="""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
), counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM du GROUP BY event_type
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_intersection
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT i.type_a, i.type_b,
       ca.n AS n_a, cb.n AS n_b,
       ca.n + cb.n - i.n_intersection AS n_union,
       i.n_intersection,
       TRUE AS ie_within_bound
FROM inter i
JOIN counts ca ON ca.event_type = i.type_a
JOIN counts cb ON cb.event_type = i.type_b
""",
)
def q181_hll_intersection_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience-overlap estimation from MERGEABLE sketches: the
    intersection of two user sets by inclusion-exclusion over HLL
    sketches (|A| + |B| - |A∪B|, the union being the lossless
    ``hll_union``) — how a 100 TB deployment answers "how many users
    did both X and Y" from per-segment sketch columns without ever
    re-scanning raw events.

    Oracle posture (the q44/q147 pattern): exact counts hash-compared,
    plus a boolean pinning the sketch estimate inside a deterministic
    bound (5% of the union + 16 absolute — measured worst case on
    this data is 1.8%); the oracle asserts the boolean TRUE, so a
    broken sketch path fails the strict gate.

    Scale: one distinct-reduce, one sketch per segment (5 binary
    values), a segment-PAIR join that never touches users, and the
    exact intersection for grading only.
    """
    ev = read_table(spark, sf_dir, "events", ["event_type", "user_id"])
    du = ev.distinct().localCheckpoint(eager=False)
    counts = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sk = du.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    ska = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("ska")
    )
    skb = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("skb")
    )
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_intersection"))
    )
    ca = counts.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    cb = counts.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    est_i = (
        F.hll_sketch_estimate("ska")
        + F.hll_sketch_estimate("skb")
        - F.hll_sketch_estimate(F.hll_union("ska", "skb"))
    )
    return (
        inter.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .join(F.broadcast(ska), "type_a")
        .join(F.broadcast(skb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            (F.col("n_a") + F.col("n_b") - F.col("n_intersection")).alias(
                "n_union"
            ),
            "n_intersection",
            (
                F.abs(est_i - F.col("n_intersection"))
                <= 0.05
                * (F.col("n_a") + F.col("n_b") - F.col("n_intersection"))
                + 16
            ).alias("ie_within_bound"),
        )
    )


@query(
    "q191_cusum_control_chart",
    tags=("timeseries", "monitoring", "changepoint"),
    oracle="""
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.ts, e.event_id,
         round(e.value - s.mu + 1e-9, 6) AS d,
         s.sigma
  FROM events e JOIN stats s ON e.event_type = s.event_type
), walk AS (
  SELECT event_type, sigma,
         sum(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM dev
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(max(abs(c)) + 1e-9, 4) AS max_abs_cusum,
       round(max(abs(c)) / (any_value(sigma) * sqrt(count(*))) + 1e-9, 6)
         AS normalized_excursion,
       max(abs(c)) / (any_value(sigma) * sqrt(count(*))) > 1.36 AS drifted
FROM walk
GROUP BY event_type
""",
)
def q191_cusum_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM control chart per series: the maximum excursion of the
    cumulative sum of mean deviations, normalized Kolmogorov-style by
    σ√n (≈1.36 is the 5% band) — the ONLINE mean-shift monitor next
    to q28's offline-optimal PELT: a process whose mean drifts
    mid-stream shows a large excursion even when start/end means
    match.

    Deviations are rounded before the running sum so both engines
    accumulate identical INPUTS; the windowed sums themselves may
    still differ at the last ulp (DuckDB computes sliding aggregates
    via segment trees whose association order need not match Spark's
    sequential frame scan — the q110 lesson), which the output rounds
    absorb. The drift boolean compares a statistic that sits far from
    its threshold at double precision.

    Scale: one stats pass broadcast back, one per-series ordered
    window (partitioned by series, never global), one reduction.
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["event_type", "ts", "event_id", "value"]
    )
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    dev = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        fround(F.col("value") - F.col("mu"), 6).alias("d"),
        "sigma",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walk = dev.select(
        "event_type", "sigma", F.sum("d").over(w).alias("c")
    )
    excursion = F.max(F.abs("c")) / (
        F.any_value("sigma") * F.sqrt(F.count(F.lit(1)))
    )
    return walk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        fround(F.max(F.abs("c")), 4).alias("max_abs_cusum"),
        fround(excursion, 6).alias("normalized_excursion"),
        (excursion > 1.36).alias("drifted"),
    )


@query(
    "q195_calendar_completeness",
    tags=("timeseries", "quality", "audit"),
    oracle="""
WITH buckets AS (
  SELECT event_type, date_trunc('hour', ts) AS h FROM events
  GROUP BY event_type, date_trunc('hour', ts)
), spans AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_present,
         min(h) AS first_hour, max(h) AS last_hour,
         CAST((epoch_us(max(h)) - epoch_us(min(h))) / 3600000000
              AS BIGINT) + 1 AS n_expected
  FROM buckets GROUP BY event_type
)
SELECT event_type, first_hour, last_hour, n_expected, n_present,
       n_expected - n_present AS n_missing,
       round(n_present * 1.0 / n_expected + 1e-9, 6) AS completeness
FROM spans
""",
)
def q195_calendar_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-completeness audit per series: of the hourly buckets
    between each type's first and last event, how many actually
    contain data — the gap REPORT that decides whether q70's LOCF
    gap-fill (or an upstream backfill) is needed at all, and the
    first thing to check when a dashboard shows a dip.

    Hour buckets are exact microsecond truncations, so expected
    counts are integer interval arithmetic — no float anywhere except
    the final ratio.

    Scale: one shuffle to the (series, hour) grain, then a per-series
    reduction of the bucket frame; nothing materializes the calendar.
    """
    ev = read_table(spark, sf_dir, "events", ["event_type", "ts"])
    buckets = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.lit(1).alias("_one"))
    spans = buckets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.min("h").alias("first_hour"),
        F.max("h").alias("last_hour"),
        (
            (F.unix_micros(F.max("h")) - F.unix_micros(F.min("h")))
            / 3600000000
        )
        .cast("bigint")
        .alias("n_expected"),
    )
    return spans.select(
        "event_type",
        "first_hour",
        "last_hour",
        (F.col("n_expected") + 1).alias("n_expected"),
        "n_present",
        (F.col("n_expected") + 1 - F.col("n_present")).alias("n_missing"),
        fround(
            F.col("n_present") * 1.0 / (F.col("n_expected") + 1), 6
        ).alias("completeness"),
    )


@query(
    "q196_near_duplicate_transactions",
    tags=("timeseries", "dedup", "quality"),
    oracle="""
WITH seq AS (
  SELECT event_type, user_id, value, ts,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, value ORDER BY ts, event_id
         ) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (WHERE gap_us IS NOT NULL
                             AND gap_us <= 300 * 1000000) AS BIGINT)
         AS n_suspect,
       round(count(*) FILTER (WHERE gap_us IS NOT NULL
                              AND gap_us <= 300 * 1000000) * 1.0
             / count(*) + 1e-9, 6) AS suspect_rate,
       round(coalesce(sum(value) FILTER (WHERE gap_us IS NOT NULL
                                         AND gap_us <= 300 * 1000000), 0)
             + 1e-9, 2) AS suspect_value
FROM seq
GROUP BY event_type
""",
)
def q196_near_duplicate_transactions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate transaction detection: events repeating the
    SAME (user, value) within five minutes — the time-proximity
    sibling of q162's exact-replay audit (double-submits, retry
    storms, double-charges all land here while carrying distinct
    event ids). Suspect counts and exposure value per event type.

    The proximity test is a lag gap inside a (user, value) partition
    — integer microseconds, engine-exact — so no self-join and no
    bucket-boundary blind spot (a bucketed pair join misses pairs
    straddling a bucket edge; the lag window does not).

    Scale: one window shuffle on the dedup key; the window orders
    within small (user, value) groups. Money sums use the
    round-of-sum pattern.
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events",
        ["event_type", "user_id", "value", "ts", "event_id"],
    )
    w = Window.partitionBy("user_id", "value").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    )
    suspect = F.col("gap_us").isNotNull() & (
        F.col("gap_us") <= 300 * 1_000_000
    )
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(suspect).alias("n_suspect"),
        fround(F.count_if(suspect) * 1.0 / F.count(F.lit(1)), 6).alias(
            "suspect_rate"
        ),
        fround(
            F.coalesce(
                F.sum(F.when(suspect, F.col("value"))), F.lit(0.0)
            ),
            2,
        ).alias("suspect_value"),
    )


@query(
    "q197_retention_half_life",
    tags=("timeseries", "retention", "statistics"),
    oracle="""
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS d0 FROM events GROUP BY user_id
), aged AS (
  SELECT e.user_id,
         CAST((epoch_us(date_trunc('day', e.ts)) - epoch_us(f.d0))
              / 86400000000 AS BIGINT) AS age
  FROM events e JOIN firsts f ON e.user_id = f.user_id
), curve AS (
  SELECT age, CAST(count(DISTINCT user_id) AS BIGINT) AS active
  FROM aged GROUP BY age
), fit AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(age * 1.0) AS sx, sum(ln(CAST(active AS DOUBLE))) AS sy,
         sum(age * 1.0 * age) AS sxx,
         sum(age * ln(CAST(active AS DOUBLE))) AS sxy
  FROM curve WHERE active > 0
)
SELECT n AS n_ages,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6) + 0
         AS decay_slope,
       round(CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx) >= 0
                  THEN NULL
                  ELSE -ln(2) / ((n * sxy - sx * sy) / (n * sxx - sx * sx))
             END + 1e-9, 4) AS half_life_days
FROM fit
""",
)
def q197_retention_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: fit ln(active users) against account age
    in days (the decay curve under q89's cohort matrix) and convert
    the OLS slope to the half-life ln2/|slope| — the single number
    product teams quote from a retention table. A non-negative slope
    (no decay) yields NULL rather than a nonsense negative half-life.

    The curve is integer distinct counts per age; the fit is the q110
    closed form over ≤|ages| points with the sign-of-zero guard on
    the slope.

    Scale: first-day frame keyed on user joins the event stream on
    the same key; the regression runs on the age-grain curve
    (bounded by the observation window, not by users).
    """
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts"])
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("d0")
    )
    aged = ev.join(firsts, "user_id").select(
        "user_id",
        (
            (
                F.unix_micros(F.date_trunc("day", "ts"))
                - F.unix_micros("d0")
            )
            / 86400000000
        )
        .cast("bigint")
        .alias("age"),
    )
    curve = aged.groupBy("age").agg(
        F.countDistinct("user_id").alias("active")
    )
    fit = curve.where(F.col("active") > 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("age") * 1.0).alias("sx"),
        F.sum(F.log(F.col("active").cast("double"))).alias("sy"),
        F.sum(F.col("age") * 1.0 * F.col("age")).alias("sxx"),
        F.sum(F.col("age") * F.log(F.col("active").cast("double"))).alias(
            "sxy"
        ),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        F.col("n").alias("n_ages"),
        (fround(slope, 6) + F.lit(0)).alias("decay_slope"),
        fround(
            F.when(slope >= 0, F.lit(None)).otherwise(
                -F.log(F.lit(2.0)) / slope
            ),
            4,
        ).alias("half_life_days"),
    )


@query(
    "q231_peak_concurrency",
    tags=("timeseries", "session", "sweep-line"),
    oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id,
         epoch(ts) AS t
  FROM flagged
), intervals AS (
  SELECT user_id, session_id, min(t) AS t_start, max(t) + 1 AS t_end
  FROM sessions GROUP BY user_id, session_id
), deltas AS (
  SELECT t_start AS t, 1 AS delta, user_id, session_id FROM intervals
  UNION ALL
  SELECT t_end AS t, -1 AS delta, user_id, session_id FROM intervals
), swept AS (
  SELECT CAST(floor(t / 3600) AS BIGINT) AS hour_bucket,
         CAST(sum(delta) OVER (
           ORDER BY t, delta, user_id, session_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS conc,
         delta
  FROM deltas
)
SELECT hour_bucket,
       CAST(count(*) AS BIGINT) AS n_boundaries,
       CAST(max(conc) AS BIGINT) AS peak_concurrency,
       CAST(sum(delta) AS BIGINT) AS net_change
FROM swept GROUP BY hour_bucket
""",
)
def q231_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour by sweep line: each session
    (q24's 30-minute-gap definition, half-open [start, end+1s))
    contributes +1/−1 boundary events, and the running net sum at any
    boundary IS the concurrency — the capacity-planning number every
    serving platform sizes against.

    The textbook form is ONE global running sum over all boundaries —
    a data-sized single-partition window. Here the sweep is two-level
    (the q52/q199 machinery shape, hand-rolled over time instead of
    rank): per-hour net changes roll up through an hours-grain
    cumulative window (calendar-bounded) to give each hour its
    entering concurrency, and the within-hour running sum partitions
    by hour — so no unbounded ordered window exists at any scale.
    Boundary ties resolve ends-before-starts (delta ascending) with a
    (user, session) total order, engine-identically.

    All counts are exact integers; the only doubles are epoch-second
    sort keys (identical on both engines, the q24 parity).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["user_id", "event_id", "ts"])
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    epoch = F.col("ts").cast("double")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (epoch - F.lag(epoch).over(w) > 1800)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.select(
        "user_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
        epoch.alias("t"),
    )
    intervals = sessions.groupBy("user_id", "session_id").agg(
        F.min("t").alias("t_start"), (F.max("t") + 1).alias("t_end")
    )
    deltas = intervals.select(
        F.col("t_start").alias("t"), F.lit(1).alias("delta"),
        "user_id", "session_id",
    ).unionByName(
        intervals.select(
            F.col("t_end").alias("t"), F.lit(-1).alias("delta"),
            "user_id", "session_id",
        )
    ).withColumn("hour_bucket", F.floor(F.col("t") / 3600).cast("bigint"))
    # level 1: within-hour running sum (partitioned by hour)
    w_in = (
        Window.partitionBy("hour_bucket")
        .orderBy("t", "delta", "user_id", "session_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inhour = deltas.withColumn("run_in", F.sum("delta").over(w_in))
    # level 2: entering concurrency per hour from the hours-grain
    # cumulative of net changes (bounded by the calendar)
    nets = deltas.groupBy("hour_bucket").agg(F.sum("delta").alias("net"))
    w_h = Window.orderBy("hour_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = nets.withColumn(
        "base", F.coalesce(F.sum("net").over(w_h), F.lit(0))
    ).select("hour_bucket", "base")
    swept = inhour.join(F.broadcast(bases), "hour_bucket").withColumn(
        "conc", (F.col("base") + F.col("run_in")).cast("bigint")
    )
    return swept.groupBy("hour_bucket").agg(
        F.count(F.lit(1)).alias("n_boundaries"),
        F.max("conc").cast("bigint").alias("peak_concurrency"),
        F.sum("delta").cast("bigint").alias("net_change"),
    )


@query(
    "q235_pinball_loss",
    tags=("timeseries", "forecast", "evaluation"),
    oracle=f"""
WITH {_SEASONAL_NAIVE_CTES}
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum(CASE WHEN v >= pv THEN 0.5 * (v - pv)
                      ELSE 0.5 * (pv - v) END) / count(*) + 1e-9, 6)
         AS pinball_50,
       round(sum(CASE WHEN v >= pv THEN 0.9 * (v - pv)
                      ELSE 0.1 * (pv - v) END) / count(*) + 1e-9, 6)
         AS pinball_90
FROM joined
GROUP BY event_type
""",
)
def q235_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the seasonal-naive forecast at
    τ = 0.5 and τ = 0.9 — the metric that scores a forecast AS a
    quantile estimate: τ = 0.5 halves the MAE (sanity anchor against
    q173) and τ = 0.9 penalizes under-forecasting 9× more than over,
    the asymmetry capacity planning actually wants. Same
    cents-rounded hourly frame and exact lag join as q173, so the two
    backtests can never diverge on what the forecast was.

    Loss terms are single multiplies of 2-decimal differences; the
    per-series float sum is the q24 class, absorbed by the fround.
    """
    ev = read_table(spark, sf_dir, "events", ["event_type", "ts", "value"])
    joined = _seasonal_naive_pairs(ev)
    p50 = F.when(
        F.col("v") >= F.col("pv"), 0.5 * (F.col("v") - F.col("pv"))
    ).otherwise(0.5 * (F.col("pv") - F.col("v")))
    p90 = F.when(
        F.col("v") >= F.col("pv"), 0.9 * (F.col("v") - F.col("pv"))
    ).otherwise(0.1 * (F.col("pv") - F.col("v")))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        fround(F.sum(p50) / F.count(F.lit(1)), 6).alias("pinball_50"),
        fround(F.sum(p90) / F.count(F.lit(1)), 6).alias("pinball_90"),
    )


@query(
    "q239_sequence_pattern_mining",
    tags=("timeseries", "sequence", "mining"),
    oracle="""
WITH ft AS (
  SELECT user_id, event_type,
         min(ts) AS first_ts, max(ts) AS last_ts
  FROM events GROUP BY user_id, event_type
), hits AS (
  SELECT DISTINCT b.user_id,
         a.event_type AS type_a,
         b.event_type AS type_b,
         c.event_type AS type_c
  FROM events b
  JOIN ft a ON a.user_id = b.user_id AND a.first_ts < b.ts
  JOIN ft c ON c.user_id = b.user_id AND c.last_ts > b.ts
), nu AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events
)
SELECT type_a, type_b, type_c,
       CAST(count(*) AS BIGINT) AS n_users_matched,
       round(count(*) * 1.0 / any_value(nu.n_users) + 1e-9, 6) AS support
FROM hits CROSS JOIN nu
GROUP BY type_a, type_b, type_c
""",
)
def q239_sequence_pattern_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordered 3-event sequential pattern mining: for every ordered
    type triple (A, B, C), how many users emitted SOME occurrence of A
    strictly before SOME B strictly before SOME C — the sequence-
    support mining behind funnel DISCOVERY (q74 checks one fixed
    funnel; this surfaces which funnels exist) and PrefixSpan-style
    behavioral analytics.

    The trick that makes it one pass instead of a cubic self-join:
    a<b<c exists for (A,B,C) iff some B-occurrence has the user's
    FIRST A before it and LAST C after it (first_A <= a < b < c <=
    last_C, and conversely first/last are themselves occurrences), so
    the existence test is each event joined to the bounded per-(user,
    type) first/last frame — fan-out is n_events x |types|^2,
    LINEAR in events for a fixed type vocabulary, partitioned by
    user_id end to end. Timestamp comparisons are strict on identical
    microsecond integers (engine-exact, ties resolve identically);
    support is an integer ratio under the fround pair.
    """
    ev = read_table(
        spark, sf_dir, "events", ["user_id", "ts", "event_type"]
    )
    ev = ev.localCheckpoint(eager=False)  # three downstream branches
    ft = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    ft = ft.localCheckpoint(eager=False)  # A-side and C-side branches
    a = ft.select(
        F.col("user_id").alias("ua"),
        F.col("event_type").alias("type_a"),
        "first_ts",
    )
    c = ft.select(
        F.col("user_id").alias("uc"),
        F.col("event_type").alias("type_c"),
        "last_ts",
    )
    hits = (
        ev.select("user_id", "ts", F.col("event_type").alias("type_b"))
        .join(
            a,
            (F.col("ua") == F.col("user_id"))
            & (F.col("first_ts") < F.col("ts")),
        )
        .join(
            c,
            (F.col("uc") == F.col("user_id"))
            & (F.col("last_ts") > F.col("ts")),
        )
        .select("user_id", "type_a", "type_b", "type_c")
        .distinct()
    )
    nu = ev.agg(F.countDistinct("user_id").alias("n_users"))
    return (
        hits.groupBy("type_a", "type_b", "type_c")
        .agg(F.count(F.lit(1)).alias("n_users_matched"))
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            "type_c",
            "n_users_matched",
            fround(
                F.col("n_users_matched") * 1.0 / F.col("n_users"), 6
            ).alias("support"),
        )
    )


@query(
    "q244_session_path_topk",
    tags=("timeseries", "session", "sequence", "topk"),
    oracle=f"""
WITH {EVENT_SESSIONS}, paths AS (
  SELECT user_id, session_id,
         array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>')
           AS path,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sessions GROUP BY user_id, session_id
), counted AS (
  SELECT path,
         CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(n_events) AS BIGINT) AS total_events
  FROM paths GROUP BY path
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS all_sessions FROM paths
)
SELECT path, n_sessions, total_events,
       round(n_sessions * 1.0 / all_sessions + 1e-9, 6) AS session_share,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS BIGINT)
         AS rk
FROM counted CROSS JOIN tot
QUALIFY rk <= 20
""",
)
def q244_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths: the first five event types of every
    gap-based session (q24's exact 30-minute session assignment),
    concatenated in (ts, event_id) order — the clickstream-path table
    behind UX funnel DISCOVERY and bot detection (machine sessions
    repeat one path with abnormal share). Complements q239: sequences
    here are contiguous observed prefixes, not existence patterns.

    Scale: everything through path extraction shuffles ONCE on
    user_id (sessionization windows, the ordered per-session
    collect_list, and the first-row filter share the partitioning);
    the path census shuffles on the path string, and the top-20 is
    orderBy().limit() (TakeOrderedAndProject) ranked on exact integer
    counts with the path as total-order tie-break (footgun 3).
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"]
    )
    sessions = sessionize(ev)
    w2 = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    per_session = (
        sessions.select(
            "user_id",
            "session_id",
            F.collect_list("event_type")
            .over(
                w2.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("arr"),
            F.row_number().over(w2).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            F.array_join(F.slice(F.col("arr"), 1, 5), ">").alias("path"),
            F.size("arr").cast("bigint").alias("n_events"),
        )
        .localCheckpoint(eager=False)  # census + total branches
    )
    counted = per_session.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
    )
    tot = per_session.agg(F.count(F.lit(1)).alias("all_sessions"))
    ranked = (
        counted.crossJoin(F.broadcast(tot))
        .select(
            "path",
            "n_sessions",
            "total_events",
            fround(
                F.col("n_sessions") * 1.0 / F.col("all_sessions"), 6
            ).alias("session_share"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )
    return ranked.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("n_sessions"), F.asc("path")))
        .cast("bigint"),
    )


@query(
    "q246_cross_correlation",
    tags=("timeseries", "correlation"),
    oracle=f"""
WITH {_TYPED_HOUR_GRID_CTES}, dense AS MATERIALIZED (
  SELECT t.event_type, hr.h, CAST(coalesce(c.x, 0) AS BIGINT) AS x
  FROM hours hr CROSS JOIN types t
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = hr.h
), lags AS (
  SELECT unnest([0, 1, 2, 3]) AS lag
), sums AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a.x) AS BIGINT) AS sx,
         CAST(sum(b.x) AS BIGINT) AS sy,
         CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
         CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
         CAST(sum(b.x * b.x) AS BIGINT) AS syy
  FROM dense a
  CROSS JOIN lags l
  JOIN dense b ON b.h = a.h + l.lag
  GROUP BY 1, 2, 3
), stats AS (
  SELECT type_a, type_b, lag, n,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS num,
         (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den2
  FROM sums
)
SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag, n AS n_hours,
       CASE WHEN den2 <= 0 THEN NULL
            ELSE round(num / sqrt(den2) + 1e-9, 6) + 0 END AS xcorr
FROM stats
""",
)
def q246_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation matrix between event-type hourly
    series: Pearson r of x_a(t) against x_b(t+L) for every ordered
    type pair at lags 0-3 hours, on a DENSE hour spine (missing hours
    count 0 — an inner join over observed hours would silently bias r
    toward busy periods; the q213 calendar-gap lesson) — the
    lead-lag screen behind "do views predict purchases?" causal
    triage, generalizing q203's single-series ACF.

    Scale: hourly pre-aggregation first (the only pass over raw
    events), then all algebra runs on the |types| x |hours| dense
    frame; the lag join is an integer equi-join on the hour key. The
    nine sums are exact BIGINTs cast to double ONCE before the
    normal-equation algebra (the q204/q214 overflow rule); zero
    variance yields NULL identically, and the rounded r carries the
    sign-of-zero `+ 0` guard (footgun 9).
    """
    ev = read_table(spark, sf_dir, "events", ["ts", "event_type"])
    counts = hourly_counts(ev, "event_type").localCheckpoint(
        eager=False
    )  # bounds/types/dense branches
    hours = hour_grid(counts)
    types = counts.select("event_type").distinct()
    dense = (
        hours.crossJoin(types)
        .join(counts, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
        .localCheckpoint(eager=False)  # both sides of the lag join
    )
    a = dense.select(
        F.col("event_type").alias("type_a"),
        F.col("h").alias("ha"),
        F.col("x").alias("xa"),
    ).withColumn("lag", F.explode(F.array(*[F.lit(i) for i in range(4)])))
    b = dense.select(
        F.col("event_type").alias("type_b"),
        F.col("h").alias("hb"),
        F.col("x").alias("xb"),
    )
    sums = (
        a.join(b, F.col("hb") == F.col("ha") + F.col("lag"))
        .groupBy("type_a", "type_b", "lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
            F.sum(F.col("xa") * F.col("xa")).alias("sxx"),
            F.sum(F.col("xb") * F.col("xb")).alias("syy"),
        )
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    num = n_d * F.col("sxy").cast("double") - sx_d * sy_d
    den2 = (n_d * F.col("sxx").cast("double") - sx_d * sx_d) * (
        n_d * F.col("syy").cast("double") - sy_d * sy_d
    )
    return sums.select(
        "type_a",
        "type_b",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_hours"),
        F.when(den2 <= 0, F.lit(None).cast("double"))
        .otherwise(fround(num / F.sqrt(den2), 6) + 0)
        .alias("xcorr"),
    )


@query(
    "q253_business_day_normalization",
    tags=("timeseries", "calendar", "finance"),
    oracle="""
WITH ords AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), monthly AS (
  SELECT CAST(date_trunc('month', d) AS DATE) AS m,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(cents) AS BIGINT) AS cents,
         CAST(sum(CASE WHEN (d - DATE '1970-01-01') % 7 IN (2, 3)
                       THEN 1 ELSE 0 END) AS BIGINT) AS weekend_orders
  FROM ords GROUP BY 1
), bdays AS (
  SELECT m,
         CAST(last_day(m) - m + 1 AS BIGINT) AS n_days,
         CAST(sum(CASE WHEN ((m - DATE '1970-01-01') + off) % 7 IN (2, 3)
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_business_days
  FROM (
    SELECT m, unnest(generate_series(0, last_day(m) - m)) AS off
    FROM (SELECT DISTINCT m FROM monthly)
  ) GROUP BY m, n_days
)
SELECT CAST(year(mo.m) * 12 + month(mo.m) AS BIGINT) AS month_idx,
       strftime(mo.m, '%Y-%m-%d') AS month_start,
       mo.n_orders, b.n_days, b.n_business_days,
       round(mo.cents * 1.0 / (100.0 * b.n_business_days) + 1e-9, 2)
         AS revenue_per_business_day,
       round(mo.weekend_orders * 1.0 / mo.n_orders + 1e-9, 6)
         AS weekend_order_share
FROM monthly mo JOIN bdays b ON mo.m = b.m
""",
)
def q253_business_day_normalization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Business-day-normalized monthly revenue: raw month totals are
    confounded by how many Mondays a month happens to contain, so
    finance reporting divides by the month's BUSINESS-day count —
    computed from the epoch-day modulus (day_num % 7, the q213 rule;
    never the engines' disagreeing dayofweek()), with the weekend
    order share as the sanity column that says how much the
    normalization matters.

    Scale: one grouped pass over orders at the month grain; the
    calendar explode runs on the DISTINCT-months frame (bounded by the
    data's time span, never by row count). The month key ships as an
    integer index + ISO string (the q146/q233 dtype conventions);
    money stays integer cents until the final division.
    """
    o = read_table(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    epoch = F.lit("1970-01-01")
    ords = o.select(
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    monthly = (
        ords.select(
            F.trunc("d", "month").alias("m"),
            "cents",
            (F.datediff(F.col("d"), epoch) % 7).alias("dow"),
        )
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
            F.sum(
                F.when(F.col("dow").isin(2, 3), 1).otherwise(0)
            ).alias("weekend_orders"),
        )
        .localCheckpoint(eager=False)  # calendar + output branches
    )
    cal = monthly.select("m").distinct().select(
        "m",
        F.datediff(F.col("m"), epoch).alias("mnum"),
        (F.datediff(F.last_day(F.col("m")), F.col("m")) + 1).alias(
            "n_days"
        ),
    )
    bdays = (
        cal.select(
            "m",
            "n_days",
            F.explode(F.sequence(F.lit(0), F.col("n_days") - 1)).alias(
                "off"
            ),
            "mnum",
        )
        .groupBy("m", "n_days")
        .agg(
            F.sum(
                F.when(
                    ((F.col("mnum") + F.col("off")) % 7).isin(2, 3), 0
                ).otherwise(1)
            ).alias("n_business_days")
        )
    )
    return monthly.join(bdays, "m").select(
        (F.year("m") * 12 + F.month("m")).cast("bigint").alias("month_idx"),
        F.date_format("m", "yyyy-MM-dd").alias("month_start"),
        "n_orders",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_business_days").cast("bigint").alias("n_business_days"),
        fround(
            F.col("cents") * 1.0 / (100.0 * F.col("n_business_days")), 2
        ).alias("revenue_per_business_day"),
        fround(
            F.col("weekend_orders") * 1.0 / F.col("n_orders"), 6
        ).alias("weekend_order_share"),
    )


def _markov_attribution_oracle(n_iter: int = 12) -> str:
    """Unrolled absorption fixed point — each iteration references its
    predecessor plus the (scenario-adjusted) transition frame, so
    every CTE is MATERIALIZED (the q241 unroll discipline)."""
    cte = [
        f"""
WITH {EVENT_SESSIONS}, pos AS (
  SELECT user_id, session_id, event_type,
         row_number() OVER (
           PARTITION BY user_id, session_id ORDER BY ts, event_id
         ) AS rn
  FROM sessions
), fp AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'purchase' THEN rn END) AS fpos
  FROM pos GROUP BY user_id, session_id
), kept AS (
  SELECT p.user_id, p.session_id, p.event_type, p.rn
  FROM pos p JOIN fp f USING (user_id, session_id)
  WHERE f.fpos IS NULL OR p.rn <= f.fpos
), steps AS (
  SELECT src, dst FROM (
    SELECT event_type AS src,
           CASE WHEN lead(event_type) OVER wk IS NOT NULL
                THEN lead(event_type) OVER wk
                WHEN event_type != 'purchase' THEN 'END'
                ELSE NULL END AS dst
    FROM kept
    WINDOW wk AS (PARTITION BY user_id, session_id ORDER BY rn)
  ) WHERE dst IS NOT NULL
  UNION ALL
  SELECT 'START', event_type FROM kept WHERE rn = 1
), trans AS MATERIALIZED (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
  FROM steps GROUP BY src, dst
), tot AS (
  SELECT src, CAST(sum(n) AS BIGINT) AS tn FROM trans GROUP BY src
), pr AS MATERIALIZED (
  SELECT t.src, t.dst, t.n * 1.0 / o.tn AS p
  FROM trans t JOIN tot o ON t.src = o.src
), scens AS MATERIALIZED (
  SELECT 'full' AS scen
  UNION ALL
  SELECT DISTINCT src FROM trans
  WHERE src NOT IN ('START')
), padj AS MATERIALIZED (
  SELECT s.scen, pr.src, pr.dst,
         CASE WHEN s.scen != 'full' AND pr.dst = s.scen
              THEN 0.0 ELSE pr.p END AS p
  FROM pr CROSS JOIN scens s
), conv AS MATERIALIZED (
  SELECT scen, src,
         sum(CASE WHEN dst = 'purchase' THEN p ELSE 0.0 END) AS p_conv
  FROM padj GROUP BY scen, src
), tt AS MATERIALIZED (
  SELECT scen, src, dst, p FROM padj
  WHERE dst NOT IN ('purchase', 'END')
), v1 AS MATERIALIZED (
  SELECT scen, src, p_conv AS v FROM conv
)"""
    ]
    for k in range(2, n_iter + 1):
        cte.append(
            f""", v{k} AS MATERIALIZED (
  SELECT c.scen, c.src, c.p_conv + coalesce(s.acc, 0.0) AS v
  FROM conv c LEFT JOIN (
    SELECT t.scen, t.src, sum(t.p * v.v) AS acc
    FROM tt t JOIN v{k - 1} v ON t.scen = v.scen AND t.dst = v.src
    GROUP BY t.scen, t.src
  ) s ON c.scen = s.scen AND c.src = s.src
)"""
        )
    cte.append(
        f""", vstart AS (
  SELECT scen, v FROM v{n_iter} WHERE src = 'START'
), fullv AS (
  SELECT v AS vf FROM vstart WHERE scen = 'full'
)
SELECT scen AS removed_state,
       round(v + 1e-9, 6) AS conv_prob,
       CASE WHEN scen = 'full' THEN NULL
            ELSE round((vf - v) / vf + 1e-9, 6) END AS removal_effect
FROM vstart CROSS JOIN fullv"""
    )
    return "".join(cte)


@query(
    "q254_markov_attribution",
    tags=("timeseries", "attribution", "iterative", "marketing"),
    oracle=_markov_attribution_oracle(12),
)
def q254_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: model each q24 session as a
    first-order chain over event types (START → ... → purchase or
    END, truncated at the first conversion), compute the absorption
    probability of converting via 12 fixed-point iterations, then
    re-run the chain with each channel REMOVED (transitions into it
    become losses, unrenormalized) — the removal effect
    (conv_full − conv_removed)/conv_full is the fractional conversion
    credit marketing attribution assigns each channel, the
    principled alternative to the positional heuristics of q180/q209.

    Scale: the chain itself is a |types|²-sized frame no matter the
    corpus (one sessionized pass builds the counts — the only
    data-sized work); all 5 scenarios iterate TOGETHER as one
    scenario-keyed frame, 12 bounded joins with lineage truncated per
    round (q125 discipline; the fixed budget is reported honestly —
    sessions longer than 12 transient steps contribute residual mass
    beyond the cutoff identically on both engines). Transition
    probabilities are exact integer ratios; iterated float sums are
    fround-absorbed.
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"]
    )
    sessions = sessionize(ev)
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    pos = sessions.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number().over(ws).alias("rn"),
    )
    fpos = F.min(
        F.when(F.col("event_type") == "purchase", F.col("rn"))
    ).over(Window.partitionBy("user_id", "session_id"))
    kept = (
        pos.withColumn("fpos", fpos)
        .where(F.col("fpos").isNull() | (F.col("rn") <= F.col("fpos")))
        .localCheckpoint(eager=False)  # steps + starts branches
    )
    wk = Window.partitionBy("user_id", "session_id").orderBy("rn")
    nxt = F.lead("event_type").over(wk)
    steps = (
        kept.select(
            F.col("event_type").alias("src"),
            F.when(nxt.isNotNull(), nxt)
            .when(F.col("event_type") != "purchase", F.lit("END"))
            .otherwise(F.lit(None))
            .alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .unionByName(
            kept.where(F.col("rn") == 1).select(
                F.lit("START").alias("src"),
                F.col("event_type").alias("dst"),
            )
        )
    )
    trans = (
        steps.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # totals + scenarios + p branches
    )
    tot = trans.groupBy("src").agg(F.sum("n").alias("tn"))
    pr = trans.join(tot, "src").select(
        "src", "dst", (F.col("n") * 1.0 / F.col("tn")).alias("p")
    )
    scens = (
        trans.where(F.col("src") != "START")
        .select(F.col("src").alias("scen"))
        .distinct()
        .unionByName(
            trans.limit(1).select(F.lit("full").alias("scen"))
        )
    )
    padj = pr.crossJoin(F.broadcast(scens)).select(
        "scen",
        "src",
        "dst",
        F.when(
            (F.col("scen") != "full") & (F.col("dst") == F.col("scen")),
            F.lit(0.0),
        ).otherwise(F.col("p")).alias("p"),
    )
    conv = (
        padj.groupBy("scen", "src")
        .agg(
            F.sum(
                F.when(F.col("dst") == "purchase", F.col("p")).otherwise(
                    0.0
                )
            ).alias("p_conv")
        )
        .localCheckpoint(eager=False)  # reused every iteration
    )
    tt = (
        padj.where(~F.col("dst").isin("purchase", "END"))
        .localCheckpoint(eager=False)  # reused every iteration
    )
    v = conv.select("scen", "src", F.col("p_conv").alias("v"))
    for _ in range(11):
        acc = (
            tt.join(
                v.select(
                    F.col("scen").alias("vscen"),
                    F.col("src").alias("vsrc"),
                    "v",
                ),
                (F.col("scen") == F.col("vscen"))
                & (F.col("dst") == F.col("vsrc")),
            )
            .groupBy("scen", "src")
            .agg(F.sum(F.col("p") * F.col("v")).alias("acc"))
        )
        v = (
            conv.join(acc, ["scen", "src"], "left")
            .select(
                "scen",
                "src",
                (F.col("p_conv") + F.coalesce(F.col("acc"), F.lit(0.0))).alias(
                    "v"
                ),
            )
            .localCheckpoint(eager=False)
        )
    vstart = v.where(F.col("src") == "START").select("scen", "v")
    fullv = vstart.where(F.col("scen") == "full").select(
        F.col("v").alias("vf")
    )
    return vstart.crossJoin(F.broadcast(fullv)).select(
        F.col("scen").alias("removed_state"),
        fround(F.col("v"), 6).alias("conv_prob"),
        F.when(F.col("scen") == "full", F.lit(None).cast("double"))
        .otherwise(fround((F.col("vf") - F.col("v")) / F.col("vf"), 6))
        .alias("removal_effect"),
    )


@query(
    "q255_behavioral_user_similarity",
    tags=("similarity", "recommender", "behavioral"),
    oracle="""
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, event_type
), norms AS (
  SELECT user_id, CAST(sum(c * c) AS BIGINT) AS sq FROM counts
  GROUP BY user_id
), probes AS (
  SELECT user_id AS probe_id FROM (
    SELECT DISTINCT user_id FROM counts ORDER BY user_id LIMIT 3
  )
), dots AS (
  SELECT p.probe_id, u.user_id,
         CAST(sum(pc.c * u.c) AS BIGINT) AS dot
  FROM probes p
  JOIN counts pc ON pc.user_id = p.probe_id
  JOIN counts u ON u.event_type = pc.event_type
  WHERE u.user_id != p.probe_id
  GROUP BY p.probe_id, u.user_id
), scored AS (
  SELECT d.probe_id, d.user_id, d.dot,
         round(d.dot / sqrt(np.sq * 1.0 * nu.sq) + 1e-9, 6) AS cosine
  FROM dots d
  JOIN norms np ON np.user_id = d.probe_id
  JOIN norms nu ON nu.user_id = d.user_id
)
SELECT probe_id, user_id, dot, cosine,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY probe_id ORDER BY cosine DESC, user_id
  ) AS rk FROM scored
) WHERE rk <= 3
""",
)
def q255_behavioral_user_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Behavioral user similarity: each user's event-type count vector
    (exact integers — no learned embedding needed), cosine-matched
    against 3 probe users via the SPARSE dot product (a join on the
    type key — never a dense |types|-wide pivot), top-3 neighbors per
    probe — the audience look-alike / segmentation primitive, and the
    exact baseline a learned user-embedding ANN (q40-q42 machinery)
    would be audited against.

    Scale: counts are one grouped pass; probes are a fixed-k
    TakeOrderedAndProject broadcast into the type join; norms join at
    the user grain (shuffle, never broadcast — the q114 rule). Cosine
    is exact integers under one sqrt (q236 class), ranked on the
    ROUNDED value with the user id tie-break (footgun 3).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["user_id", "event_type"])
    counts = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # probes/norms/dot branches
    )
    norms = counts.groupBy("user_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("sq")
    )
    probes = (
        counts.select("user_id")
        .distinct()
        .orderBy("user_id")
        .limit(3)
        .select(F.col("user_id").alias("probe_id"))
    )
    pc = counts.join(
        F.broadcast(probes),
        counts["user_id"] == F.col("probe_id"),
    ).select("probe_id", "event_type", F.col("c").alias("pc"))
    dots = (
        counts.join(F.broadcast(pc), "event_type")
        .where(F.col("user_id") != F.col("probe_id"))
        .groupBy("probe_id", "user_id")
        .agg(F.sum(F.col("pc") * F.col("c")).alias("dot"))
    )
    np_ = norms.select(
        F.col("user_id").alias("probe_id"), F.col("sq").alias("psq")
    )
    scored = (
        dots.join(np_, "probe_id")
        .join(norms, "user_id")
        .select(
            "probe_id",
            "user_id",
            "dot",
            fround(
                F.col("dot")
                / F.sqrt(F.col("psq") * 1.0 * F.col("sq")),
                6,
            ).alias("cosine"),
        )
    )
    wp = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("user_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wp).cast("bigint"))
        .where(F.col("rk") <= 3)
    )


@query(
    "q263_peak_detection",
    tags=("timeseries", "anomaly", "monitoring"),
    oracle=f"""
WITH {_HOUR_BOUNDS_CTES}, dense AS MATERIALIZED (
  SELECT g.h, CAST(coalesce(c.x, 0) AS BIGINT) AS x
  FROM (SELECT unnest(generate_series(mn, mx)) AS h FROM bounds) g
  LEFT JOIN counts c ON c.h = g.h
), thresh AS (
  SELECT x AS p90 FROM (
    SELECT x, row_number() OVER (ORDER BY x, h) AS rn,
           count(*) OVER () AS n
    FROM dense
  ) WHERE rn = CAST(ceil(0.9 * n) AS BIGINT)
), nbr AS (
  SELECT h, x,
         lag(x) OVER (ORDER BY h) AS x_prev,
         lead(x) OVER (ORDER BY h) AS x_next
  FROM dense
)
SELECT n.h AS hour_num, n.x, n.x_prev, n.x_next, t.p90
FROM nbr n CROSS JOIN thresh t
WHERE n.x_prev IS NOT NULL AND n.x_next IS NOT NULL
  AND n.x > n.x_prev AND n.x > n.x_next AND n.x >= t.p90
""",
)
def q263_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-peak detection: hours that are strict local maxima of
    the event-rate series AND sit at or above the exact p90 of hourly
    volume — the alerting primitive behind spike review (every peak
    row is an incident candidate with its neighbors attached for
    triage). The series runs on the DENSE hour spine (q246 rule —
    gaps are real zeros, and a missing hour must be able to END a
    peak), and the threshold is an exact order statistic (q184 rule),
    never an interpolated or approximate quantile.

    Scale: one hourly pre-aggregation over events; everything after
    runs on the hours-grain frame (bounded by the time span — the
    q227 bounded-grain argument covers its windows). Integer counts
    end to end; no floats anywhere in the detection logic.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["ts"])
    counts = hourly_counts(ev)
    dense = (
        hour_grid(counts)
        .join(counts, "h", "left")
        .select(
            "h", F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x")
        )
        .localCheckpoint(eager=False)  # threshold + neighbor branches
    )
    wr = Window.orderBy("x", "h")
    thresh = (
        dense.select(
            "x",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(
                Window.partitionBy()
            ).alias("n"),
        )
        .where(F.col("rn") == F.ceil(0.9 * F.col("n")).cast("bigint"))
        .select(F.col("x").alias("p90"))
    )
    wh = Window.orderBy("h")
    nbr = dense.select(
        "h",
        "x",
        F.lag("x").over(wh).alias("x_prev"),
        F.lead("x").over(wh).alias("x_next"),
    )
    return (
        nbr.crossJoin(F.broadcast(thresh))
        .where(
            F.col("x_prev").isNotNull()
            & F.col("x_next").isNotNull()
            & (F.col("x") > F.col("x_prev"))
            & (F.col("x") > F.col("x_next"))
            & (F.col("x") >= F.col("p90"))
        )
        .select(
            F.col("h").alias("hour_num"),
            "x",
            "x_prev",
            "x_next",
            "p90",
        )
    )


@query(
    "q269_ship_sla_attainment",
    tags=("timeseries", "sla", "report"),
    oracle="""
WITH lat AS (
  SELECT CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           AS month_idx,
         strftime(CAST(date_trunc('month', o.o_orderdate) AS DATE),
                  '%Y-%m-%d') AS month_start,
         CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
              AS BIGINT) AS days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), ranked AS (
  SELECT month_idx, month_start, days,
         row_number() OVER (PARTITION BY month_idx ORDER BY days) AS rn,
         count(*) OVER (PARTITION BY month_idx) AS n
  FROM lat
)
SELECT month_idx, any_value(month_start) AS month_start,
       CAST(any_value(n) AS BIGINT) AS n_items,
       round(CAST(sum(CASE WHEN days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
             * 1.0 / any_value(n) + 1e-9, 6) AS attainment_30d,
       CAST(min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                     THEN days END) AS BIGINT) AS p50_days,
       CAST(min(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                     THEN days END) AS BIGINT) AS p90_days
FROM ranked
GROUP BY month_idx
""",
)
def q269_ship_sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship SLA attainment by order month: share of line
    items shipped within 30 days plus the EXACT p50/p90 latency
    (rank selection per month — q184 rule; with duplicate latencies
    the k-th smallest VALUE is invariant to tie order, so no
    tie-break column is needed for value selection) — the monthly ops
    scorecard that catches fulfillment regressions before customers
    do, with percentiles that an approx-quantile would smear right at
    the SLA boundary.

    Scale: one fact join shuffled on the order key, then all windows
    partition by month (per-partition size is one month of data);
    integer day latencies end to end; attainment is an exact integer
    ratio (rule 5); month ships as index + ISO string (q253
    convention).
    """
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderdate"])
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_shipdate"])
    lat = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("month_idx"),
        F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("days"),
    )
    wm = Window.partitionBy("month_idx").orderBy("days")
    wc = Window.partitionBy("month_idx")
    ranked = lat.select(
        "month_idx",
        "month_start",
        "days",
        F.row_number().over(wm).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return ranked.groupBy("month_idx").agg(
        F.any_value("month_start").alias("month_start"),
        F.any_value("n").cast("bigint").alias("n_items"),
        fround(
            F.sum(F.when(F.col("days") <= 30, 1).otherwise(0))
            * 1.0
            / F.any_value("n"),
            6,
        ).alias("attainment_30d"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(0.5 * F.col("n")).cast("bigint"),
                F.col("days"),
            )
        ).cast("bigint").alias("p50_days"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(0.9 * F.col("n")).cast("bigint"),
                F.col("days"),
            )
        ).cast("bigint").alias("p90_days"),
    )


@query(
    "q272_eb_shrunk_path_conversion",
    tags=("timeseries", "session", "statistics", "report"),
    oracle=f"""
WITH {EVENT_SESSIONS}, pos AS (
  SELECT user_id, session_id, event_type,
         row_number() OVER (
           PARTITION BY user_id, session_id ORDER BY ts, event_id
         ) AS rn
  FROM sessions
), fp AS (
  SELECT user_id, session_id,
         min(CASE WHEN event_type = 'purchase' THEN rn END) AS fpos
  FROM pos GROUP BY user_id, session_id
), sess AS MATERIALIZED (
  SELECT p.user_id, p.session_id,
         max(f.fpos) IS NOT NULL AS converted,
         coalesce(array_to_string(
           (list(p.event_type ORDER BY p.rn) FILTER (
              p.rn < coalesce(f.fpos, 1000000000)
           ))[1:3], '>'), '') AS path
  FROM pos p JOIN fp f USING (user_id, session_id)
  GROUP BY p.user_id, p.session_id
), paths AS (
  SELECT path,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM sess GROUP BY path
), prior AS (
  SELECT CAST(sum(k) AS BIGINT) * 1.0 / CAST(sum(n) AS BIGINT) AS m,
         CAST(sum(n) AS BIGINT) * 1.0 / count(*) AS nu
  FROM paths
)
SELECT p.path, p.n, p.k,
       round(p.k * 1.0 / p.n + 1e-9, 6) AS raw_rate,
       round((p.k + pr.m * pr.nu) / (p.n + pr.nu) + 1e-9, 6)
         AS shrunk_rate,
       round(pr.nu / (p.n + pr.nu) + 1e-9, 6) AS shrink_weight
FROM paths p CROSS JOIN prior pr
""",
)
def q272_eb_shrunk_path_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes shrunk conversion rate per pre-conversion
    session path (first 3 event types BEFORE the first purchase):
    raw k/n rates on rare paths are noise, so each path's rate shrinks
    toward the global mean with prior strength ν = mean sessions per
    path — the dashboard-safe version of q244's path table (a
    1-session path can never top the leaderboard at rate 1.0), and
    the closed-form cousin of a beta-binomial posterior mean.

    Scale: sessionization shuffles once on user_id; the
    shrinkage algebra runs on the path-grain frame with a broadcast
    one-row prior. Counts are exact integers; m and ν are exact
    integer ratios, and the shrunk rate's float expression is written
    in the identical association on both sides (q143).
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"]
    )
    sessions = sessionize(ev)
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    wsa = Window.partitionBy("user_id", "session_id")
    pos = sessions.select(
        "user_id",
        "session_id",
        "event_type",
        F.row_number().over(ws).alias("rn"),
    )
    fpos = F.min(
        F.when(F.col("event_type") == "purchase", F.col("rn"))
    ).over(wsa)
    ws2 = Window.partitionBy("user_id", "session_id").orderBy("rn")
    pre = pos.withColumn("fpos", fpos).withColumn(
        "arr",
        F.collect_list(
            F.when(
                F.col("rn")
                < F.coalesce(F.col("fpos"), F.lit(1000000000)),
                F.col("event_type"),
            )
        ).over(
            ws2.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    sess = (
        pre.withColumn("rrn", F.row_number().over(ws2))
        .where(F.col("rrn") == 1)
        .select(
            F.col("fpos").isNotNull().alias("converted"),
            F.array_join(F.slice(F.col("arr"), 1, 3), ">").alias("path"),
        )
    )
    paths = sess.groupBy("path").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).alias("k"),
    )
    paths = paths.localCheckpoint(eager=False)  # prior + output branches
    prior = paths.agg(
        (
            F.sum("k").cast("bigint") * 1.0 / F.sum("n").cast("bigint")
        ).alias("m"),
        (
            F.sum("n").cast("bigint") * 1.0 / F.count(F.lit(1))
        ).alias("nu"),
    )
    return paths.crossJoin(F.broadcast(prior)).select(
        "path",
        "n",
        "k",
        fround(F.col("k") * 1.0 / F.col("n"), 6).alias("raw_rate"),
        fround(
            (F.col("k") + F.col("m") * F.col("nu"))
            / (F.col("n") + F.col("nu")),
            6,
        ).alias("shrunk_rate"),
        fround(F.col("nu") / (F.col("n") + F.col("nu")), 6).alias(
            "shrink_weight"
        ),
    )


@query(
    "q273_haar_energy_decomposition",
    tags=("timeseries", "signal", "decomposition"),
    oracle=f"""
WITH {_HOURLY_COUNTS_CTE}, bounds AS (
  SELECT min(h) AS mn,
         CAST(((max(h) - min(h) + 1) // 16) * 16 AS BIGINT) AS span
  FROM counts
), dense AS MATERIALIZED (
  SELECT g.i, CAST(coalesce(c.x, 0) AS BIGINT) AS x
  FROM (
    SELECT unnest(generate_series(0, span - 1)) AS i, mn FROM bounds
  ) g
  LEFT JOIN counts c ON c.h = g.mn + g.i
), lv AS (
  SELECT unnest([1, 2, 3, 4]) AS l
), coeffs AS (
  SELECT l.l, d.i // (1 << l.l) AS j,
         CAST(sum(CASE WHEN (d.i >> (l.l - 1)) % 2 = 0
                       THEN d.x ELSE -d.x END) AS BIGINT) AS d
  FROM dense d CROSS JOIN lv l
  GROUP BY l.l, d.i // (1 << l.l)
), energy AS (
  SELECT l, CAST(count(*) AS BIGINT) AS n_coeffs,
         CAST(sum(d * d) AS BIGINT) AS energy
  FROM coeffs GROUP BY l
), tot AS (
  SELECT CAST(sum(energy) AS BIGINT) AS te FROM energy
)
SELECT CAST(e.l AS BIGINT) AS level,
       CAST(2 AS BIGINT) << (e.l - 1) AS scale_hours,
       e.n_coeffs, e.energy,
       round(e.energy * 1.0 / t.te + 1e-9, 6) AS energy_share
FROM energy e CROSS JOIN tot t
""",
)
def q273_haar_energy_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unnormalized Haar wavelet energy decomposition of the hourly
    event-rate series over 4 dyadic levels (2 h / 4 h / 8 h / 16 h
    scales): which timescale carries the variability — hour-to-hour
    jitter, intra-shift swings, or daily structure — the
    multiresolution screen that tells capacity planning WHERE the
    volatility lives (q263 finds individual peaks; this profiles the
    spectrum). Unnormalized detail coefficients are SIGNED INTEGER
    sums of hourly counts, so every energy is an exact BIGINT —
    no float enters until the final share ratio.

    The slick bit: all four levels come from ONE grouped pass — the
    detail coefficient at level l, block j is a sign-sum over hours
    with the sign read off bit (l − 1) of the hour index, so the
    whole transform is groupBy((level, index >> level)) — no
    iterative halving passes, and the construction parallelizes over
    blocks at any series length. The series truncates to a multiple
    of 16 hours so every level is complete.
    """
    ev = read_table(spark, sf_dir, "events", ["ts"])
    counts = hourly_counts(ev)
    bounds = counts.agg(
        F.min("h").alias("mn"),
        (
            F.floor((F.max("h") - F.min("h") + 1) / 16) * 16
        ).cast("bigint").alias("span"),
    )
    dense = (
        bounds.select(
            F.explode(F.sequence(F.lit(0), F.col("span") - 1)).alias("i"),
            "mn",
        )
        .join(
            counts,
            F.col("h") == F.col("mn") + F.col("i"),
            "left",
        )
        .select(
            "i",
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
    )
    lv = F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("l")
    half = (
        F.when(F.col("l") == 1, 1)
        .when(F.col("l") == 2, 2)
        .when(F.col("l") == 3, 4)
        .otherwise(8)
    )
    sign = F.when(
        F.floor(F.col("i") / half) % 2 == 0, F.col("x")
    ).otherwise(-F.col("x"))
    coeffs = (
        dense.select("i", "x", lv)
        .groupBy(
            "l",
            F.floor(F.col("i") / (half * 2)).alias("j"),
        )
        .agg(F.sum(sign).cast("bigint").alias("d"))
    )
    energy = coeffs.groupBy("l").agg(
        F.count(F.lit(1)).alias("n_coeffs"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("energy"),
    )
    energy = energy.localCheckpoint(eager=False)  # total + output branches
    tot = energy.agg(F.sum("energy").alias("te"))
    return energy.crossJoin(F.broadcast(tot)).select(
        F.col("l").cast("bigint").alias("level"),
        F.when(F.col("l") == 1, 2)
        .when(F.col("l") == 2, 4)
        .when(F.col("l") == 3, 8)
        .otherwise(16)
        .cast("bigint")
        .alias("scale_hours"),
        "n_coeffs",
        "energy",
        fround(F.col("energy") * 1.0 / F.col("te"), 6).alias(
            "energy_share"
        ),
    )


@query(
    "q275_feed_uptime_nines",
    tags=("timeseries", "sla", "monitoring"),
    oracle="""
WITH gaps AS (
  SELECT event_type,
         epoch(ts) - lag(epoch(ts)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
         ) AS gap
  FROM events
), span AS (
  SELECT event_type,
         epoch(max(ts)) - epoch(min(ts)) AS horizon,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
), down AS (
  SELECT event_type,
         CAST(sum(CASE WHEN gap > 600 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outages,
         sum(CASE WHEN gap > 600 THEN gap - 600 ELSE 0.0 END)
           AS downtime
  FROM gaps WHERE gap IS NOT NULL
  GROUP BY event_type
)
SELECT s.event_type, s.n_events, d.n_outages,
       round(d.downtime + 1e-9, 3) AS downtime_secs,
       round(1.0 - d.downtime / s.horizon + 1e-9, 6) AS uptime_share,
       CASE WHEN d.n_outages = 0 THEN NULL
            ELSE round(-log10(d.downtime / s.horizon) + 1e-9, 4) END
         AS nines
FROM span s JOIN down d ON d.event_type = s.event_type
""",
)
def q275_feed_uptime_nines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed availability report: treating each event type as a
    heartbeat stream, any inter-event gap beyond 600 s counts its
    excess as downtime, yielding uptime share and the "nines"
    (−log₁₀ of the downtime fraction) per feed — the SLA scorecard
    that turns q159's raw lateness audit into the number executives
    actually quote, with outage COUNT separated from outage DURATION
    (one 2-hour hole and 120 one-minute blips are different
    incidents).

    Gap arithmetic runs in epoch SECONDS (the q216 overflow lesson);
    a gap-free feed reports NULL nines explicitly on both engines
    (log of zero diverges between engines — the q201 ln(0) lesson,
    guarded by the outage count, an exact integer). One window + two
    aggregates, all partitioned by the bounded feed key.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["event_id", "ts", "event_type"])
    ev = ev.localCheckpoint(eager=False)  # gaps + span branches
    epoch = F.col("ts").cast("double")
    wt = Window.partitionBy("event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    gaps = ev.select(
        "event_type", (epoch - F.lag(epoch).over(wt)).alias("gap")
    ).where(F.col("gap").isNotNull())
    span = ev.groupBy("event_type").agg(
        (F.max(epoch) - F.min(epoch)).alias("horizon"),
        F.count(F.lit(1)).alias("n_events"),
    )
    down = gaps.groupBy("event_type").agg(
        F.sum(F.when(F.col("gap") > 600, 1).otherwise(0))
        .cast("bigint")
        .alias("n_outages"),
        F.sum(
            F.when(F.col("gap") > 600, F.col("gap") - 600).otherwise(0.0)
        ).alias("downtime"),
    )
    return span.join(down, "event_type").select(
        "event_type",
        "n_events",
        "n_outages",
        fround(F.col("downtime"), 3).alias("downtime_secs"),
        fround(1.0 - F.col("downtime") / F.col("horizon"), 6).alias(
            "uptime_share"
        ),
        F.when(F.col("n_outages") == 0, F.lit(None).cast("double"))
        .otherwise(
            fround(-F.log10(F.col("downtime") / F.col("horizon")), 4)
        )
        .alias("nines"),
    )


@query(
    "q286_queue_backlog_curve",
    tags=("timeseries", "queueing", "capacity"),
    oracle="""
WITH counts AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS a
  FROM events GROUP BY 1
), bounds AS (
  SELECT min(h) AS mn, max(h) AS mx FROM counts
), dense AS MATERIALIZED (
  SELECT g.h - b.mn AS i, CAST(coalesce(c.x, 0) AS BIGINT) AS a
  FROM (SELECT unnest(generate_series(mn, mx)) AS h, mn FROM bounds) g
  CROSS JOIN bounds b
  LEFT JOIN (SELECT h, a AS x FROM counts) c ON c.h = g.h
), cap AS (
  SELECT a AS c FROM (
    SELECT a, row_number() OVER (ORDER BY a, i) AS rn,
           count(*) OVER () AS n
    FROM dense
  ) WHERE rn = CAST(ceil(0.75 * n) AS BIGINT)
), s AS (
  SELECT d.i, d.a, cap.c,
         CAST(sum(d.a - cap.c) OVER (
           ORDER BY d.i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS st
  FROM dense d CROSS JOIN cap
), w AS (
  SELECT i, a, c, st,
         CAST(least(0, min(st) OVER (
           ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )) AS BIGINT) AS floor_min
  FROM s
)
SELECT i AS hour_idx, a AS arrivals, c AS capacity,
       st - floor_min AS backlog,
       st - floor_min > 0 AS queued
FROM w
""",
)
def q286_queue_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queue-backlog curve under a fixed service capacity (the exact
    p75 hourly arrival rate): the Lindley recursion
    W_t = max(0, W_{t−1} + a_t − c) computed WITHOUT a sequential
    scan via the reflection identity W_t = S_t − min(0, min_{τ≤t} S_τ)
    with S = Σ(a − c) — a cumulative sum and a running minimum, both
    plain windows — the capacity-planning curve that says how deep
    the backlog gets and how long drains take when arrivals burst
    past service rate (q263 finds the bursts; this prices them).

    Exactness: arrivals and capacity are integers, so S, the running
    minimum, and every backlog value are EXACT BIGINTs — the
    recursion-to-prefix-extremum transform is the same trick as
    q199's descending cumulative flip, applied to queueing. Windows
    run on the bounded dense hour grain (q227 argument).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["ts"])
    counts = hourly_counts(ev)
    dense = (
        hour_grid(counts)
        .join(counts, "h", "left")
        .select(
            (F.col("h") - F.col("mn")).alias("i"),
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("a"),
        )
        .localCheckpoint(eager=False)  # capacity + recursion branches
    )
    wr = Window.orderBy("a", "i")
    cap = (
        dense.select(
            "a",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .where(F.col("rn") == F.ceil(0.75 * F.col("n")).cast("bigint"))
        .select(F.col("a").alias("c"))
    )
    wi = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = dense.crossJoin(F.broadcast(cap)).select(
        "i",
        "a",
        "c",
        F.sum(F.col("a") - F.col("c")).over(wi).cast("bigint").alias("st"),
    )
    w = s.select(
        "i",
        "a",
        "c",
        "st",
        F.least(F.lit(0), F.min("st").over(wi))
        .cast("bigint")
        .alias("floor_min"),
    )
    return w.select(
        F.col("i").alias("hour_idx"),
        F.col("a").alias("arrivals"),
        F.col("c").alias("capacity"),
        (F.col("st") - F.col("floor_min")).alias("backlog"),
        (F.col("st") - F.col("floor_min") > 0).alias("queued"),
    )


@query(
    "q288_calendar_outlier_days",
    tags=("timeseries", "anomaly", "calendar"),
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_num,
         CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 7
              AS BIGINT) AS dow,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
), med AS MATERIALIZED (
  SELECT dow, cents AS med_cents FROM (
    SELECT dow, cents,
           row_number() OVER (PARTITION BY dow ORDER BY cents, day_num)
             AS rn,
           count(*) OVER (PARTITION BY dow) AS n
    FROM daily
  ) WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
), dev AS (
  SELECT d.day_num, d.dow, d.cents, m.med_cents,
         abs(d.cents - m.med_cents) AS adev
  FROM daily d JOIN med m ON m.dow = d.dow
), mad AS (
  SELECT dow, adev AS mad_cents FROM (
    SELECT dow, adev,
           row_number() OVER (PARTITION BY dow ORDER BY adev, day_num)
             AS rn,
           count(*) OVER (PARTITION BY dow) AS n
    FROM dev
  ) WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
)
SELECT d.day_num, d.dow,
       round(d.cents / 100.0 + 1e-9, 2) AS revenue,
       round(d.med_cents / 100.0 + 1e-9, 2) AS dow_median,
       round((d.cents - d.med_cents) / 100.0 + 1e-9, 2) + 0
         AS deviation,
       CASE WHEN m.mad_cents = 0 THEN NULL
            ELSE round((d.cents - d.med_cents) * 1.0 / m.mad_cents
                       + 1e-9, 4) + 0 END AS mad_score
FROM dev d JOIN mad m ON m.dow = d.dow
WHERE m.mad_cents > 0
  AND abs(round((d.cents - d.med_cents) * 1.0 / m.mad_cents
                + 1e-9, 4)) >= 5.0
""",
)
def q288_calendar_outlier_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calendar outlier days: daily revenue compared against ITS OWN
    day-of-week median (a Monday is judged against Mondays — the q213
    seasonality lesson applied to anomaly detection), deviations
    scored in day-of-week MAD units (q113's robust scale, immune to
    the outliers being hunted), days with |score| ≥ 5 flagged — the
    "what happened on the 14th?" screen that a global z-score floods
    with weekend false positives.

    Exactness: medians and MADs are exact order statistics per dow
    (rank selection over the bounded day grain — q184 rule); the
    score thresholds its own ROUNDED value (q228 rule) with
    sign-of-zero guards; zero-MAD groups yield NULL and drop
    identically on both sides (the q113 guard).
    """
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    day_num = F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
    daily = (
        o.groupBy(
            day_num.alias("day_num"), (day_num % 7).alias("dow")
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents")
        )
        .localCheckpoint(eager=False)  # median + deviation branches
    )

    def per_dow_median(df, value_col, out_col):
        wd = Window.partitionBy("dow").orderBy(value_col, "day_num")
        wn = Window.partitionBy("dow")
        return (
            df.select(
                "dow",
                F.col(value_col),
                F.row_number().over(wd).alias("rn"),
                F.count(F.lit(1)).over(wn).alias("n"),
            )
            .where(
                F.col("rn") == F.ceil(0.5 * F.col("n")).cast("bigint")
            )
            .select("dow", F.col(value_col).alias(out_col))
        )

    med = per_dow_median(daily, "cents", "med_cents")
    dev = daily.join(med, "dow").select(
        "day_num",
        "dow",
        "cents",
        "med_cents",
        F.abs(F.col("cents") - F.col("med_cents")).alias("adev"),
    )
    dev = dev.localCheckpoint(eager=False)  # MAD + scoring branches
    mad = per_dow_median(
        dev.select("dow", "day_num", F.col("adev")), "adev", "mad_cents"
    )
    score = fround(
        (F.col("cents") - F.col("med_cents")) * 1.0 / F.col("mad_cents"),
        4,
    )
    return (
        dev.join(mad, "dow")
        .where(F.col("mad_cents") > 0)
        .where(F.abs(score) >= 5.0)
        .select(
            "day_num",
            "dow",
            fround(F.col("cents") / 100.0, 2).alias("revenue"),
            fround(F.col("med_cents") / 100.0, 2).alias("dow_median"),
            (
                fround(
                    (F.col("cents") - F.col("med_cents")) / 100.0, 2
                )
                + 0
            ).alias("deviation"),
            F.when(
                F.col("mad_cents") == 0, F.lit(None).cast("double")
            ).otherwise(score + 0).alias("mad_score"),
        )
    )


@query(
    "q289_behavior_predictability",
    tags=("timeseries", "sequence", "entropy", "fraud"),
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS f,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS t
  FROM events
), trans AS (
  SELECT user_id, f, t, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE t IS NOT NULL GROUP BY user_id, f, t
), fromtot AS (
  SELECT user_id, f, CAST(sum(n) AS BIGINT) AS nf
  FROM trans GROUP BY user_id, f
), usertot AS (
  SELECT user_id, CAST(sum(n) AS BIGINT) AS nu
  FROM trans GROUP BY user_id
), ent AS (
  SELECT t.user_id, any_value(u.nu) AS n_trans,
         -sum((t.n * 1.0 / u.nu) * ln(t.n * 1.0 / ft.nf)) AS h_rate
  FROM trans t
  JOIN fromtot ft ON ft.user_id = t.user_id AND ft.f = t.f
  JOIN usertot u ON u.user_id = t.user_id
  GROUP BY t.user_id
)
SELECT user_id, n_trans,
       round(h_rate + 1e-9, 6) AS entropy_rate_nats,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (
    ORDER BY round(h_rate + 1e-9, 6), user_id
  ) AS rk
  FROM ent WHERE n_trans >= 20
) WHERE rk <= 20
""",
)
def q289_behavior_predictability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Behavioral predictability leaderboard: each user's first-order
    Markov conditional entropy rate H(next | current) over their own
    event stream — near-zero means the account repeats one mechanical
    loop (bot/script smell; q216's burstiness flags WHEN they act,
    this flags WHAT they do), reported as the 20 most predictable
    users with ≥ 20 transitions. Weighting is the stationary
    empirical distribution: H = −Σ p(f,t)·ln p(t|f) with exact
    integer count ratios.

    Scale: one lead window on (user, time), transition counts at the
    (user, from, to) grain, entropy as a per-user aggregate — state
    is |types|² per user, never sequence-length. Ranking orders by
    the ROUNDED entropy with the user id tie-break (footgun 3).
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"]
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("f"),
        F.lead("event_type").over(w).alias("t"),
    ).where(F.col("t").isNotNull())
    trans = seq.groupBy("user_id", "f", "t").agg(
        F.count(F.lit(1)).alias("n")
    )
    trans = trans.localCheckpoint(eager=False)  # three margin branches
    fromtot = trans.groupBy("user_id", "f").agg(F.sum("n").alias("nf"))
    usertot = trans.groupBy("user_id").agg(F.sum("n").alias("nu"))
    ent = (
        trans.join(fromtot, ["user_id", "f"])
        .join(usertot, "user_id")
        .groupBy("user_id")
        .agg(
            F.any_value("nu").cast("bigint").alias("n_trans"),
            (
                -F.sum(
                    (F.col("n") * 1.0 / F.col("nu"))
                    * F.log(F.col("n") * 1.0 / F.col("nf"))
                )
            ).alias("h_rate"),
        )
    )
    ranked = (
        ent.where(F.col("n_trans") >= 20)
        .select(
            "user_id",
            "n_trans",
            fround(F.col("h_rate"), 6).alias("entropy_rate_nats"),
        )
        .orderBy(F.asc("entropy_rate_nats"), F.asc("user_id"))
        .limit(20)
    )
    return ranked.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.asc("entropy_rate_nats"), F.asc("user_id")))
        .cast("bigint"),
    )


@query(
    "q293_forecast_ensemble",
    tags=("timeseries", "forecast", "ensemble"),
    oracle="""
WITH hourly AS MATERIALIZED (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), back AS MATERIALIZED (
  SELECT c.event_type, c.h, c.y,
         l1.y AS y1, l24.y AS y24, l25.y AS y25,
         CAST(l1.y AS DOUBLE)
           + (CAST(l1.y AS DOUBLE) - CAST(l25.y AS DOUBLE)) / 24.0
           AS drift_pred
  FROM hourly c
  JOIN hourly l1 ON l1.event_type = c.event_type AND l1.h = c.h - 1
  JOIN hourly l24 ON l24.event_type = c.event_type AND l24.h = c.h - 24
  JOIN hourly l25 ON l25.event_type = c.event_type AND l25.h = c.h - 25
), maes AS MATERIALIZED (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         avg(abs(y - y1)) AS mae_naive,
         avg(abs(y - y24)) AS mae_seasonal,
         avg(abs(y - drift_pred)) AS mae_drift
  FROM back GROUP BY event_type
), ens AS (
  SELECT b.event_type,
         avg(abs(b.y
                 - ((b.y1 / m.mae_naive + b.y24 / m.mae_seasonal
                     + b.drift_pred / m.mae_drift)
                    / ((1.0 / m.mae_naive + 1.0 / m.mae_seasonal)
                       + 1.0 / m.mae_drift)))) AS mae_ens
  FROM back b JOIN maes m ON m.event_type = b.event_type
  GROUP BY b.event_type
)
SELECT m.event_type, m.n_hours,
       round(m.mae_naive / 100.0 + 1e-9, 4) AS mae_naive,
       round(m.mae_seasonal / 100.0 + 1e-9, 4) AS mae_seasonal,
       round(m.mae_drift / 100.0 + 1e-9, 4) AS mae_drift,
       round(e.mae_ens / 100.0 + 1e-9, 4) AS mae_ensemble,
       round(1.0 - e.mae_ens
                   / least(m.mae_naive,
                           least(m.mae_seasonal, m.mae_drift))
             + 1e-9, 6) + 0 AS ensemble_gain
FROM maes m JOIN ens e ON e.event_type = m.event_type
""",
)
def q293_forecast_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-MAE forecast-combination backtest per event type:
    three lag-based forecasters (naive t−1, seasonal-naive t−24, and
    a drift corrector) scored on hourly cents, then blended with
    weights ∝ 1/MAE — Bates–Granger's classic result that the
    combination usually beats every member, reported as the
    ensemble's gain over the best single model (negative gain = the
    blend hurt; in-sample weights, stated honestly — production
    re-fits them on a rolling window).

    Exactness: lag joins are integer-hour equi-joins (q203 rule,
    never row offsets); hourly totals are cents-rounded BEFORE
    differencing (q173 rule); naive/seasonal errors are exact
    integers, drift/ensemble float algebra is written in the
    identical association on both sides (q143) under the fround pair
    with the sign-of-zero guard on the gain.
    """
    ev = read_table(spark, sf_dir, "events", ["ts", "event_type", "value"])
    hourly = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("ts").cast("double") / 3600)
            .cast("bigint")
            .alias("h"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("y")
        )
        .localCheckpoint(eager=False)  # four self-join branches
    )

    def lag(name, k):
        return hourly.select(
            "event_type",
            (F.col("h") + k).alias("h"),
            F.col("y").alias(name),
        )

    back = (
        hourly.join(lag("y1", 1), ["event_type", "h"])
        .join(lag("y24", 24), ["event_type", "h"])
        .join(lag("y25", 25), ["event_type", "h"])
        .select(
            "event_type",
            "h",
            "y",
            "y1",
            "y24",
            "y25",
            (
                F.col("y1").cast("double")
                + (
                    F.col("y1").cast("double")
                    - F.col("y25").cast("double")
                )
                / 24.0
            ).alias("drift_pred"),
        )
        .localCheckpoint(eager=False)  # MAE + ensemble branches
    )
    maes = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.avg(F.abs(F.col("y") - F.col("y1"))).alias("mae_naive"),
        F.avg(F.abs(F.col("y") - F.col("y24"))).alias("mae_seasonal"),
        F.avg(F.abs(F.col("y") - F.col("drift_pred"))).alias("mae_drift"),
    )
    maes = maes.localCheckpoint(eager=False)  # ensemble + output branches
    wsum = (
        1.0 / F.col("mae_naive") + 1.0 / F.col("mae_seasonal")
    ) + 1.0 / F.col("mae_drift")
    ens_pred = (
        F.col("y1") / F.col("mae_naive")
        + F.col("y24") / F.col("mae_seasonal")
        + F.col("drift_pred") / F.col("mae_drift")
    ) / wsum
    ens = (
        back.join(maes, "event_type")
        .groupBy("event_type")
        .agg(F.avg(F.abs(F.col("y") - ens_pred)).alias("mae_ens"))
    )
    best = F.least(
        F.col("mae_naive"), F.least(F.col("mae_seasonal"), F.col("mae_drift"))
    )
    return maes.join(ens, "event_type").select(
        "event_type",
        "n_hours",
        fround(F.col("mae_naive") / 100.0, 4).alias("mae_naive"),
        fround(F.col("mae_seasonal") / 100.0, 4).alias("mae_seasonal"),
        fround(F.col("mae_drift") / 100.0, 4).alias("mae_drift"),
        fround(F.col("mae_ens") / 100.0, 4).alias("mae_ensemble"),
        (fround(1.0 - F.col("mae_ens") / best, 6) + 0).alias(
            "ensemble_gain"
        ),
    )


@query(
    "q296_rapid_repeat_runs",
    tags=("timeseries", "behavior", "fraud"),
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, event_type, epoch(ts) AS es,
         CASE WHEN lag(event_type) OVER w = event_type
                   AND epoch(ts) - lag(epoch(ts)) OVER w <= 3600
              THEN 0 ELSE 1 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT user_id, event_type, es,
         CAST(sum(brk) OVER (
           PARTITION BY user_id ORDER BY es, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS run_id
  FROM seq
), runstats AS (
  SELECT user_id, run_id,
         any_value(event_type) AS event_type,
         CAST(count(*) AS BIGINT) AS run_len,
         round(max(es) - min(es) + 1e-9, 3) AS span_secs
  FROM runs GROUP BY user_id, run_id
)
SELECT user_id, event_type, run_len, span_secs
FROM runstats WHERE run_len >= 2
""",
)
def q296_rapid_repeat_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-repeat ("rage") runs: maximal streaks of the SAME event
    type by one user with ≤ 1 h between consecutive events, runs of
    length ≥ 2 reported (thresholds sized to this corpus's cadence;
    UX-telemetry deployments tighten to seconds) — rage-clicks, retry storms
    in API logs, scripted abuse in order flows; the gaps-and-islands
    construction (break flag → running-sum run id) is the q24
    sessionization machinery specialized to same-type micro-bursts.

    Exactness: the break flag compares identical epoch-second doubles
    and type strings; run ids are integer running sums over the
    (ts, event_id) total order (footgun 6 rule); run lengths are
    exact counts and the span is a difference of identical doubles
    (fround defensively). One shuffle on user_id end to end.
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"]
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    es = F.col("ts").cast("double")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        es.alias("es"),
        F.when(
            (F.lag("event_type").over(w) == F.col("event_type"))
            & (es - F.lag(es).over(w) <= 3600),
            0,
        ).otherwise(1).alias("brk"),
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.asc("es"), F.asc("event_id")
    )
    runs = seq.select(
        "user_id",
        "event_type",
        "es",
        F.sum("brk")
        .over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("run_id"),
    )
    return (
        runs.groupBy("user_id", "run_id")
        .agg(
            F.any_value("event_type").alias("event_type"),
            F.count(F.lit(1)).alias("run_len"),
            fround(F.max("es") - F.min("es"), 3).alias("span_secs"),
        )
        .where(F.col("run_len") >= 2)
        .select("user_id", "event_type", "run_len", "span_secs")
    )


@query(
    "q302_hour_of_day_envelope",
    tags=("timeseries", "seasonality", "capacity"),
    oracle=f"""
WITH {_HOD_GRID_CTES}, ranked AS (
  SELECT hod, x,
         row_number() OVER (PARTITION BY hod ORDER BY x, h) AS rn,
         count(*) OVER (PARTITION BY hod) AS n
  FROM dense
)
SELECT hod,
       CAST(any_value(n) AS BIGINT) AS n_days,
       round(CAST(sum(x) AS BIGINT) * 1.0 / any_value(n) + 1e-9, 4)
         AS mean_rate,
       CAST(min(CASE WHEN rn = CAST(ceil(0.1 * n) AS BIGINT)
                     THEN x END) AS BIGINT) AS p10,
       CAST(min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                     THEN x END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                     THEN x END) AS BIGINT) AS p90
FROM ranked
GROUP BY hod
""",
)
def q302_hour_of_day_envelope(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Typical-day traffic envelope: exact p10/p50/p90 of hourly
    event volume PER HOUR-OF-DAY over the dense hour spine (zero
    hours count — a gap at 3am is real capacity truth) — the band
    chart behind autoscaling schedules and the baseline q263's peak
    detector should really alarm against (an 11pm spike can be
    normal, a 3am one never is). Hour-of-day is the epoch-hour
    modulus, never the engines' timezone-dependent hour().

    Scale: one hourly pre-aggregation, then rank selection (q184
    rule) inside 24 bounded partitions over the days grain. Integer
    counts end to end; one exact-ratio mean (rule 5).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["ts"])
    counts = hourly_counts(ev)
    dense = (
        hour_grid(counts)
        .join(counts, "h", "left")
        .select(
            "h",
            (F.col("h") % 24).cast("bigint").alias("hod"),
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
    )
    wr = Window.partitionBy("hod").orderBy("x", "h")
    wn = Window.partitionBy("hod")
    ranked = dense.select(
        "hod",
        "x",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(q):
        return F.min(
            F.when(
                F.col("rn") == F.ceil(q * F.col("n")).cast("bigint"),
                F.col("x"),
            )
        ).cast("bigint")

    return ranked.groupBy("hod").agg(
        F.any_value("n").cast("bigint").alias("n_days"),
        fround(
            F.sum("x").cast("bigint") * 1.0 / F.any_value("n"), 4
        ).alias("mean_rate"),
        pick(0.1).alias("p10"),
        pick(0.5).alias("p50"),
        pick(0.9).alias("p90"),
    )


@query(
    "q306_session_unicity_sweep",
    tags=("privacy", "session", "audit"),
    oracle=f"""
WITH {EVENT_SESSIONS}, sess AS MATERIALIZED (
  SELECT user_id, session_id,
         list(event_type ORDER BY ts, event_id)[1:5] AS arr,
         CAST(floor(epoch(min(ts)) / 3600) % 24 AS BIGINT) AS hod
  FROM sessions GROUP BY user_id, session_id
), ks AS (
  SELECT unnest([1, 2, 3, 4, 5]) AS k
), fps AS (
  SELECT k.k,
         array_to_string(s.arr[1:CAST(k.k AS BIGINT)], '>')
           || '@' || CAST(s.hod AS VARCHAR) AS fp
  FROM sess s CROSS JOIN ks k
), census AS (
  SELECT k, fp, CAST(count(*) AS BIGINT) AS n FROM fps GROUP BY k, fp
)
SELECT CAST(k AS BIGINT) AS prefix_len,
       CAST(sum(n) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / sum(n)
             + 1e-9, 6) AS unicity_share
FROM census GROUP BY k
""",
)
def q306_session_unicity_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session unicity sweep (de Montjoye's mobility-unicity question
    asked of clickstreams): what share of q24 sessions is UNIQUELY
    identified by its first k event types plus its start hour, for
    k = 1..5 — the re-identification risk curve that says how few
    released "anonymous" behavioral points pin a session to one
    person, and the quantitative trigger for q290's suppression
    policy (release prefixes only up to the k where unicity stays
    tolerable).

    Scale: one sessionized pass (user_id shuffle), a ≤5× broadcast
    prefix fan-out of the session-grain frame, and a fingerprint
    census. Counts exact; the share is an exact ratio (rule 5); the
    start hour is the epoch-hour modulus (q302 rule).
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"]
    )
    sessions = sessionize(ev)
    epoch = F.col("ts").cast("double")
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    per = (
        sessions.select(
            "user_id",
            "session_id",
            F.collect_list("event_type")
            .over(
                ws.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("arr_full"),
            F.min(epoch)
            .over(Window.partitionBy("user_id", "session_id"))
            .alias("start_es"),
            F.row_number().over(ws).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            F.slice(F.col("arr_full"), 1, 5).alias("arr"),
            (F.floor(F.col("start_es") / 3600) % 24)
            .cast("bigint")
            .alias("hod"),
        )
        .localCheckpoint(eager=False)  # k-sweep branches
    )
    ks = local_frame(spark, [(k,) for k in range(1, 6)], "k long")
    fps = per.crossJoin(F.broadcast(ks)).select(
        "k",
        F.concat(
            F.array_join(
                F.slice(F.col("arr"), 1, F.col("k").cast("int")), ">"
            ),
            F.lit("@"),
            F.col("hod").cast("string"),
        ).alias("fp"),
    )
    census = fps.groupBy("k", "fp").agg(F.count(F.lit(1)).alias("n"))
    return census.groupBy(F.col("k").cast("bigint").alias("prefix_len")).agg(
        F.sum("n").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unique"),
        fround(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            * 1.0
            / F.sum("n"),
            6,
        ).alias("unicity_share"),
    )


@query(
    "q317_suspected_outage_hours",
    tags=("timeseries", "monitoring", "anomaly"),
    oracle=f"""
WITH {_HOD_GRID_CTES}, env AS (
  SELECT hod, x AS p25 FROM (
    SELECT hod, x,
           row_number() OVER (PARTITION BY hod ORDER BY x, h) AS rn,
           count(*) OVER (PARTITION BY hod) AS n
    FROM dense
  ) WHERE rn = CAST(ceil(0.25 * n) AS BIGINT)
)
SELECT d.h AS hour_num, d.hod, d.x AS observed, e.p25 AS expected_floor,
       d.x * 2 < e.p25 AS severe
FROM dense d JOIN env e ON e.hod = d.hod
WHERE e.p25 > 0 AND d.x < e.p25
""",
)
def q317_suspected_outage_hours(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Suspected-outage hours: hours whose traffic falls below the
    lower-quartile floor of their own hour-of-day envelope (q302's band), with a
    ``severe`` flag at half the floor — the silent-failure detector
    that q263's peak alarm is blind to (pipelines page on spikes and
    sleep through drops; a 3am hour at zero is normal only if 3am's
    p10 is zero). Both tests are pure integer inequalities
    (``x < p25``, ``2·x < p25`` — the q256 discipline, no float
    threshold).

    Scale: the dense spine + per-hod rank selection (q302 machinery),
    one join back on the 24-row envelope. Integer end to end.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["ts"])
    counts = hourly_counts(ev)
    dense = (
        hour_grid(counts)
        .join(counts, "h", "left")
        .select(
            "h",
            (F.col("h") % 24).cast("bigint").alias("hod"),
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
        .localCheckpoint(eager=False)  # envelope + scan branches
    )
    wr = Window.partitionBy("hod").orderBy("x", "h")
    wn = Window.partitionBy("hod")
    env = (
        dense.select(
            "hod",
            "x",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .where(F.col("rn") == F.ceil(0.25 * F.col("n")).cast("bigint"))
        .select("hod", F.col("x").alias("p25"))
    )
    return (
        dense.join(F.broadcast(env), "hod")
        .where((F.col("p25") > 0) & (F.col("x") < F.col("p25")))
        .select(
            F.col("h").alias("hour_num"),
            "hod",
            F.col("x").alias("observed"),
            F.col("p25").alias("expected_floor"),
            (F.col("x") * 2 < F.col("p25")).alias("severe"),
        )
    )


@query(
    "q318_shipment_fragmentation",
    tags=("logistics", "report", "timeseries"),
    oracle="""
WITH perorder AS MATERIALIZED (
  SELECT o.o_orderkey,
         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           AS month_idx,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(count(DISTINCT CAST(l.l_shipdate AS DATE)) AS BIGINT)
           AS n_ship_days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
)
SELECT month_idx,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(avg(n_items) + 1e-9, 4) AS mean_items,
       round(avg(n_ship_days) + 1e-9, 4) AS mean_ship_days,
       round(CAST(sum(CASE WHEN n_ship_days = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) * 1.0 / count(*) + 1e-9, 6)
         AS single_shipment_share,
       round(CAST(sum(n_ship_days - 1) AS BIGINT) * 1.0 / count(*)
             + 1e-9, 6) AS extra_shipments_per_order
FROM perorder
GROUP BY month_idx
""",
)
def q318_shipment_fragmentation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shipment fragmentation by order month: how many distinct ship
    DAYS each order needed (1 = fulfilled whole; each extra day is an
    extra shipment cost and a worse unboxing), tracked as the
    single-shipment share and mean extra shipments per order — the
    warehouse-consolidation KPI that q311 sizes the fix for on the
    inbound side and this measures on the outbound side.

    Scale: one order-grain aggregate with a distinct-day count, one
    month-grain reduce. Integer counts; exact ratios (rule 5); month
    as integer index (q233 rule).
    """
    o = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderdate"])
    l = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_shipdate"])
    perorder = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "o_orderkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_idx"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct(F.to_date("l_shipdate")).alias("n_ship_days"),
        )
    )
    return perorder.groupBy("month_idx").agg(
        F.count(F.lit(1)).alias("n_orders"),
        fround(F.avg("n_items"), 4).alias("mean_items"),
        fround(F.avg("n_ship_days"), 4).alias("mean_ship_days"),
        fround(
            F.sum(F.when(F.col("n_ship_days") == 1, 1).otherwise(0))
            .cast("bigint")
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("single_shipment_share"),
        fround(
            F.sum(F.col("n_ship_days") - 1).cast("bigint")
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("extra_shipments_per_order"),
    )


@query(
    "q321_shapley_attribution",
    tags=("attribution", "statistics", "exact"),
    oracle="""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'click'  THEN 1 ELSE 0 END) AS hc,
         max(CASE WHEN event_type = 'view'   THEN 1 ELSE 0 END) AS hv,
         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS hs,
         max(CASE WHEN event_type = 'error'  THEN 1 ELSE 0 END) AS he,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), mframe AS (
  SELECT hc + 2 * hv + 4 * hs + 8 * he AS mask,
         CAST(sum(conv) AS BIGINT) AS n_conv
  FROM per_user GROUP BY 1
), subsets AS (
  SELECT unnest(range(0, 16)) AS s
), vals AS (
  SELECT s,
         CAST(coalesce(sum(n_conv), 0) AS BIGINT) AS v
  FROM subsets LEFT JOIN mframe ON (mask & s) = mask
  GROUP BY s
), chan AS (
  SELECT * FROM (VALUES (1, 'click'), (2, 'view'), (4, 'signup'),
                        (8, 'error')) AS t(bit, channel)
), lift AS (
  SELECT CAST(24 * (vf.v - v0.v) AS BIGINT) AS tot24
  FROM vals vf, vals v0 WHERE vf.s = 15 AND v0.s = 0
), contrib AS (
  SELECT channel,
         CAST(sum(CASE bit_count(a.s)
                    WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
                    ELSE 6 END * (b.v - a.v)) AS BIGINT) AS phi24
  FROM chan c
  JOIN vals a ON (a.s & c.bit) = 0
  JOIN vals b ON b.s = a.s + c.bit
  GROUP BY channel
)
SELECT channel, phi24,
       round(phi24 / 24.0 + 1e-9, 6) AS phi,
       round(phi24 * 1.0 / tot24 + 1e-9, 6) AS phi_share,
       CAST(tot24 // 24 AS BIGINT) AS total_lift
FROM contrib, lift
""",
)
def q321_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution (Shapley 1953; the
    marketing formulation of Zhao et al. 2018): channels are the four
    non-purchase event types a user was exposed to, the coalition
    value v(S) is the number of converting (purchasing) users whose
    exposure set is contained in S, and each channel's credit is its
    exact Shapley value — not the heuristic U-shaped (q209) or Markov
    removal-effect (q254) approximations. With n = 4 channels the
    2^4 = 16 coalition values reduce from one groupBy(user) pass, and
    the Shapley weights |S|!(n-|S|-1)!/n! scale to INTEGERS by 4! = 24
    ({6, 2, 2, 6} for |S| = 0..3), so phi24 = 24·φ is an exact BIGINT
    on both engines — the efficiency axiom Σφ = v(N) − v(∅) holds in
    integer arithmetic, and `phi_share` divides exact integers.

    Scale: one shuffle on user_id, one on the 16-row mask frame;
    everything after the first aggregation is a constant-size (16-row)
    subset lattice — the same plan at 100 TB.
    """
    ev = read_table(spark, sf_dir, "events", ["user_id", "event_type"])
    pres = lambda t: F.max(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    per_user = ev.groupBy("user_id").agg(
        pres("click").alias("hc"),
        pres("view").alias("hv"),
        pres("signup").alias("hs"),
        pres("error").alias("he"),
        pres("purchase").alias("conv"),
    )
    mframe = (
        per_user.select(
            (
                F.col("hc") + 2 * F.col("hv") + 4 * F.col("hs")
                + 8 * F.col("he")
            ).alias("mask"),
            "conv",
        )
        .groupBy("mask")
        .agg(F.sum("conv").cast("bigint").alias("n_conv"))
    )
    subsets = spark.range(16).select(F.col("id").cast("int").alias("s"))
    vals = (
        subsets.join(
            F.broadcast(mframe),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("bigint").alias("v"))
    )
    vals = vals.localCheckpoint(eager=False)  # a/b/lift branches
    chan = local_frame(spark, 
        [(1, "click"), (2, "view"), (4, "signup"), (8, "error")],
        "bit INT, channel STRING",
    )
    a = vals.select(F.col("s").alias("sa"), F.col("v").alias("va"))
    b = vals.select(F.col("s").alias("sb"), F.col("v").alias("vb"))
    weight = (
        F.when(F.expr("bit_count(sa)") == 0, 6)
        .when(F.expr("bit_count(sa)") == 1, 2)
        .when(F.expr("bit_count(sa)") == 2, 2)
        .otherwise(6)
    )
    contrib = (
        chan.join(F.broadcast(a), F.expr("(sa & bit) = 0"))
        .join(F.broadcast(b), F.expr("sb = sa + bit"))
        .groupBy("channel")
        .agg(
            F.sum(weight * (F.col("vb") - F.col("va")))
            .cast("bigint")
            .alias("phi24")
        )
    )
    lift = (
        vals.where(F.col("s") == 15)
        .crossJoin(
            vals.where(F.col("s") == 0).select(F.col("v").alias("v0"))
        )
        .select((24 * (F.col("v") - F.col("v0"))).cast("bigint").alias("tot24"))
    )
    return contrib.crossJoin(F.broadcast(lift)).select(
        "channel",
        "phi24",
        fround(F.col("phi24") / 24.0, 6).alias("phi"),
        fround(F.col("phi24") * 1.0 / F.col("tot24"), 6).alias("phi_share"),
        (F.col("tot24") / F.lit(24)).cast("bigint").alias("total_lift"),
    )


@query(
    "q326_ttl_cache_planner",
    tags=("infra", "cache", "planning"),
    oracle="""
WITH acc AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
), span AS (
  SELECT CAST((max(tus) - min(tus)) // 1000000 AS BIGINT) AS span_s
  FROM acc
), gaps AS (
  SELECT tus - lag(tus) OVER w AS gap_prev,
         lead(tus) OVER w - tus AS gap_next
  FROM acc
  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
), ttl AS (
  SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(3600000000 AS BIGINT)),
                        (CAST(6 AS BIGINT), CAST(21600000000 AS BIGINT)),
                        (CAST(24 AS BIGINT), CAST(86400000000 AS BIGINT)))
         t(ttl_hours, tau_us)
), per AS (
  SELECT ttl_hours,
         CAST(count(*) AS BIGINT) AS n_accesses,
         CAST(sum(CASE WHEN gap_prev IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_reuses,
         CAST(sum(CASE WHEN gap_prev IS NOT NULL AND gap_prev <= tau_us
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         CAST(sum((CASE WHEN gap_next IS NULL OR gap_next > tau_us
                        THEN tau_us ELSE gap_next END) // 1000000)
              AS BIGINT) AS resident_s
  FROM gaps, ttl GROUP BY ttl_hours
)
SELECT ttl_hours, n_accesses, n_reuses, n_hits,
       round(n_hits * 1.0 / n_reuses + 1e-9, 6) AS hit_rate,
       resident_s,
       round(resident_s * 1.0 / span_s + 1e-9, 6) AS avg_entries
FROM per, span
""",
)
def q326_ttl_cache_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL cache sizing from the access stream: for a
    time-to-idle cache keyed by user (entry evicted τ after its last
    access), the hit rate is EXACTLY the fraction of re-accesses whose
    reuse gap is ≤ τ — no LRU simulation or stack-distance machinery
    needed, just one lag window per key (the working-set theory of
    Denning 1968, exact for TTL policies). Reports, per candidate τ
    (1h / 6h / 24h): hit rate, and the average number of resident
    entries (per-access residency min(next_gap, τ), integrated and
    divided by the stream span) — the memory-vs-hit-rate tradeoff
    curve an online feature store is provisioned from.

    All quantities are exact integer microseconds (the q216 lesson:
    epoch µs gaps stay in BIGINT, no float time math); residency is
    floored to whole seconds per access on both engines before
    summing. Scale: one window partitioned by user_id, one constant
    3-row TTL cross join, one aggregation — no global window, no
    simulation state.
    """
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events", ["user_id", "event_id", "ts"])
    acc = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    acc = acc.localCheckpoint(eager=False)  # span + gaps branches
    span = acc.agg(
        ((F.max("tus") - F.min("tus")) / 1000000)
        .cast("bigint")
        .alias("span_s")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gaps = acc.select(
        (F.col("tus") - F.lag("tus").over(w)).alias("gap_prev"),
        (F.lead("tus").over(w) - F.col("tus")).alias("gap_next"),
    )
    ttl = local_frame(spark, 
        [(1, 3600000000), (6, 21600000000), (24, 86400000000)],
        "ttl_hours BIGINT, tau_us BIGINT",
    )
    resident = (
        F.when(
            F.col("gap_next").isNull() | (F.col("gap_next") > F.col("tau_us")),
            F.col("tau_us"),
        ).otherwise(F.col("gap_next"))
        / 1000000
    ).cast("bigint")
    per = (
        gaps.crossJoin(F.broadcast(ttl))
        .groupBy("ttl_hours")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_accesses"),
            F.sum(
                F.when(F.col("gap_prev").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_reuses"),
            F.sum(
                F.when(
                    F.col("gap_prev").isNotNull()
                    & (F.col("gap_prev") <= F.col("tau_us")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hits"),
            F.sum(resident).cast("bigint").alias("resident_s"),
        )
    )
    return per.crossJoin(F.broadcast(span)).select(
        "ttl_hours",
        "n_accesses",
        "n_reuses",
        "n_hits",
        fround(F.col("n_hits") * 1.0 / F.col("n_reuses"), 6).alias(
            "hit_rate"
        ),
        "resident_s",
        fround(F.col("resident_s") * 1.0 / F.col("span_s"), 6).alias(
            "avg_entries"
        ),
    )


def _ewma_chain_sql() -> str:
    """32-term truncated EWMA(α=1/2) over lagged hourly counts: each
    weight 2^-i is an exact binary double, each product is exact, and
    the left-associated sum order is identical on both engines — the
    doubles agree bit-for-bit (not just after rounding)."""
    terms = [
        f"coalesce(lag(x, {i}) OVER w, 0) * {0.5 ** i!r}"
        for i in range(1, 33)
    ]
    return "\n           + ".join(terms)


@query(
    "q334_ewma_control_chart",
    tags=("timeseries", "monitoring", "control-chart"),
    oracle=f"""
WITH {_HOUR_BOUNDS_CTES}, hours AS (
  SELECT unnest(generate_series(mn, mx)) AS h, mn FROM bounds
), dense AS (
  SELECT hr.h, hr.mn, CAST(coalesce(c.x, 0) AS BIGINT) AS x
  FROM hours hr LEFT JOIN counts c ON c.h = hr.h
), ew AS (
  SELECT h, mn, x,
         {_ewma_chain_sql()} AS ewma
  FROM dense WINDOW w AS (ORDER BY h)
)
SELECT h - mn AS hour_idx, x AS n_events,
       round(ewma + 1e-9, 6) AS ewma_prev,
       round(x - ewma + 1e-9, 6) AS deviation,
       round(3.0 * sqrt(greatest(ewma, 1.0)) + 1e-9, 6) AS sigma3,
       abs(x - ewma) > 3.0 * sqrt(greatest(ewma, 1.0)) AS is_alarm
FROM ew WHERE h >= mn + 32
""",
)
def q334_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the hourly event-rate series (Roberts
    1959, the SPC chart behind most rate monitors): smoothing factor
    α = 1/2 makes every weight 2^-i an EXACT binary double, so the
    32-term truncated recursion (residual mass 2^-32 — far below one
    event) is a fixed left-associated expression whose value is
    bit-identical on both engines — an EWMA with NO float-ordering
    caveat, unlike a running aggregate (the q110/q191 windowed-sum
    lesson: never claim bit-identity for engine-ordered sums; here
    the order is in the expression tree, not the engine). Alarms fire
    outside ±3σ with σ = √max(EWMA, 1) — the Poisson approximation
    for count data.

    The hour spine is dense (q213/q246 calendar-gap lesson) and the
    window is the calendar-bounded hours grain; the 32-lag chain is
    one window pass, map-side arithmetic after it.
    """
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events", ["ts"])
    counts = hourly_counts(ev)
    counts = counts.localCheckpoint(eager=False)  # bounds + dense branches
    hours = hour_grid(counts)
    dense = hours.join(counts, "h", "left").select(
        "h", "mn", F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x")
    )
    w = Window.orderBy("h")
    ewma = None
    for i in range(1, 33):
        term = F.coalesce(F.lag("x", i).over(w), F.lit(0)) * F.lit(0.5 ** i)
        ewma = term if ewma is None else ewma + term
    ew = dense.select("h", "mn", "x", ewma.alias("ewma"))
    sigma = 3.0 * F.sqrt(F.greatest(F.col("ewma"), F.lit(1.0)))
    return ew.where(F.col("h") >= F.col("mn") + 32).select(
        (F.col("h") - F.col("mn")).alias("hour_idx"),
        F.col("x").alias("n_events"),
        fround(F.col("ewma"), 6).alias("ewma_prev"),
        fround(F.col("x") - F.col("ewma"), 6).alias("deviation"),
        fround(sigma, 6).alias("sigma3"),
        (F.abs(F.col("x") - F.col("ewma")) > sigma).alias("is_alarm"),
    )


@query(
    "q329_policy_replay_eval",
    tags=("ml", "bandit", "evaluation"),
    oracle=f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tus
  FROM events
), bounds AS (
  SELECT (min(tus) + max(tus)) // 2 AS cutoff FROM ev
), arms AS (
  SELECT event_type AS arm,
         CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT)
           AS arm_idx
  FROM (SELECT DISTINCT event_type FROM ev)
), trainstats AS (
  SELECT e.event_type AS arm,
         round(sum(e.value) / count(*) + 1e-9, 6) AS train_mean
  FROM ev e, bounds b WHERE e.tus < b.cutoff
  GROUP BY e.event_type
), best AS (
  SELECT arm AS best_arm FROM (
    SELECT arm, row_number() OVER (ORDER BY train_mean DESC, arm) AS rn
    FROM trainstats
  ) WHERE rn = 1
), evale AS (
  SELECT e.event_id, e.event_type, e.value,
         CASE WHEN {_hash16_sql('egreedy|', 'e.event_id')} < 4096
              THEN 1 ELSE 0 END AS explored,
         {_hash16_sql('earm|', 'e.event_id')} % 5 AS earm_idx
  FROM ev e, bounds b WHERE e.tus >= b.cutoff
), chosen AS (
  SELECT ev2.event_id, ev2.event_type, ev2.value, ev2.explored,
         CASE WHEN ev2.explored = 1 THEN a.arm ELSE bb.best_arm END
           AS chosen_arm
  FROM evale ev2
  JOIN arms a ON a.arm_idx = ev2.earm_idx
  CROSS JOIN best bb
)
SELECT any_value(bb2.best_arm) AS best_arm,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN event_type = chosen_arm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       round(sum(CASE WHEN event_type = chosen_arm THEN 1 ELSE 0 END)
             * 1.0 / count(*) + 1e-9, 6) AS match_share,
       round(sum(CASE WHEN event_type = chosen_arm THEN value ELSE 0 END)
             / sum(CASE WHEN event_type = chosen_arm THEN 1 ELSE 0 END)
             + 1e-9, 6) AS replay_value,
       round(sum(value) / count(*) + 1e-9, 6) AS logging_value
FROM chosen, best bb2
""",
)
def q329_policy_replay_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline bandit policy evaluation by replay (Li, Chu, Langford,
    Wang, WSDM 2011): evaluate an ε-greedy target policy (exploit the
    best train-period arm, explore uniformly with ε = 1/16) against
    the logged event stream WITHOUT deploying it — keep exactly the
    logged steps whose action matches what the policy would have
    chosen, and average their rewards. The replay estimate is
    unbiased when logging is uniform; match_share reports the
    effective sample the estimate stands on.

    Determinism: the train/eval split is the stream's µs midpoint,
    exploration and the explored arm come from the event-id keyed
    hash (the q207/q228 resampling contract — no RNG, identical on
    both engines), and the best arm is selected on the ROUNDED train
    mean with an arm-name tie-break. Scale: one pass for train means
    (5 groups), one pass for replay (broadcast 5-row arm frame +
    1-row best/cutoff frames); reward sums are the documented q24
    float-sum class, absorbed by the fround pair.
    """
    from .splits import _hash16

    ev = read_table(
        spark, sf_dir, "events",
        ["event_id", "user_id", "event_type", "value", "ts"],
    ).select(
        "event_id", "event_type", "value",
        F.unix_micros("ts").alias("tus"),
    )
    ev = ev.localCheckpoint(eager=False)  # bounds/train/eval branches
    bounds = ev.agg(
        ((F.min("tus") + F.max("tus")) / 2).cast("bigint").alias("cutoff")
    )
    from pyspark.sql.window import Window

    arms = (
        ev.select("event_type").distinct()
        .withColumn(
            "arm_idx",
            (F.row_number().over(Window.orderBy("event_type")) - 1)
            .cast("bigint"),
        )
        .select(F.col("event_type").alias("arm"), "arm_idx")
    )
    trainstats = (
        ev.crossJoin(F.broadcast(bounds))
        .where(F.col("tus") < F.col("cutoff"))
        .groupBy(F.col("event_type").alias("arm"))
        .agg(
            fround(F.sum("value") / F.count(F.lit(1)), 6).alias("train_mean")
        )
    )
    best = (
        trainstats.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc("train_mean"), F.asc("arm"))
            ),
        )
        .where(F.col("rn") == 1)
        .select(F.col("arm").alias("best_arm"))
    )
    evale = (
        ev.crossJoin(F.broadcast(bounds))
        .where(F.col("tus") >= F.col("cutoff"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.when(_hash16("egreedy|", F.col("event_id")) < 4096, 1)
            .otherwise(0)
            .alias("explored"),
            (_hash16("earm|", F.col("event_id")) % 5)
            .cast("bigint")
            .alias("earm_idx"),
        )
    )
    chosen = (
        evale.join(F.broadcast(arms), F.col("arm_idx") == F.col("earm_idx"))
        .crossJoin(F.broadcast(best))
        .select(
            "event_type",
            "value",
            F.when(F.col("explored") == 1, F.col("arm"))
            .otherwise(F.col("best_arm"))
            .alias("chosen_arm"),
        )
    )
    matched = F.when(F.col("event_type") == F.col("chosen_arm"), 1).otherwise(0)
    mvalue = F.when(
        F.col("event_type") == F.col("chosen_arm"), F.col("value")
    ).otherwise(0)
    return chosen.crossJoin(F.broadcast(best)).agg(
        F.any_value("best_arm").alias("best_arm"),
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(matched).cast("bigint").alias("n_matched"),
        fround(F.sum(matched) * 1.0 / F.count(F.lit(1)), 6).alias(
            "match_share"
        ),
        fround(F.sum(mvalue) / F.sum(matched), 6).alias("replay_value"),
        fround(F.sum("value") / F.count(F.lit(1)), 6).alias("logging_value"),
    )


@query(
    "q335_overdispersion_audit",
    tags=("statistics", "timeseries", "audit"),
    oracle=f"""
WITH {_TYPED_HOUR_GRID_CTES}, dense AS (
  SELECT t.event_type, hr.h, CAST(coalesce(c.x, 0) AS BIGINT) AS x
  FROM hours hr CROSS JOIN types t
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = hr.h
), sums AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM dense GROUP BY event_type
)
SELECT event_type, n, sx AS n_events,
       round(CAST(sx AS DOUBLE) / n + 1e-9, 6) AS mean_per_hour,
       round((CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)
             + 1e-9, 6) AS var_per_hour,
       round(((CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1))
             / (CAST(sx AS DOUBLE) / n) + 1e-9, 6) AS dispersion,
       ((CAST(sxx AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1))
         / (CAST(sx AS DOUBLE) / n)
         > 1.0 + 3.0 * sqrt(2.0 / (n - 1)) AS overdispersed
FROM sums
""",
)
def q335_overdispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion audit of the hourly arrival process,
    per event type: the index of dispersion D = Var/Mean of hourly
    counts on the DENSE hour spine (q213/q246 calendar-gap lesson),
    flagged when D exceeds 1 + 3·√(2/(n−1)) — the three-sigma bound
    of D's null sampling distribution. D ≈ 1 is the Poisson
    fingerprint; D ≫ 1 means bursty arrivals (capacity planning needs
    peak-to-mean, not mean — the q302/q317 envelope queries become
    mandatory) and D < 1 means rate-limited/scheduled traffic. The
    cheap first question to ask any event stream before modeling it.

    Count sums are exact BIGINTs (hourly counts are small — x² is
    nowhere near the q261 overflow class); the variance algebra is
    the q204 cast-once tree; the flag compares identically-derived
    doubles on both engines.
    """
    ev = read_table(spark, sf_dir, "events", ["ts", "event_type"])
    counts = hourly_counts(ev, "event_type")
    counts = counts.localCheckpoint(eager=False)  # bounds/types/dense
    hours = hour_grid(counts)
    types = counts.select("event_type").distinct()
    dense = (
        hours.crossJoin(F.broadcast(types))
        .join(counts, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
    )
    sums = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    nd = F.col("n")
    sxd = F.col("sx").cast("double")
    var = (F.col("sxx").cast("double") - sxd * sxd / nd) / (nd - 1)
    mean = sxd / nd
    disp = var / mean
    return sums.select(
        "event_type",
        "n",
        F.col("sx").alias("n_events"),
        fround(mean, 6).alias("mean_per_hour"),
        fround(var, 6).alias("var_per_hour"),
        fround(disp, 6).alias("dispersion"),
        (disp > 1.0 + 3.0 * F.sqrt(2.0 / (nd - 1))).alias("overdispersed"),
    )


@query(
    "q341_revenue_recognition",
    tags=("timeseries", "finance", "calendar"),
    oracle="""
WITH li AS (
  SELECT CAST(round(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS net4,
         least(o.o_orderdate, l.l_shipdate) AS d0,
         greatest(o.o_orderdate, l.l_shipdate) AS d1,
         date_diff('day', least(o.o_orderdate, l.l_shipdate),
                   greatest(o.o_orderdate, l.l_shipdate)) + 1 AS td
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), ex AS (
  SELECT net4, d0, d1, td,
         CAST(unnest(generate_series(date_trunc('month', d0),
                                     date_trunc('month', d1),
                                     INTERVAL 1 MONTH)) AS DATE) AS mstart
  FROM li
), seg AS (
  SELECT strftime(mstart, '%Y-%m') AS month,
         mstart > date_trunc('month', d0) AS carry,
         CAST(net4 * (date_diff('day', greatest(d0, mstart),
                                least(d1, last_day(mstart))) + 1)
              AS DOUBLE) / td AS portion
  FROM ex
)
SELECT month, CAST(count(*) AS BIGINT) AS n_line_months,
       round(sum(portion) / 10000.0 + 1e-9, 2) AS recognized_rev,
       round(coalesce(sum(portion) FILTER (WHERE carry), 0.0)
             / 10000.0 + 1e-9, 2) AS carryover_rev
FROM seg GROUP BY month
""",
)
def q341_revenue_recognition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar revenue recognition: each line's net revenue is
    prorated day-weighted across every calendar month its service
    period touches (accrual accounting's proration schedule, also the
    generic interval-to-calendar-grain allocator behind SLA credits
    and subscription amortization). The service period is
    least→greatest of order and ship date: this generator draws the
    two independently (47% of lines 'ship' before booking — the q171
    class; the query defines the span direction-free and reports it).

    `recognized_rev` is the month's accrued revenue; `carryover_rev`
    is the part accrued from lines BOOKED in an earlier month — the
    deferred-revenue tail a finance close watches.

    Exactness: net revenue in 1e-4-dollar integer units (cents ×
    (100−disc) — exact), day counts integer, so each line-month
    portion is one exact BIGINT product divided once by the span
    length; the per-month float sums are the documented q24 class,
    absorbed by the fround pair. The empty-FILTER month coalesces to
    0.0 (the q272 NULL-vs-[] lesson, scalar form).

    Scale: the explode multiplies rows by the span's month count
    (bounded by the date domain, ~84), then immediately funnels into
    a month-grain groupBy — map-side combine reduces each partition
    to ≤ |months| rows before the one shuffle; no window anywhere.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"],
    )
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderdate"])
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("net4"),
        F.least("o_orderdate", "l_shipdate").alias("d0"),
        F.greatest("o_orderdate", "l_shipdate").alias("d1"),
        (
            F.datediff(
                F.greatest("o_orderdate", "l_shipdate"),
                F.least("o_orderdate", "l_shipdate"),
            )
            + 1
        ).alias("td"),
    )
    # r13 optimization (guide §2.5 input skew): when lineitem's layout
    # can't parallelize the scan (one row group locally), the ~28x
    # month explode + calendar math below would run as a single task.
    # Round-robin the compact 4-column pre-explode frame (~30 B/row)
    # only in that case; at scale the guard is a no-op. Measured
    # 11.9 s -> 1.8 s (OPTIMIZATION_r13.md). Result-identical: the
    # month-grain float sums are the order-free q24 class.
    j = parallelize_scan(spark, j, sf_dir, "lineitem")
    ex = j.select(
        "net4", "d0", "d1", "td",
        F.explode(
            F.sequence(
                F.trunc("d0", "MM"),
                F.trunc("d1", "MM"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("mstart"),
    )
    portion = (
        F.col("net4")
        * (
            F.datediff(
                F.least(F.col("d1"), F.last_day(F.col("mstart"))),
                F.greatest(F.col("d0"), F.col("mstart")),
            )
            + 1
        )
    ).cast("double") / F.col("td")
    seg = ex.select(
        F.date_format("mstart", "yyyy-MM").alias("month"),
        (F.col("mstart") > F.trunc("d0", "MM")).alias("carry"),
        portion.alias("portion"),
    )
    return seg.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_line_months"),
        fround(F.sum("portion") / 10000.0, 2).alias("recognized_rev"),
        fround(
            F.coalesce(
                F.sum(F.when(F.col("carry"), F.col("portion"))), F.lit(0.0)
            )
            / 10000.0,
            2,
        ).alias("carryover_rev"),
    )


@query(
    "q353_transition_predictability",
    tags=("timeseries", "sequence", "statistics"),
    oracle="""
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS prev_type, next_type,
         CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT prev_type, CAST(sum(c) AS BIGINT) AS t,
         CAST(max(c) AS BIGINT) AS cmax
  FROM pairs GROUP BY prev_type
)
SELECT p.prev_type,
       t AS n_transitions,
       round(sum(-(CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t))
             + 1e-9, 6) AS entropy_nats,
       round(CAST(cmax AS DOUBLE) / t + 1e-9, 6) AS top_share,
       min(CASE WHEN c = cmax THEN next_type END) AS top_next
FROM pairs p JOIN tot USING (prev_type)
GROUP BY p.prev_type, t, cmax
""",
)
def q353_transition_predictability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Next-event predictability per prior event type: the Shannon
    entropy of each row of q138's transition matrix, the modal next
    event and its share. Low entropy + high top_share = a transition
    worth prefetching/caching for; entropy near ln(|types|) = the
    prior type carries no signal. The per-row summary q138's raw
    matrix makes the reader compute by eye.

    Exactness: transition counts are exact integers from the
    user-partitioned (ts, event_id)-ordered lead (total order per
    footgun 6); every entropy term is -(c/t)*ln(c/t) on an
    integer-count ratio (rule 5), c >= 1 by construction so 0*ln0
    never arises (the q188 rule satisfied structurally); the <=5-term
    float sum sits far inside fround-6 absorption. The modal type
    needs no argmax tie-break machinery: min(next_type) over the
    c = cmax slice IS the deterministic tie-break (footgun 6).

    Scale: one user-partitioned lag pass (the q138 shuffle), then
    everything lives on the <=|types|^2 = 25-cell frame with the
    5-row totals broadcast back.
    """
    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_type", "ts", "event_id"]
    )
    pairs = transition_counts(event_transitions(ev))
    tot = pairs.groupBy("prev_type").agg(
        F.sum("c").cast("bigint").alias("t"),
        F.max("c").cast("bigint").alias("cmax"),
    )
    p = F.col("c").cast("double") / F.col("t")
    return (
        pairs.join(F.broadcast(tot), "prev_type")
        .groupBy("prev_type", "t", "cmax")
        .agg(
            F.sum((-p) * F.log(p)).alias("h"),
            F.min(
                F.when(F.col("c") == F.col("cmax"), F.col("next_type"))
            ).alias("top_next"),
        )
        .select(
            "prev_type",
            F.col("t").alias("n_transitions"),
            fround(F.col("h"), 6).alias("entropy_nats"),
            fround(F.col("cmax").cast("double") / F.col("t"), 6).alias(
                "top_share"
            ),
            "top_next",
        )
    )


#: Oracle CTEs for the per-type offered load: event hours, the span
#: in hours, and events per type.
_HOURLY_LOAD_CTES = """hrs AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, event_type
  FROM events
), span AS (
  SELECT CAST(max(h) - min(h) + 1 AS BIGINT) AS span_h FROM hrs
), byt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n
  FROM hrs GROUP BY event_type
)"""


def _offered_load(ev: DataFrame) -> DataFrame:
    """``(event_type, n, span_h, a)``: events per type over the global
    hour span, and the offered load ``a`` in erlangs at 30 services
    per handler-hour (oracle side: ``_HOURLY_LOAD_CTES``)."""
    hrs = ev.select(
        F.floor(F.col("ts").cast("double") / 3600).cast("bigint").alias("h"),
        "event_type",
    ).localCheckpoint(eager=False)  # span + per-type branches
    span = hrs.agg(
        (F.max("h") - F.min("h") + 1).cast("bigint").alias("span_h")
    )
    byt = hrs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return byt.crossJoin(F.broadcast(span)).withColumn(
        "a",
        F.col("n").cast("double")
        / (F.col("span_h").cast("double") * F.lit(30.0)),
    )


@query(
    "q358_erlang_staffing_planner",
    tags=("timeseries", "queueing", "capacity", "planning"),
    oracle=f"""
WITH {_HOURLY_LOAD_CTES}, base AS (
  SELECT event_type, n, span_h,
         CAST(n AS DOUBLE) / (CAST(span_h AS DOUBLE) * 30.0) AS a
  FROM byt CROSS JOIN span
), e1 AS (SELECT *, a AS t1 FROM base),
e2 AS (SELECT *, t1 * a / 2.0 AS t2 FROM e1),
e3 AS (SELECT *, t2 * a / 3.0 AS t3 FROM e2),
e4 AS (SELECT *, t3 * a / 4.0 AS t4 FROM e3),
e5 AS (SELECT *, t4 * a / 5.0 AS t5 FROM e4),
e6 AS (SELECT *, t5 * a / 6.0 AS t6 FROM e5),
e7 AS (SELECT *, t6 * a / 7.0 AS t7 FROM e6),
ec AS (
  SELECT *, t7 * a / 8.0 AS tc,
         1.0 + t1 + t2 + t3 + t4 + t5 + t6 + t7 AS s
  FROM e7
), fin AS (
  SELECT event_type, n, span_h, a, tc, s,
         CASE WHEN a < 8.0
              THEN (tc * (8.0 / (8.0 - a)))
                   / (s + tc * (8.0 / (8.0 - a)))
              ELSE 1.0 END AS pw
  FROM ec
)
SELECT event_type, n AS n_events, span_h,
       round(CAST(n AS DOUBLE) / CAST(span_h AS DOUBLE) + 1e-9, 4)
         AS lambda_hr,
       round(a + 1e-9, 6) AS offered_load,
       round(a / 8.0 + 1e-9, 6) AS utilization,
       round(pw + 1e-9, 6) AS wait_probability,
       round(CASE WHEN a < 8.0
                  THEN pw * 60.0
                       / (240.0 - CAST(n AS DOUBLE) / CAST(span_h AS DOUBLE))
                  ELSE NULL END + 1e-9, 4) AS avg_wait_minutes,
       a >= 8.0 AS understaffed
FROM fin
""",
)
def q358_erlang_staffing_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Erlang-C staffing planner per event type: treat each type's
    event stream as an M/M/c arrival process (c = 8 handlers, service
    rate 30/hour each) and compute the offered load, utilization, the
    Erlang-C probability an arrival waits, and the mean queueing delay
    — the closed-form capacity math a support/ops team runs BEFORE
    q286's empirical backlog curve tells them they were understaffed.
    The queueing family's analytic member (q286 is the trace-driven
    one).

    Exactness: lambda is an integer-count ratio over the global hour
    span; the factorial series a^k/k! is built by the SEQUENTIAL
    recurrence t_k = t_{k-1} * a / k with one projection per step on
    both engines (each CTE/withColumn binds its term, so the
    float-operation ORDER is pinned — never pow(), whose libm results
    are not cross-engine ulp-stable, the q344 rule). The final
    expressions are identically parenthesized; a >= c rows degrade to
    wait_probability 1 and NULL delay on both sides.

    Scale: one fact pass to the per-type counts plus a broadcast
    1-row span; the series runs on the 5-row type frame.
    """
    ev = read_table(spark, sf_dir, "events", ["ts", "event_type"])
    base = _offered_load(ev)
    cur = base.withColumn("t1", F.col("a"))
    for k in range(2, 8):
        cur = cur.withColumn(
            f"t{k}", F.col(f"t{k-1}") * F.col("a") / F.lit(float(k))
        )
    ec = cur.withColumn(
        "tc", F.col("t7") * F.col("a") / F.lit(8.0)
    ).withColumn(
        "s",
        F.lit(1.0) + F.col("t1") + F.col("t2") + F.col("t3")
        + F.col("t4") + F.col("t5") + F.col("t6") + F.col("t7"),
    )
    croom = F.lit(8.0) / (F.lit(8.0) - F.col("a"))
    fin = ec.withColumn(
        "pw",
        F.when(
            F.col("a") < 8.0,
            (F.col("tc") * croom) / (F.col("s") + F.col("tc") * croom),
        ).otherwise(F.lit(1.0)),
    )
    lam = F.col("n").cast("double") / F.col("span_h").cast("double")
    return fin.select(
        "event_type",
        F.col("n").alias("n_events"),
        "span_h",
        fround(lam, 4).alias("lambda_hr"),
        fround(F.col("a"), 6).alias("offered_load"),
        fround(F.col("a") / F.lit(8.0), 6).alias("utilization"),
        fround(F.col("pw"), 6).alias("wait_probability"),
        fround(
            F.when(
                F.col("a") < 8.0,
                F.col("pw") * F.lit(60.0) / (F.lit(240.0) - lam),
            ),
            4,
        ).alias("avg_wait_minutes"),
        (F.col("a") >= 8.0).alias("understaffed"),
    )


def _stationary_chain_sql(src: str, n_rounds: int) -> str:
    """Oracle CTEs ``seq`` .. ``pi{n_rounds}`` over the events in
    ``src``: transition counts, totals and matrix, then ``n_rounds``
    unrolled power-iteration rounds from the uniform start (engine
    side: ``operators.markov.stationary_shares``). MATERIALIZED per
    the q241/q350 lattice-unroll discipline."""
    parts = [
        f"""
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM {src}
), pairs AS MATERIALIZED (
  SELECT event_type AS prev_type, next_type,
         CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
), tot AS MATERIALIZED (
  SELECT prev_type, CAST(sum(c) AS BIGINT) AS t FROM pairs GROUP BY 1
), pmat AS MATERIALIZED (
  SELECT p.prev_type, p.next_type, CAST(c AS DOUBLE) / t AS p
  FROM pairs p JOIN tot USING (prev_type)
), types AS MATERIALIZED (
  SELECT prev_type AS ty, CAST(count(*) OVER () AS BIGINT) AS k FROM tot
), pi0 AS MATERIALIZED (
  SELECT ty, 1.0 / k AS pi FROM types
)"""
    ]
    for i in range(1, n_rounds + 1):
        p = i - 1
        parts.append(
            f""", pi{i} AS MATERIALIZED (
  SELECT m.next_type AS ty, sum(pi * p) AS pi
  FROM pi{p} v JOIN pmat m ON m.prev_type = v.ty
  GROUP BY m.next_type
)"""
        )
    return "".join(parts)


def _q362_oracle(n_rounds: int = 12) -> str:
    """Unrolled power-iteration oracle on the |types|x|types| transition
    matrix. Each round references the prior pi once and the matrix
    once."""
    parts = [_stationary_chain_sql("events", n_rounds)]
    last, prev = n_rounds, n_rounds - 1
    parts.append(
        f""", delta AS (
  SELECT sum(abs(a.pi - b.pi)) AS l1_delta
  FROM pi{last} a JOIN pi{prev} b USING (ty)
)
SELECT a.ty AS event_type,
       round(a.pi + 1e-9, 8) AS stationary_share,
       round(CAST(t AS DOUBLE)
             / (SELECT sum(t) FROM tot) + 1e-9, 8) AS observed_share,
       round((SELECT l1_delta FROM delta) + 1e-9, 8) AS l1_delta
FROM pi{last} a JOIN tot ON tot.prev_type = a.ty"""
    )
    return "".join(parts)


@query(
    "q362_markov_stationary_mix",
    tags=("timeseries", "iterative", "statistics"),
    oracle=_q362_oracle(12),
)
def q362_markov_stationary_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain (q138's
    matrix) by 12 unrolled power-iteration rounds from the uniform
    start, next to the OBSERVED type mix — the long-run load forecast
    under current navigation behavior: a type whose stationary share
    exceeds its observed share is still accumulating traffic; l1_delta
    between rounds 11 and 12 certifies convergence in-band (the q241
    convergence-reported pattern). Completes the bounded-frame
    iterative family (q254 does removal-effect absorption; this is
    the plain ergodic limit).

    Exactness: transition probabilities are integer-count ratios
    (rule 5, deterministic doubles); each round is one 25-cell join +
    5-row groupBy, and stochastic-matrix multiplication is
    L1-non-expanding, so cross-engine float-order noise cannot
    amplify across 12 rounds — fround-8 absorbs it. The oracle
    unrolls the SAME 12 rounds with MATERIALIZED CTEs.

    Scale: the fact-table pass is q353's user-partitioned lead;
    every iteration lives on the bounded |types|^2 frame (no
    checkpoint needed — the lineage is 12 joins over a 25-row frame).
    """
    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_type", "ts", "event_id"]
    )
    pairs = transition_counts(event_transitions(ev)).localCheckpoint(
        eager=False
    )  # matrix + totals + 12 rounds
    tot = pairs.groupBy("prev_type").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    pi, prev_pi = stationary_shares(pairs, tot)
    delta = (
        pi.join(
            prev_pi.select(F.col("ty"), F.col("pi").alias("pi_prev")), "ty"
        )
        .agg(F.sum(F.abs(F.col("pi") - F.col("pi_prev"))).alias("l1_delta"))
    )
    gt = tot.agg(F.sum("t").cast("bigint").alias("gt"))
    return (
        pi.join(tot, pi.ty == tot.prev_type)
        .crossJoin(F.broadcast(gt))
        .crossJoin(F.broadcast(delta))
        .select(
            F.col("ty").alias("event_type"),
            fround(F.col("pi"), 8).alias("stationary_share"),
            fround(F.col("t").cast("double") / F.col("gt"), 8).alias(
                "observed_share"
            ),
            fround(F.col("l1_delta"), 8).alias("l1_delta"),
        )
    )


@query(
    "q368_slo_burn_rate_alerts",
    tags=("timeseries", "monitoring", "quality"),
    oracle="""
WITH ev AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
  FROM events
), hourly AS (
  SELECT h, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(is_err) AS BIGINT) AS e
  FROM ev GROUP BY h
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(e) AS BIGINT) AS et
  FROM hourly
), w6 AS (
  SELECT t.h + off AS h, CAST(sum(t.n) AS BIGINT) AS n6,
         CAST(sum(t.e) AS BIGINT) AS e6
  FROM hourly t CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS off)
  GROUP BY 1
), joined AS (
  SELECT hourly.h, n, e, n6, e6, nt, et
  FROM hourly JOIN w6 USING (h) CROSS JOIN tot
)
SELECT h AS hour_num, n AS n_1h, e AS e_1h, n6 AS n_6h, e6 AS e_6h,
       round(CAST(e AS DOUBLE) * nt / (n * et) + 1e-9, 4) AS burn_1h,
       round(CAST(e6 AS DOUBLE) * nt / (n6 * et) + 1e-9, 4) AS burn_6h
FROM joined
""",
)
def q368_slo_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate series (the Google SRE alerting
    construction): per hour, the error-rate burn relative to the
    corpus-wide base rate over BOTH a 1-hour and a trailing 6-hour
    window — paging on the fast window alone is noisy, on the slow
    window alone is late; the standard rule requires both elevated.
    Self-calibrated to the corpus base rate (the q296 lesson: fixed
    thresholds sized to someone else's traffic fire always or never
    on synthetic cadence).

    The 6-hour rolling sums use the q146/q360 contribution explode
    (x6 on the HOURLY grain — never a window function, no gap
    blindness: missing hours contribute zero on both engines).

    Exactness: counts and both window sums are exact BIGINTs; burn
    ratios are integer-ratio doubles (rule 5), rounded. Alert
    DECISIONS are deliberately left to the consumer as exact integer
    cross-multiplications (e.g. page when e_1h*nt >= 2*n_1h*et AND
    e_6h*nt >= 3*(n_6h*et)/2) — shipping the raw integers makes any
    threshold engine-exact downstream.

    Scale: one fact pass to the hour grain; everything after is
    hour-count-sized.
    """
    ev = read_table(spark, sf_dir, "events", ["ts", "event_type"])
    hourly = (
        ev.select(
            F.floor(F.col("ts").cast("double") / 3600)
            .cast("bigint")
            .alias("h"),
            F.when(F.col("event_type") == "error", 1)
            .otherwise(0)
            .alias("is_err"),
        )
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("is_err").cast("bigint").alias("e"),
        )
        .localCheckpoint(eager=False)  # totals + 1h + 6h branches
    )
    tot = hourly.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("e").cast("bigint").alias("et"),
    )
    w6 = (
        hourly.select(
            "n", "e",
            F.explode(F.sequence(F.col("h"), F.col("h") + 5)).alias("h"),
        )
        .groupBy("h")
        .agg(
            F.sum("n").cast("bigint").alias("n6"),
            F.sum("e").cast("bigint").alias("e6"),
        )
    )
    joined = hourly.join(w6, "h").crossJoin(F.broadcast(tot))
    return joined.select(
        F.col("h").alias("hour_num"),
        F.col("n").alias("n_1h"),
        F.col("e").alias("e_1h"),
        F.col("n6").alias("n_6h"),
        F.col("e6").alias("e_6h"),
        fround(
            F.col("e").cast("double") * F.col("nt")
            / (F.col("n") * F.col("et")),
            4,
        ).alias("burn_1h"),
        fround(
            F.col("e6").cast("double") * F.col("nt")
            / (F.col("n6") * F.col("et")),
            4,
        ).alias("burn_6h"),
    )


@query(
    "q377_markov_order_test",
    tags=("timeseries", "sequence", "markov", "statistics"),
    oracle="""
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS to_type
  FROM events
), trans AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
), rt AS (
  SELECT from_type, CAST(sum(c) AS BIGINT) AS r FROM trans GROUP BY 1
), ct AS (
  SELECT to_type, CAST(sum(c) AS BIGINT) AS t FROM trans GROUP BY 1
), nt AS (
  SELECT CAST(sum(c) AS BIGINT) AS nn,
         CAST(count(DISTINCT from_type) AS BIGINT) AS kf,
         CAST(count(DISTINCT to_type) AS BIGINT) AS kt
  FROM trans
), cells AS (
  SELECT tr.from_type, tr.to_type, tr.c, rt.r, ct.t, nt.nn, nt.kf, nt.kt,
         (CAST(rt.r AS DOUBLE) * ct.t) / nt.nn AS e,
         (2.0 * tr.c)
           * ln((CAST(tr.c AS DOUBLE) * nt.nn)
                / (CAST(rt.r AS DOUBLE) * ct.t)) AS g
  FROM trans tr
  JOIN rt USING (from_type) JOIN ct USING (to_type) CROSS JOIN nt
), tot AS (
  SELECT sum(g) AS gsum, max((kf - 1) * (kt - 1)) AS df FROM cells
)
SELECT from_type, to_type, c AS n_trans,
       round(e + 1e-9, 6) AS expected_indep,
       round(g + 1e-9, 6) + 0 AS g_contrib,
       round(gsum + 1e-9, 6) AS g_stat,
       CAST(df AS BIGINT) AS df,
       CASE WHEN df = 16 THEN round(gsum + 1e-9, 6) > 26.296
            ELSE NULL END AS reject_order0
FROM cells, tot
""",
)
def q377_markov_order_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio (G) test of Markov order 1 vs order 0 on the
    q138 transition matrix — the hypothesis test behind q289/q353/
    q362, which all ASSUME the prior event type carries signal; this
    measures it: G = 2*sum c_ij * ln(c_ij*N / (r_i*t_j)) is twice the
    mutual information (in nats) between consecutive event types times
    N, chi-square with (k_from-1)(k_to-1) degrees of freedom when the
    stream is actually order-0 (Anderson & Goodman 1957). Per-cell
    rows show WHERE the memory lives (g_contrib > 0 = attraction,
    < 0 = repulsion vs independence); the 5%-level decision is
    emitted for the full 5x5 case (df=16, critical 26.296) and NULL
    for degenerate matrices whose critical value would differ.

    Exactness: every ln argument is a ratio of two cast-ONCE double
    products of exact BIGINTs (c*N and r*t — the q204 rule, never a
    BIGINT cross-product that would overflow at sf ~100); the <= k^2
    cell sum lands far inside fround-6; the reject flag compares the
    ROUNDED statistic to the literal (q228 convention); g_contrib can
    round to zero from below -> `+ 0` (footgun 9).

    Scale: one user-keyed shuffle for the lead (q138's plan), then
    everything lives on the bounded |types|^2 transition frame.
    """
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"]
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    trans = (
        seq.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # row/col/total branches
    )
    rt = trans.groupBy("from_type").agg(
        F.sum("c").cast("bigint").alias("r")
    )
    ct = trans.groupBy("to_type").agg(F.sum("c").cast("bigint").alias("t"))
    nt = trans.agg(
        F.sum("c").cast("bigint").alias("nn"),
        F.countDistinct("from_type").cast("bigint").alias("kf"),
        F.countDistinct("to_type").cast("bigint").alias("kt"),
    )
    cells = (
        trans.join(F.broadcast(rt), "from_type")
        .join(F.broadcast(ct), "to_type")
        .crossJoin(F.broadcast(nt))
        .select(
            "from_type", "to_type", "c", "r", "t", "nn", "kf", "kt",
            ((F.col("r").cast("double") * F.col("t")) / F.col("nn")).alias(
                "e"
            ),
            (
                (F.lit(2.0) * F.col("c"))
                * F.log(
                    (F.col("c").cast("double") * F.col("nn"))
                    / (F.col("r").cast("double") * F.col("t"))
                )
            ).alias("g"),
        )
        .localCheckpoint(eager=False)  # total + per-cell branches
    )
    tot = cells.agg(
        F.sum("g").alias("gsum"),
        F.max((F.col("kf") - 1) * (F.col("kt") - 1)).alias("df"),
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "from_type",
        "to_type",
        F.col("c").alias("n_trans"),
        fround(F.col("e"), 6).alias("expected_indep"),
        (fround(F.col("g"), 6) + F.lit(0.0)).alias("g_contrib"),
        fround(F.col("gsum"), 6).alias("g_stat"),
        F.col("df").cast("bigint").alias("df"),
        F.when(
            F.col("df") == 16, fround(F.col("gsum"), 6) > 26.296
        ).otherwise(F.lit(None).cast("boolean")).alias("reject_order0"),
    )


def _q381_oracle(max_c: int = 12) -> str:
    """Erlang-B recurrence unrolled: B_0 = 1, B_k = a*B_{k-1} /
    (k + a*B_{k-1}), one CTE per step so the float-operation order is
    pinned on both engines (the q358 sequential-recurrence rule —
    never the factorial/pow closed form)."""
    steps = "".join(
        f""", b{k} AS (
  SELECT *, (a * b{k - 1}) / ({k}.0 + a * b{k - 1}) AS b{k} FROM b{k - 1}
)"""
        for k in range(1, max_c + 1)
    )
    when = " ".join(
        f"WHEN round(b{k} + 1e-9, 6) <= 0.02 THEN {k}"
        for k in range(1, max_c + 1)
    )
    return f"""
WITH {_HOURLY_LOAD_CTES}, b0 AS (
  SELECT event_type, n, span_h,
         CAST(n AS DOUBLE) / (CAST(span_h AS DOUBLE) * 30.0) AS a,
         CAST(1 AS DOUBLE) AS b0
  FROM byt CROSS JOIN span
){steps}
SELECT event_type, n AS n_events,
       round(a + 1e-9, 6) AS offered_load,
       round(b4 + 1e-9, 6) AS blocking_c4,
       round(b8 + 1e-9, 6) AS blocking_c8,
       round(b{max_c} + 1e-9, 6) AS blocking_c{max_c},
       CAST(CASE {when} END AS BIGINT) AS min_servers_2pct
FROM b{max_c}
"""


@query(
    "q381_erlang_blocking_ladder",
    tags=("timeseries", "queueing", "capacity", "planning"),
    oracle=_q381_oracle(12),
)
def q381_erlang_blocking_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Erlang-B blocking-probability ladder per event type — the LOSS-
    system companion to q358's Erlang-C wait model (M/M/c/c: an
    arrival finding all c servers busy is DROPPED, not queued — the
    right model for connection pools, rate limiters, and trunk
    capacity, where q358 models ticket queues). Per type: the offered
    load a (same 30/hour service convention as q358), the blocking
    probability at c = 4/8/12 servers, and the smallest c in 1..12
    whose blocking is <= 2% — the provisioning answer.

    Exactness: B_k is built by the SEQUENTIAL recurrence
    B_k = a*B_{k-1} / (k + a*B_{k-1}) with one projection per step on
    both engines (q358's rule: the recurrence pins float-operation
    order; the a^c/c! closed form via pow() is not cross-engine
    ulp-stable). The 2% threshold compares the 6-dp ROUNDED B_k (the
    q348/q359 rule: never order or branch on a raw float), so the
    ladder selection is identical on both engines; no ladder level
    qualifying yields NULL.

    Scale: one fact pass to per-type counts + a broadcast 1-row span;
    the 12-step recurrence runs on the 5-row type frame.
    """
    ev = read_table(spark, sf_dir, "events", ["ts", "event_type"])
    cur = _offered_load(ev).withColumn("b0", F.lit(1.0))
    max_c = 12
    for k in range(1, max_c + 1):
        ab = F.col("a") * F.col(f"b{k - 1}")
        cur = cur.withColumn(f"b{k}", ab / (F.lit(float(k)) + ab))
    ladder = F.lit(None).cast("bigint")
    sel = None
    for k in range(1, max_c + 1):
        cond = fround(F.col(f"b{k}"), 6) <= 0.02
        sel = F.when(cond, k) if sel is None else sel.when(cond, k)
    return cur.select(
        "event_type",
        F.col("n").alias("n_events"),
        fround(F.col("a"), 6).alias("offered_load"),
        fround(F.col("b4"), 6).alias("blocking_c4"),
        fround(F.col("b8"), 6).alias("blocking_c8"),
        fround(F.col(f"b{max_c}"), 6).alias(f"blocking_c{max_c}"),
        sel.otherwise(ladder).cast("bigint").alias("min_servers_2pct"),
    )


def _q400_oracle(n_steps: int = 6) -> str:
    """Unrolled max-plus Viterbi oracle (the q125/q299/q362 lattice
    discipline): one bp/v CTE pair per forward step, a terminal pick,
    and one backward CTE per step — every CTE MATERIALIZED (q241
    lesson: a CTE referenced per unroll round inflates exponentially
    otherwise). All scores are exact BIGINT ppm log-probs, so the
    per-cell argmax and its (score DESC, prev-state ASC) tie-break are
    engine-exact — the q384 fixed-point rule applied to Viterbi."""
    head = """
WITH ev AS MATERIALIZED (
  SELECT user_id, event_id, ts, event_type,
         CAST(round(value * 100 + 1e-9) AS BIGINT) AS cents
  FROM events
), seqed AS MATERIALIZED (
  SELECT user_id, event_type,
         CASE WHEN cents < 1000 THEN 0 WHEN cents < 5000 THEN 1
              WHEN cents < 15000 THEN 2 ELSE 3 END AS bucket,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS t,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM ev
), types AS MATERIALIZED (
  SELECT DISTINCT event_type AS state FROM ev
), tc AS MATERIALIZED (
  SELECT event_type AS from_type, to_type, count(*) AS n
  FROM seqed WHERE to_type IS NOT NULL GROUP BY 1, 2
), tn AS MATERIALIZED (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS nf FROM tc GROUP BY 1
), tprob AS MATERIALIZED (
  SELECT a.state AS prev_state, b.state AS state,
         CAST(round(ln(CAST(COALESCE(tc.n, 0) + 1 AS DOUBLE)
                       / (COALESCE(tn.nf, 0) + 5)) * 1000000.0 + 1e-9)
              AS BIGINT) AS lp
  FROM types a
  CROSS JOIN types b
  LEFT JOIN tc ON tc.from_type = a.state AND tc.to_type = b.state
  LEFT JOIN tn ON tn.from_type = a.state
), ic AS MATERIALIZED (
  SELECT event_type, count(*) AS n FROM seqed WHERE t = 1 GROUP BY 1
), nu AS MATERIALIZED (
  SELECT CAST(sum(n) AS BIGINT) AS nu FROM ic
), iprob AS MATERIALIZED (
  SELECT ty.state,
         CAST(round(ln(CAST(COALESCE(ic.n, 0) + 1 AS DOUBLE)
                       / (nu.nu + 5)) * 1000000.0 + 1e-9) AS BIGINT) AS lp
  FROM types ty
  LEFT JOIN ic ON ic.event_type = ty.state
  CROSS JOIN nu
), ec AS MATERIALIZED (
  SELECT event_type, bucket, count(*) AS n FROM seqed GROUP BY 1, 2
), et AS MATERIALIZED (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS nt FROM ec GROUP BY 1
), eprob AS MATERIALIZED (
  SELECT ty.state, b.bucket,
         CAST(round(ln(CAST(COALESCE(ec.n, 0) + 1 AS DOUBLE)
                       / (COALESCE(et.nt, 0) + 4)) * 1000000.0 + 1e-9)
              AS BIGINT) AS lp
  FROM types ty
  CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(bucket)
  LEFT JOIN ec ON ec.event_type = ty.state AND ec.bucket = b.bucket
  LEFT JOIN et ON et.event_type = ty.state
), eligible AS MATERIALIZED (
  SELECT user_id FROM seqed GROUP BY user_id
  HAVING max(t) >= {T}
), emis AS MATERIALIZED (
  SELECT s.user_id, s.t, e.state, e.lp
  FROM seqed s
  JOIN eligible USING (user_id)
  JOIN eprob e ON e.bucket = s.bucket
  WHERE s.t <= {T}
), v1 AS MATERIALIZED (
  SELECT m.user_id, m.state, m.lp + i.lp AS score
  FROM emis m JOIN iprob i ON i.state = m.state
  WHERE m.t = 1
)""".replace("{T}", str(n_steps))
    parts = [head]
    for t in range(2, n_steps + 1):
        parts.append(
            f""", bp{t} AS MATERIALIZED (
  SELECT user_id, state, prev_state, score FROM (
    SELECT v.user_id, tr.state, v.state AS prev_state,
           v.score + tr.lp AS score,
           row_number() OVER (
             PARTITION BY v.user_id, tr.state
             ORDER BY v.score + tr.lp DESC, v.state ASC
           ) AS rn
    FROM v{t - 1} v JOIN tprob tr ON tr.prev_state = v.state
  ) WHERE rn = 1
), v{t} AS MATERIALIZED (
  SELECT b.user_id, b.state, b.score + m.lp AS score
  FROM bp{t} b
  JOIN emis m
    ON m.user_id = b.user_id AND m.state = b.state AND m.t = {t}
)"""
        )
    parts.append(
        f""", term AS MATERIALIZED (
  SELECT user_id, state, score FROM (
    SELECT user_id, state, score,
           row_number() OVER (
             PARTITION BY user_id ORDER BY score DESC, state ASC
           ) AS rn
    FROM v{n_steps}
  ) WHERE rn = 1
), p{n_steps} AS MATERIALIZED (
  SELECT user_id, {n_steps} AS t, state, score AS plp FROM term
)"""
    )
    for t in range(n_steps, 1, -1):
        parts.append(
            f""", p{t - 1} AS MATERIALIZED (
  SELECT p.user_id, {t - 1} AS t, b.prev_state AS state, p.plp
  FROM p{t} p
  JOIN bp{t} b ON b.user_id = p.user_id AND b.state = p.state
)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT * FROM p{t}" for t in range(1, n_steps + 1)
    )
    parts.append(
        f"""
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(t AS BIGINT) AS t,
       state,
       CAST(plp AS BIGINT) AS path_logp_ppm
FROM (
  {union}
)"""
    )
    return "".join(parts)


def _ppm_log(p):
    """ln(p) quantized to exact BIGINT millionths — the q384
    fixed-point discipline. Cross-engine: Spark's Math.log and
    DuckDB's libm ln may differ in the last ulp, but the ppm grid is
    ~6 orders of magnitude coarser, so both engines land on the same
    integer (the +1e-9 nudge covers the rounding-rule difference at
    the vanishing set of boundary cells)."""
    return F.round(F.log(p) * F.lit(1000000.0) + F.lit(1e-9), 0).cast(
        "bigint"
    )


@query(
    "q400_viterbi_regime_decode",
    tags=("timeseries", "markov", "viterbi", "iterative"),
    oracle=_q400_oracle(6),
)
def q400_viterbi_regime_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-likely hidden-regime path per user over their first six
    events — exact Viterbi decode (operators/markov.py::viterbi_paths,
    the max-plus sibling of the q125/q299/q362 unrolled message-passing
    family) under a corpus-estimated HMM: hidden states are the five
    event types, observations are four fixed value buckets (exact
    cents thresholds), and the model is Laplace-smoothed empirical
    counts — init from each user's first event type, transitions from
    q138's per-user lead pairs, emissions from the (type, bucket)
    contingency table. Every log-prob is quantized ONCE to BIGINT ppm,
    so the entire max-plus recursion (additions, argmax comparisons,
    tie-breaks toward the lexicographically smallest state) is exact
    integer arithmetic on both engines — no float accumulates across
    rounds (the q384 rule; see _ppm_log for the one quantization
    point).

    Scale: one user-keyed window pass builds rank + lead together (one
    shuffle, q351 shared-window rule); the model frames are k=5 /
    k²=25 / 5×4=20 rows, broadcast everywhere they touch data-sized
    frames; each of the 5 forward rounds is one broadcast join + one
    grouped max-struct on the (users × 5) rolling frame with lineage
    truncated per round inside the operator; the backward pass joins
    the users-grain head against the checkpointed backpointer frames.
    The only data-sized axes are |users| and |events| — exactly the
    shape that survives 100×. Reference parity: decodes the regime
    chain the reference's per-play state heuristics eyeball
    (src/metrics/deception.py's segment logic is the change-point
    cousin); the operator itself is brute-force-pinned in
    tests/test_session10_properties.py."""
    from pyspark.sql import Window

    from ...operators.markov import viterbi_paths

    n_steps = 6
    ev = read_table(
        spark,
        sf_dir,
        "events",
        ["user_id", "event_id", "ts", "event_type", "value"],
    )
    base = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.round(F.col("value") * 100 + F.lit(1e-9), 0)
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seqed = (
        base.select(
            "user_id",
            "event_type",
            F.when(F.col("cents") < 1000, 0)
            .when(F.col("cents") < 5000, 1)
            .when(F.col("cents") < 15000, 2)
            .otherwise(3)
            .alias("bucket"),
            F.row_number().over(w).alias("t"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        # feeds types/trans/init/emit counts AND the observation frame
        .localCheckpoint(eager=False)
    )
    types = (
        seqed.select(F.col("event_type").alias("state"))
        .distinct()
        .localCheckpoint(eager=False)  # k rows, referenced 4x
    )

    pairs = seqed.where(F.col("to_type").isNotNull()).select(
        F.col("event_type").alias("from_type"), "to_type"
    )
    tc = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tn = tc.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("nf"))
    grid = types.select(F.col("state").alias("prev_state")).crossJoin(types)
    trans = (
        grid.join(
            F.broadcast(
                tc.withColumnsRenamed(
                    {"from_type": "prev_state", "to_type": "state"}
                )
            ),
            ["prev_state", "state"],
            "left",
        )
        .join(
            F.broadcast(tn.withColumnRenamed("from_type", "prev_state")),
            "prev_state",
            "left",
        )
        .select(
            "prev_state",
            "state",
            _ppm_log(
                (F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("nf"), F.lit(0)) + 5)
            ).alias("logp"),
        )
        .localCheckpoint(eager=False)  # k² rows, referenced per round
    )

    ic = (
        seqed.where(F.col("t") == 1)
        .groupBy(F.col("event_type").alias("state"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nu = ic.agg(F.sum("n").cast("bigint").alias("nu"))
    init = (
        types.join(F.broadcast(ic), "state", "left")
        .crossJoin(F.broadcast(nu))
        .select(
            "state",
            _ppm_log(
                (F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double")
                / (F.col("nu") + 5)
            ).alias("logp"),
        )
        .localCheckpoint(eager=False)
    )

    ec = seqed.groupBy(F.col("event_type").alias("state"), "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    et = ec.groupBy("state").agg(F.sum("n").cast("bigint").alias("nt"))
    buckets = spark.range(4).select(F.col("id").cast("int").alias("bucket"))
    eprob = (
        types.crossJoin(buckets)
        .join(F.broadcast(ec), ["state", "bucket"], "left")
        .join(F.broadcast(et), "state", "left")
        .select(
            "state",
            "bucket",
            _ppm_log(
                (F.coalesce(F.col("n"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("nt"), F.lit(0)) + 4)
            ).alias("lp"),
        )
        .localCheckpoint(eager=False)
    )

    eligible = (
        seqed.groupBy("user_id")
        .agg(F.max("t").alias("mx"))
        .where(F.col("mx") >= n_steps)
        .select("user_id")
    )
    emis = (
        seqed.where(F.col("t") <= n_steps)
        .join(eligible, "user_id")
        .join(F.broadcast(eprob), "bucket")
        .select(
            F.col("user_id").alias("seq_id"),
            "t",
            "state",
            F.col("lp").alias("logp"),
        )
        # the operator slices this frame once per step
        .localCheckpoint(eager=False)
    )

    out = viterbi_paths(emis, trans, init, n_steps)
    return out.select(
        F.col("seq_id").alias("user_id"),
        F.col("t").cast("bigint").alias("t"),
        "state",
        F.col("path_logp").cast("bigint").alias("path_logp_ppm"),
    )


@query(
    "q401_page_hinkley_drift",
    tags=("timeseries", "monitoring", "drift"),
    oracle="""
WITH e AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * 100 + 1e-9) AS BIGINT) AS c
  FROM events
), s AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS sc,
         CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY event_type
), d AS (
  SELECT e.event_type, e.ts, e.event_id, s.n,
         s.n * e.c - s.sc - s.n * 50 AS dev
  FROM e JOIN s USING (event_type)
), w AS (
  SELECT event_type, n,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS rn,
         sum(dev) OVER (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS m
  FROM d
), ph AS (
  SELECT event_type, n, rn,
         m - min(m) OVER (PARTITION BY event_type ORDER BY rn
                          ROWS UNBOUNDED PRECEDING) AS x
  FROM w
)
SELECT event_type,
       CAST(min(n) AS BIGINT) AS n,
       round(CAST(max(x) AS DOUBLE) / (CAST(min(n) AS DOUBLE) * 100)
             + 1e-9, 4) AS max_ph_dollars,
       max(x) > min(n) * 200000 AS alarmed,
       CAST(min(CASE WHEN x > n * 200000 THEN rn END) AS BIGINT)
         AS first_alarm_n
FROM ph GROUP BY event_type
""",
)
def q401_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-drift monitor per event series — CUSUM's
    one-sided sibling (q191): the running sum of (value − mean − δ)
    deviations minus its own running minimum is the PH statistic; an
    excursion past λ flags a sustained upward mean shift that start/
    end comparisons miss. δ = $0.50 tolerance, λ = $2000 cumulative
    excess — sized to this corpus's √n excursion scale (measured max
    PH ≈ $920 / $2730 / $6460 at sf0.001/0.01/0.1, the q296 probe
    discipline), so alarms appear from sf0.01 up and the sf0.001 run
    exercises the no-alarm NULL path.

    Exactness: deviations are kept on the ×n integer-cents lattice
    (dev = n·cents − Σcents − n·δ), so the running sum, running min,
    PH excursion, threshold test, and first-alarm index are ALL exact
    BIGINT — no windowed float sum exists to diverge at the ulp (the
    q110/q191 caveat engineered away, like q384's ppm hazard).
    Overflow bound: |dev| ≤ n·max_cents ≈ 2^40 at sf1 and the
    monotone-worst prefix sum stays < 2^61 through sf100.

    Scale: one stats pass broadcast back, one per-series ordered
    window pass (rank + running sum + running min share one
    partition/order), one reduction — q191's exact shape."""
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["event_type", "ts", "event_id", "value"]
    )
    base = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100 + F.lit(1e-9), 0)
        .cast("bigint")
        .alias("c"),
    )
    stats = base.groupBy("event_type").agg(
        F.sum("c").alias("sc"), F.count(F.lit(1)).alias("n")
    )
    d = base.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "n",
        (
            F.col("n") * F.col("c") - F.col("sc") - F.col("n") * F.lit(50)
        ).alias("dev"),
    )
    order = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prefix = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walk = d.select(
        "event_type",
        "n",
        F.row_number().over(order).alias("rn"),
        F.sum("dev").over(prefix).alias("m"),
    )
    prefix_rn = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ph = walk.select(
        "event_type",
        "n",
        "rn",
        (F.col("m") - F.min("m").over(prefix_rn)).alias("x"),
    )
    return ph.groupBy("event_type").agg(
        F.min("n").cast("bigint").alias("n"),
        fround(
            F.max("x").cast("double") / (F.min("n").cast("double") * 100), 4
        ).alias("max_ph_dollars"),
        (F.max("x") > F.min("n") * F.lit(200000)).alias("alarmed"),
        F.min(F.when(F.col("x") > F.col("n") * F.lit(200000), F.col("rn")))
        .cast("bigint")
        .alias("first_alarm_n"),
    )


# SPRT constants, precomputed ONCE in Python and inlined as integer
# ppm literals on BOTH engines — no cross-engine ln() anywhere in the
# query. H0: p = 0.18 vs H1: p = 0.22 purchase rate; alpha = beta =
# 0.05 gives symmetric log boundaries +/- ln(19).
_SPRT_C1 = round(__import__("math").log(0.22 / 0.18) * 1_000_000)
_SPRT_C0 = round(__import__("math").log(0.78 / 0.82) * 1_000_000)
_SPRT_BOUND = round(__import__("math").log(19.0) * 1_000_000)


@query(
    "q402_sprt_sequential_ab",
    tags=("timeseries", "testing", "sequential"),
    oracle=f"""
WITH base AS (
  SELECT CASE WHEN {_hash16_sql('sprtarm', 'user_id')} < 32768
              THEN 'A' ELSE 'B' END AS arm,
         ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events
), llr AS (
  SELECT arm,
         row_number() OVER (PARTITION BY arm ORDER BY ts, event_id) AS rn,
         CAST({_SPRT_C0} AS BIGINT)
           * row_number() OVER (PARTITION BY arm ORDER BY ts, event_id)
         + CAST({_SPRT_C1 - _SPRT_C0} AS BIGINT)
           * CAST(sum(x) OVER (PARTITION BY arm ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr,
         x
  FROM base
)
SELECT arm,
       CAST(max(rn) AS BIGINT) AS n_total,
       CAST(sum(x) AS BIGINT) AS n_conversions,
       CAST(min(CASE WHEN llr >= {_SPRT_BOUND} OR llr <= -{_SPRT_BOUND}
                     THEN rn END) AS BIGINT) AS n_at_decision,
       CAST(min_by(llr, CASE WHEN llr >= {_SPRT_BOUND}
                               OR llr <= -{_SPRT_BOUND}
                             THEN rn END) AS BIGINT) AS llr_at_decision_ppm,
       CASE
         WHEN min(CASE WHEN llr >= {_SPRT_BOUND} OR llr <= -{_SPRT_BOUND}
                       THEN rn END) IS NULL THEN 'continue'
         WHEN min_by(llr, CASE WHEN llr >= {_SPRT_BOUND}
                                 OR llr <= -{_SPRT_BOUND}
                               THEN rn END) >= {_SPRT_BOUND}
           THEN 'accept_h1'
         ELSE 'accept_h0'
       END AS decision,
       CAST(max_by(llr, rn) AS BIGINT) AS llr_final_ppm
FROM llr GROUP BY arm
""",
)
def q402_sprt_sequential_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT over each A/B arm's event stream (hash-split users,
    the q127 seeded-md5 convention): test H0 p=0.18 vs H1 p=0.22
    purchase rate at alpha = beta = 0.05, reporting where each arm's
    log-likelihood random walk first exits the +/- ln(19) boundaries
    and what it decided — the SEQUENTIAL test that stops reading the
    stream early, next to q177's fixed-horizon Welch test.

    Exactness: Bernoulli LLR increments take only two values, so the
    whole walk collapses to llr_t = c0·t + (c1−c0)·s_t with s_t the
    prefix conversion count — c0/c1 and the boundary are Python-
    precomputed integer ppm literals inlined on BOTH engines (no
    in-engine ln at all), making every comparison, the first-crossing
    index, and the decision label exact integer arithmetic (q384/q400
    fixed-point discipline). The at-decision value rides a
    when()-nulled min_by key (the q378 max_by FILTER parity).

    Scale: one hash projection map-side, one per-arm ordered window
    pass (rank + prefix sum share the partition/order), one
    reduction to two rows."""
    from pyspark.sql import Window

    ev = read_table(
        spark, sf_dir, "events", ["user_id", "ts", "event_id", "event_type"]
    )
    base = ev.select(
        F.when(_hash16("sprtarm", F.col("user_id")) < 32768, "A")
        .otherwise("B")
        .alias("arm"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    order = Window.partitionBy("arm").orderBy("ts", "event_id")
    prefix = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    llr = base.select(
        "arm",
        "x",
        F.row_number().over(order).alias("rn"),
        (
            # ppm literals cast to BIGINT before the multiply: c0*rn
            # exceeds int32 past ~43k rows per arm (hit at sf0.1)
            F.lit(_SPRT_C0).cast("bigint") * F.row_number().over(order)
            + F.lit(_SPRT_C1 - _SPRT_C0).cast("bigint")
            * F.sum("x").over(prefix)
        ).alias("llr"),
    )
    crossed = (F.col("llr") >= _SPRT_BOUND) | (F.col("llr") <= -_SPRT_BOUND)
    dec_key = F.when(crossed, F.col("rn"))
    llr_at = F.min_by("llr", dec_key)
    n_at = F.min(dec_key)
    return llr.groupBy("arm").agg(
        F.max("rn").cast("bigint").alias("n_total"),
        F.sum("x").cast("bigint").alias("n_conversions"),
        n_at.cast("bigint").alias("n_at_decision"),
        llr_at.cast("bigint").alias("llr_at_decision_ppm"),
        F.when(n_at.isNull(), "continue")
        .when(llr_at >= _SPRT_BOUND, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
        F.max_by("llr", "rn").cast("bigint").alias("llr_final_ppm"),
    )


@query(
    "q412_allan_variance",
    tags=("timeseries", "stability", "statistics"),
    oracle=f"""
WITH {_IDX_GRID_CTES}, ms AS (
  SELECT unnest([1, 2, 4, 8, 16]) AS m
), blocks AS MATERIALIZED (
  SELECT ms.m, d.idx // ms.m AS blk,
         CAST(sum(d.x) AS BIGINT) AS s
  FROM dense d CROSS JOIN ms
  GROUP BY 1, 2
  HAVING count(*) = ms.m
), pairs AS (
  SELECT a.m, b.s - a.s AS diff
  FROM blocks a JOIN blocks b ON b.m = a.m AND b.blk = a.blk + 1
)
SELECT CAST(p.m AS BIGINT) AS m_hours,
       nb.n_blocks,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(diff * diff) AS BIGINT) AS sum_sq_diff,
       round(CAST(sum(diff * diff) AS DOUBLE)
             / (2.0 * count(*) * p.m * p.m) + 1e-9, 6) AS avar,
       round(sqrt(CAST(sum(diff * diff) AS DOUBLE)
             / (2.0 * count(*) * p.m * p.m)) + 1e-9, 6) AS adev
FROM pairs p
JOIN (SELECT m, CAST(count(*) AS BIGINT) AS n_blocks
      FROM blocks GROUP BY m) nb ON nb.m = p.m
GROUP BY p.m, nb.n_blocks
""",
)
def q412_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allan variance of the hourly event-count series over dyadic
    averaging windows (m = 1, 2, 4, 8, 16 hours) — the
    clock-stability statistic (two-sample variance of adjacent block
    means) that separates noise REGIMES: for white noise AVAR falls as
    1/m, for a random-walk / drifting rate it RISES with m, and a flat
    AVAR(m) means flicker — none of which a single global variance can
    distinguish. The ingest-rate stability audit next to q216's
    per-user burstiness and q401's Page-Hinkley drift alarm.

    Exactness: block SUMS of counts are exact BIGINTs on the dense
    hour spine (missing hours are true zeros — the q246 rule);
    adjacent-block differences and their squares stay exact BIGINT
    end-to-end (|diff| is bounded by the block's event count, so the
    q216 squared-gap overflow class needs hourly rates beyond ~3e6/h
    before Σdiff² nears int64 — document-checked, not data-possible
    here); only the final division is float, as one fixed expression.
    Trailing partial blocks (count < m) drop on both sides, so every
    adjacent pair compares equal-length windows.

    Scale: one pass over raw events to the hour grain; the 5x dyadic
    fan-out, blocking groupBy, and the blk+1 equi-join all live on the
    bounded calendar frame. The blocks frame feeds the pair join
    twice, so it truncates lineage once.
    """
    ev = read_table(spark, sf_dir, "events", ["ts"])
    dense = _hourly_offset_series(ev)
    ms = F.explode(F.array(*[F.lit(m) for m in (1, 2, 4, 8, 16)])).alias("m")
    blocks = (
        dense.select("idx", "x", ms)
        .groupBy("m", F.floor(F.col("idx") / F.col("m")).alias("blk"))
        .agg(F.sum("x").cast("bigint").alias("s"), F.count(F.lit(1)).alias("c"))
        .where(F.col("c") == F.col("m"))
        .select("m", "blk", "s")
        .localCheckpoint(eager=False)  # both sides of the pair join + count
    )
    nb = blocks.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks")
    )
    a = blocks.select(
        F.col("m").alias("ma"), F.col("blk").alias("ba"), F.col("s").alias("sa")
    )
    b = blocks.select(
        F.col("m").alias("mb"), F.col("blk").alias("bb"), F.col("s").alias("sb")
    )
    pairs = a.join(
        b, (F.col("mb") == F.col("ma")) & (F.col("bb") == F.col("ba") + 1)
    ).select(F.col("ma").alias("m"), (F.col("sb") - F.col("sa")).alias("diff"))
    agg = pairs.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("diff") * F.col("diff")).cast("bigint").alias("ssq"),
    )
    avar_raw = F.col("ssq").cast("double") / (
        F.lit(2.0) * F.col("n_pairs") * F.col("m") * F.col("m")
    )
    return (
        agg.join(F.broadcast(nb), "m")
        .select(
            F.col("m").cast("bigint").alias("m_hours"),
            "n_blocks",
            "n_pairs",
            F.col("ssq").alias("sum_sq_diff"),
            fround(avar_raw, 6).alias("avar"),
            fround(F.sqrt(avar_raw), 6).alias("adev"),
        )
    )


@query(
    "q424_hurst_exponent",
    tags=("timeseries", "statistics", "stability"),
    oracle=f"""
WITH {_IDX_GRID_CTES}, fanned AS (
  SELECT ms.m, d.idx // ms.m AS blk, d.idx, d.x
  FROM dense d CROSS JOIN (SELECT unnest([8, 16, 32, 64, 128]) AS m) ms
), lattice AS MATERIALIZED (
  SELECT m, blk,
         m * CAST(sum(x) OVER w_run AS BIGINT)
           - CAST(row_number() OVER w_run AS BIGINT)
             * CAST(sum(x) OVER w_all AS BIGINT) AS d_k,
         CAST(sum(x) OVER w_all AS BIGINT) AS s,
         CAST(sum(x * x) OVER w_all AS BIGINT) AS q,
         CAST(count(*) OVER w_all AS BIGINT) AS cnt
  FROM fanned
  WINDOW w_run AS (PARTITION BY m, blk ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_all AS (PARTITION BY m, blk)
), blocks AS (
  SELECT m, blk,
         CAST(max(d_k) - min(d_k) AS BIGINT) AS r_int,
         CAST(any_value(m) * any_value(q)
              - any_value(s) * any_value(s) AS BIGINT) AS varn
  FROM lattice WHERE cnt = m
  GROUP BY m, blk
), per_m AS MATERIALIZED (
  SELECT m,
         CAST(count(*) AS BIGINT) AS n_blocks,
         round(avg(CAST(r_int AS DOUBLE) / sqrt(CAST(varn AS DOUBLE)))
               + 1e-9, 6) AS mean_rs
  FROM blocks WHERE varn > 0
  GROUP BY m
), piv AS (
  SELECT max(CASE WHEN m = 8 THEN mean_rs END) AS l1,
         max(CASE WHEN m = 16 THEN mean_rs END) AS l2,
         max(CASE WHEN m = 64 THEN mean_rs END) AS l4,
         max(CASE WHEN m = 128 THEN mean_rs END) AS l5
  FROM per_m
), stat AS (
  SELECT round((-2.0 * ln(l1) - ln(l2) + ln(l4) + 2.0 * ln(l5))
               / (10.0 * ln(2.0)) + 1e-9, 4) + 0 AS hurst
  FROM piv
)
SELECT p.m AS m_hours, p.n_blocks, p.mean_rs, st.hurst,
       CASE WHEN st.hurst > 0.55 THEN 'persistent'
            WHEN st.hurst < 0.45 THEN 'anti-persistent'
            ELSE 'memoryless' END AS regime
FROM per_m p CROSS JOIN stat st
""",
)
def q424_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly event-count series by
    rescaled-range (R/S) analysis over dyadic windows — q412's Allan
    variance separates NOISE regimes; the Hurst exponent measures
    LONG MEMORY (H > 1/2 persistent trends, H < 1/2 mean-reverting,
    H = 1/2 memoryless), the load-forecasting question Allan can't
    answer. Mandelbrot-Wallis estimator: mean R/S per block size m ∈
    {8..128 h}, H = the log-log slope.

    Exactness: within each full block the centered cumulative
    deviations live on the m·C_k − k·S lattice (exact BIGINT — the
    q229/q411 n·x − S discipline), so the range R·m and the variance
    numerator m·Q − S² are pure integers; R/S = R_int/√(mQ − S²) is
    one deterministic float op per block. Zero-variance blocks drop
    by an EXACT integer test on both sides. Block means round at
    6 dp (same-sign ≤90-term sums, the q372 class), and the slope is
    a FIXED 4-term chain over logs of the ROUNDED means — dyadic
    sizes make the regressor exactly (3..7)·ln 2, collapsing OLS to
    (−2L₁ − L₂ + L₄ + 2L₅)/(10·ln 2) (ln cross-engine per q158).
    The regime label reads the ROUNDED H (footgun 3/9 guards).

    Scale: one pass to the hour grain; the 5x fan-out, block windows
    (≤128 rows per partition), and statistics all live on the bounded
    calendar frame (the q412 contract).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["ts"])
    dense = _hourly_offset_series(ev)
    ms = F.explode(
        F.array(*[F.lit(m) for m in (8, 16, 32, 64, 128)])
    ).alias("m")
    fanned = dense.select("idx", "x", ms).select(
        "m", F.floor(F.col("idx") / F.col("m")).alias("blk"), "idx", "x"
    )
    w_run = (
        Window.partitionBy("m", "blk")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("m", "blk")
    lattice = fanned.select(
        "m",
        "blk",
        (
            F.col("m") * F.sum("x").over(w_run).cast("bigint")
            - F.row_number().over(
                Window.partitionBy("m", "blk").orderBy("idx")
            ).cast("bigint")
            * F.sum("x").over(w_all).cast("bigint")
        ).alias("d_k"),
        F.sum("x").over(w_all).cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w_all).cast("bigint").alias("q"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("cnt"),
    )
    blocks = (
        lattice.where(F.col("cnt") == F.col("m"))
        .groupBy("m", "blk")
        .agg(
            (F.max("d_k") - F.min("d_k")).cast("bigint").alias("r_int"),
            (
                F.any_value("m") * F.any_value("q")
                - F.any_value("s") * F.any_value("s")
            )
            .cast("bigint")
            .alias("varn"),
        )
    )
    per_m = (
        blocks.where(F.col("varn") > 0)
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            fround(
                F.avg(
                    F.col("r_int").cast("double")
                    / F.sqrt(F.col("varn").cast("double"))
                ),
                6,
            ).alias("mean_rs"),
        )
        .localCheckpoint(eager=False)  # pivot reduce + output branches
    )
    piv = per_m.agg(
        F.max(F.when(F.col("m") == 8, F.col("mean_rs"))).alias("l1"),
        F.max(F.when(F.col("m") == 16, F.col("mean_rs"))).alias("l2"),
        F.max(F.when(F.col("m") == 64, F.col("mean_rs"))).alias("l4"),
        F.max(F.when(F.col("m") == 128, F.col("mean_rs"))).alias("l5"),
    )
    hurst = fround(
        (
            F.lit(-2.0) * F.log(F.col("l1"))
            - F.log(F.col("l2"))
            + F.log(F.col("l4"))
            + F.lit(2.0) * F.log(F.col("l5"))
        )
        / (F.lit(10.0) * F.log(F.lit(2.0))),
        4,
    ) + F.lit(0.0)
    stat = piv.select(hurst.alias("hurst"))
    return per_m.crossJoin(F.broadcast(stat)).select(
        F.col("m").cast("bigint").alias("m_hours"),
        "n_blocks",
        "mean_rs",
        "hurst",
        F.when(F.col("hurst") > 0.55, "persistent")
        .when(F.col("hurst") < 0.45, "anti-persistent")
        .otherwise("memoryless")
        .alias("regime"),
    )


def _q427_oracle(n_rounds: int = 12) -> str:
    """q362's unrolled power-iteration lattice plus per-state
    conditional entropies, every float quantized to exact ppb BIGINTs
    before any engine-ordered summation."""
    parts = [_stationary_chain_sql("seq_src", n_rounds)]
    parts.append(
        f""", pir AS MATERIALIZED (
  SELECT ty, round(pi + 1e-9, 8) AS pi8 FROM pi{n_rounds}
), hrows AS MATERIALIZED (
  SELECT p.prev_type AS ty,
         CAST(sum(CAST(floor(
           1e9 * (CAST(c AS DOUBLE) / t)
               * (-ln(CAST(c AS DOUBLE) / t))) AS BIGINT)) AS BIGINT)
           AS h_next_ppb
  FROM pairs p JOIN tot ON tot.prev_type = p.prev_type
  GROUP BY 1
), contribs AS MATERIALIZED (
  SELECT h.ty, pir.pi8, h.h_next_ppb,
         CAST(floor(pir.pi8 * h.h_next_ppb) AS BIGINT) AS contrib_ppb,
         CASE WHEN pir.pi8 > 0
              THEN CAST(floor(1e9 * pir.pi8 * (-ln(pir.pi8))) AS BIGINT)
              ELSE 0 END AS marg_ppb
  FROM hrows h JOIN pir ON pir.ty = h.ty
), stat AS (
  SELECT CAST(sum(contrib_ppb) AS BIGINT) AS entropy_rate_ppb,
         CAST(sum(marg_ppb) AS BIGINT) AS marginal_entropy_ppb
  FROM contribs
)
SELECT c.ty AS event_type, c.pi8 AS stationary_share,
       c.h_next_ppb, c.contrib_ppb,
       st.entropy_rate_ppb, st.marginal_entropy_ppb,
       st.marginal_entropy_ppb - st.entropy_rate_ppb AS info_gain_ppb
FROM contribs c CROSS JOIN stat st"""
    )
    return "".join(parts).replace(
        "FROM seq_src", "FROM events"
    )


@query(
    "q427_chain_entropy_rate",
    tags=("timeseries", "iterative", "statistics"),
    oracle=_q427_oracle(12),
)
def q427_chain_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type Markov chain under its
    STATIONARY distribution: H = Σ_f π_f · H(next | f), with π from
    q362's 12 unrolled power-iteration rounds — the per-symbol
    information content of the corpus event stream in its long-run
    regime. q289 weights per-user conditional entropies EMPIRICALLY;
    this is the chain-level rate the source-coding bound actually
    uses, reported next to the stationary MARGINAL entropy so
    info_gain = H(π) − H_rate says how much one step of context
    compresses the stream (zero gain = the chain is i.i.d.).

    Exactness: conditional probabilities are exact integer-count
    ratios (identical doubles cross-engine); each row entropy is
    quantized to ppb BIGINTs BEFORE its ≤|types|-term sum (the q384
    fixed-point discipline — floor of an identical double is
    identical), and π is ROUNDED to the q362 8-dp lattice first, so
    π·H products multiply identical doubles and every reported
    statistic is a pure BIGINT (quantization < |types| ppb per
    number, documented; no engine-ordered float sum survives to the
    output).

    Scale: one user-partitioned lead pass; iteration and entropy
    both live on the bounded |types|² frame (q362's contract).
    """
    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_type", "ts", "event_id"]
    )
    pairs = transition_counts(event_transitions(ev)).localCheckpoint(
        eager=False
    )  # matrix + totals + entropy rows
    tot = pairs.groupBy("prev_type").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    pi, _ = stationary_shares(pairs, tot)
    pir = pi.select("ty", fround(F.col("pi"), 8).alias("pi8"))
    ratio = F.col("c").cast("double") / F.col("t")
    hrows = (
        pairs.join(F.broadcast(tot), "prev_type")
        .groupBy(F.col("prev_type").alias("ty"))
        .agg(
            F.sum(
                F.floor(F.lit(1e9) * ratio * (-F.log(ratio))).cast("bigint")
            )
            .cast("bigint")
            .alias("h_next_ppb")
        )
    )
    contribs = hrows.join(F.broadcast(pir), "ty").select(
        "ty",
        "pi8",
        "h_next_ppb",
        F.floor(F.col("pi8") * F.col("h_next_ppb"))
        .cast("bigint")
        .alias("contrib_ppb"),
        F.when(
            F.col("pi8") > 0,
            F.floor(
                F.lit(1e9) * F.col("pi8") * (-F.log(F.col("pi8")))
            ).cast("bigint"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("marg_ppb"),
    )
    contribs = contribs.localCheckpoint(eager=False)  # stat + output rows
    stat = contribs.agg(
        F.sum("contrib_ppb").cast("bigint").alias("entropy_rate_ppb"),
        F.sum("marg_ppb").cast("bigint").alias("marginal_entropy_ppb"),
    )
    return contribs.crossJoin(F.broadcast(stat)).select(
        F.col("ty").alias("event_type"),
        F.col("pi8").alias("stationary_share"),
        "h_next_ppb",
        "contrib_ppb",
        "entropy_rate_ppb",
        "marginal_entropy_ppb",
        (F.col("marginal_entropy_ppb") - F.col("entropy_rate_ppb")).alias(
            "info_gain_ppb"
        ),
    )
