"""Temporal-join queries: as-of join and bucketed range join over the
events stream — operators the reference (and Spark) lack as
primitives, oracle-checked against DuckDB's native ASOF / inequality
joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...operators.temporal import asof_join, range_join_buckets
from ...functions.scalar import fround
from ...sources.readers import read_table
from ..registry import query


@query(
    "q46_asof_join",
    tags=("temporal", "asof"),
    oracle="""
SELECT p.event_id, p.user_id,
       c.event_id AS asof_click_id,
       round(epoch(p.ts) - epoch(c.ts) + 1e-9, 6) AS secs_since_click
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def q46_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the user's most recent click at or before it
    (AS-OF join) — the canonical tracking/market-data operator. Spark
    has no primitive; the engine composes union + ordered window
    last-ignore-nulls (one shuffle on user_id). The oracle is DuckDB's
    native ASOF LEFT JOIN.
    """
    ev = read_table(spark, sf_dir, "events", ["event_id", "user_id", "ts", "event_type"])
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    out = asof_join(purchases, clicks, key="user_id", right_cols=("event_id",))
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("asof_click_id"),
        F.round(
            F.col("ts").cast("double") - F.col("asof_ts").cast("double") + 1e-9, 6
        ).alias("secs_since_click"),
    )


@query(
    "q47_range_join_bucketed",
    tags=("temporal", "range-join"),
    oracle="""
SELECT e1.event_id,
       count(*) AS n_nearby,
       round(sum(e2.value) + 1e-9, 2) AS nearby_value
FROM events e1
JOIN events e2
  ON e2.ts BETWEEN e1.ts - INTERVAL 5 MINUTE AND e1.ts + INTERVAL 5 MINUTE
 AND e2.event_id != e1.event_id
WHERE e1.event_type = 'error'
GROUP BY e1.event_id
""",
)
def q47_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events within +/-5 minutes of each error event (range join).
    The naive inequality join is quadratic; bucketing timestamps to the
    radius reduces it to an equi-join on 3 candidate buckets + exact
    filter. Oracle: DuckDB's native inequality join.
    """
    ev = read_table(spark, sf_dir, "events", ["event_id", "ts", "event_type", "value"])
    errors = ev.where(F.col("event_type") == "error").select("event_id", "ts")
    joined = range_join_buckets(errors, ev, radius_seconds=300.0)
    joined = joined.where(F.col("event_id_r") != F.col("event_id"))
    return joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_nearby"),
        F.round(F.sum("value_r") + 1e-9, 2).alias("nearby_value"),
    )


@query(
    "q100_asof_forward",
    tags=("temporal", "asof"),
    oracle="""
SELECT c.event_id, c.user_id,
       CASE WHEN epoch(p.ts) - epoch(c.ts) <= 21600 THEN p.event_id
            END AS next_purchase_id,
       CASE WHEN epoch(p.ts) - epoch(c.ts) <= 21600
            THEN round(epoch(p.ts) - epoch(c.ts) + 1e-9, 6)
            END AS secs_to_purchase
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts <= p.ts
""",
)
def q100_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance: for every click, the user's
    next purchase within 6 hours (NULLs past the bound) — the
    conversion-attribution mirror of q46's backward lookup, and the
    other direction a market-data engine must support.

    The operator is the same union + single key-shuffle window, run in
    descending time order so 'last right row seen' becomes 'earliest
    purchase at or after me'; the oracle is DuckDB's native ASOF with
    the inequality flipped, tolerance applied as an identical CASE on
    both engines (the gap is a µs-exact double subtraction, so the
    boundary comparison agrees bit-for-bit).
    """
    ev = read_table(spark, sf_dir, "events", ["event_id", "user_id", "ts", "event_type"])
    clicks = ev.where(F.col("event_type") == "click")
    purchases = ev.where(F.col("event_type") == "purchase")
    out = asof_join(
        clicks,
        purchases,
        key="user_id",
        right_cols=("event_id",),
        tolerance_seconds=21600.0,
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("next_purchase_id"),
        F.round(
            F.col("asof_ts").cast("double") - F.col("ts").cast("double") + 1e-9, 6
        ).alias("secs_to_purchase"),
    )


#: Truncation depth and dyadic decay for the exponentially-weighted
#: moving sum: alpha = 0.5 keeps every weight an exact power of two.
_EWM_K = 16


@query(
    "q102_ewm_decay",
    tags=("temporal", "window"),
    oracle='\nWITH base AS (\n  SELECT event_id, user_id, ts, CAST(floor(value) AS DOUBLE) AS xq\n  FROM events\n)\nSELECT event_id, user_id,\n       round(xq * 1.0\n       + coalesce(lag(xq, 1) OVER win, 0.0) * 0.5\n       + coalesce(lag(xq, 2) OVER win, 0.0) * 0.25\n       + coalesce(lag(xq, 3) OVER win, 0.0) * 0.125\n       + coalesce(lag(xq, 4) OVER win, 0.0) * 0.0625\n       + coalesce(lag(xq, 5) OVER win, 0.0) * 0.03125\n       + coalesce(lag(xq, 6) OVER win, 0.0) * 0.015625\n       + coalesce(lag(xq, 7) OVER win, 0.0) * 0.0078125\n       + coalesce(lag(xq, 8) OVER win, 0.0) * 0.00390625\n       + coalesce(lag(xq, 9) OVER win, 0.0) * 0.001953125\n       + coalesce(lag(xq, 10) OVER win, 0.0) * 0.0009765625\n       + coalesce(lag(xq, 11) OVER win, 0.0) * 0.00048828125\n       + coalesce(lag(xq, 12) OVER win, 0.0) * 0.000244140625\n       + coalesce(lag(xq, 13) OVER win, 0.0) * 0.0001220703125\n       + coalesce(lag(xq, 14) OVER win, 0.0) * 6.103515625e-05\n       + coalesce(lag(xq, 15) OVER win, 0.0) * 3.0517578125e-05\n       + 1e-9, 4) AS ewm_value\nFROM base\nWINDOW win AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)\n',
)
def q102_ewm_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving sum per user (recency-decayed
    activity metric): ewm_t = sum_j 0.5**j * x_(t-j) truncated at 16
    terms — the streaming-feature shape (time-decayed engagement)
    every event pipeline computes.

    Exactness by construction: the metric is integer-quantized
    (floor(value), <= 10 bits) and every weight is a power of two, so
    each term is an exact dyadic rational of <= 26 significant bits
    and every partial sum is exact in float64 — the result is
    bit-identical regardless of engine or summation order (no ULP
    drift to paper over; the fround is convention only). A production
    variant with arbitrary alpha would round the output instead.

    Scale: the 16 lag() terms share ONE window spec, so Catalyst
    compiles them into a single Window node over a single
    hash-partition exchange on user_id — same shuffle count as a plain
    running sum; per-row state is a 16-slot ring, not the history.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["event_id", "user_id", "ts", "value"])
    base = ev.select(
        "event_id", "user_id", "ts", F.floor("value").cast("double").alias("xq")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    term = F.col("xq") * F.lit(1.0)
    for j in range(1, _EWM_K):
        term = term + F.coalesce(F.lag("xq", j).over(w), F.lit(0.0)) * F.lit(0.5**j)
    return base.select(
        "event_id",
        "user_id",
        F.round(term + 1e-9, 4).alias("ewm_value"),
    )


@query(
    "q105_interval_overlap_join",
    tags=("temporal", "interval-join"),
    oracle="""
WITH iv AS (
  SELECT user_id, event_id, event_type,
         epoch(ts) AS s,
         epoch(ts) + CAST(event_id % 3600 AS BIGINT) + 1 AS e
  FROM events WHERE event_type IN ('view', 'click')
)
SELECT a.user_id,
       a.event_id AS view_event,
       b.event_id AS click_event,
       round(least(a.e, b.e) - greatest(a.s, b.s) + 1e-9, 6) AS overlap_secs
FROM iv a JOIN iv b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'click'
 AND a.s < b.e AND b.s < a.e
""",
)
def q105_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: every (view, click) pair of the same user
    whose activity intervals intersect (interval = event start plus a
    deterministic per-event duration), with the overlap length — the
    session-stitching / ad-attribution shape, and the temporal twin of
    a spatial overlap join.

    Spark has no interval-join primitive and a naive ``a.s < b.e AND
    b.s < a.e`` join plans as a nested loop; the engine decomposes
    each interval into covered fixed-width buckets and equi-joins on
    (user, bucket) (``operators/temporal.py::interval_overlap_join``),
    applying the exact predicate after — the candidate set shrinks
    from |A|x|B| per user to pairs sharing a bucket, and the shuffle
    partitions on the equi-key exactly like any scalable join. The
    oracle is DuckDB's native inequality join.
    """
    from ...operators.temporal import interval_overlap_join

    ev = read_table(
        spark, sf_dir, "events", ["event_id", "user_id", "ts", "event_type"]
    )
    iv = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("double").alias("s"),
        (
            F.col("ts").cast("double")
            + F.pmod(F.col("event_id"), F.lit(3600)).cast("double")
            + F.lit(1.0)
        ).alias("e"),
    )
    views = iv.where(F.col("event_type") == "view").select(
        "user_id", "event_id", "s", "e"
    )
    clicks = iv.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "s", "e"
    )
    pairs = interval_overlap_join(
        views, clicks, bucket_seconds=3600.0, start_col="s", end_col="e",
        join_key="user_id",
    )
    return (
        pairs.select(
            "user_id",
            F.col("event_id").alias("view_event"),
            F.col("event_id_r").alias("click_event"),
            fround(
                F.least(F.col("e"), F.col("e_r"))
                - F.greatest(F.col("s"), F.col("s_r")),
                6,
            ).alias("overlap_secs"),
        )
        .distinct()
    )


@query(
    "q180_last_touch_attribution",
    tags=("temporal", "attribution", "asof"),
    oracle="""
WITH matched AS (
  SELECT p.ts, p.value,
         CASE WHEN c.ts IS NOT NULL
                   AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800 * 1000000
              THEN 1 ELSE 0 END AS attributed
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT date_trunc('day', ts) AS day,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(attributed) AS BIGINT) AS n_attributed,
       round(sum(value) + 1e-9, 2) AS total_value,
       round(coalesce(sum(CASE WHEN attributed = 1 THEN value END), 0)
             + 1e-9, 2) AS attributed_value,
       round(sum(attributed) * 1.0 / count(*) + 1e-9, 6)
         AS attribution_rate
FROM matched
GROUP BY date_trunc('day', ts)
""",
)
def q180_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the same
    user's most recent click IF it happened within the 30-minute
    attribution window. Daily rows: purchases, attributed count/value,
    attribution rate.

    The window test is an integer-microsecond comparison on the as-of
    gap — the same bound a streaming interval join would evict its
    state by — so membership is engine-exact; money columns use the
    round-of-sum pattern.

    Scale: the as-of composition is one union + ordered window on
    user_id (no join node); the daily rollup reduces matched
    purchases only.
    """
    ev = read_table(
        spark, sf_dir, "events",
        ["event_id", "user_id", "ts", "event_type", "value"],
    )
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    out = asof_join(purchases, clicks, key="user_id", right_cols=("event_id",))
    attributed = F.when(
        F.col("asof_ts").isNotNull()
        & (
            F.unix_micros("ts") - F.unix_micros("asof_ts")
            <= 1800 * 1_000_000
        ),
        1,
    ).otherwise(0)
    matched = out.select("ts", "value", attributed.alias("attributed"))
    return matched.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("attributed").alias("n_attributed"),
        fround(F.sum("value"), 2).alias("total_value"),
        fround(
            F.coalesce(
                F.sum(F.when(F.col("attributed") == 1, F.col("value"))),
                F.lit(0.0),
            ),
            2,
        ).alias("attributed_value"),
        fround(F.sum("attributed") * 1.0 / F.count(F.lit(1)), 6).alias(
            "attribution_rate"
        ),
    )
