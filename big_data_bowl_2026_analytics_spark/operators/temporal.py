"""Temporal join operators Spark lacks as primitives: as-of join and
range join, expressed as scalable compositions.

- ``asof_join``: for each left row, the most recent right row at or
  before it (per key). Implemented as union + ordered window
  last-ignore-nulls: one shuffle on the key, no point lookups, no
  per-row subqueries — the standard scalable formulation.
- ``range_join_buckets``: pairs within a time radius. A naive
  inequality join is O(n^2) per key; bucketing timestamps to the
  radius turns it into an equi-join on (bucket +/- 1) with a final
  exact filter — each row joins only its 3-bucket neighborhood.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: tuple[str, ...] = (),
    tolerance_seconds: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """LEFT as-of join: attach the closest right row per key — the
    latest with ``right.ts <= left.ts`` (``direction='backward'``, the
    default) or the earliest with ``right.ts >= left.ts``
    (``direction='forward'``) — NULLs when none, optionally bounded by
    ``tolerance_seconds``.

    Forward is the time-mirror of backward: the union is windowed in
    DESCENDING time order so "last right row seen" becomes "earliest
    right row at or after me". Tie order flips with it (right still
    sorts before left at equal timestamps, so simultaneous rows match
    in both directions).

    Scale: one unionByName + one window over (key, time) — both sides
    shuffle once on the key; state per group is 'last right row seen'.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    lt = left.withColumn("_side", F.lit(1))
    rt_cols = [F.col(right_ts).alias("_r_ts")] + [
        F.col(c).alias(f"_r_{c}") for c in right_cols
    ]
    rt = right.select(F.col(key), *rt_cols).withColumn("_side", F.lit(0))
    unioned = lt.unionByName(rt, allowMissingColumns=True)

    # Order: time, then right-before-left on equal timestamps so an
    # exactly-simultaneous right row is visible to the left row (<=).
    ts_expr = F.coalesce(F.col("_r_ts"), F.col(left_ts))
    ts_ordered = ts_expr.asc() if direction == "backward" else ts_expr.desc()
    w = (
        Window.partitionBy(key)
        .orderBy(ts_ordered, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("_last_r_ts", F.last("_r_ts", ignorenulls=True).over(w))
    for c in right_cols:
        carried = carried.withColumn(
            f"_last_{c}", F.last(f"_r_{c}", ignorenulls=True).over(w)
        )
    out = carried.where(F.col("_side") == 1)
    if tolerance_seconds is not None:
        signed_gap = (
            F.col(left_ts).cast("double") - F.col("_last_r_ts").cast("double")
        )
        if direction == "forward":
            signed_gap = -signed_gap
        in_tol = signed_gap <= tolerance_seconds
        out = out.withColumn(
            "_last_r_ts", F.when(in_tol, F.col("_last_r_ts"))
        )
        for c in right_cols:
            out = out.withColumn(f"_last_{c}", F.when(in_tol, F.col(f"_last_{c}")))
    renames = {"_last_r_ts": "asof_ts", **{f"_last_{c}": f"asof_{c}" for c in right_cols}}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    drop = ["_side", "_r_ts"] + [f"_r_{c}" for c in right_cols]
    return out.drop(*drop)


def range_join_buckets(
    left: DataFrame,
    right: DataFrame,
    radius_seconds: float,
    left_ts: str = "ts",
    right_ts: str = "ts",
    join_key: str | None = None,
) -> DataFrame:
    """All (left, right) pairs with |right.ts - left.ts| <= radius:
    equi-join on time buckets of width ``radius`` (each left row probes
    buckets b-1, b, b+1), exact predicate applied after.

    Returns the joined frame with both sides' columns (right columns
    suffixed ``_r``); callers aggregate as needed.
    """
    bucket = lambda c: F.floor(F.col(c).cast("double") / radius_seconds)  # noqa: E731
    lt = left.withColumn("_b", bucket(left_ts))
    probe = lt.withColumn("_probe", F.explode(F.array(F.col("_b") - 1, F.col("_b"), F.col("_b") + 1)))
    rt = right.select(
        *[F.col(c).alias(f"{c}_r") for c in right.columns]
    ).withColumn("_rb", bucket(f"{right_ts}_r"))
    cond = [probe["_probe"] == rt["_rb"]]
    if join_key:
        cond.append(probe[join_key] == rt[f"{join_key}_r"])
    joined = probe.join(rt, cond)
    exact = (
        F.abs(
            F.col(f"{right_ts}_r").cast("double") - F.col(left_ts).cast("double")
        )
        <= radius_seconds
    )
    return joined.where(exact).drop("_b", "_probe", "_rb")


def gap_fill_locf(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_cols: tuple[str, ...],
    step: str = "1 hour",
) -> DataFrame:
    """Regularize an irregular per-key time series onto a fixed grid
    and forward-fill gaps (last observation carried forward) — the
    hypertable `time_bucket_gapfill + locf` pattern.

    ``df`` must already be aggregated to grid-aligned timestamps (one
    row per (key, bucket) present). Emits one row per (key, bucket)
    between each key's first and last observation, value columns
    forward-filled, plus ``observed`` ∈ {0,1} marking real rows.

    Scale: the grid is generated per key from its (min, max) span —
    `sequence` + `explode` is map-side after one groupBy(key) agg; the
    left join back and the fill window both shuffle on the same key,
    so AQE/exchange reuse keeps it at one real shuffle of the (small)
    aggregated frame, never the raw facts.
    """
    span = df.groupBy(key).agg(
        F.min(ts_col).alias("_t0"), F.max(ts_col).alias("_t1")
    )
    grid = span.select(
        key,
        F.explode(
            F.sequence(F.col("_t0"), F.col("_t1"), F.expr(f"INTERVAL {step}"))
        ).alias(ts_col),
    )
    filled = grid.join(df, [key, ts_col], "left").withColumn(
        "observed", F.col(value_cols[0]).isNotNull().cast("int")
    )
    w = (
        Window.partitionBy(key)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        filled = filled.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return filled


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bucket_seconds: float,
    start_col: str = "s",
    end_col: str = "e",
    join_key: str | None = None,
) -> DataFrame:
    """All (left, right) interval pairs that overlap:
    ``l.s < r.e AND r.s < l.e`` (half-open semantics), computed without
    a quadratic inequality join.

    Each interval explodes to the sequence of fixed-width time buckets
    it covers; candidates equi-join on (key, bucket); the exact overlap
    predicate then filters. The output is a MULTISET: a pair whose
    overlap spans several buckets appears once per shared bucket, and
    this operator does NOT dedup (doing so here would force a shuffle
    over payload columns the caller may not need). Callers MUST
    ``.distinct()`` / ``dropDuplicates`` on the two sides' natural keys
    after projecting them — see q105 for the canonical pattern. Choose
    ``bucket_seconds`` near the typical interval length:
    buckets-per-interval (fan-out) trades against candidates-per-bucket
    (join width) exactly like LSH banding.

    Scale: the inequality never reaches the join condition — the plan
    is an equi-join a 1000-executor shuffle can partition, while a raw
    ``l.s < r.e AND r.s < l.e`` join plans as a broadcast-nested-loop
    (quadratic, single-node death at corpus scale). Right columns come
    back suffixed ``_r``; callers aggregate or dedup as needed.
    """
    def buckets(s: str, e: str) -> F.Column:
        lo = F.floor(F.col(s).cast("double") / bucket_seconds)
        hi = F.floor(F.col(e).cast("double") / bucket_seconds)
        return F.sequence(lo.cast("long"), hi.cast("long"))

    lt = left.withColumn("_b", F.explode(buckets(start_col, end_col)))
    rt = right.select(
        *[F.col(c).alias(f"{c}_r") for c in right.columns]
    ).withColumn("_rb", F.explode(buckets(f"{start_col}_r", f"{end_col}_r")))
    cond = [lt["_b"] == rt["_rb"]]
    if join_key:
        cond.append(lt[join_key] == rt[f"{join_key}_r"])
    overlap = (F.col(start_col).cast("double") < F.col(f"{end_col}_r").cast("double")) & (
        F.col(f"{start_col}_r").cast("double") < F.col(end_col).cast("double")
    )
    return lt.join(rt, cond).where(overlap).drop("_b", "_rb")


#: Inactivity gap (seconds) that starts a new session.
SESSION_GAP_S = 1800


def sessionize(ev: DataFrame) -> DataFrame:
    """``ev`` plus ``new_session`` (1 on a user's first event and after
    a gap over :data:`SESSION_GAP_S`) and ``session_id`` (its running
    sum), both in (ts, event_id) order per user_id — the batch
    sessionization every session query shares.

    Scale: one shuffle on user_id; the flag lag and the running sum
    share the same window spec, so they run in one Window operator.
    """
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    epoch = F.col("ts").cast("double")
    return ev.withColumn(
        "new_session",
        F.when(
            (epoch - F.lag(epoch).over(w) > SESSION_GAP_S)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def hourly_counts(ev: DataFrame, *keys: str) -> DataFrame:
    """Events per (``keys``, epoch hour ``h``) as BIGINT ``x``."""
    return (
        ev.select(
            *keys,
            F.floor(F.col("ts").cast("double") / 3600).cast("bigint").alias("h"),
        )
        .groupBy(*keys, "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )


def hour_grid(counts: DataFrame) -> DataFrame:
    """Every hour ``h`` from the first to the last hour in ``counts``,
    with the first hour as ``mn`` — the dense spine that turns missing
    hours into real zeros once counts are left-joined onto it.
    """
    bounds = counts.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    return bounds.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("h"), "mn"
    )
