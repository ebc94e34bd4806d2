"""Structured Streaming over the events stream.

The reference has no streaming surface (SURVEY §2.10); this module
gives the engine one: the same tumbling-window and session aggregates
the batch queries q25/q24 define, expressed as incremental streaming
plans with watermarks for late data. The batch/streaming pairs are
asserted equal in tests — the Dataflow-style 'one semantics, two
runtimes' contract.

Scale notes: windowed aggregation state lives in the state store keyed
by (window, type) / session; the watermark bounds state size. A real
deployment reads Kafka instead of files — only ``read_events_stream``
changes.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


#: File-source schema for the TIMESTAMP(NANOS) testdata generation,
#: where ts arrives as raw nanos (see sources/readers.py).
EVENTS_RAW_SCHEMA = _events_raw_schema(T.LongType())


def read_events_stream(
    spark: SparkSession, path: str, options: dict[str, str] | None = None
) -> DataFrame:
    """File-based stream of the events table, normalized to a µs
    session-zone timestamp exactly like the batch reader.

    ``options`` passes file-source options through (e.g.
    ``maxFilesPerTrigger`` to bound each micro-batch — which is also
    how a finite drain gets its watermark ADVANCED between batches,
    a prerequisite for outer-join null emission and state eviction).

    A stream source needs its schema declared up front, but the events
    testdata has shipped both as TIMESTAMP(NANOS) (read as raw-nanos
    long) and TIMESTAMP(MICROS, ntz) — so probe the footer with a
    one-off batch read of the same directory and declare whichever
    encoding is actually on disk. On a Kafka deployment this probe
    disappears: the schema comes from the topic contract.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 - conf may not exist in this build
        pass
    probe_type = dict(spark.read.parquet(path).dtypes).get("ts")
    if probe_type == "bigint":
        raw = spark.readStream.options(**(options or {})).schema(EVENTS_RAW_SCHEMA).parquet(path)
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if probe_type == "timestamp":
        # Same graded handling as sources/readers.py::read_table — a
        # third encoding appeared; proceed under UTC-instant semantics
        # but say so loudly.
        warnings.warn(
            "events.ts probed as plain 'timestamp' — unseen testdata "
            "encoding; re-verify events queries before trusting it.",
            stacklevel=2,
        )
        raw = spark.readStream.options(**(options or {})).schema(
            _events_raw_schema(T.TimestampType())
        ).parquet(path)
        return raw
    if probe_type not in ("timestamp_ntz", None):
        raise ValueError(
            f"events.ts probed as unexpected dtype {probe_type!r} — "
            "extend the streaming probe (and read_table) before "
            "streaming this generation."
        )
    raw = spark.readStream.options(**(options or {})).schema(
        _events_raw_schema(T.TimestampNTZType())
    ).parquet(path)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_event_aggregates(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour aggregates per event type — the streaming twin
    of q25; the watermark lets the store drop windows older than the
    allowed lateness."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value") + 1e-9, 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def session_aggregates(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based) per user — the streaming twin
    of the q24 lag/cumsum composition, using the engine's merging
    session-window state operator."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") + 1e-9, 2).alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def run_available_now(stream_df: DataFrame, table_name: str) -> None:
    """Drain the stream into an in-memory table (tests / local runs):
    processes everything currently available, then stops — the batch
    execution of a streaming plan."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — works
    identically on local paths, HDFS, and object stores with a Hadoop
    connector."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def latest_snapshot_version(spark: SparkSession, root: str) -> str | None:
    """Name of the newest COMMITTED snapshot version under ``root``.

    A version is committed iff its parquet ``_SUCCESS`` marker exists
    (written last by the Hadoop commit protocol), so a writer crash
    mid-version leaves an ignored orphan directory, never a corrupt
    snapshot. Versions are zero-padded so lexicographic max == numeric
    max.
    """
    jvm = spark._jvm
    fs, rpath = _hadoop_fs(spark, root)
    if not fs.exists(rpath):
        return None
    committed = []
    for st in fs.listStatus(rpath):
        name = st.getPath().getName()
        if name.startswith("v=") and fs.exists(
            jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        ):
            committed.append(name)
    return max(committed) if committed else None


def read_snapshot(spark: SparkSession, root: str) -> DataFrame | None:
    """Read the newest committed snapshot version, or None if the
    snapshot has never been written (probed explicitly — read errors
    on an EXISTING version propagate, they are not first-batch
    fallbacks)."""
    version = latest_snapshot_version(spark, root)
    if version is None:
        return None
    return spark.read.parquet(f"{root}/{version}")


def stream_merge_into_parquet(
    events: DataFrame,
    snapshot_path: str,
    checkpoint_path: str,
    keys: tuple[str, ...] = ("user_id",),
    keep_versions: int = 2,
) -> "StreamingQuery":  # noqa: F821
    """Streaming CDC-upsert sink: each micro-batch is reduced to one
    row per key (latest event wins via max_by on (ts, event_id)) and
    merged into a parquet snapshot with
    ``operators/merge.py::merge_upsert`` inside ``foreachBatch`` — the
    standard pattern for maintaining an up-to-date keyed table from a
    stream when the table format has no native MERGE.

    Durability: ``snapshot_path`` is a versioned root — each batch
    writes a NEW ``v=<batch_id>`` directory and readers resolve the
    newest ``_SUCCESS``-committed version (``read_snapshot``), so
    - the snapshot is never overwritten in place (a crash mid-write
      leaves the previous version intact and readable);
    - no lineage trick (localCheckpoint) is needed, because the write
      never deletes its own input;
    - first-batch detection is an explicit existence probe, not a
      swallowed exception — a transient read failure or a merge bug
      fails the batch (and the checkpoint retries it) instead of
      silently resetting the snapshot to the current batch's keys.
    Old versions beyond ``keep_versions`` are pruned after commit.

    Scale: per batch, one anti join of the (small) deduped batch
    against the snapshot + a rewrite. The rewrite covers the whole
    snapshot (fine for dimension-sized tables); at fact scale the same
    ``foreachBatch`` body targets partitions via dynamic partition
    overwrite (``partitionOverwriteMode=dynamic``) or a MERGE-capable
    table format. exactly-once comes from the checkpoint: a replayed batch
    re-merges idempotently into the same version directory.
    """
    from ..operators.merge import merge_upsert

    def _apply(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        latest = (
            batch.groupBy(*keys)
            .agg(
                F.max_by(
                    F.struct("ts", "event_type", "value"),
                    F.struct("ts", "event_id"),
                ).alias("_r")
            )
            .select(*keys, "_r.ts", "_r.event_type", "_r.value")
        )
        base = read_snapshot(spark, snapshot_path)
        merged = (
            merge_upsert(base, latest, list(keys)) if base is not None else latest
        )
        version_dir = f"{snapshot_path}/v={batch_id:020d}"
        merged.write.mode("overwrite").parquet(version_dir)
        jvm = spark._jvm
        fs, rpath = _hadoop_fs(spark, snapshot_path)
        committed = sorted(
            st.getPath().getName()
            for st in fs.listStatus(rpath)
            if st.getPath().getName().startswith("v=")
            and fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS"))
        )
        for stale in committed[:-keep_versions] if keep_versions > 0 else []:
            fs.delete(jvm.org.apache.hadoop.fs.Path(rpath, stale), True)

    return (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def dedup_within_watermark(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """At-ingest exactly-once-ish dedup: drop event_id repeats arriving
    within the watermark horizon (``dropDuplicatesWithinWatermark``).

    This is the streaming face of exact dedup for an ingestion
    pipeline: state holds one entry per key only until the watermark
    passes it, so state size is bounded by (arrival rate x lateness),
    not by history — the property that lets it run forever at 100 TB/
    day, where a plain dropDuplicates would accrete unbounded state.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _click_attribution(
    events: DataFrame, attribution_window: str, watermark: str, how: str
) -> DataFrame:
    """Purchases joined (``how``) to the same user's clicks in the
    preceding ``attribution_window``; both sides carry watermarks."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("click_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("purchase_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")
        ),
        how,
    ).select(
        "purchase_id",
        F.col("purchase_user").alias("user_id"),
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def purchase_click_attribution(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    same user's click events in the preceding ``attribution_window``.

    Both sides carry watermarks and the join condition bounds event
    time on BOTH ends, so the state store can evict rows as the
    watermark advances — the canonical bounded-state stream-stream
    join (unbounded conditions would accrete state forever). The
    equi-key (user_id) keeps the join a hash exchange on a
    high-cardinality column.
    """
    return _click_attribution(events, attribution_window, watermark, "inner")


def purchase_click_attribution_outer(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    joined to each preceding click in ``attribution_window`` when one
    exists, and exactly once with NULL click columns otherwise.

    The null row for an unmatched purchase cannot be emitted when the
    purchase arrives (a matching late click may still be in flight);
    Structured Streaming holds the purchase in the state store and
    emits the null-padded row only when the event-time watermark
    passes the point where a matching click is no longer admissible.
    Consequence for finite drains (and the drain test): purchases
    inside the final watermark horizon of the stream's max event time
    are never finalized — their unmatched rows are legitimately
    withheld, which is the streaming-correct answer, not data loss.
    State is bounded exactly as in the inner variant: both sides carry
    watermarks and the join condition bounds click_ts on both ends.
    """
    return _click_attribution(events, attribution_window, watermark, "left_outer")


def activity_lease_nets(
    events: DataFrame, lease_secs: int = 300, watermark: str = "2 hours"
) -> DataFrame:
    """Hourly session-boundary net changes from activity leases: each
    event opens a +1 boundary at its timestamp and a −1 boundary when
    its ``lease_secs`` lease expires, and the stream maintains per-hour
    (net, boundary, start) counts under the watermark — ONE stateful
    windowed aggregation, no ordering requirement on arrival.

    This is the streamable HALF of the q231 sweep-line: exact
    concurrency needs the within-hour prefix sum over ordered
    boundaries, which a batch pass derives from these nets (entering
    concurrency per hour = cumulative net of all earlier hours — the
    two-level decomposition q231 pins by property test). The lambda
    split is deliberate: the stream keeps the incremental, append-only
    part; the ordered part stays batch where ordering is free.
    """
    starts = events.select(
        F.col("ts").alias("bt"), F.lit(1).alias("delta")
    )
    ends = events.select(
        (F.col("ts") + F.expr(f"INTERVAL {lease_secs} SECONDS")).alias("bt"),
        F.lit(-1).alias("delta"),
    )
    boundaries = starts.unionByName(ends)
    return (
        boundaries.withWatermark("bt", watermark)
        .groupBy(F.window("bt", "1 hour").alias("w"))
        .agg(
            F.sum("delta").alias("net"),
            F.count(F.lit(1)).alias("n_boundaries"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias(
                "n_starts"
            ),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "net",
            "n_boundaries",
            "n_starts",
        )
    )


def hourly_distinct_users_hll(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Hourly APPROXIMATE distinct users as a streaming windowed
    HLL-sketch aggregation — the incremental face of q146 (exact
    rolling distinct) and q147 (mergeable HLL columns): registers are
    a per-window max over hashed observations, so the merge is
    commutative/idempotent and the estimate is a deterministic
    function of the input SET — arrival order, partitioning, and
    micro-batch boundaries cannot change it (that is what makes HLL
    the streaming-safe distinct, where an exact countDistinct would
    need unbounded state).

    State per window is one fixed-size sketch (lgConfigK=12 → 4 KiB),
    bounded by the watermark horizon — not by the user cardinality.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(12))
            ).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "approx_users",
            "n_events",
        )
    )


def hourly_cms_grid(
    events: DataFrame,
    key_col: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Hourly count-min sketch as a streaming windowed aggregation —
    the incremental face of q151 / operators/sketches.py: each event
    contributes one increment per hash row, so the per-window grid is
    a plain windowed COUNT in tall (window, j, bucket) form. Counting
    is commutative/associative, which makes the sketch a deterministic
    function of the window's input SET — micro-batch boundaries,
    arrival order and partitioning cannot change it, and the
    stream-drained grid is bit-equal to the batch build (asserted in
    tests).

    State per window is bounded by depth × width cells (4 × 256 keyed
    counters ≈ a few KiB), never by key cardinality — the reason a
    frequency monitor over a 100 TB/day stream carries a CMS and not
    a groupBy(key). Point lookups over the drained grid reuse
    ``operators.sketches.cms_estimate`` (min over depth rows, the
    one-sided error contract q151 audits).
    """
    from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_bucket

    rows = events.withWatermark("ts", watermark).select(
        "ts",
        F.col(key_col).cast("string").alias("k"),
        F.explode(
            F.array(*[F.lit(j) for j in range(CMS_DEPTH)])
        ).alias("j"),
    )
    return (
        rows.select(
            "ts",
            "j",
            cms_bucket_dyn("j", F.col("k"), CMS_WIDTH, CMS_DEPTH).alias(
                "bucket"
            ),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "j", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cell_total"))
        .select(
            F.col("w.start").alias("hour_start"), "j", "bucket", "cell_total"
        )
    )


def cms_bucket_dyn(j_col, key, width: int, depth: int):
    """cms_bucket with the hash-row index as a COLUMN: one md5 per
    (event, j) pair selected by CASE over the (small, static) depth —
    keeps the explode+bucket pipeline a single JVM projection."""
    from ..operators.sketches import cms_bucket

    j = F.col(j_col) if isinstance(j_col, str) else j_col
    expr = F.lit(None).cast("int")
    for jj in range(depth):
        expr = F.when(j == jj, cms_bucket(jj, key, width)).otherwise(expr)
    return expr


def slo_burn_windows(
    events: DataFrame,
    window: str = "6 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming half of q368's multi-window SLO burn alerting: per
    SLIDING window (default 6 h sliding hourly — the slow/confirming
    window of the Google SRE rule; pass window="1 hour" for the fast
    one), the exact event and error counts. State is one mergeable
    (count, count) pair per open window — sliding windows multiply
    state by window/slide (6x here), still O(1) per window per slide.

    q368's batch form self-calibrates to the corpus-wide base error
    rate; a stream cannot see the corpus, so the base rate is
    deploy-time CONFIG in this half — and the alert decision stays
    with the consumer as an exact integer cross-multiplication
    (page when e * slo_den >= burn_threshold * n * slo_num), exactly
    the contract q368 ships. Late events inside the watermark update
    their windows' counts; the q368 batch query is the replayable
    ground truth for any window the stream already closed.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).cast("bigint").alias("n_errors"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "n_errors",
        )
    )


def rolling_distinct_users_hll(
    events: DataFrame,
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Rolling 7-day approximate distinct users, sliding daily — the
    streaming twin of q146 (whose exact batch form is the
    contribution-explode rolling distinct). Exact sliding DISTINCT in
    a stream needs per-window user sets (state ~ cardinality x 7);
    the HLL register form replaces that with 7 fixed 4-KiB sketches
    per slide boundary, and stays a deterministic function of the
    input SET (order/batching-invariant) like
    ``hourly_distinct_users_hll``. The batch q146 remains the exact
    replayable truth for any closed window; this is the live
    approximation a dashboard tails.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(12))
            ).alias("approx_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "approx_users",
            "n_events",
        )
    )


def hourly_value_histogram(
    events: DataFrame,
    bucket_cents: int = 100,
    watermark: str = "2 hours",
) -> DataFrame:
    """Hourly VALUE-QUANTILE sketch as a streaming windowed
    aggregation — the missing quantile member of the mergeable-state
    family (counts: windowed aggs; distinct: HLL; frequency: CMS).
    Values quantize to exact integer cents (Spark round, half-up),
    then to fixed-width buckets of ``bucket_cents``; each window keeps
    one count per occupied bucket.

    Like the CMS grid, counting is commutative/associative, so the
    drained histogram is a deterministic function of the window's
    input SET — bit-equal to the batch build (asserted in tests),
    under any arrival order or micro-batch split. State per window is
    bounded by the VALUE RANGE over the bucket width, never by row
    count: the reason a latency/price monitor over a 100 TB/day
    stream carries a histogram and not a sorted buffer.

    Any quantile read off the drained grid via
    ``histogram_quantile`` is exact in RANK (the true item of rank
    ceil(q*n) lands in the reported bucket) and within one
    ``bucket_cents`` in VALUE — the error-bound-boolean contract the
    drain test pins (never estimate-equality, footgun 10).

    Contract: nonnegative values (prices/latencies — this corpus).
    For negative cents ``cents % bucket_cents`` truncates toward zero,
    so a negative value's bucket edge would sit ABOVE it and the
    [lo, lo + bucket_cents) read in histogram_quantile would be off
    by one bucket; extend with floor-div bucketing before feeding a
    signed domain.
    """
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        events.withWatermark("ts", watermark)
        .select("ts", (cents - (cents % bucket_cents)).alias("bucket_lo"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "bucket_lo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.col("w.start").alias("hour_start"), "bucket_lo", "n")
    )


def histogram_quantile(grid: DataFrame, q: float) -> DataFrame:
    """Per-window quantile estimate from a drained
    ``hourly_value_histogram`` grid: the lower edge (in cents) of the
    bucket containing the rank-ceil(q*n) item. One cumulative window
    over the per-window bucket list (bounded by occupied buckets, not
    rows) — no raw data touched. The true quantile lies in
    [est_lo_cents, est_lo_cents + bucket_cents)."""
    from pyspark.sql import Window

    if not 0.0 < q <= 1.0:
        raise ValueError("q must be in (0, 1]")
    w_cum = (
        Window.partitionBy("hour_start")
        .orderBy("bucket_lo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = grid.select(
        "hour_start",
        "bucket_lo",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(Window.partitionBy("hour_start")).alias("total"),
    )
    # single-engine arithmetic: ceil(q*total) never crosses an engine
    # boundary, so the float product needs no cross-engine guard.
    hit = totals.where(
        F.col("cum") >= F.ceil(F.lit(q) * F.col("total"))
    )
    return (
        hit.withColumn("rn", F.row_number().over(
            Window.partitionBy("hour_start").orderBy("bucket_lo")
        ))
        .where(F.col("rn") == 1)
        .select(
            "hour_start",
            F.col("bucket_lo").alias("est_lo_cents"),
            "total",
        )
    )


def hourly_minhash_signatures(
    events: DataFrame, n_hashes: int = 16, watermark: str = "2 hours"
) -> DataFrame:
    """Hourly MinHash signature of the window's USER SET — the
    set-similarity member of the mergeable windowed-sketch family
    (counts → HLL distinct → CMS frequency → value-quantile histogram
    → A-Res sample → this): each component is the min over users of a
    seeded md5 (operators/dedup.py::minhash_signatures' exact hash
    convention, reused verbatim so stream sketches and batch corpus
    sketches are comparable), and MIN is commutative/idempotent, so
    the signature is a deterministic function of the window's input
    SET — arrival order, partitioning, and micro-batch boundaries
    cannot change it, and the drain is bit-equal to a batch build.

    What it buys at 100 TB: hour-over-hour AUDIENCE OVERLAP (shared
    users between any two windows) from n_hashes · 32 hex chars of
    state per window, where the exact answer needs the full user sets
    — the pairwise Jaccard between any two drained windows is read
    off signature agreement (``signature_agreement``), including
    pairs that were never co-resident in memory.
    """
    aggs = [
        F.min(
            F.md5(
                F.concat(F.lit(f"{s}|"), F.col("user_id").cast("string"))
            )
        ).alias(f"h{s}")
        for s in range(n_hashes)
    ]
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(*aggs, F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col("w.start").alias("hour_start"),
            *[f"h{s}" for s in range(n_hashes)],
            "n_events",
        )
    )


def signature_agreement(
    sigs: DataFrame, n_hashes: int | None = None, key_col: str = "hour_start"
) -> DataFrame:
    """Pairwise MinHash agreement between drained window signatures:
    the fraction of agreeing components estimates the Jaccard overlap
    of the two windows' user sets (E[agree] = J, the MinHash
    theorem). Output one row per unordered window pair with the
    integer agreement count (exact) and the estimate (one division).

    ``n_hashes`` defaults to what the SIGNATURE FRAME actually carries
    (the ``h{i}`` columns in its schema): a grid built with a
    non-default width must not be read with a mismatched divisor —
    that silently rescales every estimate — so an explicit value that
    disagrees with the schema raises instead.

    The self-join is over the WINDOW grain — bounded by wall-clock
    hours retained downstream, never by users or events.
    """
    schema_hashes = _indexed_cols(sigs, "h")
    if n_hashes is None:
        n_hashes = schema_hashes
    elif n_hashes != schema_hashes:
        raise ValueError(
            f"n_hashes={n_hashes} but the signature frame carries "
            f"h0..h{schema_hashes - 1} ({schema_hashes} components)"
        )
    a = sigs.select(
        F.col(key_col).alias("wa"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(n_hashes)],
    )
    b = sigs.select(
        F.col(key_col).alias("wb"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(n_hashes)],
    )
    agree = None
    for s in range(n_hashes):
        ind = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        agree = ind if agree is None else agree + ind
    return (
        a.join(b, F.col("wa") < F.col("wb"))
        .select(
            "wa",
            "wb",
            agree.cast("bigint").alias("n_agree"),
            (agree / F.lit(float(n_hashes))).alias("jaccard_est"),
        )
    )


def _indexed_cols(df: DataFrame, prefix: str) -> int:
    """Count the contiguous ``{prefix}0..{prefix}{k-1}`` columns a
    sketch frame carries — the frame itself is the source of truth for
    its own width (a mismatched width parameter silently rescales
    every divided estimate, so readers derive it instead)."""
    import re

    pat = re.compile(rf"^{re.escape(prefix)}(\d+)$")
    idx = sorted(int(m.group(1)) for c in df.columns if (m := pat.match(c)))
    if not idx or idx != list(range(len(idx))):
        raise ValueError(
            f"frame carries no contiguous {prefix}0..{prefix}k columns: "
            f"{[c for c in df.columns if pat.match(c)]}"
        )
    return len(idx)


_AMS_HEX = "0123456789abcdef"


def _ams_sign(j: int, key):
    """±1 four-wise-ish sign for AMS row ``j``: parity of the first
    md5 nibble of ``"ams{j}|" || key`` — the same md5-nibble decode
    the engine's hash splits use, so the pure-Python test reference
    is one hashlib call."""
    nib = (
        F.instr(
            F.lit(_AMS_HEX),
            F.substring(
                F.md5(F.concat(F.lit(f"ams{j}|"), key.cast("string"))), 1, 1
            ),
        )
        - 1
    )
    return F.when(nib % 2 == 0, F.lit(1)).otherwise(F.lit(-1))


def hourly_ams_sketch(
    events: DataFrame,
    key_col: str = "user_id",
    n_rows: int = 16,
    watermark: str = "2 hours",
) -> DataFrame:
    """Hourly AMS (Alon-Matias-Szegedy) sketch of the window's user
    FREQUENCY vector — the moment/join-size member of the mergeable
    windowed-sketch family: row j keeps S_j = Σ_events sign_j(user),
    a plain windowed SUM of ±1, so the whole sketch is one JVM-side
    windowed aggregation in tall (window, j, s) form — exact BIGINT,
    order/micro-batch invariant, drain bit-equal to a batch build
    (the hourly_cms_grid precedent).

    What it buys at 100 TB: mean_j(S_j²) estimates the window's
    SECOND MOMENT F2 = Σ_u f(u)² (self-join size / skew), and
    mean_j(S_j^A · S_j^B) estimates the INNER PRODUCT Σ_u f_A(u)f_B(u)
    between any two windows — the classic AMS equi-join-size estimate
    between two streams' key columns — from n_rows integers per
    window, where the exact answer needs the full frequency maps.
    Read both off the drained grid with ``ams_moments`` /
    ``ams_inner_products``.
    """
    rows = events.withWatermark("ts", watermark).select(
        "ts",
        F.col(key_col).alias("k"),
        F.explode(F.array(*[F.lit(j) for j in range(n_rows)])).alias("j"),
    )
    signed = rows.select(
        "ts", "j", _ams_sign_dyn("j", F.col("k"), n_rows).alias("sgn")
    )
    return (
        signed.groupBy(F.window("ts", "1 hour").alias("w"), "j")
        .agg(F.sum("sgn").cast("bigint").alias("s"))
        .select(F.col("w.start").alias("hour_start"), "j", "s")
    )


def _ams_sign_dyn(j_col, key, n_rows: int):
    """_ams_sign with the row index as a COLUMN: one md5 per
    (event, j) selected by CASE over the small static row count —
    keeps the explode+sign pipeline a single JVM projection (the
    cms_bucket_dyn pattern)."""
    j = F.col(j_col) if isinstance(j_col, str) else j_col
    expr = F.lit(None).cast("int")
    for jj in range(n_rows):
        expr = F.when(j == jj, _ams_sign(jj, key)).otherwise(expr)
    return expr


def ams_moments(grid: DataFrame) -> DataFrame:
    """Per-window F2 estimate from a drained AMS grid:
    mean_j(S_j²) — the AMS second-moment estimator (self-join size of
    the window's key column; F2/n² is the window's collision rate).

    The divisor is the window's OWN sketch-row count (every event
    explodes into all n_rows rows, so any non-empty window carries the
    full set) — derived from the data, never a parameter: a grid built
    with a non-default n_rows read with a mismatched divisor would
    silently rescale every estimate. ``n_rows_seen`` stays in the
    output so a malformed grid is visible."""
    return (
        grid.groupBy("hour_start")
        .agg(
            (
                F.sum(F.col("s") * F.col("s"))
                / F.count(F.lit(1)).cast("double")
            ).alias("f2_est"),
            F.count(F.lit(1)).alias("n_rows_seen"),
        )
    )


def ams_inner_products(grid: DataFrame) -> DataFrame:
    """Pairwise window inner-product (equi-join size) estimates from a
    drained AMS grid: mean_j(S_j^A · S_j^B) for every unordered window
    pair — the join cardinality |{(a, b) : key_a = key_b}| between the
    two windows' event sets. The self-join is over the WINDOW grain
    (bounded by retained wall-clock hours), joined per sketch row.
    The divisor is the pair's matched-row count (the shared j set),
    data-derived per the ams_moments contract."""
    # every column re-aliased on BOTH sides: a self-join of the same
    # (possibly view-backed) plan must reference only fresh attribute
    # ids or resolution conflicts (hit live on a memory-sink view)
    a = grid.select(
        F.col("hour_start").alias("wa"),
        F.col("j").alias("ja"),
        F.col("s").alias("sa"),
    )
    b = grid.select(
        F.col("hour_start").alias("wb"),
        F.col("j").alias("jb"),
        F.col("s").alias("sb"),
    )
    return (
        a.join(b, F.col("ja") == F.col("jb"))
        .where(F.col("wa") < F.col("wb"))
        .groupBy("wa", "wb")
        .agg(
            (
                F.sum(F.col("sa") * F.col("sb"))
                / F.count(F.lit(1)).cast("double")
            ).alias("join_size_est")
        )
    )
