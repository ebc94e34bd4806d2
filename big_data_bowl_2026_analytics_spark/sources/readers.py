"""Table readers.

Parquet is the engine's native format (columnar, statistics, partition
pruning). CSV ingest keeps parity with the reference's raw inputs
(reference: src/io/datasets.py:14-29) but with explicit schemas and
FAILFAST instead of inferred dtypes + hand-rolled column checks
(reference: src/data_processing/cleaning/plays.py:67-72).

At 100 TB the scan is where the query is won or lost: we always read
through these helpers so column pruning and predicate pushdown reach
the parquet footer (check ``ReadSchema``/``PushedFilters`` in
``df.explain``), and partitioned layouts get pruned by partition
predicates rather than read-and-filter.
"""

from __future__ import annotations

import os
import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Tables materialized by :func:`pin_table`, served to every
#: subsequent read_table call: {(abs sf_dir, name): cached frame}.
_PINNED: dict[tuple[str, str], DataFrame] = {}


#: Inferred parquet schema per (abs sf_dir, table) — pure METADATA.
#: `spark.read.parquet` without a schema launches a one-task footer-
#: inference job per call; every builder invocation re-pays it for
#: every table it reads (q03 fires four per build — measured in the
#: r13 optimization round). Inferring once per process and passing
#: the schema explicitly skips that job while the scan itself still
#: reads the parquet data every query. This is the catalog role a
#: metastore plays on a real deployment; it caches no table data.
_SCHEMAS: dict[tuple[str, str], StructType] = {}


#: Resolved base DataFrame per (abs sf_dir, table), valid for ONE
#: SparkSession (stored alongside and identity-checked — the driver
#: supplies its own session, and a frame from a stopped session must
#: never be served to a new one). A DataFrame is an immutable logical
#: plan: reusing the object re-executes the SCAN on every action, so
#: no data is cached — what this skips is the per-call driver work of
#: `spark.read.parquet` (file listing, DataSource resolution) plus
#: one eager analysis pass, measured at 25-50 ms per read and paid
#: 1-4 times per query builder before this cache existed (r13
#: optimization round). The metadata-catalog analogue of _SCHEMAS,
#: one level up.
_FRAMES: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}


#: Dominant grouping/join key per table — pinning hash-partitions on
#: it (the local analogue of a bucketed layout), so per-partition
#: partial aggregates on that key collapse to full groups instead of
#: every partition emitting near-full-cardinality partials, and the
#: cached frame's outputPartitioning lets the planner skip exchanges.
PIN_KEYS: dict[str, str] = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "part": "p_partkey",
    "supplier": "s_suppkey",
}


def pin_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Materialize a table into the in-memory columnar cache at the
    session's parallelism and serve later ``read_table`` calls from it.

    This is the LOCAL analogue of writing the table bucketed /
    multi-file on a cluster: the synthetic testdata ships one parquet
    file with one row group per table, which is unsplittable — every
    map-side stage (explodes, signature folds, projections) otherwise
    runs as ONE task no matter how many cores exist. Repartitioning
    once at pin time costs a single small shuffle; everything after
    reads the parallel cached copy (measured: the LSH candidate-pair
    query drops 3.2x at sf1-equivalent). Partitioning is by the
    table's dominant key (PIN_KEYS) — round-robin would scatter each
    group across every partition and blow up map-side partial
    aggregates. At 100 TB the data layout itself provides the split
    points and pinning is unnecessary; bucketed writes play this role
    (operators/bucketing.py).
    """
    key = (os.path.abspath(sf_dir), name)
    if key in _PINNED:
        return _PINNED[key]
    n = num_partitions or spark.sparkContext.defaultParallelism
    df = read_table(spark, sf_dir, name)
    pin_key = PIN_KEYS.get(name)
    df = df.repartition(n, F.col(pin_key)) if pin_key else df.repartition(n)
    df.persist()
    df.count()
    _PINNED[key] = df
    return df


def unpin_tables() -> None:
    """Release every pinned table (unpersist + forget)."""
    for df in _PINNED.values():
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 - session may already be gone
            pass
    _PINNED.clear()


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: Sequence[str] | None = None,
    spread: bool = False,
) -> DataFrame:
    """Read one testdata table; optional projection (pruned at the scan).

    ``spread=True`` applies :func:`parallelize_scan` on the way out:
    when (and only when) the table's parquet layout cannot parallelize
    the scan, the projected frame is round-robined to the session
    parallelism so compute-heavy map work after it (shingle explodes,
    signature folds) uses every core. Identity when the layout already
    splits — see parallelize_scan.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in some
    testdata generations and TIMESTAMP(MICROS, ntz) in others, and the
    driver supplies its own SparkSession whose confs we don't control —
    so we branch on the dtype Spark ACTUALLY loaded rather than
    assuming either encoding:

    * ``bigint`` (nanosAsLong in effect): integer-divide to µs and
      rebuild the timestamp — the same floor-truncation DuckDB applies
      when it reads NANOS into its µs TIMESTAMP.
    * ``timestamp_ntz`` (native µs read): cast to session-zoned
      TIMESTAMP under UTC — a pure relabel (no instant shift), keeping
      every downstream query (window/date_trunc/unix_micros) on the
      exact semantics the oracle checks were built against.
    """
    pinned = _PINNED.get((os.path.abspath(sf_dir), name))
    if pinned is not None:
        # Pinned frames are already repartitioned — spread is a no-op.
        return pinned.select(*columns) if columns else pinned
    schema_key = (os.path.abspath(sf_dir), name)
    cached = _FRAMES.get(schema_key)
    if cached is not None and cached[0] is spark:
        df = cached[1]
        if columns:
            df = df.select(*columns)
        if spread:
            df = parallelize_scan(spark, df, sf_dir, name)
        return df
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Runtime-settable SQL confs the queries depend on are set HERE,
    # not at session build time: the driver supplies its own
    # SparkSession (CLAUDE.md footgun #7), so timestamp semantics
    # (date_trunc, toPandas conversion) must not rely on the session
    # having been built by core/session.py. UTC matches the DuckDB
    # oracle's default. (On a _FRAMES hit the conf was already set
    # when this session first built the frame.)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cached_schema = _SCHEMAS.get(schema_key)
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # noqa: BLE001 - conf may not exist in this build
            pass
        if cached_schema is not None:
            df = spark.read.schema(cached_schema).parquet(path)
        else:
            df = spark.read.parquet(path)
            _SCHEMAS[schema_key] = df.schema
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type == "timestamp":
            # A third encoding (e.g. µs with isAdjustedToUTC) — already
            # session-zoned, assumed UTC-instant-consistent with the
            # oracle, but say so loudly: every prior encoding change
            # (NANOS→MICROS between rounds 2 and 3) only surfaced in
            # the driver run when it slipped through silently.
            warnings.warn(
                "events.ts loaded as plain 'timestamp' — a testdata "
                "encoding not seen before (expected bigint or "
                "timestamp_ntz). Proceeding under UTC-instant "
                "semantics; re-verify events queries against the "
                "oracle before trusting this generation.",
                stacklevel=2,
            )
        elif ts_type is not None:
            raise ValueError(
                f"events.ts loaded as unexpected dtype {ts_type!r} — "
                "the testdata encoding changed again; extend "
                "read_table's dtype branch before running any events "
                "query."
            )
    else:
        if cached_schema is not None:
            df = spark.read.schema(cached_schema).parquet(path)
        else:
            df = spark.read.parquet(path)
            _SCHEMAS[schema_key] = df.schema
    _FRAMES[schema_key] = (spark, df)
    if columns:
        df = df.select(*columns)
    if spread:
        df = parallelize_scan(spark, df, sf_dir, name)
    return df


#: Cached parquet row-group counts per (abs sf_dir, table) — a pure
#: layout probe (footer metadata, no data), used to decide whether a
#: scan can parallelize at all.
_RG_COUNTS: dict[tuple[str, str], int] = {}


def scan_row_groups(sf_dir: str, name: str) -> int:
    """Total parquet row groups across the table's file(s) — the hard
    ceiling on Spark's scan parallelism: file splits never subdivide a
    row group, so a one-row-group file runs every pre-shuffle stage as
    ONE task regardless of core count."""
    key = (os.path.abspath(sf_dir), name)
    if key in _RG_COUNTS:
        return _RG_COUNTS[key]
    import glob

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).num_row_groups
        except Exception:  # noqa: BLE001 - unreadable footer: assume 1
            total += 1
    _RG_COUNTS[key] = total
    return total


def parallelize_scan(
    spark: SparkSession, df: DataFrame, sf_dir: str, name: str
) -> DataFrame:
    """Round-robin ``df`` to the session parallelism IF AND ONLY IF the
    backing table's on-disk layout cannot parallelize the scan (fewer
    row groups than cores — guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    Use this on a COMPACT projection feeding compute-heavy map work
    (explodes, per-row hashing, calendar math): the shuffle moves a few
    narrow columns once and unlocks every core. At 100 TB the layout
    itself provides the split points, the guard sees >= cores row
    groups, and this is a no-op — no constant tuned for local mode.
    """
    target = spark.sparkContext.defaultParallelism
    if scan_row_groups(sf_dir, name) >= target:
        return df
    return df.repartition(target)


def register_views(
    spark: SparkSession, sf_dir: str, names: Sequence[str] = TPCH_TABLES
) -> None:
    """Register every table as a temp view so ``spark.sql`` works as a
    front end alongside the DataFrame API (same Catalyst plans)."""
    for name in names:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    limit: int | None = None,
) -> DataFrame:
    """CSV scan with an explicit schema, fail-fast on malformed rows.

    Mirrors the reference CSVReader (src/io/datasets.py:14-29) whose
    optional row limit becomes a ``LocalLimit`` the optimizer pushes
    toward the scan.
    """
    df = (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "FAILFAST")
        .csv(path)
    )
    if limit is not None:
        df = df.limit(limit)
    return df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    limit: int | None = None,
) -> DataFrame:
    """JSON-Lines scan with an explicit schema, fail-fast on malformed
    rows — the interchange format LLM data pipelines standardize on
    (one document object per line).

    An explicit schema matters doubly for JSON: without one Spark runs
    a full inference pass over the data (a second 100 TB scan) and
    silently widens types. FAILFAST surfaces corrupt lines at read
    time instead of nulling them into the corpus.
    """
    df = spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    if limit is not None:
        df = df.limit(limit)
    return df
