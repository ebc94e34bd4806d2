"""Table writers.

The reference writes CSV per-week files by hand
(src/io/datasets.py:35-47, src/core/settings.py:57-58). Here the
weekly layout is a first-class ``partitionBy`` parquet write: readers
then prune partitions from predicates instead of resolving filename
templates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    sort_within_partitions: Sequence[str] | None = None,
) -> None:
    """Parquet sink (overwrites ``path``); optional hive-style
    partitioning + in-file ordering.

    ``sort_within_partitions`` keeps row-group ordering (e.g. by
    (game_id, play_id, frame_id)) so min/max statistics stay selective
    for point lookups — the scalable replacement for the reference's
    sorted CSV output (tracking.py:529-536).
    """
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write — the layout side of
    ``OPTIMIZE ZORDER BY (x, y)``: quantize both columns against their
    global min/max, Morton-interleave (operators/layout.py), range-
    partition into ``n_files`` files by the z-value and sort rows by
    it inside each file. Every file then covers a compact rectangle of
    (x, y) space, so parquet min/max statistics prune files for
    predicates on EITHER column (measured as the q126 chunk-span
    audit; asserted against real file footers in tests/test_layout.py).

    Scale: one stats pass (two tiny aggregate rows broadcast back),
    one range-exchange on the z key — the same cost shape as any
    global sort write. ``repartitionByRange`` samples the z
    distribution, so file row counts stay balanced under skew."""
    from pyspark.sql import functions as F

    from ..operators.layout import quantize, zorder_value

    stats = df.agg(
        F.min(x_col).alias("_minx"),
        F.max(x_col).alias("_maxx"),
        F.min(y_col).alias("_miny"),
        F.max(y_col).alias("_maxy"),
    )
    z = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "_z",
            zorder_value(
                quantize(F.col(x_col), F.col("_minx"), F.col("_maxx") - F.col("_minx")),
                quantize(F.col(y_col), F.col("_miny"), F.col("_maxy") - F.col("_miny")),
            ),
        )
        .drop("_minx", "_maxx", "_miny", "_maxy")
    )
    (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink for raw-output parity (reference src/io/datasets.py:35-47)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format of text/training-data
    pipelines (one JSON document per line, splittable, appendable)."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — second columnar format (predicate pushdown + column
    pruning work identically to parquet through the same scan API)."""
    df.write.mode(mode).orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    path: str | None = None,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed parquet table (hash-clustered files + catalog
    metadata): rows land in ``n_buckets`` files by the hash of
    ``bucket_cols``, optionally sorted within each bucket.

    This is the 100 TB co-location primitive Spark offers that plain
    parquet paths cannot express: two tables bucketed the same way
    join WITHOUT any exchange (each task zips bucket i with bucket i),
    and aggregations on the bucket key skip their shuffle — the
    shuffle is paid once at write time, then amortized over every
    downstream join/agg. Requires ``saveAsTable`` (bucket metadata
    lives in the catalog, not the files); ``path`` makes it an external
    table at that location.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
