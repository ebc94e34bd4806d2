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
    sorted CSV output (tracking.py:529-536). The sort leads with the
    partition columns: a partitioned write sorts its input by them,
    and a sort on other columns alone would be dropped under that one.
    """
    if sort_within_partitions:
        df = df.sortWithinPartitions(*(partition_by or ()), *sort_within_partitions)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


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
