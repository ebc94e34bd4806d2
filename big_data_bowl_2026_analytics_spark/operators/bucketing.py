"""Bucketed-table helpers: pre-shuffled storage so repeated joins and
aggregations on the bucket key run with NO exchange.

At 100 TB the fact tables are written once, joined thousands of times;
bucketing both sides of a recurring join on the join key (same bucket
count) makes every subsequent join shuffle-free — the storage-level
equivalent of co-partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..sources.writers import write_bucketed  # noqa: F401  (re-export)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Join two bucketed tables on their bucket key: with matching
    bucket counts Catalyst plans a SortMergeJoin with zero Exchange."""
    return spark.table(left_table).join(spark.table(right_table), list(on), how)
