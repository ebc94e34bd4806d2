"""Reusable join operators mirroring the reference's join idioms
(SURVEY §2.3) in their scale-correct Spark form."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def left_semi_keys(fact: DataFrame, keys_df: DataFrame, on: Sequence[str]) -> DataFrame:
    """Keep fact rows whose key appears in ``keys_df`` (EXISTS).

    The reference filters facts by inner-joining deduped key frames
    (/root/reference/src/data_processing/cleaning/tracking.py:204-266);
    a LEFT SEMI join is the same semantics without materializing or
    shipping the non-key columns of the filter side.
    """
    return fact.join(keys_df.select(*on).dropDuplicates(list(on)), list(on), "left_semi")


def broadcast_left_join(fact: DataFrame, dim: DataFrame, on: Sequence[str]) -> DataFrame:
    """m:1 dimension enrichment: dedup the dim side (the semantic guard
    the reference encodes as validate='many_to_one') and broadcast it.
    """
    return fact.join(F.broadcast(dim.dropDuplicates(list(on))), list(on), "left")
