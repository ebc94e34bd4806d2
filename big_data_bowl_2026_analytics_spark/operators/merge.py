"""MERGE INTO (upsert + delete) semantics as a relational composition.

Spark core has no table-level MERGE (that's a Delta/Iceberg writer
feature); the RESULT of a merge is pure relational algebra and belongs
in the engine: the CDC-batch-applied snapshot

    merged = (base ANTI⋉ update_keys)  ∪  inserts(updates)

i.e. update rows win whole-row, unmatched base rows survive, rows
flagged as deletes disappear. Combined with a dynamic-partition-
overwrite writer (``partitionOverwriteMode=dynamic``) this is the
idempotent apply-changes loop of a warehouse pipeline.

Scale: one anti join on the merge key — broadcast when the CDC batch
is small (the common case; Catalyst picks it from sizes), shuffle
hash/sort-merge when it isn't. The union is shuffle-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Apply a keyed update batch to a base snapshot.

    - rows in ``updates`` replace matching ``base`` rows (and insert
      when unmatched)
    - rows where ``updates[delete_col]`` is true remove the key
      entirely (and insert nothing)
    - all other base rows pass through unchanged

    ``updates`` must have at most one row per key (CDC batches are
    key-deduped upstream; enforce with a window if not).
    """
    keys = list(keys)
    if delete_col is not None:
        inserts = updates.where(~F.col(delete_col)).drop(delete_col)
    else:
        inserts = updates
    survivors = base.join(updates.select(*keys).distinct(), keys, "left_anti")
    return survivors.unionByName(inserts)


def snapshot_diff(
    before: DataFrame,
    after: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Classify every key across two snapshots of the same schema:
    ``inserted`` / ``deleted`` / ``updated`` / ``unchanged`` — the
    reconciliation audit run after an apply-changes step (the inverse
    of :func:`merge_upsert`), and the core of a data-diff tool.

    Rows are compared by md5 over all non-key columns (column order
    fixed by the ``before`` schema), so wide rows travel the join as
    one 32-char hash. Returns (keys..., change_type).

    Hash construction: every column is null-sentineled with NUL before
    concatenation — ``concat_ws`` SKIPS nulls, so without the sentinel
    payloads ('a', NULL) and (NULL, 'a') (or ('a|b', NULL) vs
    ('a','b') with the old '|' delimiter) would collide and be
    misclassified as unchanged. The field separator is \\x01, which
    cannot appear in the NUL sentinel and is vanishingly rare in data;
    a column VALUE containing \\x01 could still in principle collide
    across column boundaries — acceptable for an audit hash,
    documented here.

    Scale: both sides reduce to (key, row_hash) map-side before a
    single full outer join on the key — the shuffle carries hashes,
    not payloads.
    """
    keys = list(keys)
    payload = [c for c in before.columns if c not in keys]

    def hashed(df: DataFrame, alias: str) -> DataFrame:
        cells = [
            F.coalesce(F.col(c).cast("string"), F.lit("\u0000"))
            for c in payload
        ]
        h = F.md5(F.concat_ws("\u0001", *cells))
        return df.select(*keys, h.alias(alias))

    b = hashed(before, "_h_before")
    a = hashed(after, "_h_after")
    joined = b.join(a, keys, "full_outer")
    change = (
        F.when(F.col("_h_before").isNull(), "inserted")
        .when(F.col("_h_after").isNull(), "deleted")
        .when(F.col("_h_before") == F.col("_h_after"), "unchanged")
        .otherwise("updated")
    )
    return joined.select(*keys, change.alias("change_type"))


def apply_agg_delta(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    count_col: str = "n_rows",
    op_col: str = "op",
) -> DataFrame:
    """Incremental aggregate-view maintenance: apply a CDC batch to a
    per-key (count, sums) snapshot WITHOUT touching the base table.

    ``changes`` carries full payload rows with ``op_col`` in
    {'I','D'} (an update is delete+insert of the same key). Counts and
    sums are self-maintainable under insert/delete — the batch reduces
    to one signed aggregate per key, full-outer-joined onto the
    snapshot; keys whose count reaches zero drop out. (min/max are NOT
    delete-maintainable and are deliberately absent.)

    Exactness: callers should pass integer-valued sum columns (e.g.
    money as cents) — integer addition is associative, so the
    incrementally-maintained view is bit-identical to a full
    recompute, not merely close.

    Scale: this is THE shape that keeps a 100 TB rollup fresh — cost
    is O(|batch|) + one join against the (key-grained, small) view; at
    1000 executors the batch aggregate map-side-combines and the join
    shuffles only view-sized data. The base table is never re-read.
    """
    keys = list(keys)
    sign = F.when(F.col(op_col) == "D", F.lit(-1)).otherwise(F.lit(1))
    delta = changes.groupBy(*keys).agg(
        F.sum(sign).alias("_dn"),
        *[F.sum(sign * F.col(c)).alias(f"_ds_{c}") for c in sum_cols],
    )
    # name-list join: USING semantics — key columns arrive coalesced
    merged = snapshot.join(delta, keys, "full_outer")
    n_new = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))
    out_cols = [
        *keys,
        n_new.alias(count_col),
        *[
            (
                F.coalesce(F.col(c), F.lit(0))
                + F.coalesce(F.col(f"_ds_{c}"), F.lit(0))
            ).alias(c)
            for c in sum_cols
        ],
    ]
    return merged.select(*out_cols).where(F.col(count_col) > 0)
