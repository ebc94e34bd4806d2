"""Data-quality operators — the reference's runtime validation surface
(SURVEY §1.4) as engine-level checks:

- required-column / schema assertions (reference plays.py:67-72,
  players.py:51-58 hand-rolled checks),
- join-cardinality guards (reference ``validate='many_to_one'``,
  tracking.py:79-85 — pandas merge validates per call; Spark has no
  built-in, so the guard is an explicit aggregate),
- null audits as single aggregates (reference's post-join
  ``isnull().any()`` warnings, tracking.py:86-89).

All checks are lazy-friendly: each runs one small aggregate job (not
a multi-job ``limit().collect()`` scan) and raises with a useful message.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DataQualityError(ValueError):
    """A data-quality contract was violated."""


def expect_columns(df: DataFrame, required: Sequence[str]) -> DataFrame:
    """Schema guard: every required column present (no job needed)."""
    missing = sorted(set(required) - set(df.columns))
    if missing:
        raise DataQualityError(f"missing required columns: {missing}")
    return df


def assert_unique_key(df: DataFrame, keys: Sequence[str], label: str = "") -> DataFrame:
    """Fail if ``keys`` is not a unique key (the m:1 dim-side contract
    behind every broadcast enrichment join)."""
    n, example = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"), F.max_by(F.struct(*keys), "n"))
        .collect()[0]
    )
    if n is not None and n > 1:
        key_vals = {k: example[k] for k in keys}
        raise DataQualityError(
            f"{label or 'frame'}: key {list(keys)} not unique, e.g. {key_vals} "
            f"appears {n} times"
        )
    return df


def assert_many_to_one(
    fact: DataFrame, dim: DataFrame, on: Sequence[str], label: str = ""
) -> None:
    """The pandas ``validate='many_to_one'`` guard: the dim side must
    be unique on the join key."""
    assert_unique_key(dim, on, label=f"{label or 'join'} dim side")


def null_audit(df: DataFrame, columns: Sequence[str]) -> dict[str, int]:
    """Null counts for the given columns in ONE aggregate job."""
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).alias(c) for c in columns
    ]
    row = df.agg(*aggs).collect()[0]
    return {c: int(row[c] or 0) for c in columns}


def assert_no_nulls(df: DataFrame, columns: Sequence[str], label: str = "") -> DataFrame:
    audit = null_audit(df, columns)
    bad = {c: n for c, n in audit.items() if n > 0}
    if bad:
        raise DataQualityError(f"{label or 'frame'}: null values present: {bad}")
    return df


def assert_values_in(
    df: DataFrame, column: str, allowed: Sequence, label: str = ""
) -> DataFrame:
    """Domain check (e.g. pass_result in {C, I, IN}; positive weights
    are the same shape with a predicate)."""
    bad = (
        df.where(~F.col(column).isin(*allowed))
        .limit(5)
        .agg(F.collect_list(column))
        .collect()[0][0]
    )
    if bad:
        raise DataQualityError(
            f"{label or 'frame'}: {column} outside {list(allowed)}: {bad}"
        )
    return df


def observe_audit(
    df: DataFrame, name: str, columns: Sequence[str]
) -> tuple[DataFrame, "Observation"]:
    """Attach a ZERO-extra-pass quality audit to a frame: row count
    and per-column null counts accumulate inside whatever job consumes
    the frame next (a write, a count, a downstream agg) via
    ``DataFrame.observe`` — the audit rides along as accumulator-style
    metrics instead of re-running the plan.

    This replaces the audit-as-second-job pattern for production
    writes: at 100 TB, ``null_audit`` costs another full scan, while
    an observation is free. Returns ``(observed_df, observation)``;
    read ``observation.get`` AFTER an action has run.

        audited, obs = observe_audit(df, "pre_write", ["user_id"])
        write_parquet(audited, path)
        if obs.get["null_user_id"] > 0: ...
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}") for c in columns
    ]
    return df.observe(obs, *metrics), obs
