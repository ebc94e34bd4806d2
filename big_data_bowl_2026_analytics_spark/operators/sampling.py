"""Deterministic sampling / splitting operators for training-data
pipelines (beyond the reference; the reference's only split is the
week-range train/test partition split, reference
src/data_processing/training/create_datasets.py:102-103).

Randomness in a distributed pipeline must be a pure function of the
row, never of partitioning, task retries, or physical row order —
``df.sample(seed=...)`` changes membership when the partition layout
changes, which silently changes a training set between runs. Both
operators therefore derive their "randomness" from md5 of stable key
columns:

- ``hash_bucket`` / ``hash_split``: assign each row to one of N
  buckets (or named splits) by the integer value of an md5 prefix —
  stable across runs, engines, and cluster layouts, and leakage-safe
  (every row with the same key lands in the same split).
- ``deterministic_group_sample``: k rows per group chosen by ordering
  on the key hash — a re-runnable stand-in for per-group reservoir
  sampling whose output does not depend on physical row order.

Scale: both are embarrassingly parallel map-side expressions; the
group sample adds one shuffle on the group key (window row_number with
a WindowGroupLimit, so each partition keeps only k rows before the
final sort).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 4 hex chars = 65536 source buckets; plenty of resolution for
# percent-level split fractions.
_HASH_CHARS = 4


def row_hash(cols: Sequence[Column | str], sep: str = "|") -> Column:
    """Stable row fingerprint: md5 over '|'-joined key columns.

    md5 (not xxhash/crc32) so oracle SQL on any engine reproduces the
    exact hex (CLAUDE.md hashing convention).
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.md5(F.concat_ws(sep, *cs))


def hash_bucket(key: Column, n_buckets: int) -> Column:
    """Deterministic bucket in [0, n_buckets) from md5 of ``key``.

    Engine-portable integer arithmetic: first 4 hex chars of the md5
    parsed base-16 (DuckDB mirror: ``('0x' || substr(md5(k),1,4))::
    BIGINT % n``).
    """
    val = F.conv(F.substring(F.md5(key), 1, _HASH_CHARS), 16, 10).cast("bigint")
    return F.pmod(val, F.lit(n_buckets))


def hash_split(
    key: Column,
    splits: Sequence[tuple[str, int]],
    n_buckets: int = 100,
) -> Column:
    """Named split assignment by cumulative bucket ranges.

    ``splits`` is ``[(name, n_buckets_of_total), ...]``; e.g. with
    ``n_buckets=100``, ``[("test", 10), ("validation", 20),
    ("train", 70)]`` is a 10/20/70 split. The ranges are cumulative in
    the order given, so adding data never moves a row between splits.
    """
    if sum(n for _, n in splits) != n_buckets:
        raise ValueError("split fractions must sum to n_buckets")
    b = hash_bucket(key, n_buckets)
    expr: Column | None = None
    hi = 0
    for name, n in splits[:-1]:
        hi += n
        cond = b < F.lit(hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    assert expr is not None
    return expr.otherwise(splits[-1][0])


def deterministic_group_sample(
    df: DataFrame,
    group_cols: Sequence[str],
    k: int,
    hash_cols: Sequence[str],
) -> DataFrame:
    """k rows per group, chosen by md5 order of ``hash_cols`` —
    order-independent, re-runnable "random" per-group sampling.

    Adds ``sample_key`` (the hex hash) and ``sample_rank`` (1..k).
    ``hash_cols`` should uniquely identify a row within its group; rows
    that are full duplicates tie harmlessly (identical output rows).

    Scale: one shuffle on ``group_cols``; the rank filter is a
    WindowGroupLimit, so executors discard beyond-k rows before the
    per-group sort completes (no full-group materialization).
    """
    keyed = df.withColumn("sample_key", row_hash(list(hash_cols)))
    w = Window.partitionBy(*group_cols).orderBy("sample_key")
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def _hash_uniform(hash_cols: Sequence[str], salt: str) -> Column:
    """A uniform in (0, 1) from the first 32 bits of md5(row hash ||
    salt): (k + 0.5) / 2^32, exact in double on every engine."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(row_hash(list(hash_cols)), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(16**8))


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    hash_cols: Sequence[str],
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): each row gets priority ``u^(1/w)`` with ``u`` a
    hash-derived uniform in (0,1); the k highest priorities are the
    sample. Inclusion probability is proportional to weight, and —
    like every operator in this module — membership is a pure function
    of the row (+ ``salt`` to draw independent samples), never of
    partition layout or retries.

    Scale: priorities are map-side expressions; the global top-k plans
    as TakeOrderedAndProject (per-partition k then a k·P merge — no
    global sort). Weights must be > 0.
    """
    u = _hash_uniform(hash_cols, salt)
    priority = F.pow(u, F.lit(1.0) / F.col(weight_col))
    return (
        df.withColumn("sample_priority", priority)
        .orderBy(F.desc("sample_priority"))
        .limit(k)
    )


def weighted_bernoulli_sample(
    df: DataFrame,
    expected_k: int,
    weight_col: str,
    hash_cols: Sequence[str],
    salt: str = "",
) -> DataFrame:
    """Deterministic weight-proportional Poisson (Bernoulli) sampling:
    row i is kept iff ``u_i < expected_k * w_i / W`` where ``u_i`` is a
    hash-derived uniform and ``W = sum(w)``. Expected sample size is
    ``expected_k`` (exactly, when no row's scaled weight exceeds 1);
    membership is independent per row.

    Unlike :func:`weighted_sample` (A-ES, exact-k, needs ``pow``),
    every arithmetic step here is an IEEE-exact or correctly-rounded
    double op — int-to-double below 2^53, +0.5, a divide by 2^32, one
    multiply, one divide — so ANY engine computes the identical
    membership bit-for-bit (no transcendental functions, whose last-ulp
    behavior is libm-specific). That makes the op oracle-checkable and,
    more importantly, re-runnable across engine versions: a training
    mixture sampled this way is reproducible forever.

    Scale: the total weight is a one-row aggregate broadcast back over
    the corpus (one pass + one map-side filter); no sort, no top-k
    structure, no shuffle of the kept rows. Adds ``sample_u`` (the
    uniform, for audit).
    """
    u = _hash_uniform(hash_cols, salt)
    total = df.select(F.sum(F.col(weight_col)).cast("double").alias("_W"))
    return (
        df.withColumn("sample_u", u)
        .crossJoin(F.broadcast(total))
        .where(
            F.col("sample_u")
            < F.lit(expected_k) * F.col(weight_col) / F.col("_W")
        )
        .drop("_W")
    )
