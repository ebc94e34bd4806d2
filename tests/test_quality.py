"""Tests for the data-quality operator surface."""

from __future__ import annotations

import pytest

from big_data_bowl_2026_analytics_spark.operators.quality import (
    DataQualityError,
    assert_many_to_one,
    assert_no_nulls,
    assert_unique_key,
    assert_values_in,
    expect_columns,
    null_audit,
)


def _df(spark):
    return spark.createDataFrame(
        [(1, "a", None), (2, "b", 2.0), (2, "c", 3.0)],
        "id long, name string, v double",
    )


def test_expect_columns(spark):
    df = _df(spark)
    assert expect_columns(df, ["id", "name"]) is df
    with pytest.raises(DataQualityError, match="missing required columns: \\['zzz'\\]"):
        expect_columns(df, ["id", "zzz"])


def test_assert_unique_key(spark):
    df = _df(spark)
    assert_unique_key(df, ["name"])
    with pytest.raises(DataQualityError, match="not unique"):
        assert_unique_key(df, ["id"], label="dim")


def test_assert_many_to_one(spark):
    fact = _df(spark)
    dim_ok = spark.createDataFrame([(1, "x"), (2, "y")], "id long, t string")
    dim_bad = spark.createDataFrame([(1, "x"), (1, "y")], "id long, t string")
    assert_many_to_one(fact, dim_ok, ["id"])
    with pytest.raises(DataQualityError):
        assert_many_to_one(fact, dim_bad, ["id"], label="players join")


def test_null_audit_and_assert(spark):
    df = _df(spark)
    assert null_audit(df, ["name", "v"]) == {"name": 0, "v": 1}
    assert_no_nulls(df, ["name"])
    with pytest.raises(DataQualityError, match="null values present"):
        assert_no_nulls(df, ["v"], label="features")


def test_assert_values_in(spark):
    df = spark.createDataFrame([("C",), ("I",), ("IN",)], "pass_result string")
    assert_values_in(df, "pass_result", ["C", "I", "IN"])
    bad = spark.createDataFrame([("C",), ("X",)], "pass_result string")
    with pytest.raises(DataQualityError, match="outside"):
        assert_values_in(bad, "pass_result", ["C", "I", "IN"])


def test_checks_run_one_job_each(spark):
    """Each key and domain check is one Spark job, passing or failing,
    however many partitions its input has (a ``limit(...).collect()``
    would scan partition batches in successive jobs). AQE off, as
    AQE runs each shuffle stage as its own job."""
    sc = spark.sparkContext
    wide = spark.range(0, 400, numPartitions=8).selectExpr(
        "id", "id % 3 AS k", "CASE WHEN id = 397 THEN 'X' ELSE 'C' END AS pass_result"
    )

    def jobs(check, *args):
        group = f"quality-{check.__name__}-{args}"
        sc.setJobGroup(group, group)
        try:
            check(wide, *args)
            raised = None
        except DataQualityError as exc:
            raised = str(exc)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), raised

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert jobs(assert_unique_key, ["id"]) == (1, None)
        assert jobs(assert_values_in, "k", [0, 1, 2]) == (1, None)
        assert jobs(assert_unique_key, ["k"]) == (
            1, "frame: key ['k'] not unique, e.g. {'k': 0} appears 134 times"
        )
        assert jobs(assert_values_in, "pass_result", ["C"]) == (
            1, "frame: pass_result outside ['C']: ['X']"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
