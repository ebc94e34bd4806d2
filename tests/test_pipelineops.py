"""Unit tests for the training-pipeline operators: gap-fill/LOCF,
deterministic hash splits/samples, and Z-order layout keys."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from big_data_bowl_2026_analytics_spark.functions.scalar import zorder_key, zorder_sql
from big_data_bowl_2026_analytics_spark.operators.sampling import (
    deterministic_group_sample,
    hash_bucket,
    hash_split,
)
from big_data_bowl_2026_analytics_spark.operators.temporal import gap_fill_locf


def _ts(h: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, 0, 0)


class TestGapFillLocf:
    def test_fills_gaps_and_carries_forward(self, spark):
        df = spark.createDataFrame(
            [
                ("a", _ts(0), 1.0),
                ("a", _ts(1), 2.0),
                ("a", _ts(4), 5.0),  # hours 2,3 missing
                ("b", _ts(10), 7.0),  # single point: no gaps
            ],
            "key string, hour timestamp, v double",
        )
        out = gap_fill_locf(df, "key", "hour", ("v",)).orderBy("key", "hour")
        rows = [(r.key, r.hour.hour, r.v, r.observed) for r in out.collect()]
        assert rows == [
            ("a", 0, 1.0, 1),
            ("a", 1, 2.0, 1),
            ("a", 2, 2.0, 0),  # carried forward
            ("a", 3, 2.0, 0),
            ("a", 4, 5.0, 1),
            ("b", 10, 7.0, 1),
        ]

    def test_no_rows_outside_span(self, spark):
        df = spark.createDataFrame(
            [("a", _ts(3), 1.0)], "key string, hour timestamp, v double"
        )
        assert gap_fill_locf(df, "key", "hour", ("v",)).count() == 1


class TestHashSplit:
    def test_fractions_and_determinism(self, spark):
        n = 5000
        df = spark.range(n).select(F.col("id").cast("string").alias("k"))
        split = hash_split(F.col("k"), [("test", 10), ("validation", 20), ("train", 70)])
        counts = {r[0]: r[1] for r in df.select(split.alias("s")).groupBy("s").count().collect()}
        assert set(counts) == {"test", "validation", "train"}
        # within 3 sigma of the target fractions
        assert abs(counts["test"] - 0.10 * n) < 3 * (n * 0.1 * 0.9) ** 0.5
        assert abs(counts["validation"] - 0.20 * n) < 3 * (n * 0.2 * 0.8) ** 0.5
        # repartitioning does not move any row between splits
        a = set(df.select("k", split.alias("s")).collect())
        b = set(df.repartition(13).select("k", split.alias("s")).collect())
        assert a == b

    def test_bucket_range(self, spark):
        df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
        mn, mx = (
            df.select(hash_bucket(F.col("k"), 7).alias("b"))
            .agg(F.min("b"), F.max("b"))
            .first()
        )
        assert mn >= 0 and mx <= 6

    def test_bad_fractions_raise(self, spark):
        try:
            hash_split(F.lit("x"), [("a", 50), ("b", 40)])
        except ValueError:
            return
        raise AssertionError("expected ValueError")


class TestGroupSample:
    def test_k_per_group_and_layout_independence(self, spark):
        df = spark.createDataFrame(
            [(g, i) for g in ("x", "y") for i in range(50)], "g string, i long"
        )
        out = deterministic_group_sample(df, ["g"], 5, ["g", "i"])
        per_group = {r[0]: r[1] for r in out.groupBy("g").count().collect()}
        assert per_group == {"x": 5, "y": 5}
        again = deterministic_group_sample(df.repartition(17), ["g"], 5, ["g", "i"])
        assert set(out.select("g", "i").collect()) == set(
            again.select("g", "i").collect()
        )

    def test_small_group_keeps_all(self, spark):
        df = spark.createDataFrame([("x", 1), ("x", 2)], "g string, i long")
        assert deterministic_group_sample(df, ["g"], 5, ["g", "i"]).count() == 2


class TestZorder:
    def _py_morton(self, a: int, b: int, bits: int = 16) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    def test_matches_python_reference(self, spark):
        pairs = [(0, 0), (1, 0), (0, 1), (255, 7), (65535, 65535), (12345, 678)]
        df = spark.createDataFrame(pairs, "a long, b long")
        got = {
            (r.a, r.b): r.z
            for r in df.withColumn("z", zorder_key(F.col("a"), F.col("b"))).collect()
        }
        for a, b in pairs:
            assert got[(a, b)] == self._py_morton(a, b)

    def test_sql_mirror_identical(self, spark):
        df = spark.range(200).select(
            (F.col("id") * 37 % 1000).alias("a"), (F.col("id") * 91 % 1000).alias("b")
        )
        mismatches = (
            df.withColumn("z1", zorder_key(F.col("a"), F.col("b")))
            .withColumn("z2", F.expr(zorder_sql("a", "b")))
            .where(F.col("z1") != F.col("z2"))
            .count()
        )
        assert mismatches == 0

    def test_monotone_per_dimension(self, spark):
        # With one dimension fixed, the key is monotone in the other —
        # the property that makes min/max range pruning sound.
        for b in (0, 9, 500):
            zs = [self._py_morton(a, b) for a in range(200)]
            assert zs == sorted(zs)


class TestMergeUpsert:
    def test_upsert_insert_delete_pass_through(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.merge import merge_upsert

        base = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
        updates = spark.createDataFrame(
            [(2, "B", False), (3, None, True), (9, "NEW", False)],
            "k long, v string, is_delete boolean",
        )
        out = merge_upsert(base, updates, ["k"], delete_col="is_delete")
        assert {(r.k, r.v) for r in out.collect()} == {
            (1, "a"),   # untouched base row survives
            (2, "B"),   # matched: update wins whole-row
            (9, "NEW"), # unmatched update inserts
        }  # key 3 deleted

    def test_no_delete_col(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.merge import merge_upsert

        base = spark.createDataFrame([(1, "a")], "k long, v string")
        updates = spark.createDataFrame([(1, "A")], "k long, v string")
        assert merge_upsert(base, updates, ["k"]).collect()[0].v == "A"


class TestWeightedSample:
    def test_deterministic_and_weight_biased(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.sampling import (
            weighted_sample,
        )

        # 100 light rows (w=1) + 100 heavy rows (w=10)
        df = spark.createDataFrame(
            [(i, 1.0 if i < 100 else 10.0) for i in range(200)],
            "id long, w double",
        )
        picks = weighted_sample(df, 20, "w", ["id"])
        again = weighted_sample(df.repartition(11), 20, "w", ["id"])
        assert {r.id for r in picks.collect()} == {r.id for r in again.collect()}

        # across 30 independent salts, heavy rows dominate the samples
        heavy = light = 0
        for s in range(30):
            for r in weighted_sample(df, 20, "w", ["id"], salt=str(s)).collect():
                if r.w == 10.0:
                    heavy += 1
                else:
                    light += 1
        assert heavy > 4 * light  # E[heavy/light] ≈ 10, allow wide margin

    def test_topk_plan_no_global_sort(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.sampling import (
            weighted_sample,
        )
        from big_data_bowl_2026_analytics_spark.plans.explain import physical_plan

        df = spark.range(1000).select(
            F.col("id"), (F.col("id") % 7 + 1.0).alias("w")
        )
        plan = physical_plan(weighted_sample(df, 5, "w", ["id"]))
        assert "TakeOrderedAndProject" in plan


class TestSnapshotDiff:
    def test_classifies_all_four_cases(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.merge import snapshot_diff

        before = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
        after = spark.createDataFrame(
            [(1, "a"), (2, "B"), (9, "new")], "k long, v string"
        )
        got = {r.k: r.change_type for r in snapshot_diff(before, after, ["k"]).collect()}
        assert got == {1: "unchanged", 2: "updated", 3: "deleted", 9: "inserted"}

    def test_null_placement_not_collided(self, spark):
        """concat_ws skips NULLs, so without per-column sentinels
        ('a', NULL) vs (NULL, 'a') — and ('a\\x01b', NULL) vs
        ('a', 'b') under the hash delimiter — would hash equal and be
        misclassified as unchanged (ADVICE round 1)."""
        from big_data_bowl_2026_analytics_spark.operators.merge import snapshot_diff

        before = spark.createDataFrame(
            [(1, "a", None), (2, "a", None), (3, "a\x01b", None)],
            "k long, v1 string, v2 string",
        )
        after = spark.createDataFrame(
            [(1, None, "a"), (2, "a", None), (3, "a", "b")],
            "k long, v1 string, v2 string",
        )
        got = {r.k: r.change_type for r in snapshot_diff(before, after, ["k"]).collect()}
        assert got == {1: "updated", 2: "unchanged", 3: "updated"}


class TestApplyAggDelta:
    def _view(self, rows):
        return sorted(tuple(r) for r in rows)

    def test_matches_full_recompute_exactly(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.merge import apply_agg_delta

        base = spark.createDataFrame(
            [(k % 3, 100 + k) for k in range(30)], "g int, cents long"
        )
        snapshot = base.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("cents")
        )
        batch = spark.createDataFrame(
            # delete two rows of g=0, insert one row of g=1 and one of a
            # brand-new key g=9
            [(0, 100, "D"), (0, 103, "D"), (1, 7, "I"), (9, 42, "I")],
            "g int, cents long, op string",
        )
        maintained = apply_agg_delta(snapshot, batch, ["g"], ["cents"])

        final_rows = (
            base.exceptAll(
                spark.createDataFrame([(0, 100), (0, 103)], "g int, cents long")
            )
            .unionByName(spark.createDataFrame([(1, 7), (9, 42)], "g int, cents long"))
        )
        recomputed = final_rows.groupBy("g").agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("cents")
        )
        assert self._view(maintained.collect()) == self._view(recomputed.collect())

    def test_group_deleted_to_zero_drops_out(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.merge import apply_agg_delta

        snapshot = spark.createDataFrame(
            [(0, 2, 50), (1, 1, 10)], "g int, n_rows long, cents long"
        )
        batch = spark.createDataFrame(
            [(0, 20, "D"), (0, 30, "D")], "g int, cents long, op string"
        )
        out = apply_agg_delta(snapshot, batch, ["g"], ["cents"]).collect()
        assert self._view(out) == [(1, 1, 10)]


class TestObserveAudit:
    def test_metrics_ride_the_consuming_job(self, spark, tmp_path):
        from big_data_bowl_2026_analytics_spark.operators.quality import observe_audit
        from big_data_bowl_2026_analytics_spark.sources import write_parquet

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, None), (4, "d")], "id long, s string"
        )
        audited, obs = observe_audit(df, "pre_write", ["s", "id"])
        write_parquet(audited, str(tmp_path / "out"))  # the ONLY job run
        got = obs.get
        assert got["n_rows"] == 4
        assert got["null_s"] == 2
        assert got["null_id"] == 0


class TestWeightedBernoulliSample:
    def test_partition_independent_and_expected_size(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.sampling import (
            weighted_bernoulli_sample,
        )

        df = spark.createDataFrame(
            [(i, float(1 + i % 10)) for i in range(2000)], "id long, w double"
        )
        picks = weighted_bernoulli_sample(df, 100, "w", ["id"])
        again = weighted_bernoulli_sample(df.repartition(13), 100, "w", ["id"])
        got = {r.id for r in picks.collect()}
        assert got == {r.id for r in again.collect()}
        # E[|sample|] = 100; binomial sd ~ 10 — allow 5 sd
        assert 50 <= len(got) <= 150

    def test_weight_proportional(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.sampling import (
            weighted_bernoulli_sample,
        )

        # half the rows carry 9x the weight -> ~90% of inclusions
        df = spark.createDataFrame(
            [(i, 1.0 if i % 2 else 9.0) for i in range(4000)],
            "id long, w double",
        )
        rows = weighted_bernoulli_sample(df, 400, "w", ["id"]).collect()
        heavy = sum(1 for r in rows if r.w == 9.0)
        light = len(rows) - heavy
        assert heavy > 5 * light

    def test_salt_draws_independent_samples(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.sampling import (
            weighted_bernoulli_sample,
        )

        df = spark.createDataFrame(
            [(i, 1.0) for i in range(3000)], "id long, w double"
        )
        a = {r.id for r in weighted_bernoulli_sample(df, 300, "w", ["id"], "a").collect()}
        b = {r.id for r in weighted_bernoulli_sample(df, 300, "w", ["id"], "b").collect()}
        assert a != b
        # independent 10% draws: overlap ~ 30 of 300, far below half
        assert len(a & b) < len(a) / 2


class TestIntervalOverlapJoin:
    def test_matches_naive_inequality_join(self, spark):
        import random

        from big_data_bowl_2026_analytics_spark.operators.temporal import (
            interval_overlap_join,
        )

        rnd = random.Random(7)
        rows = [
            (i, i % 5, float(rnd.randrange(0, 50_000)), 0.0)
            for i in range(300)
        ]
        rows = [(i, k, s, s + rnd.randrange(1, 7200)) for (i, k, s, _) in rows]
        left = spark.createDataFrame(rows[:150], "id long, k long, s double, e double")
        right = spark.createDataFrame(rows[150:], "id long, k long, s double, e double")

        fast = interval_overlap_join(
            left, right, bucket_seconds=3600.0, join_key="k"
        ).select("id", "id_r").distinct()
        naive = (
            left.alias("a")
            .join(
                right.select(*[F.col(c).alias(f"{c}_r") for c in right.columns]),
                (F.col("k") == F.col("k_r"))
                & (F.col("s") < F.col("e_r"))
                & (F.col("s_r") < F.col("e")),
            )
            .select("id", "id_r")
        )
        assert {tuple(r) for r in fast.collect()} == {
            tuple(r) for r in naive.collect()
        }

    def test_no_nested_loop_in_plan(self, spark):
        from big_data_bowl_2026_analytics_spark.operators.temporal import (
            interval_overlap_join,
        )
        from big_data_bowl_2026_analytics_spark.plans.explain import physical_plan

        df = spark.range(100).select(
            F.col("id"),
            (F.col("id") % 3).alias("k"),
            (F.col("id") * 10.0).alias("s"),
            (F.col("id") * 10.0 + 25.0).alias("e"),
        )
        plan = physical_plan(
            interval_overlap_join(df, df, bucket_seconds=100.0, join_key="k")
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
