"""Scaling sweep: run representative queries on 1x/4x/16x self-unioned
inputs to verify near-linear behavior (per-row cost flat as data
grows — the local proxy for 'the plan survives a 100x scale-up').

Usage: python tools/scale_sweep.py [--sf /root/testdata/sf0.1]
Prints one JSON line per (query, multiplier).
"""

from __future__ import annotations

import argparse
import functools
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F

from big_data_bowl_2026_analytics_spark.core import get_spark
from big_data_bowl_2026_analytics_spark.sources.readers import read_table


def _multiply(df: DataFrame, k: int, key_col: str) -> DataFrame:
    """k logical copies with shifted keys so group/join cardinality
    scales too (a pure self-union would just deepen each group)."""
    copies = [
        df.withColumn(key_col, F.col(key_col) + F.lit(i * 1_000_000_000))
        for i in range(k)
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), copies)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--multipliers", default="1,4,16")
    args = ap.parse_args()
    spark = get_spark("scale-sweep", shuffle_partitions=16)

    li = read_table(spark, args.sf, "lineitem")

    def q_agg(k: int) -> DataFrame:
        df = _multiply(li, k, "l_orderkey")
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.avg("l_extendedprice"), F.count(F.lit(1))
        )

    def q_join_agg(k: int) -> DataFrame:
        df = _multiply(li, k, "l_orderkey")
        per_supp = df.groupBy("l_orderkey", "l_suppkey").agg(
            F.avg("l_discount").alias("d")
        )
        return per_supp.groupBy("l_orderkey").agg(F.min("d"), F.count(F.lit(1)))

    ev = read_table(spark, args.sf, "events")

    def q_sweep(k: int) -> DataFrame:
        # the q231 sweep-line class: boundary events (+1 at t, -1 at
        # t+300) through the two-level running sum (within-hour window
        # + hours-grain base) to hourly peaks. Tests that the windowed
        # class scales like the aggregates do — the within-bucket
        # window is the hot path.
        from pyspark.sql import Window

        df = _multiply(ev, k, "user_id").select(
            "user_id", "event_id", F.col("ts").cast("double").alias("t")
        )
        deltas = df.select(
            "t", F.lit(1).alias("delta"), "user_id", "event_id"
        ).unionByName(
            df.select(
                (F.col("t") + 300).alias("t"),
                F.lit(-1).alias("delta"),
                "user_id",
                "event_id",
            )
        ).withColumn("hb", F.floor(F.col("t") / 3600).cast("bigint"))
        w_in = (
            Window.partitionBy("hb")
            .orderBy("t", "delta", "user_id", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        inhour = deltas.withColumn("run_in", F.sum("delta").over(w_in))
        nets = deltas.groupBy("hb").agg(F.sum("delta").alias("net"))
        w_h = Window.orderBy("hb").rowsBetween(Window.unboundedPreceding, -1)
        bases = nets.withColumn(
            "base", F.coalesce(F.sum("net").over(w_h), F.lit(0))
        ).select("hb", "base")
        return (
            inhour.join(F.broadcast(bases), "hb")
            .groupBy("hb")
            .agg(F.max(F.col("base") + F.col("run_in")).alias("peak"))
        )

    def q_roll(k: int) -> DataFrame:
        # the q146/q360/q368 contribution-explode class: rolling 6-hour
        # sums via a bounded x6 explode on the hour grain + one grouped
        # sum — the window-function-free rolling aggregate. Verifies the
        # explode factor stays a constant cost multiplier as data grows.
        df = _multiply(ev, k, "user_id")
        hourly = (
            df.select(
                F.floor(F.col("ts").cast("double") / 3600)
                .cast("bigint")
                .alias("h"),
                "user_id",
            )
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            hourly.select(
                "n", F.explode(F.sequence(F.col("h"), F.col("h") + 5)).alias("h")
            )
            .groupBy("h")
            .agg(F.sum("n").alias("n6"))
        )

    docs = read_table(spark, args.sf, "documents")

    def q_tokjoin(k: int) -> DataFrame:
        # the q371/q379 class: token-grain reduce FIRST, then the
        # token-keyed pair join on the reduced frame. Input rows grow
        # kx but the join's input stays vocabulary-sized, so per-row
        # cost should FALL with k (the reduce absorbs the growth) —
        # the property that keeps corpus-pair statistics alive at
        # 100 TB.
        df = _multiply(docs, k, "doc_id")
        cnt = (
            df.select(
                "source",
                F.explode(F.split(F.col("text"), " ")).alias("tok"),
            )
            .groupBy("source", "tok")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        a = cnt.select(
            F.col("source").alias("sa"), "tok", F.col("c").alias("c1")
        )
        b = cnt.select(
            F.col("source").alias("sb"), "tok", F.col("c").alias("c2")
        )
        return (
            a.join(b, "tok")
            .where(F.col("sa") < F.col("sb"))
            .groupBy("sa", "sb")
            .agg(
                F.sum(F.col("c1") * F.col("c2")).alias("x"),
                F.count(F.lit(1)).alias("m"),
            )
        )

    def q_docspectrum(k: int) -> DataFrame:
        # the q389 class: explode -> (doc, gram) reduce -> doc-grain
        # reduce -> bounded reduce. Unlike q_tokjoin the intermediate
        # group count scales WITH the data (doc grain, not vocab
        # grain), so this verifies per-row cost stays FLAT when the
        # reduce cannot absorb growth into a bounded frame.
        from big_data_bowl_2026_analytics_spark.operators.dedup import (
            shingles_of,
        )

        df = _multiply(docs, k, "doc_id")
        bound = df.select(
            "doc_id", F.split(F.col("text"), " ").alias("_toks")
        ).where(F.size("_toks") >= 3)
        per = (
            bound.select(
                "doc_id", F.explode(shingles_of(F.col("_toks"), 3)).alias("g")
            )
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("d"), F.sum("c").alias("n"))
        )
        return per.groupBy().agg(
            F.sum(F.col("n") - F.col("d")).alias("dup"), F.sum("n").alias("n")
        )

    def q_msground(k: int) -> DataFrame:
        # the q380/q125/q350 class: ONE message-passing round (edge
        # join + destination reduce) — the unit cost an unrolled
        # iterative query pays n_iter times. Linear in edges.
        df = _multiply(li, k, "l_orderkey")
        edges = df.select(
            F.col("l_orderkey").alias("src"), F.col("l_suppkey").alias("dst")
        ).distinct()
        auth = edges.select("dst").distinct().select(
            "dst", F.lit(1.0).alias("a")
        )
        return (
            edges.join(auth, "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
            .groupBy()
            .agg(F.sum("h").alias("t"), F.count(F.lit(1)).alias("n"))
        )

    def q_pixelbin(k: int) -> DataFrame:
        # the viz/scatter.py class: pixel-binned scatter — input rows
        # grow kx but the groupBy key space is capped at width*height,
        # so the shuffle output is CONSTANT-sized (the bounded-output
        # plot for unbounded inputs). Per-row cost should stay flat
        # while output stays fixed.
        from big_data_bowl_2026_analytics_spark.viz.scatter import (
            scatter_bins,
        )

        df = _multiply(ev, k, "user_id").select(
            (F.col("user_id") % 1000).cast("double").alias("x"),
            F.col("value").cast("double").alias("y"),
        )
        return scatter_bins(
            df, "x", "y", 0.0, 1000.0, 0.0, 1000.0, width=240, height=160
        )

    def q_gramjoin(k: int) -> DataFrame:
        # the q410 class (inter-doc duplicated n-grams): distinct
        # (doc, md5(gram)) incidence -> gram-grain doc-frequency
        # reduce -> join BACK on the gram hash (co-partitioned with
        # the groupBy that produced it) -> doc reduce -> source
        # reduce. The join fan-out is the incidence itself — linear in
        # the corpus, never pair-quadratic; this case measures that.
        from big_data_bowl_2026_analytics_spark.operators.dedup import (
            shingles_of,
        )

        df = _multiply(docs, k, "doc_id")
        pairs = (
            df.select(
                "doc_id",
                "source",
                F.split(F.col("text"), " ").alias("_toks"),
            )
            .where(F.size("_toks") >= 8)
            .select(
                "doc_id",
                "source",
                F.explode(shingles_of(F.col("_toks"), 8)).alias("g"),
            )
            .select("doc_id", "source", F.md5("g").alias("h"))
            .distinct()
            .localCheckpoint()
        )
        grams = pairs.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
        dup = F.when(F.col("nd") >= 2, 1).otherwise(0)
        per = (
            pairs.join(grams, "h")
            .groupBy("doc_id", "source")
            .agg(F.sum(dup).alias("d"), F.count(F.lit(1)).alias("n"))
        )
        return per.groupBy("source").agg(
            F.sum("d").alias("dd"), F.sum("n").alias("nn")
        )

    for name, fn in [
        ("groupby_agg", q_agg),
        ("two_level_agg", q_join_agg),
        ("two_level_sweep", q_sweep),
        ("rolling_explode", q_roll),
        ("reduce_then_pair_join", q_tokjoin),
        ("doc_grain_spectrum", q_docspectrum),
        ("message_passing_round", q_msground),
        ("pixel_binned_scatter", q_pixelbin),
        ("gram_incidence_joinback", q_gramjoin),
    ]:
        base_rows = None
        for k in [int(x) for x in args.multipliers.split(",")]:
            df = fn(k)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            n = 600_000 * k  # approximate input rows at sf0.1
            if base_rows is None:
                base_rows = dt / n
            print(
                json.dumps(
                    {
                        "query": name,
                        "multiplier": k,
                        "wall_sec": round(dt, 3),
                        "ns_per_row": round(dt / n * 1e9, 1),
                        "vs_1x_per_row": round((dt / n) / base_rows, 2),
                    }
                )
            )


if __name__ == "__main__":
    main()
