"""Source/sink tests (SURVEY §2.1 S1-S5): CSV with explicit schema and
FAILFAST, parquet round-trips, scan-level limit."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from big_data_bowl_2026_analytics_spark.sources import (
    read_csv,
    read_table,
    register_views,
    write_csv,
    write_parquet,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def test_csv_round_trip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], SCHEMA)
    path = str(tmp_path / "out_csv")
    write_csv(df, path)
    back = read_csv(spark, path, SCHEMA)
    assert sorted((r["id"], r["name"], r["score"]) for r in back.collect()) == [
        (1, "a", 1.5),
        (2, "b", 2.5),
    ]


def test_csv_failfast_on_malformed(spark, tmp_path):
    bad = tmp_path / "bad.csv"
    bad.write_text("id,name,score\n1,a,1.5\nnot_a_number,b,xyz\n")
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_csv(spark, str(bad), SCHEMA).collect()


def test_csv_limit_is_applied(spark, tmp_path):
    df = spark.createDataFrame([(i, "x", float(i)) for i in range(100)], SCHEMA)
    path = str(tmp_path / "limited_csv")
    write_csv(df, path)
    assert read_csv(spark, str(path), SCHEMA, limit=7).count() == 7


def test_parquet_partitioned_write_and_projection(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "g" + str(i % 3), float(i)) for i in range(30)],
        "id long, grp string, v double",
    )
    path = str(tmp_path / "part_parquet")
    write_parquet(df, path, partition_by=["grp"], sort_within_partitions=["id"])
    back = spark.read.parquet(path)
    assert back.count() == 30
    assert (tmp_path / "part_parquet" / "grp=g0").is_dir()


def test_register_views_sql_frontend(spark):
    register_views(spark, "/root/testdata/sf0.001", ["region", "nation"])
    out = spark.sql(
        "SELECT r.r_name, count(*) AS n FROM nation n "
        "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name"
    )
    assert out.count() == 5


def test_events_nanos_read(spark):
    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() == 1000


def test_pin_table_serves_reads_and_unpins(spark):
    from pyspark.sql import functions as F

    from big_data_bowl_2026_analytics_spark.sources.readers import (
        pin_table,
        read_table,
        unpin_tables,
    )

    sf = "/root/testdata/sf0.001"
    try:
        baseline = read_table(spark, sf, "orders").count()
        pinned = pin_table(spark, sf, "orders")
        assert pinned.storageLevel.useMemory
        # read_table now serves the pinned frame (same object plan),
        # including column-projected reads
        served = read_table(spark, sf, "orders")
        assert served.count() == baseline
        proj = read_table(spark, sf, "orders", ["o_orderkey", "o_totalprice"])
        assert proj.columns == ["o_orderkey", "o_totalprice"]
        assert proj.count() == baseline
        # key-partitioned: groupBy on the pin key plans without an
        # extra exchange above the in-memory scan
        plan = (
            read_table(spark, sf, "orders")
            .groupBy("o_orderkey")
            .agg(F.count(F.lit(1)))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "InMemoryTableScan" in plan
        # identical results through the pinned path
        a = sorted(
            read_table(spark, sf, "orders").groupBy("o_orderstatus").count().collect()
        )
    finally:
        unpin_tables()
    b = sorted(
        read_table(spark, sf, "orders").groupBy("o_orderstatus").count().collect()
    )
    assert a == b
    assert not read_table(spark, sf, "orders").storageLevel.useMemory


class TestBucketedTables:
    def test_colocated_join_and_agg_skip_exchange(self, spark, tmp_path):
        """The shuffle is paid once at write: a join of two same-bucketed
        tables and a groupBy on the bucket key both plan with ZERO
        Exchange nodes."""
        import contextlib
        import io

        from pyspark.sql import functions as F

        from big_data_bowl_2026_analytics_spark.sources import write_bucketed

        left = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
        right = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") + 7).alias("b")
        )
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # at real scale neither side broadcasts; force that regime
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            write_bucketed(left, "t_bl", ["k"], 4, path=str(tmp_path / "bl"),
                           sort_cols=["k"])
            write_bucketed(right, "t_br", ["k"], 4, path=str(tmp_path / "br"),
                           sort_cols=["k"])
            bl, br = spark.table("t_bl"), spark.table("t_br")

            joined = bl.join(br, "k")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            assert "Exchange" not in plan
            assert "SortMergeJoin" in plan
            assert joined.count() == 500

            agged = bl.groupBy("k").agg(F.sum("a").alias("s"))
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                agged.explain("formatted")
            assert "Exchange" not in buf.getvalue()
            assert agged.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
            spark.sql("DROP TABLE IF EXISTS t_bl")
            spark.sql("DROP TABLE IF EXISTS t_br")


def test_read_table_schema_cache_skips_inference_job(spark):
    """r13 optimization: after the first read of a table, read_table
    passes the cached schema explicitly, so constructing the frame
    launches NO footer-inference Spark job (a one-task job per
    spark.read.parquet call otherwise — paid by every builder for
    every table it reads). The scan itself still reads parquet."""
    from big_data_bowl_2026_analytics_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    df1 = read_table(spark, sf, "part")  # populates the schema cache
    sc = spark.sparkContext
    sc.setJobGroup("schema-probe", "schema-probe")
    try:
        df2 = read_table(spark, sf, "part")
        jids = sc.statusTracker().getJobIdsForGroup("schema-probe")
    finally:
        sc.setJobGroup(None, None)
    assert df2.schema == df1.schema
    assert list(jids) == []
    assert df2.count() == df1.count()  # data still served by the scan


def test_parallelize_scan_gates_on_layout(spark):
    """r13 optimization: parallelize_scan repartitions ONLY when the
    table's parquet layout has fewer row groups than the session
    parallelism (the unsplittable-file case); with an adequate layout
    it must be an identity (no shuffle added at scale)."""
    from big_data_bowl_2026_analytics_spark.sources.readers import (
        parallelize_scan,
        read_table,
        scan_row_groups,
    )

    sf = "/root/testdata/sf0.001"
    rgs = scan_row_groups(sf, "orders")
    assert rgs >= 1
    df = read_table(spark, sf, "orders", ["o_orderkey"])
    out = parallelize_scan(spark, df, sf, "orders")
    target = spark.sparkContext.defaultParallelism
    if rgs >= target:
        assert out is df
    else:
        assert out.rdd.getNumPartitions() == target
        assert out.count() == df.count()


def test_local_frame_restores_arrow_conf(spark):
    """On a session with Arrow conversion off, local_frame still builds
    a JVM LocalRelation and leaves the caller's conf as it found it."""
    from big_data_bowl_2026_analytics_spark.core.session import local_frame

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, [(1, 0.5, "a"), (2, 1.5, "b")], "k long, x double, s string")
        assert spark.conf.get(key) == "false"
        plan = df._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert [tuple(r) for r in df.orderBy("k").collect()] == [(1, 0.5, "a"), (2, 1.5, "b")]
    finally:
        spark.conf.set(key, prior)


def test_blob_metadata_query_matches_scan(spark):
    # q39 exposes the binary plumbing over documents as blobs
    from big_data_bowl_2026_analytics_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    q39 = all_queries()["q39_multimodal_blob_metadata"].builder(spark, sf)
    row = q39.orderBy("doc_id").first()
    doc = read_table(spark, sf, "documents").orderBy("doc_id").first()
    assert row["n_bytes"] == len(doc["text"].encode())


def test_partitioned_write_keeps_in_file_sort(spark, tmp_path):
    """A partitioned write sorted within partitions leaves every file in
    sort order: the partition-column sort the write plans must not
    replace the requested one."""
    import random

    import pyarrow.parquet as pq

    ids = list(range(2000))
    random.Random(3).shuffle(ids)
    df = spark.createDataFrame(
        [(i % 3, i) for i in ids], "week int, id long"
    ).repartition(4)
    out = tmp_path / "sorted"
    write_parquet(df, str(out), partition_by=["week"], sort_within_partitions=["id"])
    files = sorted(out.rglob("*.parquet"))
    assert len(files) >= 3
    for f in files:
        got = pq.read_table(f).column("id").to_pylist()
        assert got == sorted(got), f.name
    assert sorted(r.id for r in spark.read.parquet(str(out)).collect()) == list(range(2000))
