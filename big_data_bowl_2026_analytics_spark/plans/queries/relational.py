"""Relational core: scans, filters, projections, joins, aggregations.

Each query is the TPC-H-shaped equivalent of a reference operator
(file:line cites are into /root/reference). Scale notes per query
explain why the plan survives 100 TB: what broadcasts, what shuffles
on which key, and what pushes down to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...functions.scalar import fround
from ...sources.readers import read_table
from ..registry import query

# ---------------------------------------------------------------------------
# Aggregation over a pushed-down scan (reference A1-A12 family;
# src/main.py:8-33 histogram+filter is the reference's flagship shape).


@query(
    "q01_pricing_summary",
    tags=("agg", "filter-pushdown"),
    oracle="""
WITH pre AS (
  SELECT l_returnflag, l_linestatus, l_quantity,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l_discount * 100) AS BIGINT) AS d
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-12-01'
), agg AS (
  SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS qty_sum,
         CAST(sum(cents) AS BIGINT) AS sc,
         CAST(sum(cents * d) AS BIGINT) AS scd,
         CAST(count(*) AS BIGINT) AS count_order
  FROM pre GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       round(qty_sum + 1e-9, 2) AS sum_qty,
       CAST(sc AS DOUBLE) / 100.0 AS sum_base_price,
       (CAST(sc AS DOUBLE) * 100.0 - scd) / 10000.0 AS sum_disc_price,
       round(qty_sum / count_order + 1e-9, 4) AS avg_qty,
       round(sc / 100.0 / count_order + 1e-9, 4) AS avg_price,
       count_order
FROM agg
""",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape): grouped sums/avgs/count with a
    date predicate that reaches the parquet scan.

    Scale: single shuffle on two low-cardinality keys; partial (map-side)
    aggregation collapses ~all rows before exchange, so 100 TB shuffles
    only #partitions x #groups rows. Mirrors reference A2/A4/A12 + F12
    rounding (src/data_processing/cleaning/tracking.py:420-424).

    Exactness (rebased round 13, caught by the 100x probe): the money
    sums are EXACT BIGINT cents/cents·discount-percent sums — a
    low-cardinality-grain float money sum crosses the fround half-gap
    once a group's sum reaches ~1e12 (the engines' partial-sum orders
    differ by ~0.01 there, measured). sum_base_price = sc/100.0 is a
    deterministic identical double on both engines;
    sum_disc_price = (sc·100.0 − scd)/10000.0 is a FIXED closing
    expression over the two exact sums and is emitted UNROUNDED — its
    value sits on the 1e-4 dollars lattice where a 2-dp round hits
    exact .xx5 ties that the sub-ulp nudge cannot break (footgun 11's
    low-magnitude sibling); identical trees make the unrounded bits
    equal at any scale. Averages divide the exact sums by the exact
    count, spelled sum/count on both engines.
    """
    li = read_table(spark, sf_dir, "lineitem")
    pre = li.where(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
    )
    agg = pre.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("qty_sum"),
        F.sum("cents").cast("bigint").alias("sc"),
        F.sum(F.col("cents") * F.col("d")).cast("bigint").alias("scd"),
        F.count(F.lit(1)).cast("bigint").alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        fround(F.col("qty_sum"), 2).alias("sum_qty"),
        (F.col("sc") / 100.0).alias("sum_base_price"),
        (
            (F.col("sc").cast("double") * 100.0 - F.col("scd")) / 10000.0
        ).alias("sum_disc_price"),
        fround(F.col("qty_sum") / F.col("count_order"), 4).alias("avg_qty"),
        fround(F.col("sc") / 100.0 / F.col("count_order"), 4).alias(
            "avg_price"
        ),
        F.col("count_order"),
    )


@query(
    "q02_top_revenue_orders",
    tags=("join", "topk"),
    oracle="""
SELECT o.o_orderkey, o.o_orderdate,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
""",
)
def q02_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 revenue orders for one market segment (TPC-H Q3 shape).

    Scale: customer is the small side after the segment filter ->
    broadcast join eliminates one shuffle; top-k is
    TakeOrderedAndProject (no global sort materialization). Tie-break
    on o_orderkey keeps LIMIT deterministic. Mirrors reference J11 +
    O3/O4 (notebooks ranking queries).

    r13 optimization (guide §2.3 "aggregate before you shuffle"):
    lineitem reduces to per-order revenue BEFORE the orders join, so
    the big-side shuffle carries ~4x fewer rows of (key, double)
    partials instead of raw line items — the revenue of an order is
    the same sum either side of the join (orders is unique per
    orderkey; the segment filter only selects which orders survive).
    Measured 0.674 -> ~0.45 s at sf0.1; at scale the big-side shuffle
    drops from every line item to one row per order.
    """
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate"])
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_extendedprice", "l_discount"])
    rev = li.groupBy("l_orderkey").agg(
        fround(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    return (
        orders.join(
            F.broadcast(cust.where(F.col("c_mktsegment") == "BUILDING")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(rev, orders.o_orderkey == rev.l_orderkey)
        .select("o_orderkey", "o_orderdate", "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q03_region_nation_revenue",
    tags=("join", "broadcast", "agg"),
    oracle="""
SELECT r.r_name, n.n_name,
       CAST(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / 100.0 AS revenue,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
)
def q03_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rolled up the region/nation dimension chain (Q5 shape).

    Scale: nation/region are tiny dims -> explicit broadcast; customer
    joins orders on custkey (shuffle), then all dim hops are map-side.
    Mirrors reference J2/J3 dimension enrichment
    (src/data_processing/cleaning/tracking.py:93-165). revenue is an
    EXACT BIGINT cents sum divided once (the q01/q71 low-grain money
    class, rebased round 13).
    """
    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ).cast("bigint")
                / 100.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q04_exists_semi_join",
    tags=("semi-join",),
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48
)
""",
)
def q04_exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one near-max-quantity line: LEFT SEMI join.

    Scale: semi join ships only join keys of the filtered probe side —
    the scalable form of the reference's filter-fact-by-key-set pattern
    (J4/J5, src/data_processing/cleaning/tracking.py:204-266). Authored
    as a semi join because Catalyst cannot infer it from inner-join-on-
    deduped-keys.
    """
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_totalprice"])
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_quantity"])
    hits = li.where(F.col("l_quantity") >= 48)
    return orders.join(
        hits, orders.o_orderkey == hits.l_orderkey, "left_semi"
    ).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "q05_not_exists_anti_join",
    tags=("anti-join",),
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q05_not_exists_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all: LEFT ANTI join (NOT EXISTS)."""
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_name"])
    orders = read_table(spark, sf_dir, "orders", ["o_custkey"])
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")


@query(
    "q06_conditional_distinct_counts",
    tags=("agg", "conditional"),
    oracle="""
SELECT l_orderkey,
       count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_return_supps,
       count(DISTINCT CASE WHEN l_quantity >= 25 THEN l_partkey END) AS n_bulk_parts
FROM lineitem
GROUP BY l_orderkey
HAVING count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) = 1
   AND count(DISTINCT CASE WHEN l_quantity >= 25 THEN l_partkey END) = 1
""",
)
def q06_conditional_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order conditional distinct counts filtered to exactly-one —
    the reference's one-receiver-one-DB play filter re-shaped (J6/A1,
    src/data_processing/cleaning/tracking.py:269-315).

    Scale: the exactly-one-distinct predicate is rewritten to
    ``min(x) = max(x) AND count(x) > 0`` — equivalent for non-null x,
    and it removes the Expand node two countDistincts would need
    (which doubles every input row before the shuffle). One plain
    hash aggregate with full map-side combine; the surviving counts
    are the literal 1 the HAVING forces. Measured 1.5x faster than
    the Expand plan at sf1 with identical output.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_returnflag", "l_suppkey", "l_quantity", "l_partkey"],
    )
    rs = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    bp = F.when(F.col("l_quantity") >= 25, F.col("l_partkey"))
    agg = li.groupBy("l_orderkey").agg(
        F.min(rs).alias("_rs_min"),
        F.max(rs).alias("_rs_max"),
        F.count(rs).alias("_rs_n"),
        F.min(bp).alias("_bp_min"),
        F.max(bp).alias("_bp_max"),
        F.count(bp).alias("_bp_n"),
    )
    return agg.where(
        (F.col("_rs_n") > 0)
        & (F.col("_rs_min") == F.col("_rs_max"))
        & (F.col("_bp_n") > 0)
        & (F.col("_bp_min") == F.col("_bp_max"))
    ).select(
        "l_orderkey",
        F.lit(1).cast("long").alias("n_return_supps"),
        F.lit(1).cast("long").alias("n_bulk_parts"),
    )


@query(
    "q07_argmin_per_group",
    tags=("window", "argmin"),
    oracle="""
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey, round(avg(l_discount) + 1e-9, 6) AS avg_disc
  FROM lineitem
  GROUP BY l_orderkey, l_suppkey
), ranked AS (
  SELECT l_orderkey, l_suppkey, avg_disc,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY avg_disc, l_suppkey) AS rn
  FROM per_supp
)
SELECT l_orderkey, l_suppkey AS best_suppkey, avg_disc
FROM ranked WHERE rn = 1
""",
)
def q07_argmin_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order, the supplier with the lowest mean discount — the
    closest-defender argmin (J8/A3,
    src/data_processing/cleaning/tracking.py:390-453) with the explicit
    (value, key) tie-break pandas idxmin gets implicitly.

    Scale (r13 optimization, guide §2.4 "two operations keyed the same
    way can share one exchange"): ONE hash partitioning by l_orderkey
    satisfies BOTH the groupBy's clustered distribution (orderkey is a
    subset of the grouping key) and the window's, so the plan carries
    a single Exchange instead of two (measured 1.97 s -> 0.84 s at
    sf0.1). The partial aggregate this forgoes is worthless at ANY
    scale for this grain: lineitem holds ~1.002 rows per
    (l_orderkey, l_suppkey) — problem knowledge the optimizer lacks
    (guide §8) — so partials shuffle the same bytes as raw rows, and
    one exchange strictly beats two. AQE coalesces the keyed shuffle
    to the data size, so the count stays scale-adaptive.
    """
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_discount"])
    per_supp = (
        li.repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(fround(F.avg("l_discount"), 6).alias("avg_disc"))
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.asc("avg_disc"), F.asc("l_suppkey")
    )
    return (
        per_supp.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_orderkey", F.col("l_suppkey").alias("best_suppkey"), "avg_disc")
    )


@query(
    "q08_pivot_returnflag",
    tags=("pivot",),
    oracle="""
SELECT l_orderkey,
       coalesce(round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) + 1e-9, 2), 0) AS qty_a,
       coalesce(round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) + 1e-9, 2), 0) AS qty_n,
       coalesce(round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) + 1e-9, 2), 0) AS qty_r
FROM lineitem
GROUP BY l_orderkey
""",
)
def q08_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity pivoted wide by return flag with explicit value list —
    the last-positions-by-player_side pivot (A6/J7,
    src/data_processing/cleaning/tracking.py:339-344) plus the
    fillna(0) of J6.

    Scale: pinning pivot values avoids the extra distinct-values job and
    keeps the plan a single hash aggregate.
    """
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_returnflag", "l_quantity"])
    pv = (
        li.groupBy("l_orderkey")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(fround(F.sum("l_quantity"), 2))
        .na.fill(0)
    )
    return pv.select(
        "l_orderkey",
        F.col("A").alias("qty_a"),
        F.col("N").alias("qty_n"),
        F.col("R").alias("qty_r"),
    )


@query(
    "q09_first_last_per_group",
    tags=("agg", "ordered"),
    oracle="""
SELECT l_orderkey,
       arg_min(l_extendedprice,
               l_linenumber * 100000000 + CAST(round(l_extendedprice * 100, 0) AS BIGINT))
         AS first_price,
       arg_max(l_extendedprice,
               l_linenumber * 100000000 + CAST(round(l_extendedprice * 100, 0) AS BIGINT))
         AS last_price,
       max(l_linenumber) AS n_lines
FROM lineitem
GROUP BY l_orderkey
""",
)
def q09_first_last_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last line price per order by explicit line order — the
    at-throw snapshot `groupby.tail(1)` (A7,
    src/data_processing/training/create_datasets.py:16-25) made
    order-explicit: Spark has no physical row order, so 'last' must be
    'max by frame/line number', never 'whatever came last in the file'.

    The synthetic data has duplicate line numbers within an order, so
    the min_by/max_by ordering key folds the price in (integer cents)
    as a tie-break; remaining ties are exact duplicates and yield the
    same value on both engines.
    """
    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_linenumber", "l_extendedprice"]
    )
    ord_key = (
        F.col("l_linenumber").cast("bigint") * 100000000
        + F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    )
    return li.groupBy("l_orderkey").agg(
        F.min_by("l_extendedprice", ord_key).alias("first_price"),
        F.max_by("l_extendedprice", ord_key).alias("last_price"),
        F.max("l_linenumber").alias("n_lines"),
    )


@query(
    "q10_union_all_tagged",
    tags=("union",),
    oracle="""
SELECT o_orderkey, 'high' AS bucket, o_totalprice
FROM orders WHERE o_totalprice > 450000
UNION ALL
SELECT o_orderkey, 'low' AS bucket, o_totalprice
FROM orders WHERE o_totalprice < 10000
""",
)
def q10_union_all_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged UNION ALL of two filtered projections (E1 unionByName,
    src/data_processing/cleaning/tracking.py:439-441)."""
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"])
    high = orders.where(F.col("o_totalprice") > 450000).select(
        "o_orderkey", F.lit("high").alias("bucket"), "o_totalprice"
    )
    low = orders.where(F.col("o_totalprice") < 10000).select(
        "o_orderkey", F.lit("low").alias("bucket"), "o_totalprice"
    )
    return high.unionByName(low)


@query(
    "q11_having_count",
    tags=("agg", "having"),
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_orders
FROM customer c
JOIN (
  SELECT o_custkey, count(*) AS n_orders
  FROM orders
  GROUP BY o_custkey
  HAVING count(*) >= 15
) n ON n.o_custkey = c.c_custkey
""",
)
def q11_having_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entities passing a minimum-activity bar, enriched with names —
    the >=10-plays defender filter (A10, notebooks/quadrant.ipynb) as a
    having-count + broadcast name join.
    """
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_name"])
    orders = read_table(spark, sf_dir, "orders", ["o_custkey"])
    active = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 15)
    )
    return active.join(F.broadcast(cust), active.o_custkey == cust.c_custkey).select(
        "c_custkey", "c_name", "n_orders"
    )


@query(
    "q12_histogram",
    tags=("agg",),
    oracle="""
SELECT event_type, count(*) AS n
FROM events
GROUP BY event_type
""",
)
def q12_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value histogram — the route value_counts (A9, src/main.py:15)."""
    ev = read_table(spark, sf_dir, "events", ["event_type"])
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q13_point_lookup",
    tags=("filter", "sql-frontend"),
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
""",
)
def q13_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup by key via the SQL front end (P7 play lookup,
    src/visualization/play.py:46-49). Runs through spark.sql to prove
    SQL-over-views parity; benefits from parquet min/max pruning when
    the table is written sorted by key.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice
        FROM orders
        WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
        """
    )


@query(
    "q14_scalar_function_library",
    tags=("scalar",),
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(sqrt(pow(l_extendedprice / 1000 - l_quantity, 2)
                + pow(l_discount * 100 - l_tax * 100, 2)) + 1e-9, 4) AS dist,
       ((CAST(l_linenumber * 97 AS BIGINT) % 7) + 7) % 7 AS pm,
       round(least(l_quantity, 50 - l_quantity, l_discount * 100, 8 - l_tax * 100) + 1e-9, 4)
         AS boundary_dist,
       CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END AS bulk_flag,
       round(greatest(l_discount, 0.01) + 1e-9, 4) AS clipped_disc
FROM lineitem
WHERE l_linenumber <= 2
""",
)
def q14_scalar_function_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar function library (§2.8 F1-F13) exercised as pure
    column math: euclidean distance (F3), positive modulo (F2 angle
    flip), boundary distance via least (F6), threshold indicator (F10),
    clipping via greatest (F7), rounding (F12).

    Scale: all JVM-side whole-stage-codegen expressions — no Python
    boundary, no shuffle; the l_linenumber predicate pushes to the scan.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_linenumber") <= 2).select(
        "l_orderkey",
        "l_linenumber",
        fround(
            F.sqrt(
                F.pow(F.col("l_extendedprice") / 1000 - F.col("l_quantity"), 2)
                + F.pow(F.col("l_discount") * 100 - F.col("l_tax") * 100, 2)
            ),
            4,
        ).alias("dist"),
        ((((F.col("l_linenumber") * 97).cast("bigint") % 7) + 7) % 7).alias("pm"),
        fround(
            F.least(
                F.col("l_quantity"),
                F.lit(50) - F.col("l_quantity"),
                F.col("l_discount") * 100,
                F.lit(8) - F.col("l_tax") * 100,
            ),
            4,
        ).alias("boundary_dist"),
        F.when(F.col("l_quantity") > 30, 1).otherwise(0).alias("bulk_flag"),
        fround(F.greatest(F.col("l_discount"), F.lit(0.01)), 4).alias("clipped_disc"),
    )


@query(
    "q15_multikey_topk",
    tags=("sort", "topk"),
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 50
""",
)
def q15_multikey_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-50 by price with full tie-break (O1/O4 multi-key sort
    + head(k), src/data_processing/cleaning/tracking.py:443-451).

    Scale: orderBy+limit compiles to TakeOrderedAndProject — each task
    keeps a 50-row heap; no global sort of 100 TB.
    """
    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_linenumber", "l_extendedprice"]
    )
    return (
        li.orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(50)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@query(
    "q16_distinct_projection",
    tags=("distinct",),
    oracle="""
SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
""",
)
def q16_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct over a projection (A8 dropDuplicates,
    src/data_processing/cleaning/plays.py:74-76)."""
    cust = read_table(spark, sf_dir, "customer", ["c_nationkey", "c_mktsegment"])
    return cust.distinct()


@query(
    "q17_null_audit_after_left_join",
    tags=("join", "audit"),
    oracle="""
SELECT count(*) AS n_rows,
       count(*) - count(o.o_orderkey) AS n_customers_without_orders
FROM customer c
LEFT JOIN (SELECT DISTINCT o_custkey, min(o_orderkey) AS o_orderkey
           FROM orders GROUP BY o_custkey) o
  ON c.c_custkey = o.o_custkey
""",
)
def q17_null_audit_after_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null audit after an outer join — the reference's post-join
    isnull().any() checks (P9, tracking.py:86-89,117-121) as a single
    aggregate instead of a driver-side scan.
    """
    cust = read_table(spark, sf_dir, "customer", ["c_custkey"])
    okeys = (
        read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
    )
    joined = cust.join(okeys, cust.c_custkey == okeys.o_custkey, "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_orderkey")).alias("n_customers_without_orders"),
    )


@query(
    "q18_rollup_revenue",
    tags=("rollup", "agg"),
    oracle="""
SELECT r.r_name, n.n_name,
       CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS total_acctbal,
       count(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
)
def q18_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP over the region/nation dims — a grouping-sets
    capability beyond the reference's flat groupbys, needed for
    dashboard-style subtotal queries at scale (one pass, no union of
    per-level aggs). total_acctbal is an EXACT BIGINT cents sum
    divided once — the rollup's grand-total row is exactly the
    low-grain money sum the 100x probe measured diverging (the q01
    class).
    """
    cust = read_table(spark, sf_dir, "customer", ["c_nationkey", "c_acctbal"])
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            (
                F.sum(
                    F.round(F.col("c_acctbal") * 100).cast("bigint")
                ).cast("bigint")
                / 100.0
            ).alias("total_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "q19_angle_geometry_library",
    tags=("scalar", "geometry"),
    oracle="""
SELECT e.event_id,
       round(least((e.value - s.mn) % 360.0 + CASE WHEN (e.value - s.mn) % 360.0 < 0 THEN 360.0 ELSE 0 END,
                   360.0 - ((e.value - s.mn) % 360.0 + CASE WHEN (e.value - s.mn) % 360.0 < 0 THEN 360.0 ELSE 0 END))
             + 1e-9, 6) AS angle_diff,
       round(cos(radians(e.value)) + 1e-9, 6) AS unit_x,
       round(sin(radians(e.value)) + 1e-9, 6) AS unit_y,
       round(degrees(atan2(e.value / 500.0, 1.0 - e.value / 500.0)) + 1e-9, 6) AS bearing,
       round(CASE WHEN e.user_id % 2 = 0 THEN (e.value + 180.0) % 360.0 ELSE e.value END + 1e-9, 6)
         AS flipped
FROM events e
CROSS JOIN (SELECT min(value) AS mn FROM events) s
""",
)
def q19_angle_geometry_library(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The angular scalar library (F2 flip, F4 smallest angular
    difference, F5 unit vector, F8 atan2 bearing) exercised as pure
    column math over the events table — numerically oracle-checked
    (both engines bind the host libm, and the stable rounding guards
    the last ulp).
    """
    from ...functions.scalar import angle_diff, flip_angle, unit_vector

    ev = read_table(spark, sf_dir, "events", ["event_id", "user_id", "value"])
    mn = ev.agg(F.min("value").alias("mn"))
    joined = ev.crossJoin(F.broadcast(mn))
    ux, uy = unit_vector(F.col("value"))
    return joined.select(
        "event_id",
        F.round(angle_diff(F.col("value"), F.col("mn")) + 1e-9, 6).alias("angle_diff"),
        F.round(ux + 1e-9, 6).alias("unit_x"),
        F.round(uy + 1e-9, 6).alias("unit_y"),
        F.round(
            F.degrees(F.atan2(F.col("value") / 500.0, 1.0 - F.col("value") / 500.0))
            + 1e-9,
            6,
        ).alias("bearing"),
        F.round(
            flip_angle(F.col("value"), F.col("user_id") % 2 == 0) + 1e-9, 6
        ).alias("flipped"),
    )


@query(
    "q29_cube_aggregation",
    tags=("cube", "agg"),
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n,
       CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / 100.0 AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q29_cube_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over status x priority — all four grouping sets in one
    pass (Expand + single shuffle), the dashboard-subtotal companion to
    q18's ROLLUP. total is an EXACT BIGINT cents sum divided once —
    the cube's grand-total row is a whole-table money sum (the q01
    class: ~2.6e12 at the 100x probe, past the fround half-gap for a
    float sum)."""
    orders = read_table(spark, sf_dir, "orders", ["o_orderstatus", "o_orderpriority", "o_totalprice"])
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).cast("bigint")
            / 100.0
        ).alias("total"),
    )


@query(
    "q44_approx_count_distinct",
    tags=("sketch", "approx"),
    oracle="""
SELECT c_mktsegment,
       count(DISTINCT c_custkey) AS exact_customers,
       count(DISTINCT c_nationkey) AS n_nations,
       TRUE AS approx_within_5pct
FROM customer
GROUP BY c_mktsegment
""",
)
def q44_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimation per market segment — the
    mergeable-sketch path that replaces exact countDistinct at 100 TB
    (no expand, constant memory per group).

    The raw HLL estimate is engine-specific (it could never hash-match
    a DuckDB oracle), so the strict contract is: the EXACT distinct
    counts, plus ``approx_within_5pct`` — computed here as the actual
    relative-error check of the sketch against the exact count (rsd
    0.02, 2.5-sigma margin) and pinned to TRUE by the oracle. A sketch
    regression past the bound flips the boolean and fails the hash
    gate, so the approx path is driver-verified, not declared-weak."""
    cust = read_table(spark, sf_dir, "customer", ["c_mktsegment", "c_custkey", "c_nationkey"])
    agg = cust.groupBy("c_mktsegment").agg(
        F.approx_count_distinct("c_custkey", 0.02).alias("approx_customers"),
        F.countDistinct("c_custkey").alias("exact_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )
    rel_err = F.abs(F.col("approx_customers") - F.col("exact_customers")) / F.col(
        "exact_customers"
    )
    return agg.select(
        "c_mktsegment",
        "exact_customers",
        "n_nations",
        (rel_err <= 0.05).alias("approx_within_5pct"),
    )


@query(
    "q45_skew_salted_aggregation",
    tags=("skew", "agg"),
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       round(sum(l_quantity) + 1e-9, 2) AS total_qty,
       round(max(l_extendedprice) + 1e-9, 2) AS max_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def q45_skew_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a 3-value (maximally hot)
    grouping key — the explicit skew-mitigation path when a handful of
    group values would serialize into a few reducers. Oracle-checked
    against the plain GROUP BY it must be equivalent to.

    Scale: phase 1 groups on (key, salt) spreading each hot key over 16
    partitions; phase 2 merges 16 partials per key. Salt is derived
    from row content (xxhash), not rand(), so task retries re-salt
    identically.
    """
    from ...operators.skew import salted_aggregation

    li = read_table(
        spark, sf_dir, "lineitem", ["l_returnflag", "l_quantity", "l_extendedprice"]
    )
    out = salted_aggregation(
        li,
        ["l_returnflag"],
        {"n": "count", "total_qty": "sum:l_quantity", "max_price": "max:l_extendedprice"},
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        "n",
        fround(F.col("total_qty"), 2).alias("total_qty"),
        fround(F.col("max_price"), 2).alias("max_price"),
    )


@query(
    "q59_full_outer_join",
    tags=("join", "outer"),
    oracle="""
SELECT coalesce(f.c_custkey, o.c_custkey) AS c_custkey,
       coalesce(f.n_f, 0) AS n_fulfilled,
       coalesce(o.n_o, 0) AS n_open
FROM (
  SELECT o_custkey AS c_custkey, count(*) AS n_f
  FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
) f
FULL OUTER JOIN (
  SELECT o_custkey AS c_custkey, count(*) AS n_o
  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
) o ON f.c_custkey = o.c_custkey
""",
)
def q59_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two per-customer aggregates (fulfilled vs
    open order counts) with coalesced keys — the outer-join family
    member the reference never needs but any engine must supply.
    Scale: both sides pre-aggregate before the join, so the outer join
    runs on customer-cardinality inputs, not raw orders."""
    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderstatus"])
    f = (
        orders.where(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("f_key"))
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    o = (
        orders.where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("o_key"))
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    joined = f.join(o, f.f_key == o.o_key, "full_outer")
    return joined.select(
        F.coalesce(F.col("f_key"), F.col("o_key")).alias("c_custkey"),
        F.coalesce(F.col("n_f"), F.lit(0)).alias("n_fulfilled"),
        F.coalesce(F.col("n_o"), F.lit(0)).alias("n_open"),
    )


@query(
    "q79_grouping_sets",
    tags=("agg", "grouping-sets"),
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       grouping(o_orderstatus, o_orderpriority) AS gid,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def q79_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (two independent dimension breakdowns +
    grand total in one pass) with the grouping_id bit vector
    disambiguating NULL-as-aggregated from NULL-as-value — completes
    the multi-dimensional family next to rollup (q18) and cube (q29).

    Scale: one Expand node replicates each row once per set (3x here)
    before a single partial-aggregated shuffle — one scan instead of
    three separate aggregation queries.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderstatus", "o_orderpriority", "o_totalprice"]
    )
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("bigint")
                ).cast("bigint")
                / 100.0
            ).alias("total_price"),
        )
    )


@query(
    "q80_conditional_aggregates",
    tags=("agg", "filter-clause"),
    oracle="""
SELECT l_linestatus,
       count(*) FILTER (WHERE l_returnflag = 'R') AS n_returns,
       count(DISTINCT l_partkey) FILTER (WHERE l_discount > 0.05)
         AS n_discounted_parts,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
              FILTER (WHERE l_quantity >= 25) AS BIGINT) / 100.0
         AS bulk_revenue,
       bool_or(l_tax > 0.07) AS any_high_tax,
       bool_and(l_quantity > 0) AS all_positive_qty
FROM lineitem
GROUP BY l_linestatus
""",
)
def q80_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate library: FILTER-clause counts/sums (as
    count_if / when-guarded aggregates) and boolean any/all aggregates
    — the reference hand-rolls the same shape once with
    countDistinct(when(...)) (A1, reference tracking.py:282-296); this
    is the full family.

    Scale: all are single-pass mergeable partial aggregates; the
    conditional forms add no extra scan or shuffle over their
    unconditional versions (the distinct-count is the one expand).
    """
    li = read_table(
        spark,
        sf_dir,
        "lineitem",
        [
            "l_linestatus",
            "l_returnflag",
            "l_partkey",
            "l_discount",
            "l_quantity",
            "l_extendedprice",
            "l_tax",
        ],
    )
    return li.groupBy("l_linestatus").agg(
        F.count_if(F.col("l_returnflag") == "R").alias("n_returns"),
        F.countDistinct(
            F.when(F.col("l_discount") > 0.05, F.col("l_partkey"))
        ).alias("n_discounted_parts"),
        (
            F.sum(
                F.when(
                    F.col("l_quantity") >= 25,
                    F.round(F.col("l_extendedprice") * 100).cast("bigint"),
                )
            ).cast("bigint")
            / 100.0
        ).alias("bulk_revenue"),
        F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
    )


@query(
    "q81_correlated_scalar_subquery",
    tags=("sql", "subquery"),
    oracle="""
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o
WHERE o.o_totalprice > (
  SELECT 1.37 * avg(o2.o_totalprice) FROM orders o2
  WHERE o2.o_custkey = o.o_custkey
)
""",
)
def q81_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL front end: orders
    priced far above their own customer's average. Catalyst
    decorrelates it into an aggregate + join — the per-row subquery a
    tuple-at-a-time engine would execute never happens.

    Scale: the decorrelated plan aggregates orders once on o_custkey
    and joins back on the same key — two scans of one table, one
    shuffle key, no nested-loop. Output columns are raw pass-through
    (the derived threshold is only compared, never emitted).
    """
    read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_totalprice"]
    ).createOrReplaceTempView("orders_q81")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders_q81 o
        WHERE o.o_totalprice > (
          SELECT 1.37 * avg(o2.o_totalprice) FROM orders_q81 o2
          WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


#: Oracle CTEs of ``_cdc_batch``.
_CDC_BATCH_CTES = """base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 10 != 0
), upd AS (
  SELECT o_orderkey,
         'U' AS o_orderstatus,
         round(o_totalprice + 1000 + 1e-9, 2) AS o_totalprice,
         o_orderkey % 20 = 0 AS is_delete
  FROM orders WHERE o_orderkey % 5 = 0
)"""


def _cdc_batch(orders: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(base, updates)``: the base snapshot (orders not divisible by
    10) and a CDC batch repricing every 5th order and flagging every
    20th for deletion (oracle side: ``_CDC_BATCH_CTES``)."""
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    updates = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        fround(F.col("o_totalprice") + 1000, 2).alias("o_totalprice"),
        (F.col("o_orderkey") % 20 == 0).alias("is_delete"),
    )
    return base, updates


@query(
    "q87_merge_upsert",
    tags=("merge", "cdc"),
    oracle=f"""
WITH {_CDC_BATCH_CTES}, survivors AS (
  SELECT b.* FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
)
SELECT * FROM survivors
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd WHERE NOT is_delete
""",
)
def q87_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (upsert + delete) applied as relational
    algebra (``operators/merge.py::merge_upsert``): a CDC batch
    (every 5th order repriced, every 20th deleted) applied to a base
    snapshot (orders not divisible by 10). Update rows win whole-row;
    flagged keys disappear; everything else passes through.

    Scale: one anti join on the merge key (broadcast for small CDC
    batches) + a shuffle-free union — the apply-changes step of an
    idempotent warehouse loop (pairs with a dynamic-partition-overwrite
    writer).
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    base, updates = _cdc_batch(orders)
    from ...operators.merge import merge_upsert

    return merge_upsert(base, updates, ["o_orderkey"], delete_col="is_delete")


@query(
    "q88_row_unpivot",
    tags=("reshape", "unpivot"),
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
       l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
""",
)
def q88_row_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level unpivot (wide→long melt) of four measure columns via
    the native ``DataFrame.unpivot`` — the reshape feeding per-metric
    modeling/plotting pipelines. Values are raw pass-through doubles
    (bit-exact); q73 is the aggregated cousin.

    Scale: unpivot is a map-side Expand (one scan, rows×4, no shuffle)
    — the oracle's UNION ALL formulation would scan the table four
    times.
    """
    li = read_table(
        spark,
        sf_dir,
        "lineitem",
        ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
         "l_discount", "l_tax"],
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )


@query(
    "q89_cohort_retention",
    tags=("events", "cohort"),
    oracle="""
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
), c AS (
  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1
)
SELECT c.cohort_week,
       CAST(datediff('day', c.cohort_week, uw.week) // 7 AS INTEGER)
         AS week_offset,
       count(DISTINCT uw.user_id) AS n_active_users
FROM uw JOIN c USING (user_id)
GROUP BY 1, 2
""",
)
def q89_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted as active per week offset — the canonical product-
    analytics triangle, composed from distinct projection, per-user
    min, a same-key join, and date arithmetic (exact: week offsets are
    multiples of 7 days on both engines).

    Scale: the (user, week) distinct frame is thousands of times
    smaller than raw events; cohort assignment and the join both key
    on user_id (aligned exchanges), and the final aggregate shuffles
    the small retention pairs only.
    """
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts"])
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .select(
            "cohort_week",
            F.floor(F.datediff("week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


@query(
    "q90_snapshot_diff",
    tags=("merge", "diff"),
    oracle=f"""
WITH {_CDC_BATCH_CTES}, merged AS (
  SELECT b.* FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd WHERE NOT is_delete
), hb AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(1),
                       coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)),
                       coalesce(CAST(o_totalprice AS VARCHAR), chr(0)))) AS h
  FROM base
), ha AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(1),
                       coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)),
                       coalesce(CAST(o_totalprice AS VARCHAR), chr(0)))) AS h
  FROM merged
)
SELECT CASE WHEN hb.h IS NULL THEN 'inserted'
            WHEN ha.h IS NULL THEN 'deleted'
            WHEN hb.h = ha.h THEN 'unchanged'
            ELSE 'updated' END AS change_type,
       count(*) AS n_keys
FROM hb FULL OUTER JOIN ha USING (o_orderkey)
GROUP BY 1
""",
)
def q90_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation audit: diff the q87 base snapshot
    against its CDC-merged result and count keys per change class
    (``operators/merge.py::snapshot_diff``) — the verification step a
    pipeline runs after apply-changes.

    Scale: each side reduces to (key, md5 of payload) before one full
    outer join on the key — the shuffle carries 32-char hashes, never
    the row payloads; the class counts are a 4-group partial
    aggregate. NOTE the hash is diff-internal (both sides computed by
    the same engine) — cross-engine float-repr parity of
    CAST(double AS VARCHAR) is NOT assumed for row contents, only for
    match/mismatch classification, which is why the oracle mirrors the
    same construction and the test below pins semantics.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    base, updates = _cdc_batch(orders)
    from ...operators.merge import merge_upsert, snapshot_diff

    merged = merge_upsert(base, updates, ["o_orderkey"], delete_col="is_delete")
    return (
        snapshot_diff(base, merged, ["o_orderkey"])
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


@query(
    "q99_salted_join",
    tags=("join", "skew"),
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def q99_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant fact-dim join: orders joined to customer through
    ``operators/skew.py::salted_join`` — the fact side is
    deterministically salted from its payload columns and the dim side
    replicated, so a hot customer key spreads over n_salts reducers
    instead of hot-spotting one task. The result set is identical to
    the plain join (the oracle IS the plain join); only the physical
    key distribution changes.

    The dim side carries a shuffle_hash hint so the plan actually
    exercises the salted shuffle path this operator exists for —
    without it, the planner would broadcast a dim this small and the
    salt would be dead weight. At 100 TB the same call covers the case
    AQE skew-join can't: a dim too large to broadcast under a
    power-law-skewed fact key.
    """
    from ...operators.skew import salted_join

    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderkey", "o_totalprice"]
    )
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    fact = orders.withColumnRenamed("o_custkey", "c_custkey")
    joined = salted_join(
        fact, cust.hint("shuffle_hash"), on=["c_custkey"], n_salts=8
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).cast("bigint")
            / 100.0
        ).alias("revenue"),
    )


@query(
    "q103_incremental_agg",
    tags=("merge", "incremental", "aggregation"),
    oracle="""
WITH cents AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
  FROM orders
), final_rows AS (
  -- the state after the batch: base rows minus deletes, plus inserts
  SELECT * FROM cents
  WHERE o_orderkey % 10 <> 0 AND NOT (o_orderkey % 7 = 0)
  UNION ALL
  SELECT * FROM cents WHERE o_orderkey % 10 = 0
)
SELECT o_orderpriority,
       count(*) AS n_rows,
       CAST(sum(price_c) AS BIGINT) AS revenue_cents,
       round(sum(price_c) / 100.0 + 1e-9, 2) AS revenue
FROM final_rows
GROUP BY o_orderpriority
""",
)
def q103_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance
    (``operators/merge.py::apply_agg_delta``): a per-priority
    (count, revenue) rollup snapshot is built from the base partition
    of ``orders``, then a CDC batch (the '% 10' keys as inserts, the
    '% 7' base keys as deletes) is applied WITHOUT re-reading the
    base. The oracle recomputes the final state from scratch — the
    maintained view must match it exactly, which it does because money
    is carried as integer cents (associative addition; the
    floor(x*100+0.5) quantization is a pure function of the same
    double bits on both engines).

    Scale: the delta reduces map-side to one signed row per key and
    joins only view-grained data; the base table is scanned once, to
    seed the snapshot — never again per batch.
    """
    from ...operators.merge import apply_agg_delta

    cents = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderpriority", "o_totalprice"]
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("price_c"),
    )
    cents = cents.withColumnRenamed("price_c", "revenue_cents")
    base = cents.where(F.col("o_orderkey") % 10 != 0)
    snapshot = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("revenue_cents").alias("revenue_cents"),
    )
    batch = base.where(F.col("o_orderkey") % 7 == 0).select(
        "*", F.lit("D").alias("op")
    ).unionByName(
        cents.where(F.col("o_orderkey") % 10 == 0).select("*", F.lit("I").alias("op"))
    )
    maintained = apply_agg_delta(
        snapshot, batch, keys=["o_orderpriority"], sum_cols=["revenue_cents"],
    )
    return maintained.select(
        "o_orderpriority",
        "n_rows",
        "revenue_cents",
        fround(F.col("revenue_cents") / 100.0, 2).alias("revenue"),
    )


@query(
    "q106_scd2_history",
    tags=("lakehouse", "scd2", "window"),
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE prev_type IS NULL OR event_type != prev_type
)
SELECT user_id,
       ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       event_type AS state,
       CASE WHEN lead(ts) OVER w2 IS NULL THEN 1 ELSE 0 END AS is_current,
       CAST(row_number() OVER w2 AS BIGINT) AS version
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q106_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build from a change
    log: collapse each user's event stream to its state-CHANGE rows,
    then stamp every version with ``valid_from`` / ``valid_to`` /
    ``is_current`` / ``version`` — the dimension-versioning write path
    of every warehouse (Kimball SCD2), derived relationally rather
    than via per-key driver loops.

    Change detection (lag != current) and validity stamping (lead /
    row_number over the filtered change rows) are two window passes
    over the SAME (user_id; ts, event_id) partitioning — one shuffle
    total; Spark reuses the exchange and sort for the second window.
    The unique (ts, event_id) tie-break makes every version boundary
    deterministic (CLAUDE.md rule 3/6).

    Scale: windows partition by user (millions of independent groups,
    no global sort); the change filter drops the frame to the change
    cardinality before the second pass. At 100 TB this is the
    MERGE-free way to maintain SCD2: append the log, rebuild (or
    incrementally upsert via operators/merge.py) the compacted
    history.
    """
    ev = read_table(
        spark, sf_dir, "events", ["user_id", "ts", "event_id", "event_type"]
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .drop("prev_type")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.col("event_type").alias("state"),
        F.when(F.lead("ts").over(w2).isNull(), 1).otherwise(0).alias("is_current"),
        F.row_number().over(w2).cast("bigint").alias("version"),
    )


@query(
    "q166_referential_integrity",
    tags=("relational", "audit", "quality"),
    oracle="""
SELECT 'lineitem.l_orderkey->orders' AS relation,
       CAST(count(*) AS BIGINT) AS n_child,
       CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
         AS n_orphans,
       round(count(*) FILTER (WHERE o.o_orderkey IS NULL) * 1.0 / count(*)
             + 1e-9, 6) AS orphan_ratio
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem.l_partkey->part',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT),
       round(count(*) FILTER (WHERE p.p_partkey IS NULL) * 1.0 / count(*)
             + 1e-9, 6)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'orders.o_custkey->customer',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
       round(count(*) FILTER (WHERE c.c_custkey IS NULL) * 1.0 / count(*)
             + 1e-9, 6)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'customer.c_nationkey->nation',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT),
       round(count(*) FILTER (WHERE n.n_nationkey IS NULL) * 1.0 / count(*)
             + 1e-9, 6)
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'supplier.s_nationkey->nation',
       CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT),
       round(count(*) FILTER (WHERE n.n_nationkey IS NULL) * 1.0 / count(*)
             + 1e-9, 6)
FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
""",
)
def q166_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the fact/dimension join
    graph: orphan-FK counts for every relation the engine's join
    queries depend on — the ingest gate that catches a partial dim
    load BEFORE q02/q03-style joins silently drop (inner) or
    null-extend (left) fact rows.

    Each relation is one left join against the parent's PRIMARY key
    (no row multiplication by construction) reduced to three integer
    counts; the per-relation frames are one-row and union for free.

    Scale: parent key columns prune to a single column at the scan;
    small dims broadcast; the fact-sized joins shuffle on the FK they
    audit — identical movement to the production joins they guard.
    """
    checks = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    parts = []
    for label, child, ckey, parent, pkey in checks:
        ch = read_table(spark, sf_dir, child, [ckey])
        pa = read_table(spark, sf_dir, parent, [pkey])
        joined = ch.join(pa, ch[ckey] == pa[pkey], "left")
        orphan = F.count_if(F.col(pkey).isNull())
        parts.append(
            joined.agg(
                F.count(F.lit(1)).alias("n_child"),
                orphan.alias("n_orphans"),
                fround(orphan * 1.0 / F.count(F.lit(1)), 6).alias(
                    "orphan_ratio"
                ),
            ).select(
                F.lit(label).alias("relation"),
                "n_child",
                "n_orphans",
                "orphan_ratio",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q171_order_total_consistency",
    tags=("relational", "audit", "quality"),
    oracle="""
WITH calc AS (
  SELECT l_orderkey,
         round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))
               + 1e-9, 2) AS calc_total
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE abs(o.o_totalprice - c.calc_total) <= 0.01)
            AS BIGINT) AS n_consistent,
       round(max(abs(o.o_totalprice - c.calc_total)) + 1e-9, 2)
         AS max_abs_diff,
       round(sum(abs(o.o_totalprice - c.calc_total)) / count(*) + 1e-9, 2)
         AS avg_abs_diff
FROM orders o JOIN calc c ON o.o_orderkey = c.l_orderkey
GROUP BY o.o_orderstatus
""",
)
def q171_order_total_consistency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Derived-column consistency audit: does the order header's
    total equal the lineitem-derived Σ price·(1-disc)·(1+tax) within
    a cent? The cross-table invariant check a warehouse runs after
    every load — on this synthetic data the generator draws totals
    independently, and the audit REPORTS that (zero consistent rows,
    six-figure max drift) instead of assuming it.

    The per-order recomputed total is rounded to cents BEFORE the
    comparison (absorbing per-order float-sum association); diffs sit
    orders of magnitude from the cent threshold, so the counts are
    engine-stable.

    Scale: one lineitem shuffle on the order key (partial map-side
    sums), one fact-to-fact join on the same key — the exchanges line
    up — then a status-keyed reduction.
    """
    li = read_table(
        spark,
        sf_dir,
        "lineitem",
        ["l_orderkey", "l_extendedprice", "l_discount", "l_tax"],
    )
    calc = li.groupBy("l_orderkey").agg(
        fround(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ),
            2,
        ).alias("calc_total")
    )
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    diff = F.abs(F.col("o_totalprice") - F.col("calc_total"))
    return (
        orders.join(calc, orders["o_orderkey"] == calc["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(diff <= 0.01).alias("n_consistent"),
            fround(F.max(diff), 2).alias("max_abs_diff"),
            fround(F.sum(diff) / F.count(F.lit(1)), 2).alias("avg_abs_diff"),
        )
    )


@query(
    "q182_point_in_time_join",
    tags=("temporal", "scd2", "ml-features"),
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, ts, event_id, event_type FROM ordered
  WHERE prev_type IS NULL OR event_type != prev_type
), hist AS (
  SELECT user_id,
         ts AS valid_from,
         lead(ts) OVER w2 AS valid_to,
         event_type AS state,
         CAST(row_number() OVER w2 AS BIGINT) AS version
  FROM changes
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
), facts AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id,
       h.state AS state_at_purchase,
       h.version AS state_version,
       round((epoch_us(f.ts) - epoch_us(h.valid_from)) / 1000000.0
             + 1e-9, 3) AS state_age_s,
       h.valid_from <= f.ts AS no_leakage
FROM facts f
JOIN hist h
  ON h.user_id = f.user_id
 AND h.valid_from <= f.ts
 AND (h.valid_to IS NULL OR f.ts < h.valid_to)
""",
)
def q182_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each purchase joins the SCD2
    state version (q106's history) that was valid AT the purchase
    timestamp — the feature-store correctness primitive that prevents
    label leakage (training features must reflect what was knowable
    at label time, never a later version). The ``no_leakage`` column
    pins the invariant in the oracle-hashed output.

    Exactly one version matches any fact inside the user's history
    (the validity intervals partition the timeline); the half-open
    bound [valid_from, valid_to) makes boundary events land in the
    NEW version on both engines (integer-microsecond comparison).

    Scale: history and facts both key on user_id — the interval
    predicate evaluates inside a user-partitioned equi-join (versions
    per user are few), never a cross join; state age converts to
    seconds before rounding (the q167 magnitude lesson).
    """
    hist = q106_scd2_history(spark, sf_dir).select(
        "user_id", "valid_from", "valid_to",
        F.col("state"), "version",
    )
    ev = read_table(
        spark, sf_dir, "events", ["event_id", "user_id", "ts", "event_type"]
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = facts.join(hist, "user_id").where(
        (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("state").alias("state_at_purchase"),
        F.col("version").alias("state_version"),
        fround(
            (F.unix_micros("ts") - F.unix_micros("valid_from")) / 1000000.0,
            3,
        ).alias("state_age_s"),
        (F.col("valid_from") <= F.col("ts")).alias("no_leakage"),
    )


@query(
    "q192_market_concentration",
    tags=("relational", "statistics", "audit"),
    oracle="""
WITH rev AS (
  SELECT s.s_nationkey, l.l_suppkey,
         round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 2) AS r
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
), tot AS (
  SELECT s_nationkey, sum(r) AS t, CAST(count(*) AS BIGINT) AS n_suppliers
  FROM rev GROUP BY s_nationkey
), ranked AS (
  SELECT r.s_nationkey, r.r, t.t, t.n_suppliers,
         row_number() OVER (PARTITION BY r.s_nationkey
                            ORDER BY r.r DESC, r.l_suppkey) AS rk
  FROM rev r JOIN tot t ON r.s_nationkey = t.s_nationkey
)
SELECT s_nationkey, n_suppliers,
       round(sum((r / t) * (r / t)) + 1e-9, 6) AS hhi,
       round(sum(CASE WHEN rk <= 3 THEN r ELSE 0 END) / any_value(t)
             + 1e-9, 6) AS cr3
FROM ranked
GROUP BY s_nationkey, n_suppliers
""",
)
def q192_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation: Herfindahl-
    Hirschman index (Σ share²; 1/n even split → 1 monopoly) and the
    top-3 concentration ratio — the market-structure counterpart of
    q119's Gini (Gini measures inequality of the whole curve, HHI
    weights the head). The concentration question behind skew
    planning, too: a nation at HHI → 1 is a broadcast-or-salt key.

    Per-supplier revenues are rounded to cents FIRST (engine-
    identical inputs); shares are then ratios of identical doubles,
    the top-3 selection ranks with a supplier tie-break, and the
    share-square sum order is absorbed by the round.

    Scale: one fact shuffle to (nation, supplier) grain; rankings
    partition by nation over supplier-counted rows.
    """
    from pyspark.sql import Window

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_suppkey", "l_extendedprice", "l_discount"],
    )
    supp = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    rev = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            fround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("r")
        )
        .localCheckpoint(eager=False)
    )
    tot = rev.groupBy("s_nationkey").agg(
        F.sum("r").alias("t"), F.count(F.lit(1)).alias("n_suppliers")
    )
    ranked = rev.join(F.broadcast(tot), "s_nationkey").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("s_nationkey").orderBy(
                F.desc("r"), "l_suppkey"
            )
        ),
    )
    share = F.col("r") / F.col("t")
    return ranked.groupBy("s_nationkey", "n_suppliers").agg(
        fround(F.sum(share * share), 6).alias("hhi"),
        fround(
            F.sum(F.when(F.col("rk") <= 3, F.col("r")).otherwise(0))
            / F.any_value("t"),
            6,
        ).alias("cr3"),
    )


@query(
    "q193_hierarchical_shares",
    tags=("relational", "report"),
    oracle="""
WITH pre AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l.l_discount * 100) AS BIGINT) AS d
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
), rev AS (
  SELECT region, nation,
         CAST(sum(cents) AS BIGINT) * 100
           - CAST(sum(cents * d) AS BIGINT) AS micro
  FROM pre GROUP BY region, nation
), reg AS (
  SELECT region, CAST(sum(micro) AS BIGINT) AS rmicro
  FROM rev GROUP BY region
), gtot AS (
  SELECT CAST(sum(rmicro) AS BIGINT) AS gmicro FROM reg
)
SELECT v.region, v.nation,
       v.micro / 10000.0 AS nation_rev,
       g.rmicro / 10000.0 AS region_rev,
       round(CAST(v.micro AS DOUBLE) / g.rmicro + 1e-9, 6)
         AS share_of_region,
       round(CAST(g.rmicro AS DOUBLE) / gl.gmicro + 1e-9, 6)
         AS region_share_global,
       round(CAST(v.micro AS DOUBLE) / gl.gmicro + 1e-9, 6)
         AS share_of_global
FROM rev v
JOIN reg g ON v.region = g.region
CROSS JOIN gtot gl
""",
)
def q193_hierarchical_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical contribution report: each nation's revenue with
    its share of region and of global, plus the region's global share
    — the drill-down percent-of-parent table every BI layer renders
    from a fact cube (and the multi-level ratio shape q18/q64 roll up
    without).

    Nation revenues are EXACT BIGINT micro-dollar sums
    (100·Σcents − Σcents·discount-percent, the q01 disc-price
    assembly — rebased round 13 when the 100x probe measured the
    low-grain float-money-sum class diverging); every ratio level
    divides engine-identical exact integers; parent totals are exact
    BIGINT sums of the nation micros (never a second fact scan, and
    no float sum anywhere). The rev/region displays divide the micro
    by 1e4 once — deterministic identical doubles, emitted without a
    further round (the value sits on the 1e-4 lattice where a 2-dp
    round hits exact ties).

    Scale: one fact shuffle to the nation grain (dims broadcast);
    region and global totals are ≤|regions|-row broadcast frames.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_suppkey", "l_extendedprice", "l_discount"],
    )
    supp = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    nat = read_table(
        spark, sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"]
    )
    reg = read_table(spark, sf_dir, "region", ["r_regionkey", "r_name"])
    rev = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
        .join(F.broadcast(reg), F.col("n_regionkey") == reg["r_regionkey"])
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
            F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
        )
        .groupBy("region", "nation")
        .agg(
            F.sum("cents").cast("bigint").alias("sc"),
            F.sum(F.col("cents") * F.col("d")).cast("bigint").alias("scd"),
        )
        .select(
            "region",
            "nation",
            (F.col("sc") * 100 - F.col("scd")).alias("micro"),
        )
        .localCheckpoint(eager=False)
    )
    regs = rev.groupBy("region").agg(
        F.sum("micro").cast("bigint").alias("rmicro")
    )
    glob = regs.agg(F.sum("rmicro").cast("bigint").alias("gmicro"))
    return (
        rev.join(F.broadcast(regs), "region")
        .crossJoin(F.broadcast(glob))
        .select(
            "region",
            "nation",
            (F.col("micro") / 10000.0).alias("nation_rev"),
            (F.col("rmicro") / 10000.0).alias("region_rev"),
            fround(
                F.col("micro").cast("double") / F.col("rmicro"), 6
            ).alias("share_of_region"),
            fround(
                F.col("rmicro").cast("double") / F.col("gmicro"), 6
            ).alias("region_share_global"),
            fround(
                F.col("micro").cast("double") / F.col("gmicro"), 6
            ).alias("share_of_global"),
        )
    )


@query(
    "q232_price_index",
    tags=("report", "economics", "agg"),
    oracle="""
WITH sold AS (
  SELECT CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr,
         l.l_partkey,
         CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
), priced AS (
  SELECT yr, l_partkey, qty, cents,
         cents * 1.0 / qty AS unit_cents
  FROM sold WHERE qty > 0
), base AS (
  SELECT l_partkey, qty AS q0, unit_cents AS p0
  FROM priced WHERE yr = (SELECT min(yr) FROM priced)
), joined AS (
  SELECT p.yr, p.unit_cents AS pt, p.qty AS qt, b.p0, b.q0
  FROM priced p JOIN base b ON p.l_partkey = b.l_partkey
)
SELECT yr,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(sum(pt * q0) / sum(p0 * q0) + 1e-9, 6) AS laspeyres,
       round(sum(pt * qt) / sum(p0 * qt) + 1e-9, 6) AS paasche,
       round(sqrt((sum(pt * q0) / sum(p0 * q0))
                  * (sum(pt * qt) / sum(p0 * qt))) + 1e-9, 6) AS fisher
FROM joined GROUP BY yr
""",
)
def q232_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices of the part catalog
    by year (base = first year, matched parts only): the standard
    inflation decomposition separating price movement from mix shift —
    Laspeyres holds the base basket fixed, Paasche uses the current
    one, Fisher is their geometric mean. Realized unit prices come
    from exact integer (cents, qty) pairs at the (year, part) grain.

    The float surface: unit price is one division of exact BIGINTs;
    the index numerators/denominators are sums of unit_price×qty
    doubles — engine association order differs at the last ulp
    (the q24 session_value class) and the 6-decimal fround absorbs
    it. The base-year frame joins on the part key (broadcast when
    small, shuffle otherwise — AQE's call).
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"],
    )
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderdate"])
    sold = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.year(F.col("o_orderdate").cast("date")).cast("bigint").alias(
                "yr"
            ),
            "l_partkey",
            F.round(F.col("l_quantity")).cast("bigint").alias("q1"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
                "c1"
            ),
        )
        .groupBy("yr", "l_partkey")
        .agg(F.sum("q1").alias("qty"), F.sum("c1").alias("cents"))
        .where(F.col("qty") > 0)
        .withColumn("unit_cents", F.col("cents") * 1.0 / F.col("qty"))
        .localCheckpoint(eager=False)
    )
    base_yr = sold.agg(F.min("yr").alias("y0"))
    base = (
        sold.crossJoin(F.broadcast(base_yr))
        .where(F.col("yr") == F.col("y0"))
        .select(
            "l_partkey",
            F.col("qty").alias("q0"),
            F.col("unit_cents").alias("p0"),
        )
    )
    joined = sold.join(base, "l_partkey").select(
        "yr",
        F.col("unit_cents").alias("pt"),
        F.col("qty").alias("qt"),
        "p0",
        "q0",
    )
    lasp = F.sum(F.col("pt") * F.col("q0")) / F.sum(F.col("p0") * F.col("q0"))
    paas = F.sum(F.col("pt") * F.col("qt")) / F.sum(F.col("p0") * F.col("qt"))
    return joined.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_parts"),
        fround(lasp, 6).alias("laspeyres"),
        fround(paas, 6).alias("paasche"),
        fround(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


@query(
    "q233_growth_accounting",
    tags=("report", "retention", "window"),
    oracle="""
WITH activity AS (
  SELECT DISTINCT o_custkey,
         CAST(year(CAST(o_orderdate AS DATE)) * 12
              + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m
  FROM orders
), flags AS (
  SELECT o_custkey, m,
         lag(m) OVER (PARTITION BY o_custkey ORDER BY m) AS prev_m,
         row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS rn
  FROM activity
), classified AS (
  SELECT m,
         CASE WHEN rn = 1 THEN 'new'
              WHEN prev_m = m - 1 THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM flags
), active AS (
  SELECT m, CAST(count(*) AS BIGINT) AS mau FROM classified GROUP BY m
), churn AS (
  -- active in m-1, not active in m: count by anti-membership via the
  -- next activity month of each (customer, month)
  SELECT f.m + 1 AS m, CAST(count(*) AS BIGINT) AS churned
  FROM (
    SELECT o_custkey, m,
           lead(m) OVER (PARTITION BY o_custkey ORDER BY m) AS next_m
    FROM activity
  ) f
  WHERE f.next_m IS NULL OR f.next_m > f.m + 1
  GROUP BY f.m + 1
)
SELECT c.m AS month_idx,
       CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS new_customers,
       CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         AS retained,
       CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
            AS BIGINT) AS resurrected,
       CAST(coalesce(min(ch.churned), 0) AS BIGINT) AS churned,
       min(a.mau) AS mau
FROM classified c
JOIN active a ON a.m = c.m
LEFT JOIN churn ch ON ch.m = c.m
GROUP BY c.m
""",
)
def q233_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting of the customer base: every active
    customer is NEW (first month), RETAINED (also active last month)
    or RESURRECTED (active before, skipped at least one month), and
    CHURNED counts last month's actives who did not return — the MAU
    decomposition (mau_t = new + retained + resurrected;
    mau_t = mau_{t-1} + new + resurrected − churned) that separates
    a growth problem from a retention problem.

    All classification is lag/lead arithmetic on the distinct
    (customer, month) grain — one customer-keyed shuffle shared by
    both windows, integer month indices (never month names — sort
    order must be numeric), exact counts throughout.
    """
    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderdate"])
    d = F.col("o_orderdate").cast("date")
    activity = orders.select(
        "o_custkey",
        (F.year(d) * 12 + F.month(d)).cast("bigint").alias("m"),
    ).distinct().localCheckpoint(eager=False)
    w = Window.partitionBy("o_custkey").orderBy("m")
    flags = activity.select(
        "m",
        F.lag("m").over(w).alias("prev_m"),
        F.row_number().over(w).alias("rn"),
    )
    classified = flags.select(
        "m",
        F.when(F.col("rn") == 1, "new")
        .when(F.col("prev_m") == F.col("m") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    active = classified.groupBy("m").agg(F.count(F.lit(1)).alias("mau"))
    churn = (
        activity.select(
            "m", F.lead("m").over(w).alias("next_m")
        )
        .where(F.col("next_m").isNull() | (F.col("next_m") > F.col("m") + 1))
        .groupBy((F.col("m") + 1).alias("m"))
        .agg(F.count(F.lit(1)).alias("churned"))
    )
    return (
        classified.join(F.broadcast(active), "m")
        .join(F.broadcast(churn), "m", "left")
        .groupBy("m")
        .agg(
            F.sum(F.when(F.col("status") == "new", 1).otherwise(0))
            .cast("bigint")
            .alias("new_customers"),
            F.sum(F.when(F.col("status") == "retained", 1).otherwise(0))
            .cast("bigint")
            .alias("retained"),
            F.sum(F.when(F.col("status") == "resurrected", 1).otherwise(0))
            .cast("bigint")
            .alias("resurrected"),
            F.coalesce(F.min("churned"), F.lit(0)).cast("bigint").alias(
                "churned"
            ),
            F.min("mau").alias("mau"),
        )
        .withColumnRenamed("m", "month_idx")
    )


@query(
    "q403_shift_share_decomposition",
    tags=("relational", "growth", "decomposition"),
    oracle="""
WITH cells AS MATERIALIZED (
  SELECT n.n_name AS nation, c.c_mktsegment AS segment,
         CAST(sum(CASE WHEN year(o.o_orderdate) = 1999
                       THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS e0,
         CAST(sum(CASE WHEN year(o.o_orderdate) = 2000
                       THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS e1
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE year(o.o_orderdate) IN (1999, 2000)
  GROUP BY 1, 2
), seg AS MATERIALIZED (
  SELECT segment, CAST(sum(e0) AS BIGINT) AS es0,
         CAST(sum(e1) AS BIGINT) AS es1
  FROM cells GROUP BY segment
  HAVING sum(e0) > 0
), tot AS MATERIALIZED (
  SELECT CAST(sum(es0) AS BIGINT) AS t0, CAST(sum(es1) AS BIGINT) AS t1
  FROM seg
), terms AS (
  SELECT c.nation, c.e0, c.e1,
         CAST(c.e0 AS DOUBLE) * (CAST(t.t1 AS DOUBLE) / t.t0 - 1)
           AS nat_c,
         CAST(c.e0 AS DOUBLE)
           * ((CAST(s.es1 AS DOUBLE) / s.es0 - 1)
              - (CAST(t.t1 AS DOUBLE) / t.t0 - 1)) AS mix_c,
         CAST(c.e1 AS DOUBLE)
           - CAST(c.e0 AS DOUBLE)
             * (1 + (CAST(s.es1 AS DOUBLE) / s.es0 - 1)) AS shift_c
  FROM cells c JOIN seg s USING (segment) CROSS JOIN tot t
)
SELECT nation,
       round(CAST(sum(e0) AS BIGINT) / 100.0 + 1e-9, 2) AS rev_base,
       round(CAST(sum(e1) AS BIGINT) / 100.0 + 1e-9, 2) AS rev_cur,
       round(CAST(sum(e1) - sum(e0) AS BIGINT) / 100.0 + 1e-9, 2)
         AS delta,
       round(sum(nat_c) / 100 + 1e-9, 2) AS national_effect,
       round(sum(mix_c) / 100 + 1e-9, 2) AS mix_effect,
       round(sum(shift_c) / 100 + 1e-9, 2) AS competitive_effect
FROM terms GROUP BY nation
""",
)
def q403_shift_share_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shift-share decomposition of each nation's 1999→2000 revenue
    change into national-growth, segment-mix, and competitive-shift
    effects (the regional-economics standard, here on market
    segments): nat = e0·G, mix = e0·(G_s − G), shift = e1 − e0·(1+G_s)
    per (nation, segment) cell — the three terms telescope to e1 − e0
    EXACTLY cell-by-cell, so the decomposition needs no residual and
    the e0 = 0 (new-activity) cell lands wholly in shift. Periods are
    full corpus years (probed: 1995–2000 complete at every SF, 2001
    partial — the q296 sizing discipline).

    Exactness: cell revenues are exact integer cents from ONE
    conditional-sum pass (the q376 cast-once discipline); growth
    rates are single divisions of exact cents; each term is one
    multiply of a cast-once double — only the ≤5-segment per-nation
    sums are float, absorbed by fround(2) (the q24/q232 index-sum
    class). Segment rates require es0 > 0 on both sides (all five
    segments qualify at every SF).

    Scale: orders⋈customer shuffles on custkey (both data-sized —
    deliberately NOT broadcast, the q386 rule), nation broadcasts,
    and everything after the cell reduce is arithmetic on a ≤125-row
    frame (checkpointed: it feeds segment totals, grand totals, and
    the term join)."""
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderdate", "o_totalprice"]
    )
    cust = read_table(
        spark, sf_dir, "customer", ["c_custkey", "c_nationkey", "c_mktsegment"]
    )
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    yr = F.year("o_orderdate")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cells = (
        orders.where(yr.isin(1999, 2000))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.sum(F.when(yr == 1999, cents).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("e0"),
            F.sum(F.when(yr == 2000, cents).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("e1"),
        )
        .localCheckpoint(eager=False)  # feeds seg, tot, and the term join
    )
    seg = (
        cells.groupBy("segment")
        .agg(
            F.sum("e0").cast("bigint").alias("es0"),
            F.sum("e1").cast("bigint").alias("es1"),
        )
        .where(F.col("es0") > 0)
    )
    tot = seg.agg(
        F.sum("es0").cast("bigint").alias("t0"),
        F.sum("es1").cast("bigint").alias("t1"),
    )
    g = F.col("t1").cast("double") / F.col("t0") - 1
    gs = F.col("es1").cast("double") / F.col("es0") - 1
    e0d = F.col("e0").cast("double")
    terms = (
        cells.join(F.broadcast(seg), "segment")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "e0",
            "e1",
            (e0d * g).alias("nat_c"),
            (e0d * (gs - g)).alias("mix_c"),
            (F.col("e1").cast("double") - e0d * (1 + gs)).alias("shift_c"),
        )
    )
    return terms.groupBy("nation").agg(
        fround(F.sum("e0").cast("bigint") / F.lit(100.0), 2).alias(
            "rev_base"
        ),
        fround(F.sum("e1").cast("bigint") / F.lit(100.0), 2).alias("rev_cur"),
        fround(
            (F.sum("e1") - F.sum("e0")).cast("bigint") / F.lit(100.0), 2
        ).alias("delta"),
        fround(F.sum("nat_c") / F.lit(100), 2).alias("national_effect"),
        fround(F.sum("mix_c") / F.lit(100), 2).alias("mix_effect"),
        fround(F.sum("shift_c") / F.lit(100), 2).alias("competitive_effect"),
    )
