"""Ranking, ordered aggregation, and percentile queries — engine
capabilities beyond the reference's row_number-only window usage."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...functions.scalar import fround
from ...sources.readers import read_table
from ..registry import query

#: Oracle CTE: exact net revenue in cents per part.
_PART_CENTS_CTE = """rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
)"""

#: Oracle CTE: units shipped per (brand, epoch day).
_BRAND_DAILY_CTE = """daily AS (
  SELECT p.p_brand AS brand,
         CAST(CAST(l.l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_num,
         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
)"""


def _brand_daily_units(li: DataFrame, part: DataFrame) -> DataFrame:
    """``(brand, day_num, d)``: units shipped per brand and epoch day
    (oracle side: ``_BRAND_DAILY_CTE``)."""
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-01")
            ).cast("bigint").alias("day_num"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("brand", "day_num")
        .agg(F.sum("q").cast("bigint").alias("d"))
    )


@query(
    "q56_ranking_functions",
    tags=("window", "ranking"),
    oracle="""
SELECT o_orderkey, o_orderstatus,
       rank() OVER w AS price_rank,
       dense_rank() OVER w AS price_dense_rank,
       ntile(4) OVER w AS price_quartile,
       round(percent_rank() OVER w + 1e-9, 6) AS price_pct_rank
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def q56_ranking_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family (rank / dense_rank / ntile /
    percent_rank) per order status — deterministic because the window
    order carries the unique o_orderkey tie-break.

    Scale: one shuffle on the partition key; all four functions share
    one sorted pass.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
        fround(F.percent_rank().over(w), 6).alias("price_pct_rank"),
    )


@query(
    "q57_ordered_string_agg",
    tags=("agg", "collect"),
    oracle="""
SELECT o_custkey,
       count(*) AS n_orders,
       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
FROM orders
GROUP BY o_custkey
""",
)
def q57_ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct-set aggregation rendered as a string —
    collect_set has no deterministic order, so the engine form is
    array_sort(collect_set(...)) before join; emitting a string keeps
    the result portable across engines/hashers."""
    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderstatus"])
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
    )


@query(
    "q58_percentiles",
    tags=("agg", "percentile"),
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.25) + 1e-9, 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50) + 1e-9, 4) AS median,
       round(quantile_cont(o_totalprice, 0.90) + 1e-9, 4) AS p90
FROM orders
GROUP BY o_orderstatus
""",
)
def q58_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per status (Spark ``percentile``
    == DuckDB ``quantile_cont``). At 100 TB the same query swaps to
    approx_percentile (t-digest sketch, mergeable) — the exact form
    stays here because the oracle hashes values."""
    orders = read_table(spark, sf_dir, "orders", ["o_orderstatus", "o_totalprice"])
    # One array-percentile: one buffer + one sort per group instead of
    # three, identical values (r13 optimization).
    return orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, array(0.25, 0.50, 0.90))").alias(
            "_pcts"
        )
    ).select(
        "o_orderstatus",
        fround(F.col("_pcts")[0], 4).alias("p25"),
        fround(F.col("_pcts")[1], 4).alias("median"),
        fround(F.col("_pcts")[2], 4).alias("p90"),
    )


@query(
    "q96_approx_percentile_bound",
    tags=("sketch", "approx", "percentile"),
    oracle="""
WITH per_group AS (
  SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, n AS n_rows, TRUE AS median_within_rank_bound
FROM per_group
""",
)
def q96_approx_percentile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable quantile sketch — the 100 TB
    replacement for the exact q58 form) driver-verified via its RANK
    guarantee: the sketch's median v must satisfy
    count(x < v) <= n/2 + err and count(x <= v) >= n/2 - err with
    err = n/accuracy (tie-robust two-sided form — the sketch returns a
    data value whose rank is within err, but ties move strict and
    non-strict counts apart). The boolean is computed from the data
    and pinned TRUE by the oracle, so a sketch regression past its
    contract fails the hash gate — same strict-plus-bound pattern as
    q44.

    Scale: two passes over the grouped column (sketch, then rank
    counts conditioned on the 3-row broadcast sketch result) — the
    verification join broadcasts, never shuffles the fact table twice.
    """
    orders = read_table(spark, sf_dir, "orders", ["o_orderstatus", "o_totalprice"])
    accuracy = 10_000
    sk = orders.groupBy("o_orderstatus").agg(
        F.expr(f"approx_percentile(o_totalprice, 0.5, {accuracy})").alias("_v")
    )
    joined = orders.join(F.broadcast(sk), "o_orderstatus")
    agg = joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("o_totalprice") < F.col("_v")).cast("long")).alias("_below"),
        F.sum((F.col("o_totalprice") <= F.col("_v")).cast("long")).alias("_at_or_below"),
    )
    err = F.col("n_rows") / accuracy + 1
    target = F.col("n_rows") / 2.0
    return agg.select(
        "o_orderstatus",
        "n_rows",
        (
            (F.col("_below") <= target + err)
            & (F.col("_at_or_below") >= target - err)
        ).alias("median_within_rank_bound"),
    )


@query(
    "q176_quantile_transform",
    tags=("ranking", "ml-features", "normalization"),
    oracle="""
WITH ranked AS (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r,
         count(*) OVER () AS n
  FROM orders
)
SELECT o_orderkey, o_totalprice,
       CAST(r AS BIGINT) AS rank,
       round((r - 1) * 1.0 / (n - 1) + 1e-9, 6) AS quantile
FROM ranked
WHERE o_orderkey % 19 = 0
""",
)
def q176_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-integral transform of a skewed monetary feature:
    map each value to its global quantile position — the
    distribution-free normalization (uniform output whatever the
    input shape) a feature pipeline applies before distance-based
    models, with the added property that the transform is STABLE
    under re-ingestion because the order is total.

    The global rank comes from operators/rankops.py::bucketed_rank
    (magnitude-bucket windows + a ≤64-row offset scan) — the oracle's
    plain ``row_number() OVER (ORDER BY ...)`` is exactly the
    single-partition funnel the operator exists to avoid at 100 TB.
    The output filter keeps every 19th key so the checked frame stays
    bounded while sampling the whole range.

    Quantiles are integer-rank ratios — IEEE-exact on both engines
    before the defensive round.
    """
    from ...operators.rankops import bucketed_rank

    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"]
    )
    n = orders.agg(F.count(F.lit(1)).alias("n"))
    ranked = bucketed_rank(
        orders, "o_totalprice", ["o_orderkey"], out_col="rank"
    )
    return (
        ranked.crossJoin(F.broadcast(n))
        .where(F.col("o_orderkey") % 19 == 0)
        .select(
            "o_orderkey",
            "o_totalprice",
            "rank",
            fround(
                (F.col("rank") - 1) * 1.0 / (F.col("n") - 1), 6
            ).alias("quantile"),
        )
    )


@query(
    "q198_period_over_period",
    tags=("timeseries", "report"),
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(value) + 1e-9, 2) AS total
  FROM events GROUP BY event_type, date_trunc('day', ts)
), seq AS (
  SELECT event_type, day, n, total,
         lag(total) OVER (PARTITION BY event_type ORDER BY day)
           AS prev_total
  FROM daily
)
SELECT event_type, day, n, total, prev_total,
       round(CASE WHEN prev_total = 0 OR prev_total IS NULL THEN NULL
                  ELSE (total - prev_total) / prev_total END + 1e-9, 6)
         + 0 AS pct_change
FROM seq
""",
)
def q198_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day delta report per series: daily totals, previous
    day, and percent change with safe division — the most common BI
    query shape there is, with the footgun treatment it needs
    (cent-rounded inputs to the delta, NULL on a zero/absent base,
    sign-of-zero guard on changes that round to zero).

    Scale: one shuffle to the daily grain; the lag partitions by
    series over the bounded day axis.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events", ["event_type", "ts", "value"])
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        fround(F.sum("value"), 2).alias("total"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.withColumn("prev_total", F.lag("total").over(w))
    pct = F.when(
        F.col("prev_total").isNull() | (F.col("prev_total") == 0),
        F.lit(None),
    ).otherwise((F.col("total") - F.col("prev_total")) / F.col("prev_total"))
    return seq.select(
        "event_type",
        "day",
        "n",
        "total",
        "prev_total",
        (fround(pct, 6) + F.lit(0)).alias("pct_change"),
    )


@query(
    "q199_abc_classification",
    tags=("ranking", "report", "pareto"),
    oracle=f"""
WITH {_PART_CENTS_CTE}, ranked AS (
  SELECT l_partkey, cents,
         row_number() OVER (ORDER BY cents DESC, l_partkey) AS r,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_cents
  FROM rev
), tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS np
  FROM rev
)
SELECT CASE WHEN cum_cents * 1.0 / t <= 0.7 THEN 'A'
            WHEN cum_cents * 1.0 / t <= 0.9 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS class_cents,
       round(sum(cents) * 1.0 / any_value(t) + 1e-9, 6) AS revenue_share,
       round(count(*) * 1.0 / any_value(np) + 1e-9, 6) AS part_share
FROM ranked, tot
GROUP BY 1
""",
)
def q199_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: rank parts by
    descending revenue, classify by cumulative share (top 70% of
    revenue → A, next 20% → B, tail → C) and report how few parts
    carry how much revenue — inventory analytics' bread and butter.

    The cumulative sum comes from
    ``operators/rankops.py::bucketed_rank_cumsum`` (the prefix-SUM
    generalization of the two-level rank): a global
    ``sum() OVER (ORDER BY ...)`` on a 100 TB part dimension is a
    single-partition funnel, the bucketed form is not. Revenues are
    EXACT INTEGER CENTS (rounded per item before summing), so the
    cumulative sums are associativity-proof — identical integers on
    both engines regardless of accumulation order, and the class
    boundaries are exact integer-ratio comparisons.

    Scale: one fact shuffle to the part grain; the classification
    reduces the part frame to three rows. Descending order is the
    ascending bucketed order flipped off the totals (cum_desc(r) =
    total − cum_asc_before(r)).
    """
    from ...operators.rankops import bucketed_rank_cumsum

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_extendedprice", "l_discount"],
    )
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("cents")
    )
    tot = rev.agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("np")
    )
    # ascending two-level running sum, flipped to the descending
    # (cents DESC, partkey ASC) order: cum_desc = t - (cum_asc - cents)
    asc = bucketed_rank_cumsum(
        rev, "cents", [F.desc("l_partkey")], "cents",
        rank_out="r_asc", cum_out="cs_asc",
    )
    ranked = asc.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "cents",
        "t",
        "np",
        (F.col("t") - (F.col("cs_asc") - F.col("cents"))).alias("cum_cents"),
    )
    cls = (
        F.when(F.col("cum_cents") * 1.0 / F.col("t") <= 0.7, "A")
        .when(F.col("cum_cents") * 1.0 / F.col("t") <= 0.9, "B")
        .otherwise("C")
    )
    return ranked.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("class_cents"),
        fround(F.sum("cents") * 1.0 / F.any_value("t"), 6).alias(
            "revenue_share"
        ),
        fround(F.count(F.lit(1)) * 1.0 / F.any_value("np"), 6).alias(
            "part_share"
        ),
    )


@query(
    "q217_rfm_segmentation",
    tags=("ranking", "segmentation", "report"),
    oracle="""
WITH horizon AS (
  SELECT max(CAST(o_orderdate AS DATE)) AS end_d FROM orders
), rfm AS (
  SELECT o_custkey,
         CAST(end_d - max(CAST(o_orderdate AS DATE)) AS BIGINT) AS recency,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary
  FROM orders, horizon GROUP BY o_custkey, end_d
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS nc FROM rfm
), scored AS (
  SELECT o_custkey, recency, frequency, monetary,
         CAST(6 - (floor((row_number() OVER (ORDER BY recency, o_custkey)
                          - 1) * 5 * 1.0 / nc) + 1) AS BIGINT) AS r_score,
         CAST(floor((row_number() OVER (ORDER BY frequency, o_custkey)
                     - 1) * 5 * 1.0 / nc) + 1 AS BIGINT) AS f_score,
         CAST(floor((row_number() OVER (ORDER BY monetary, o_custkey)
                     - 1) * 5 * 1.0 / nc) + 1 AS BIGINT) AS m_score
  FROM rfm, n
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(avg(recency) + 1e-9, 6) AS avg_recency_days,
       round(avg(frequency) + 1e-9, 6) AS avg_frequency,
       round(avg(monetary) / 100 + 1e-9, 4) AS avg_monetary
FROM scored GROUP BY r_score, f_score, m_score
""",
)
def q217_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1-5 on Recency (5 =
    most recent), Frequency, and Monetary value, reported at the
    (r, f, m) segment grain — the classic marketing-segmentation
    cube ("champions" = 555, "at risk" = 155, ...).

    Quintiles are NOT ntile(): they are floor((rank−1)·5/n)+1 over
    the two-level bucketed rank (operators/rankops.py), because
    ntile's remainder distribution is engine-specific while the rank
    formula is pure integer-derived arithmetic on both sides — and
    bucketed_rank removes the customer-sized single-partition window
    ntile would need. Ranks tie-break on the customer key (total
    order, footgun 3); monetary ranks integer CENTS (float sums are
    not a cross-engine sort key, the q144 rule).
    """
    from ...operators.rankops import bucketed_rank

    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderdate", "o_totalprice"]
    )
    horizon = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("end_d")
    )
    rfm = (
        orders.crossJoin(F.broadcast(horizon))
        .groupBy("o_custkey", "end_d")
        .agg(
            F.datediff(
                F.col("end_d"), F.max(F.col("o_orderdate").cast("date"))
            ).cast("bigint").alias("recency"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("monetary"),
        )
        .drop("end_d")
    )
    # recency can be 0 (ordered on the horizon date): shift by +1 for
    # the positive-value contract of bucketed_rank, rank order is
    # unchanged.
    rfm = rfm.withColumn("recency1", F.col("recency") + 1)
    ranked = bucketed_rank(rfm, "recency1", ["o_custkey"], "r_rank")
    ranked = bucketed_rank(ranked, "frequency", ["o_custkey"], "f_rank")
    ranked = bucketed_rank(
        ranked, "monetary", ["o_custkey"], "m_rank"
    ).localCheckpoint(eager=False)
    n = ranked.agg(F.count(F.lit(1)).alias("nc"))

    def quint(rank_col: str) -> F.Column:
        return (
            F.floor((F.col(rank_col) - 1) * 5 * 1.0 / F.col("nc")) + 1
        ).cast("bigint")

    scored = ranked.crossJoin(F.broadcast(n)).select(
        "recency",
        "frequency",
        "monetary",
        (6 - quint("r_rank")).cast("bigint").alias("r_score"),
        quint("f_rank").alias("f_score"),
        quint("m_rank").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        fround(F.avg("recency"), 6).alias("avg_recency_days"),
        fround(F.avg("frequency"), 6).alias("avg_frequency"),
        fround(F.avg("monetary") / 100, 4).alias("avg_monetary"),
    )


@query(
    "q218_pareto_knee",
    tags=("ranking", "pareto", "report"),
    oracle=f"""
WITH {_PART_CENTS_CTE}, ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents DESC, l_partkey)
              AS BIGINT) AS r,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_cents
  FROM rev
), tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS np
  FROM rev
), gaps AS (
  SELECT r, cum_cents,
         cum_cents * 1.0 / t - r * 1.0 / np AS gap
  FROM ranked, tot
), mx AS (
  SELECT max(gap) AS max_gap FROM gaps
)
SELECT CAST(min(g.r) AS BIGINT) AS knee_rank,
       min(np) AS n_parts,
       round(min(g.r) * 1.0 / min(np) + 1e-9, 6) AS knee_rank_share,
       round(min(CASE WHEN g.gap = mx.max_gap THEN g.cum_cents END)
             * 1.0 / min(t) + 1e-9, 6) AS knee_cum_share,
       round(min(mx.max_gap) + 1e-9, 6) AS max_gap
FROM gaps g, mx, tot
WHERE g.gap = mx.max_gap
""",
)
def q218_pareto_knee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knee of the revenue Pareto curve: the rank where the cumulative
    revenue share pulls furthest above the uniform diagonal — the
    principled cut-off that q199's fixed 70/90% ABC thresholds
    approximate. For a normalized curve the max distance to the
    (0,0)-(1,1) chord is attained where (cum_share − rank_share)
    peaks, so the knee needs no geometry beyond one subtraction per
    rank.

    The running revenue sum reuses the two-level bucketed rank+cumsum
    (exact integer cents, q199's machinery); the knee is selected by
    an exact max-then-min-rank pair of reductions, never an
    order-sensitive argmax (footgun 6: max_by needs a unique key).
    """
    from ...operators.rankops import bucketed_rank_cumsum

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_extendedprice", "l_discount"],
    )
    rev = (
        li.select(
            "l_partkey",
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint").alias("c1"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("c1").alias("cents"))
    )
    # descending revenue rank == ascending rank of (t - cents) with
    # reversed tie-break; simpler here: rank ascending on negated
    # magnitude is not positive, so rank the DESCENDING order via the
    # established flip — ascending rank on cents with reversed key
    # gives r_desc = np + 1 - r_asc, and the descending cumsum is
    # t - (cum_asc - cents) (the q199 identity).
    asc = bucketed_rank_cumsum(
        rev.withColumn("neg_key", -F.col("l_partkey")),
        "cents",
        ["neg_key"],
        "cents",
        rank_out="r_asc",
        cum_out="cum_asc",
    )
    tot = rev.agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("np")
    )
    gaps = asc.crossJoin(F.broadcast(tot)).select(
        (F.col("np") + 1 - F.col("r_asc")).alias("r"),
        (F.col("t") - (F.col("cum_asc") - F.col("cents"))).cast(
            "bigint"
        ).alias("cum_cents"),
        "t",
        "np",
    ).withColumn(
        "gap", F.col("cum_cents") * 1.0 / F.col("t") - F.col("r") * 1.0 / F.col("np")
    ).localCheckpoint(eager=False)
    mx = gaps.agg(F.max("gap").alias("max_gap"))
    knee = gaps.crossJoin(F.broadcast(mx)).where(
        F.col("gap") == F.col("max_gap")
    )
    return knee.agg(
        F.min("r").alias("knee_rank"),
        F.min("np").alias("n_parts"),
        fround(F.min("r") * 1.0 / F.min("np"), 6).alias("knee_rank_share"),
        fround(
            F.min(F.when(F.col("gap") == F.col("max_gap"), F.col("cum_cents")))
            * 1.0 / F.min("t"),
            6,
        ).alias("knee_cum_share"),
        fround(F.min("max_gap"), 6).alias("max_gap"),
    )


def _abc_classes(li: DataFrame) -> DataFrame:
    """q199's exact-cents ABC classification (0.7/0.9 cumulative
    revenue thresholds, two-level bucketed running sum — never a
    data-sized single-partition window) as a reusable part-grain
    frame ``(l_partkey, cents, abc_class)``; q256 and q274 share it
    so the two inventory reports can never disagree about classes."""
    from ...operators.rankops import bucketed_rank_cumsum

    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("cents")
    )
    tot = rev.agg(F.sum("cents").alias("t"))
    asc = bucketed_rank_cumsum(
        rev, "cents", [F.desc("l_partkey")], "cents",
        rank_out="r_asc", cum_out="cs_asc",
    )
    return (
        asc.crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "cents",
            "t",
            (F.col("t") - (F.col("cs_asc") - F.col("cents"))).alias(
                "cum_cents"
            ),
        )
        .select(
            "l_partkey",
            "cents",
            F.when(F.col("cum_cents") * 1.0 / F.col("t") <= 0.7, "A")
            .when(F.col("cum_cents") * 1.0 / F.col("t") <= 0.9, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


@query(
    "q256_abc_xyz_matrix",
    tags=("ranking", "inventory", "report"),
    oracle=f"""
WITH {_PART_CENTS_CTE}, tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev
), ranked AS (
  SELECT l_partkey, cents,
         CAST(sum(cents) OVER (
           ORDER BY cents DESC, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_cents
  FROM rev
), abc AS MATERIALIZED (
  SELECT l_partkey, cents,
         CASE WHEN cum_cents * 1.0 / t <= 0.7 THEN 'A'
              WHEN cum_cents * 1.0 / t <= 0.9 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM ranked CROSS JOIN tot
), mspan AS (
  SELECT CAST(count(DISTINCT date_trunc('month', l_shipdate)) AS BIGINT)
           AS m
  FROM lineitem
), pm AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS mo,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), xyz AS MATERIALIZED (
  SELECT l_partkey,
         CASE WHEN 4 * disc < s * s THEN 'X'
              WHEN disc < s * s THEN 'Y'
              ELSE 'Z' END AS xyz_class,
         CASE WHEN s > 0 THEN sqrt(CAST(disc AS DOUBLE)) / s END AS cv
  FROM (
    SELECT p.l_partkey,
           CAST(sum(p.q) AS BIGINT) AS s,
           CAST(m.m * CAST(sum(p.q * p.q) AS BIGINT)
                - CAST(sum(p.q) AS BIGINT) * CAST(sum(p.q) AS BIGINT)
                AS BIGINT) AS disc
    FROM pm p CROSS JOIN mspan m
    GROUP BY p.l_partkey, m.m
  )
), tots AS (
  SELECT CAST(sum(cents) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS np
  FROM abc
)
SELECT a.abc_class, x.xyz_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(count(*) * 1.0 / any_value(tots.np) + 1e-9, 6) AS part_share,
       round(CAST(sum(a.cents) AS BIGINT) * 1.0 / any_value(tots.t)
             + 1e-9, 6) AS revenue_share,
       round(avg(x.cv) + 1e-9, 6) AS mean_cv
FROM abc a JOIN xyz x ON a.l_partkey = x.l_partkey
CROSS JOIN tots
GROUP BY a.abc_class, x.xyz_class
""",
)
def q256_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: q199's exact-cents revenue ABC
    classes crossed with demand-variability XYZ classes (cv of the
    part's monthly quantity over the GLOBAL month span — zero-demand
    months count), the 9-cell planning grid that decides which parts
    get safety stock (AX: automate) versus which get manual review
    (CZ: kill). The XYZ boundaries are EXACT integer inequalities —
    cv < ½ ⇔ 4·(M·Σq² − S²) < S² — so classification can never flip
    on a cross-engine ulp (the q228 rounded-threshold rule taken one
    step further: no float threshold at all).

    Scale: the ABC side reuses the two-level bucketed running sum
    (q199 — no data-sized single-partition window); the XYZ side is
    one (part, month) aggregate reduced to the part grain; the final
    matrix is 9 rows. Only the REPORTED mean cv touches floats
    (one sqrt per part, fround-absorbed).
    """
    from ...operators.rankops import bucketed_rank_cumsum

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_extendedprice", "l_discount", "l_quantity",
         "l_shipdate"],
    )
    li = li.localCheckpoint(eager=False)  # revenue + monthly branches
    abc = _abc_classes(li)
    mspan = li.agg(
        F.countDistinct(F.trunc("l_shipdate", "month")).alias("m")
    )
    pm = li.groupBy(
        "l_partkey", F.trunc("l_shipdate", "month").alias("mo")
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("q"))
    psums = (
        pm.groupBy("l_partkey")
        .agg(
            F.sum("q").alias("s"),
            F.sum(F.col("q") * F.col("q")).alias("sq"),
        )
        .crossJoin(F.broadcast(mspan))
        .select(
            "l_partkey",
            "s",
            (F.col("m") * F.col("sq") - F.col("s") * F.col("s")).alias(
                "disc"
            ),
        )
    )
    xyz = psums.select(
        "l_partkey",
        F.when(4 * F.col("disc") < F.col("s") * F.col("s"), "X")
        .when(F.col("disc") < F.col("s") * F.col("s"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        F.when(
            F.col("s") > 0,
            F.sqrt(F.col("disc").cast("double")) / F.col("s"),
        ).alias("cv"),
    )
    tots = abc.agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("np")
    )
    return (
        abc.join(xyz, "l_partkey")
        .crossJoin(F.broadcast(tots))
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            fround(
                F.count(F.lit(1)) * 1.0 / F.any_value("np"), 6
            ).alias("part_share"),
            fround(F.sum("cents") * 1.0 / F.any_value("t"), 6).alias(
                "revenue_share"
            ),
            fround(F.avg("cv"), 6).alias("mean_cv"),
        )
    )


@query(
    "q264_price_volume_mix",
    tags=("finance", "report", "decomposition"),
    oracle="""
WITH span AS (
  SELECT min(CAST(l_shipdate AS DATE)) AS d0,
         max(CAST(l_shipdate AS DATE)) AS d1
  FROM lineitem
), base AS (
  SELECT p.p_brand AS brand,
         CASE WHEN CAST(l.l_shipdate AS DATE) - s.d0
                   >= CAST((s.d1 - s.d0) / 2 AS BIGINT)
              THEN 2 ELSE 1 END AS period,
         CAST(round(l.l_quantity) AS BIGINT) AS q,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  CROSS JOIN span s
), cells AS MATERIALIZED (
  SELECT brand,
         CAST(sum(CASE WHEN period = 1 THEN q ELSE 0 END) AS BIGINT) AS q1,
         CAST(sum(CASE WHEN period = 2 THEN q ELSE 0 END) AS BIGINT) AS q2,
         CAST(sum(CASE WHEN period = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS r1,
         CAST(sum(CASE WHEN period = 2 THEN cents ELSE 0 END) AS BIGINT)
           AS r2
  FROM base GROUP BY brand
  HAVING sum(CASE WHEN period = 1 THEN q ELSE 0 END) > 0
     AND sum(CASE WHEN period = 2 THEN q ELSE 0 END) > 0
)
SELECT brand,
       r2 - r1 AS delta_cents,
       round(((r2 * 1.0 / q2) - (r1 * 1.0 / q1)) * q2 / 100.0 + 1e-9, 2)
         + 0 AS price_effect,
       round((q2 - q1) * (r1 * 1.0 / q1) / 100.0 + 1e-9, 2) + 0
         AS volume_effect,
       round((r2 - r1) / 100.0
             - (((r2 * 1.0 / q2) - (r1 * 1.0 / q1)) * q2 / 100.0
                + (q2 - q1) * (r1 * 1.0 / q1) / 100.0)
             + 1e-9, 2) + 0 AS decomposition_check
FROM cells
""",
)
def q264_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume decomposition of period-over-period revenue per
    brand (first vs second half of the shipping span): ΔR =
    (p₂ − p₁)·q₂ + (q₂ − q₁)·p₁ with realized prices p = R/Q — the
    finance waterfall that answers "did revenue move because we
    charged more or because we sold more", per brand. The
    ``decomposition_check`` column re-derives the identity residual
    and must round to 0.00 — the self-validating output pattern (q28's
    discipline applied to an exact algebraic identity).

    Scale: one fact pass with a broadcast part-dimension join and a
    one-row span broadcast; both periods aggregate in the SAME
    grouped pass (conditional sums — never two scans). Quantities and
    cents are exact BIGINTs; realized prices are exact-ratio divisions
    written identically on both sides (q143), and every effect carries
    the sign-of-zero guard (footgun 9).
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_shipdate", "l_quantity", "l_extendedprice"],
    )
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_brand"])
    span = li.agg(
        F.min(F.to_date("l_shipdate")).alias("d0"),
        F.max(F.to_date("l_shipdate")).alias("d1"),
    )
    base = (
        li.join(
            F.broadcast(part),
            li["l_partkey"] == part["p_partkey"],
        )
        .crossJoin(F.broadcast(span))
        .select(
            F.col("p_brand").alias("brand"),
            F.when(
                F.datediff(F.to_date("l_shipdate"), F.col("d0"))
                >= F.floor(
                    F.datediff(F.col("d1"), F.col("d0")) / 2
                ).cast("bigint"),
                2,
            ).otherwise(1).alias("period"),
            F.round(F.col("l_quantity")).cast("bigint").alias("q"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    cells = (
        base.groupBy("brand")
        .agg(
            F.sum(F.when(F.col("period") == 1, F.col("q")).otherwise(0))
            .alias("q1"),
            F.sum(F.when(F.col("period") == 2, F.col("q")).otherwise(0))
            .alias("q2"),
            F.sum(
                F.when(F.col("period") == 1, F.col("cents")).otherwise(0)
            ).alias("r1"),
            F.sum(
                F.when(F.col("period") == 2, F.col("cents")).otherwise(0)
            ).alias("r2"),
        )
        .where((F.col("q1") > 0) & (F.col("q2") > 0))
    )
    p1 = F.col("r1") * 1.0 / F.col("q1")
    p2 = F.col("r2") * 1.0 / F.col("q2")
    price_eff = (p2 - p1) * F.col("q2") / 100.0
    vol_eff = (F.col("q2") - F.col("q1")) * p1 / 100.0
    return cells.select(
        "brand",
        (F.col("r2") - F.col("r1")).alias("delta_cents"),
        (fround(price_eff, 2) + 0).alias("price_effect"),
        (fround(vol_eff, 2) + 0).alias("volume_effect"),
        (
            fround(
                (F.col("r2") - F.col("r1")) / 100.0
                - (price_eff + vol_eff),
                2,
            )
            + 0
        ).alias("decomposition_check"),
    )


@query(
    "q274_newsvendor_stock_levels",
    tags=("inventory", "report", "percentiles"),
    oracle=f"""
WITH {_PART_CENTS_CTE}, tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev
), abc AS MATERIALIZED (
  SELECT l_partkey,
         CASE WHEN cum_cents * 1.0 / t <= 0.7 THEN 'A'
              WHEN cum_cents * 1.0 / t <= 0.9 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM (
    SELECT l_partkey, cents,
           CAST(sum(cents) OVER (
             ORDER BY cents DESC, l_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_cents
    FROM rev
  ) CROSS JOIN tot
), pm AS (
  SELECT l_partkey, date_trunc('month', l_shipdate) AS mo,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), obs AS MATERIALIZED (
  SELECT a.abc_class, p.q,
         row_number() OVER (
           PARTITION BY a.abc_class ORDER BY p.q, p.l_partkey, p.mo
         ) AS rn,
         count(*) OVER (PARTITION BY a.abc_class) AS n
  FROM pm p JOIN abc a ON a.l_partkey = p.l_partkey
)
SELECT abc_class,
       CAST(any_value(n) AS BIGINT) AS n_part_months,
       round(CAST(sum(q) AS BIGINT) * 1.0 / any_value(n) + 1e-9, 6)
         AS mean_demand,
       CAST(min(CASE WHEN rn = CAST(ceil(0.8 * n) AS BIGINT)
                     THEN q END) AS BIGINT) AS p80_demand,
       round(min(CASE WHEN rn = CAST(ceil(0.8 * n) AS BIGINT)
                      THEN q END)
             - CAST(sum(q) AS BIGINT) * 1.0 / any_value(n) + 1e-9, 6)
         + 0 AS implied_safety_stock
FROM obs GROUP BY abc_class
""",
)
def q274_newsvendor_stock_levels(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newsvendor order-up-to levels per ABC class: at a critical
    ratio of 0.8 (stockout costs 4× holding), the optimal stocking
    level is the EXACT p80 of the class's part-month demand
    distribution (rank selection — q184 rule; an interpolated
    quantile would mis-state the order point right where the demand
    histogram is stepped), reported with the implied safety stock
    over mean demand — the inventory-policy table that q256's ABC-XYZ
    matrix feeds (shared `_abc_classes` frame: the two reports can
    never disagree about which part is an A).

    Scale: revenue ABC reuses the two-level bucketed running sum; the
    demand distribution is one (part, month) aggregate; the per-class
    rank windows partition on 3 classes over the part-month grain.
    Demands are exact integers; outputs are exact ratios (rule 5)
    with the sign-of-zero guard on the safety-stock difference.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_extendedprice", "l_discount", "l_quantity",
         "l_shipdate"],
    )
    li = li.localCheckpoint(eager=False)  # revenue + monthly branches
    abc = _abc_classes(li).select("l_partkey", "abc_class")
    pm = li.groupBy(
        "l_partkey", F.trunc("l_shipdate", "month").alias("mo")
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("q"))
    from pyspark.sql import Window

    wc = Window.partitionBy("abc_class").orderBy(
        "q", "l_partkey", "mo"
    )
    wn = Window.partitionBy("abc_class")
    obs = pm.join(abc, "l_partkey").select(
        "abc_class",
        "q",
        F.row_number().over(wc).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    p80 = F.min(
        F.when(
            F.col("rn") == F.ceil(0.8 * F.col("n")).cast("bigint"),
            F.col("q"),
        )
    )
    mean_d = F.sum("q").cast("bigint") * 1.0 / F.any_value("n")
    return obs.groupBy("abc_class").agg(
        F.any_value("n").cast("bigint").alias("n_part_months"),
        fround(mean_d, 6).alias("mean_demand"),
        p80.cast("bigint").alias("p80_demand"),
        (fround(p80 - mean_d, 6) + 0).alias("implied_safety_stock"),
    )


@query(
    "q278_sku_lifecycle_census",
    tags=("inventory", "lifecycle", "report"),
    oracle="""
WITH horizon AS (
  SELECT max(CAST(l_shipdate AS DATE)) AS h FROM lineitem
), perpart AS (
  SELECT l_partkey,
         min(CAST(l_shipdate AS DATE)) AS first_sale,
         max(CAST(l_shipdate AS DATE)) AS last_sale,
         CAST(count(*) AS BIGINT) AS n_sales,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
), staged AS MATERIALIZED (
  SELECT p.*,
         CASE WHEN h.h - p.first_sale <= 60 THEN 'new'
              WHEN h.h - p.last_sale > 60 THEN 'dormant'
              ELSE 'active' END AS state,
         CAST(p.last_sale - p.first_sale AS BIGINT) AS lifetime_days
  FROM perpart p CROSS JOIN horizon h
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS np,
         CAST(sum(cents) AS BIGINT) AS tc
  FROM staged
)
SELECT s.state,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(count(*) * 1.0 / any_value(t.np) + 1e-9, 6) AS part_share,
       round(CAST(sum(s.cents) AS BIGINT) * 1.0 / any_value(t.tc)
             + 1e-9, 6) AS revenue_share,
       round(avg(s.lifetime_days) + 1e-9, 4) AS mean_lifetime_days,
       round(avg(s.n_sales) + 1e-9, 4) AS mean_sales
FROM staged s CROSS JOIN tot t
GROUP BY s.state
""",
)
def q278_sku_lifecycle_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SKU lifecycle census: every part classified new / active /
    dormant by integer day arithmetic against the data horizon (first
    sale within 60 days → new; no sale in the last 60 days → dormant;
    otherwise active), with each state's part and revenue share — the
    assortment-management table that prices how much catalog is dead
    weight (dormant revenue share ≈ what a cleanup frees) and feeds
    q274's stocking policy (dormant SKUs get order-up-to zero).

    Scale: one part-grain aggregate, a broadcast one-row horizon, a
    3-row output. Day arithmetic is exact integers (never
    engine-local date formatting); shares are exact ratios (rule 5).
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_shipdate", "l_extendedprice", "l_discount"],
    )
    d = F.to_date("l_shipdate")
    horizon = li.agg(F.max(d).alias("h"))
    perpart = li.groupBy("l_partkey").agg(
        F.min(d).alias("first_sale"),
        F.max(d).alias("last_sale"),
        F.count(F.lit(1)).alias("n_sales"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("cents"),
    )
    staged = (
        perpart.crossJoin(F.broadcast(horizon))
        .select(
            "*",
            F.when(
                F.datediff(F.col("h"), F.col("first_sale")) <= 60, "new"
            )
            .when(
                F.datediff(F.col("h"), F.col("last_sale")) > 60, "dormant"
            )
            .otherwise("active")
            .alias("state"),
            F.datediff(F.col("last_sale"), F.col("first_sale"))
            .cast("bigint")
            .alias("lifetime_days"),
        )
        .localCheckpoint(eager=False)  # totals + census branches
    )
    tot = staged.agg(
        F.count(F.lit(1)).alias("np"), F.sum("cents").alias("tc")
    )
    return (
        staged.crossJoin(F.broadcast(tot))
        .groupBy("state")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            fround(
                F.count(F.lit(1)) * 1.0 / F.any_value("np"), 6
            ).alias("part_share"),
            fround(
                F.sum("cents") * 1.0 / F.any_value("tc"), 6
            ).alias("revenue_share"),
            fround(F.avg("lifetime_days"), 4).alias(
                "mean_lifetime_days"
            ),
            fround(F.avg("n_sales"), 4).alias("mean_sales"),
        )
    )


@query(
    "q285_lmdi_revenue_drivers",
    tags=("finance", "decomposition", "report"),
    oracle="""
WITH li AS (
  SELECT l.l_orderkey, o.o_custkey,
         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), monthly AS MATERIALIZED (
  SELECT m,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS users,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS orders,
         CAST(count(*) AS BIGINT) AS items,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM li GROUP BY m
), paired AS (
  SELECT m, users, orders, items, cents,
         lag(users) OVER w AS p_users,
         lag(orders) OVER w AS p_orders,
         lag(items) OVER w AS p_items,
         lag(cents) OVER w AS p_cents
  FROM monthly WINDOW w AS (ORDER BY m)
), factors AS (
  SELECT m,
         cents / 100.0 AS rev, p_cents / 100.0 AS p_rev,
         CAST(users AS DOUBLE) AS f1, CAST(p_users AS DOUBLE) AS p1,
         orders * 1.0 / users AS f2, p_orders * 1.0 / p_users AS p2,
         items * 1.0 / orders AS f3, p_items * 1.0 / p_orders AS p3,
         cents * 1.0 / (100.0 * items) AS f4,
         p_cents * 1.0 / (100.0 * p_items) AS p4
  FROM paired WHERE p_cents IS NOT NULL
), lm AS (
  SELECT m, rev, p_rev, f1, p1, f2, p2, f3, p3, f4, p4,
         CASE WHEN rev = p_rev THEN rev
              ELSE (rev - p_rev) / (ln(rev) - ln(p_rev)) END AS lw
  FROM factors
)
SELECT strftime(m, '%Y-%m-%d') AS month_start,
       round(rev - p_rev + 1e-9, 2) + 0 AS delta_revenue,
       round(lw * (ln(f1) - ln(p1)) + 1e-9, 2) + 0 AS users_effect,
       round(lw * (ln(f2) - ln(p2)) + 1e-9, 2) + 0
         AS orders_per_user_effect,
       round(lw * (ln(f3) - ln(p3)) + 1e-9, 2) + 0
         AS items_per_order_effect,
       round(lw * (ln(f4) - ln(p4)) + 1e-9, 2) + 0
         AS price_per_item_effect,
       round((rev - p_rev)
             - (((lw * (ln(f1) - ln(p1)) + lw * (ln(f2) - ln(p2)))
                 + lw * (ln(f3) - ln(p3))) + lw * (ln(f4) - ln(p4)))
             + 1e-9, 2) + 0 AS decomposition_check
FROM lm
""",
)
def q285_lmdi_revenue_drivers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LMDI (log-mean Divisia) month-over-month revenue driver tree:
    revenue = users × orders/user × items/order × price/item, with
    each factor's month-over-month contribution weighted by the
    logarithmic mean L(R, R') = ΔR/Δln R — the decomposition with NO
    residual by construction (the identity Σ effects = ΔR is re-
    derived as ``decomposition_check`` and must round to 0.00 — the
    q264 self-validation pattern; additive 4-factor trees with naive
    weights leak a cross-term, LMDI provably doesn't).

    Scale: one joined fact pass to the month grain; the lag pairing
    and all log algebra run on the bounded months frame. Counts are
    exact integers; factor ratios are exact-ratio doubles; ln is the
    proven cross-engine surface (q95/q158 class) under the fround
    pair with sign-of-zero guards on every signed effect.
    """
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey",
                                             "o_orderdate"])
    l = read_table(spark, sf_dir, "lineitem", ["l_orderkey",
                                               "l_extendedprice"])
    li = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "o_custkey",
        F.trunc("o_orderdate", "month").alias("m"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "cents"
        ),
    )
    monthly = li.groupBy("m").agg(
        F.countDistinct("o_custkey").alias("users"),
        F.countDistinct("l_orderkey").alias("orders"),
        F.count(F.lit(1)).alias("items"),
        F.sum("cents").alias("cents"),
    )
    wm = Window.orderBy("m")
    paired = monthly.select(
        "m",
        "users",
        "orders",
        "items",
        "cents",
        F.lag("users").over(wm).alias("p_users"),
        F.lag("orders").over(wm).alias("p_orders"),
        F.lag("items").over(wm).alias("p_items"),
        F.lag("cents").over(wm).alias("p_cents"),
    ).where(F.col("p_cents").isNotNull())
    rev = F.col("cents") / 100.0
    p_rev = F.col("p_cents") / 100.0
    lw = F.when(rev == p_rev, rev).otherwise(
        (rev - p_rev) / (F.log(rev) - F.log(p_rev))
    )
    f = {
        "f1": F.col("users").cast("double"),
        "p1": F.col("p_users").cast("double"),
        "f2": F.col("orders") * 1.0 / F.col("users"),
        "p2": F.col("p_orders") * 1.0 / F.col("p_users"),
        "f3": F.col("items") * 1.0 / F.col("orders"),
        "p3": F.col("p_items") * 1.0 / F.col("p_orders"),
        "f4": F.col("cents") * 1.0 / (100.0 * F.col("items")),
        "p4": F.col("p_cents") * 1.0 / (100.0 * F.col("p_items")),
    }
    bound = paired.select(
        "m",
        rev.alias("rev"),
        p_rev.alias("p_rev"),
        lw.alias("lw"),
        *[v.alias(k) for k, v in f.items()],
    )
    eff = {
        i: F.col("lw")
        * (F.log(F.col(f"f{i}")) - F.log(F.col(f"p{i}")))
        for i in (1, 2, 3, 4)
    }
    total_eff = ((eff[1] + eff[2]) + eff[3]) + eff[4]
    return bound.select(
        F.date_format("m", "yyyy-MM-dd").alias("month_start"),
        (fround(F.col("rev") - F.col("p_rev"), 2) + 0).alias(
            "delta_revenue"
        ),
        (fround(eff[1], 2) + 0).alias("users_effect"),
        (fround(eff[2], 2) + 0).alias("orders_per_user_effect"),
        (fround(eff[3], 2) + 0).alias("items_per_order_effect"),
        (fround(eff[4], 2) + 0).alias("price_per_item_effect"),
        (
            fround((F.col("rev") - F.col("p_rev")) - total_eff, 2) + 0
        ).alias("decomposition_check"),
    )


@query(
    "q301_single_sourcing_risk",
    tags=("inventory", "risk", "report"),
    oracle="""
WITH ps AS (
  SELECT l_partkey,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(cents) AS BIGINT) AS t
  FROM ps
), staged AS (
  SELECT CASE WHEN n_suppliers = 1 THEN 'single'
              WHEN n_suppliers = 2 THEN 'dual'
              ELSE 'multi' END AS sourcing,
         cents
  FROM ps
)
SELECT s.sourcing,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(count(*) * 1.0 / any_value(t.n_parts) + 1e-9, 6)
         AS part_share,
       round(CAST(sum(s.cents) AS BIGINT) / 100.0 + 1e-9, 2)
         AS revenue,
       round(CAST(sum(s.cents) AS BIGINT) * 1.0 / any_value(t.t)
             + 1e-9, 6) AS revenue_at_risk_share
FROM staged s CROSS JOIN tot t
GROUP BY s.sourcing
""",
)
def q301_single_sourcing_risk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-sourcing risk census: parts bucketed by how many
    distinct suppliers have EVER shipped them (single / dual / multi),
    with the revenue share riding on each bucket — the supply-chain
    resilience table where 'single' × high revenue is the board-level
    risk number (one supplier failure strands that revenue), the
    per-part counterpart to q192's market-level concentration.

    Scale: one part-grain aggregate with a distinct-supplier count,
    a broadcast one-row total, a 3-row output. Integer counts/cents
    throughout; shares are exact ratios (rule 5).
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    ps = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("cents"),
    )
    ps = ps.localCheckpoint(eager=False)  # totals + census branches
    tot = ps.agg(
        F.count(F.lit(1)).alias("n_parts"), F.sum("cents").alias("t")
    )
    sourcing = (
        F.when(F.col("n_suppliers") == 1, "single")
        .when(F.col("n_suppliers") == 2, "dual")
        .otherwise("multi")
    )
    return (
        ps.crossJoin(F.broadcast(tot))
        .groupBy(sourcing.alias("sourcing"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            fround(
                F.count(F.lit(1)) * 1.0 / F.any_value("n_parts"), 6
            ).alias("part_share"),
            fround(F.sum("cents") / 100.0, 2).alias("revenue"),
            fround(
                F.sum("cents").cast("bigint") * 1.0 / F.any_value("t"), 6
            ).alias("revenue_at_risk_share"),
        )
    )


@query(
    "q305_substitution_screen",
    tags=("retail-science", "correlation", "report"),
    oracle="""
WITH pr AS (
  SELECT l_partkey,
         CAST((CAST(l_shipdate AS DATE) - DATE '1970-01-01') // 7
              AS BIGINT) AS wk,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem GROUP BY l_partkey
), top_parts AS MATERIALIZED (
  SELECT p_partkey, p_brand, p_size FROM (
    SELECT p.p_partkey, p.p_brand, p.p_size,
           row_number() OVER (
             PARTITION BY p.p_brand ORDER BY r.cents DESC, p.p_partkey
           ) AS rk
    FROM part p JOIN rev r ON r.l_partkey = p.p_partkey
  ) WHERE rk <= 50
), cands AS MATERIALIZED (
  SELECT a.p_partkey AS pa, b.p_partkey AS pb
  FROM top_parts a JOIN top_parts b
    ON a.p_brand = b.p_brand
   AND abs(a.p_size - b.p_size) <= 2
   AND a.p_partkey < b.p_partkey
), wk_bounds AS (
  SELECT min(wk) AS w0, max(wk) AS w1 FROM pr
), weeks AS (
  SELECT unnest(generate_series(w0, w1)) AS wk FROM wk_bounds
), sums AS (
  SELECT c.pa, c.pb,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(coalesce(qa.q, 0)) AS BIGINT) AS sx,
         CAST(sum(coalesce(qb.q, 0)) AS BIGINT) AS sy,
         CAST(sum(coalesce(qa.q, 0) * coalesce(qb.q, 0)) AS BIGINT)
           AS sxy,
         CAST(sum(coalesce(qa.q, 0) * coalesce(qa.q, 0)) AS BIGINT)
           AS sxx,
         CAST(sum(coalesce(qb.q, 0) * coalesce(qb.q, 0)) AS BIGINT)
           AS syy
  FROM cands c
  CROSS JOIN weeks w
  LEFT JOIN pr qa ON qa.l_partkey = c.pa AND qa.wk = w.wk
  LEFT JOIN pr qb ON qb.l_partkey = c.pb AND qb.wk = w.wk
  GROUP BY c.pa, c.pb
), scored AS (
  SELECT pa, pb, n,
         CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0
              THEN NULL
              ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                   - CAST(sy AS DOUBLE)
                                     * CAST(sy AS DOUBLE)))
                         + 1e-9, 6) + 0 END AS wk_corr
  FROM sums
)
SELECT pa, pb, n AS n_weeks, wk_corr,
       CAST(row_number() OVER (ORDER BY wk_corr, pa, pb) AS BIGINT) AS rk
FROM scored WHERE wk_corr IS NOT NULL
QUALIFY rk <= 20
""",
)
def q305_substitution_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Substitution screen: among candidate substitute pairs (same
    brand, size within ±2 — blocked to each brand's top-50 revenue
    parts so the pair set is bounded at any catalog scale), the 20
    most NEGATIVELY correlated weekly demand series — when one sells,
    the other doesn't, the statistical signature of substitution that
    assortment pruning and promo planning act on (complements q236:
    CF finds complements, this finds cannibals).

    Scale: candidate blocking is per-brand WindowGroupLimit; weekly
    series correlate on the dense week spine (zeros are the signal —
    q246 rule) with q204-class exact-BIGINT sums cast once. Ranked
    ascending on the ROUNDED correlation with a full tie-break; NULL
    (degenerate-variance) pairs drop identically.
    """
    from pyspark.sql import Window

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_shipdate", "l_quantity", "l_extendedprice"],
    )
    li = li.localCheckpoint(eager=False)  # weekly + revenue branches
    part = read_table(
        spark, sf_dir, "part", ["p_partkey", "p_brand", "p_size"]
    )
    pr = li.groupBy(
        "l_partkey",
        F.floor(
            F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01")) / 7
        ).cast("bigint").alias("wk"),
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("q"))
    pr = pr.localCheckpoint(eager=False)  # bounds + two join sides
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).alias("cents")
    )
    wb = Window.partitionBy("p_brand").orderBy(
        F.desc("cents"), F.asc("p_partkey")
    )
    top_parts = (
        part.join(rev, part["p_partkey"] == rev["l_partkey"])
        .withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") <= 50)
        .select("p_partkey", "p_brand", "p_size")
        .localCheckpoint(eager=False)  # both sides of the pair join
    )
    a = top_parts.select(
        F.col("p_partkey").alias("pa"),
        F.col("p_brand").alias("ba"),
        F.col("p_size").alias("sa"),
    )
    b = top_parts.select(
        F.col("p_partkey").alias("pb"),
        F.col("p_brand").alias("bb"),
        F.col("p_size").alias("sb"),
    )
    cands = a.join(
        b,
        (F.col("ba") == F.col("bb"))
        & (F.abs(F.col("sa") - F.col("sb")) <= 2)
        & (F.col("pa") < F.col("pb")),
    ).select("pa", "pb")
    wk_bounds = pr.agg(F.min("wk").alias("w0"), F.max("wk").alias("w1"))
    weeks = wk_bounds.select(
        F.explode(F.sequence(F.col("w0"), F.col("w1"))).alias("wk")
    )
    qa = pr.select(
        F.col("l_partkey").alias("pa"), "wk", F.col("q").alias("xq")
    )
    qb = pr.select(
        F.col("l_partkey").alias("pbx"),
        F.col("wk").alias("wkb"),
        F.col("q").alias("yq"),
    )
    grid = cands.crossJoin(F.broadcast(weeks))
    joined = (
        grid.join(qa, ["pa", "wk"], "left")
        .join(
            qb,
            (F.col("pb") == F.col("pbx")) & (F.col("wk") == F.col("wkb")),
            "left",
        )
        .select(
            "pa",
            "pb",
            F.coalesce(F.col("xq"), F.lit(0)).alias("x"),
            F.coalesce(F.col("yq"), F.lit(0)).alias("y"),
        )
    )
    sums = joined.groupBy("pa", "pb").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    va = n_d * F.col("sxx").cast("double") - sx_d * sx_d
    vb = n_d * F.col("syy").cast("double") - sy_d * sy_d
    corr = F.when(va * vb <= 0, F.lit(None).cast("double")).otherwise(
        fround(
            (n_d * F.col("sxy").cast("double") - sx_d * sy_d)
            / F.sqrt(va * vb),
            6,
        )
        + 0
    )
    scored = sums.select(
        "pa", "pb", F.col("n").alias("n_weeks"), corr.alias("wk_corr")
    ).where(F.col("wk_corr").isNotNull())
    top = scored.orderBy(
        F.asc("wk_corr"), F.asc("pa"), F.asc("pb")
    ).limit(20)
    return top.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.asc("wk_corr"), F.asc("pa"), F.asc("pb")))
        .cast("bigint"),
    )


@query(
    "q309_trade_flow_matrix",
    tags=("report", "supply-chain", "olap"),
    oracle="""
WITH flows AS MATERIALIZED (
  SELECT nc.n_name AS cust_nation, ns.n_name AS supp_nation,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                             * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  GROUP BY 1, 2
), outbound AS (
  SELECT supp_nation AS nation, CAST(sum(cents) AS BIGINT) AS exp
  FROM flows GROUP BY 1
), inbound AS (
  SELECT cust_nation AS nation, CAST(sum(cents) AS BIGINT) AS imp
  FROM flows GROUP BY 1
)
SELECT f.cust_nation, f.supp_nation, f.n_items,
       round(f.cents / 100.0 + 1e-9, 2) AS flow_revenue,
       round((ob.exp - ib.imp) / 100.0 + 1e-9, 2) + 0
         AS supp_nation_net_balance,
       CAST(row_number() OVER (
         ORDER BY f.cents DESC, f.cust_nation, f.supp_nation
       ) AS BIGINT) AS rk
FROM flows f
JOIN outbound ob ON ob.nation = f.supp_nation
JOIN inbound ib ON ib.nation = f.supp_nation
QUALIFY rk <= 20
""",
)
def q309_trade_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade-flow matrix: net revenue flows from supplier nations to
    customer nations (the cust-nation × supp-nation OLAP cube), top
    20 corridors with each supplier nation's NET trade balance
    (exports − imports) attached — the cross-border exposure table
    behind tariff what-ifs and supply-chain regionalization
    decisions, the bilateral refinement of q03's one-sided rollup.

    Scale: one fact pass with four broadcast dimension joins to the
    bounded nation-pair grain; balances are margins of the flow
    frame, never a second fact scan. Exact cents; ranked on exact
    integers with a full tie-break (footgun 3); the signed balance
    carries the sign-of-zero guard.
    """
    from pyspark.sql import Window

    l = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    o = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    c = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    s = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    n = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    nc = n.select(
        F.col("n_nationkey").alias("nk_c"), F.col("n_name").alias("cust_nation")
    )
    ns = n.select(
        F.col("n_nationkey").alias("nk_s"), F.col("n_name").alias("supp_nation")
    )
    flows = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), c["c_nationkey"] == F.col("nk_c"))
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == F.col("nk_s"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                ).cast("bigint")
            ).alias("cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .localCheckpoint(eager=False)  # margins + ranking branches
    )
    outbound = flows.groupBy(
        F.col("supp_nation").alias("nation")
    ).agg(F.sum("cents").alias("exp"))
    inbound = flows.groupBy(
        F.col("cust_nation").alias("nation")
    ).agg(F.sum("cents").alias("imp"))
    bal = outbound.join(inbound, "nation").select(
        F.col("nation").alias("supp_nation"),
        ((F.col("exp") - F.col("imp")) / 100.0).alias("net_bal"),
    )
    top = (
        flows.join(F.broadcast(bal), "supp_nation")
        .select(
            "cust_nation",
            "supp_nation",
            "n_items",
            fround(F.col("cents") / 100.0, 2).alias("flow_revenue"),
            (fround(F.col("net_bal"), 2) + 0).alias(
                "supp_nation_net_balance"
            ),
            F.col("cents"),
        )
        .orderBy(F.desc("cents"), F.asc("cust_nation"), F.asc("supp_nation"))
        .limit(20)
    )
    return top.withColumn(
        "rk",
        F.row_number()
        .over(
            Window.orderBy(
                F.desc("cents"), F.asc("cust_nation"), F.asc("supp_nation")
            )
        )
        .cast("bigint"),
    ).drop("cents")


@query(
    "q310_supplier_reliability_scorecard",
    tags=("supply-chain", "sla", "report"),
    oracle="""
WITH lat AS (
  SELECT l.l_suppkey,
         CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
              AS BIGINT) AS days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), persupp AS MATERIALIZED (
  SELECT l_suppkey, days,
         row_number() OVER (
           PARTITION BY l_suppkey ORDER BY days
         ) AS rn,
         count(*) OVER (PARTITION BY l_suppkey) AS n
  FROM lat
), scored AS (
  SELECT l_suppkey,
         CAST(any_value(n) AS BIGINT) AS n_shipments,
         CAST(min(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                       THEN days END) AS BIGINT) AS p50_days,
         CAST(min(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                       THEN days END) AS BIGINT) AS p90_days,
         round(CAST(sum(CASE WHEN days <= 30 THEN 1 ELSE 0 END)
                    AS BIGINT) * 1.0 / any_value(n) + 1e-9, 6)
           AS attainment_30d
  FROM persupp GROUP BY l_suppkey
  HAVING any_value(n) >= 20
)
SELECT l_suppkey, n_shipments, p50_days, p90_days, attainment_30d,
       CAST(row_number() OVER (
         ORDER BY p90_days DESC, l_suppkey
       ) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= 20
""",
)
def q310_supplier_reliability_scorecard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier reliability scorecard: exact p50/p90 order-to-ship
    latency and 30-day attainment PER SUPPLIER (volume floor ≥ 20
    shipments so one bad day can't top the list), worst p90 first —
    the vendor-management league table that q269's monthly aggregate
    hides (an on-time month can conceal one chronically slow
    supplier), and the input to dual-sourcing decisions with q301.

    Scale: one fact join, rank selection inside supplier partitions
    (q184 rule; tie order irrelevant to selected VALUES), and a
    partial top-20 on exact integers with the supplier id tie-break.
    """
    from pyspark.sql import Window

    l = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey",
                                               "l_shipdate"])
    o = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_orderdate"])
    lat = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("bigint")
        .alias("days"),
    )
    wr = Window.partitionBy("l_suppkey").orderBy("days")
    wn = Window.partitionBy("l_suppkey")
    persupp = lat.select(
        "l_suppkey",
        "days",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(q):
        return F.min(
            F.when(
                F.col("rn") == F.ceil(q * F.col("n")).cast("bigint"),
                F.col("days"),
            )
        ).cast("bigint")

    scored = (
        persupp.groupBy("l_suppkey")
        .agg(
            F.any_value("n").cast("bigint").alias("n_shipments"),
            pick(0.5).alias("p50_days"),
            pick(0.9).alias("p90_days"),
            fround(
                F.sum(F.when(F.col("days") <= 30, 1).otherwise(0))
                * 1.0
                / F.any_value("n"),
                6,
            ).alias("attainment_30d"),
        )
        .where(F.col("n_shipments") >= 20)
    )
    top = scored.orderBy(F.desc("p90_days"), F.asc("l_suppkey")).limit(20)
    return top.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("p90_days"), F.asc("l_suppkey")))
        .cast("bigint"),
    )


@query(
    "q312_discount_ladder",
    tags=("pricing", "report", "finance"),
    oracle="""
WITH base AS MATERIALIZED (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
         CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS net_cents,
         CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
           AS given_cents
  FROM lineitem
), ladder AS MATERIALIZED (
  SELECT disc_pct,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(q) AS BIGINT) AS units,
         CAST(sum(net_cents) AS BIGINT) AS net_cents,
         CAST(sum(given_cents) AS BIGINT) AS given_cents
  FROM base GROUP BY disc_pct
), base0 AS (
  SELECT units * 1.0 / n_items AS upi0 FROM ladder WHERE disc_pct = 0
)
SELECT l.disc_pct, l.n_items, l.units,
       round(l.net_cents / 100.0 + 1e-9, 2) AS net_revenue,
       round(l.given_cents / 100.0 + 1e-9, 2) AS discount_given,
       round(l.units * 1.0 / l.n_items + 1e-9, 6) AS units_per_item,
       round((l.units * 1.0 / l.n_items) / b.upi0 + 1e-9, 6)
         AS uplift_vs_no_discount,
       CASE WHEN l.given_cents = 0 THEN NULL
            ELSE round(l.net_cents * 1.0 / l.given_cents + 1e-9, 4) END
         AS net_per_discount_dollar
FROM ladder l CROSS JOIN base0 b
""",
)
def q312_discount_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-effectiveness ladder: per discount level, units per
    line item versus the zero-discount baseline (the naive uplift a
    promo dashboard shows — q249's Simpson screen says when to
    distrust it), the discount dollars given, and net revenue per
    discount dollar — the promo-ROI readout finance argues about,
    with the zero-discount tier carrying a NULL ratio explicitly.

    Scale: one grouped pass to the ≤ 11-row discount grain, one-row
    baseline broadcast. Cents/units exact; every ratio exact (rule
    5); net and given cents are rounded PER ROW before summing so
    both engines difference identical integers (q173 rule).
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_discount", "l_quantity", "l_extendedprice"],
    )
    base = li.select(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("disc_pct"),
        F.round(F.col("l_quantity")).cast("bigint").alias("q"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("bigint").alias("net_cents"),
        F.round(
            F.col("l_extendedprice") * F.col("l_discount") * 100
        ).cast("bigint").alias("given_cents"),
    )
    ladder = base.groupBy("disc_pct").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("q").cast("bigint").alias("units"),
        F.sum("net_cents").cast("bigint").alias("net_cents"),
        F.sum("given_cents").cast("bigint").alias("given_cents"),
    )
    ladder = ladder.localCheckpoint(eager=False)  # baseline + output
    base0 = ladder.where(F.col("disc_pct") == 0).select(
        (F.col("units") * 1.0 / F.col("n_items")).alias("upi0")
    )
    upi = F.col("units") * 1.0 / F.col("n_items")
    return ladder.crossJoin(F.broadcast(base0)).select(
        "disc_pct",
        "n_items",
        "units",
        fround(F.col("net_cents") / 100.0, 2).alias("net_revenue"),
        fround(F.col("given_cents") / 100.0, 2).alias("discount_given"),
        fround(upi, 6).alias("units_per_item"),
        fround(upi / F.col("upi0"), 6).alias("uplift_vs_no_discount"),
        F.when(
            F.col("given_cents") == 0, F.lit(None).cast("double")
        ).otherwise(
            fround(
                F.col("net_cents") * 1.0 / F.col("given_cents"), 4
            )
        ).alias("net_per_discount_dollar"),
    )


@query(
    "q313_returns_interaction",
    tags=("report", "quality", "statistics"),
    oracle="""
WITH base AS MATERIALIZED (
  SELECT CASE WHEN CAST(round(l_discount * 100) AS BIGINT) = 0
              THEN 'none'
              WHEN CAST(round(l_discount * 100) AS BIGINT) <= 5
              THEN 'low' ELSE 'high' END AS disc_tier,
         CASE WHEN l_extendedprice < 20000 THEN 'budget'
              WHEN l_extendedprice < 60000 THEN 'mid'
              ELSE 'premium' END AS price_tier,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
  FROM lineitem
), cells AS MATERIALIZED (
  SELECT disc_tier, price_tier,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ret) AS BIGINT) AS n_ret
  FROM base GROUP BY disc_tier, price_tier
), margins AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt,
         CAST(sum(n_ret) AS BIGINT) AS rt
  FROM cells
), dmarg AS (
  SELECT disc_tier,
         CAST(sum(n_ret) AS BIGINT) AS dr,
         CAST(sum(n) AS BIGINT) AS dn
  FROM cells GROUP BY disc_tier
), pmarg AS (
  SELECT price_tier,
         CAST(sum(n_ret) AS BIGINT) AS pr,
         CAST(sum(n) AS BIGINT) AS pn
  FROM cells GROUP BY price_tier
)
SELECT c.disc_tier, c.price_tier, c.n,
       round(c.n_ret * 1.0 / c.n + 1e-9, 6) AS return_rate,
       round((d.dr * 1.0 / d.dn) * ((p.pr * 1.0 / p.pn)
             / (m.rt * 1.0 / m.nt)) + 1e-9, 6) AS expected_rate,
       round(c.n_ret * 1.0 / c.n
             - (d.dr * 1.0 / d.dn) * ((p.pr * 1.0 / p.pn)
               / (m.rt * 1.0 / m.nt)) + 1e-9, 6) + 0
         AS interaction_residual
FROM cells c
JOIN dmarg d ON d.disc_tier = c.disc_tier
JOIN pmarg p ON p.price_tier = c.price_tier
CROSS JOIN margins m
""",
)
def q313_returns_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate interaction table: observed return rate per
    (discount tier × price tier) cell against the
    independence-of-factors expectation r_d·r_p/r̄ — a non-zero
    residual is an INTERACTION (deep-discounted premium items coming
    back more than either factor predicts = markdown-quality or
    wardrobing signal), the 2-factor screen q129's one-factor
    chi-square can't see.

    Scale: one fact pass to the 9-cell grid; margins are sums of the
    cell frame. All rates are exact integer ratios (rule 5) with the
    expected-rate expression in identical association (q143) and the
    signed residual sign-of-zero-guarded (footgun 9).
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_discount", "l_extendedprice", "l_returnflag"],
    )
    disc = F.round(F.col("l_discount") * 100).cast("bigint")
    base = li.select(
        F.when(disc == 0, "none")
        .when(disc <= 5, "low")
        .otherwise("high")
        .alias("disc_tier"),
        F.when(F.col("l_extendedprice") < 20000, "budget")
        .when(F.col("l_extendedprice") < 60000, "mid")
        .otherwise("premium")
        .alias("price_tier"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    cells = base.groupBy("disc_tier", "price_tier").agg(
        F.count(F.lit(1)).alias("n"), F.sum("ret").cast("bigint").alias("n_ret")
    )
    cells = cells.localCheckpoint(eager=False)  # three margin branches
    margins = cells.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("n_ret").cast("bigint").alias("rt"),
    )
    dmarg = cells.groupBy("disc_tier").agg(
        F.sum("n_ret").alias("dr"), F.sum("n").alias("dn")
    )
    pmarg = cells.groupBy("price_tier").agg(
        F.sum("n_ret").alias("pr"), F.sum("n").alias("pn")
    )
    expected = (F.col("dr") * 1.0 / F.col("dn")) * (
        (F.col("pr") * 1.0 / F.col("pn"))
        / (F.col("rt") * 1.0 / F.col("nt"))
    )
    return (
        cells.join(F.broadcast(dmarg), "disc_tier")
        .join(F.broadcast(pmarg), "price_tier")
        .crossJoin(F.broadcast(margins))
        .select(
            "disc_tier",
            "price_tier",
            "n",
            fround(F.col("n_ret") * 1.0 / F.col("n"), 6).alias(
                "return_rate"
            ),
            fround(expected, 6).alias("expected_rate"),
            (
                fround(
                    F.col("n_ret") * 1.0 / F.col("n") - expected, 6
                )
                + 0
            ).alias("interaction_residual"),
        )
    )


@query(
    "q316_basket_expander_score",
    tags=("recommender", "report", "retail-science"),
    oracle="""
WITH bsize AS MATERIALIZED (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS basket_n
  FROM lineitem GROUP BY l_orderkey
), pres AS (
  SELECT DISTINCT l_partkey, l_orderkey FROM lineitem
), gtot AS (
  SELECT CAST(sum(basket_n) AS BIGINT) AS tot_items,
         CAST(count(*) AS BIGINT) AS n_baskets
  FROM bsize
), perpart AS (
  SELECT p.l_partkey,
         CAST(count(*) AS BIGINT) AS n_baskets,
         CAST(sum(b.basket_n) AS BIGINT) AS items_in_baskets
  FROM pres p JOIN bsize b ON b.l_orderkey = p.l_orderkey
  GROUP BY p.l_partkey
  HAVING count(*) >= 20
)
SELECT p.l_partkey, p.n_baskets,
       round(p.items_in_baskets * 1.0 / p.n_baskets + 1e-9, 6)
         AS mean_basket_size,
       round(g.tot_items * 1.0 / g.n_baskets + 1e-9, 6)
         AS global_mean_size,
       round((p.items_in_baskets * 1.0 / p.n_baskets)
             / (g.tot_items * 1.0 / g.n_baskets) + 1e-9, 6)
         AS expander_ratio,
       CAST(row_number() OVER (
         ORDER BY round((p.items_in_baskets * 1.0 / p.n_baskets)
                        / (g.tot_items * 1.0 / g.n_baskets)
                        + 1e-9, 6) DESC, p.l_partkey
       ) AS BIGINT) AS rk
FROM perpart p CROSS JOIN gtot g
QUALIFY rk <= 20
""",
)
def q316_basket_expander_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Basket-expander leaderboard: parts whose baskets run largest
    relative to the global mean basket size (support floor ≥ 20
    baskets) — the merchandising signal for anchor items that pull
    other products into the cart (descriptive and selection-biased,
    stated plainly: q261's DiD is how you'd PROVE causation before
    moving shelf space; q236 finds WHICH items ride along).

    Scale: one basket-size frame, a distinct presence frame joined on
    the order key, a part-grain reduce, a broadcast global row, and a
    partial top-20 ranked on the ROUNDED ratio with the part id
    tie-break (footgun 3). All exact integer ratios (rule 5).
    """
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"])
    li = li.localCheckpoint(eager=False)  # size + presence branches
    bsize = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket_n")
    )
    bsize = bsize.localCheckpoint(eager=False)  # global + join branches
    pres = li.select("l_partkey", "l_orderkey").distinct()
    glob = bsize.agg(
        F.sum("basket_n").cast("bigint").alias("tot_items"),
        F.count(F.lit(1)).alias("n_baskets_g"),
    )
    perpart = (
        pres.join(bsize, "l_orderkey")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_baskets"),
            F.sum("basket_n").cast("bigint").alias("items_in_baskets"),
        )
        .where(F.col("n_baskets") >= 20)
    )
    mean_p = F.col("items_in_baskets") * 1.0 / F.col("n_baskets")
    mean_g = F.col("tot_items") * 1.0 / F.col("n_baskets_g")
    ratio = fround(mean_p / mean_g, 6)
    top = (
        perpart.crossJoin(F.broadcast(glob))
        .select(
            "l_partkey",
            "n_baskets",
            fround(mean_p, 6).alias("mean_basket_size"),
            fround(mean_g, 6).alias("global_mean_size"),
            ratio.alias("expander_ratio"),
        )
        .orderBy(F.desc("expander_ratio"), F.asc("l_partkey"))
        .limit(20)
    )
    return top.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("expander_ratio"), F.asc("l_partkey")))
        .cast("bigint"),
    )


@query(
    "q319_assortment_breadth_trend",
    tags=("inventory", "report", "timeseries"),
    oracle="""
WITH pm AS MATERIALIZED (
  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT)
           AS month_idx,
         l_partkey, l_suppkey
  FROM lineitem
), firstpart AS (
  SELECT l_partkey, CAST(min(month_idx) AS BIGINT) AS first_m
  FROM pm GROUP BY l_partkey
)
SELECT p.month_idx,
       CAST(count(DISTINCT p.l_partkey) AS BIGINT) AS active_parts,
       CAST(count(DISTINCT p.l_suppkey) AS BIGINT) AS active_suppliers,
       CAST(count(DISTINCT CASE WHEN f.first_m = p.month_idx
                                THEN p.l_partkey END) AS BIGINT)
         AS debut_parts,
       round(count(DISTINCT CASE WHEN f.first_m = p.month_idx
                                 THEN p.l_partkey END) * 1.0
             / count(DISTINCT p.l_partkey) + 1e-9, 6) AS debut_share
FROM pm p JOIN firstpart f ON f.l_partkey = p.l_partkey
GROUP BY p.month_idx
""",
)
def q319_assortment_breadth_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Assortment breadth trend: distinct parts and suppliers active
    each shipping month, with the DEBUT share (parts shipping for the
    first time ever) — the catalog-growth curve that pairs with
    q278's lifecycle census (breadth growing while dormancy grows too
    means churn, not expansion) and gives q274's stocking policy its
    time axis.

    Scale: one fact projection to the (month, part, supplier) grain,
    a part-grain first-month aggregate joined back on the part key,
    one month-grain distinct reduce. Integer month indices (q233
    rule); the debut share is an exact ratio (rule 5).
    """
    li = read_table(
        spark, sf_dir, "lineitem", ["l_partkey", "l_suppkey", "l_shipdate"]
    )
    pm = li.select(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("bigint")
        .alias("month_idx"),
        "l_partkey",
        "l_suppkey",
    ).localCheckpoint(eager=False)  # first-month + trend branches
    firstpart = pm.groupBy("l_partkey").agg(
        F.min("month_idx").alias("first_m")
    )
    debut = F.countDistinct(
        F.when(
            F.col("first_m") == F.col("month_idx"), F.col("l_partkey")
        )
    )
    return (
        pm.join(firstpart, "l_partkey")
        .groupBy("month_idx")
        .agg(
            F.countDistinct("l_partkey").alias("active_parts"),
            F.countDistinct("l_suppkey").alias("active_suppliers"),
            debut.cast("bigint").alias("debut_parts"),
            fround(
                debut * 1.0 / F.countDistinct("l_partkey"), 6
            ).alias("debut_share"),
        )
    )


@query(
    "q338_cohort_ltv_triangle",
    tags=("retail", "cohort", "ltv"),
    oracle="""
WITH firsts AS (
  SELECT o_custkey,
         min(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT))
           AS cohort
  FROM orders GROUP BY o_custkey
), sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers
  FROM firsts GROUP BY cohort
), aged AS (
  SELECT f.cohort,
         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           - f.cohort AS age,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
), rev AS (
  SELECT cohort, age, CAST(sum(cents) AS BIGINT) AS rev_cents
  FROM aged GROUP BY cohort, age
), maxage AS (
  SELECT cohort, max(age) AS mx FROM rev GROUP BY cohort
), spine AS (
  SELECT m.cohort, unnest(generate_series(0, m.mx)) AS age FROM maxage m
), dense AS (
  SELECT s.cohort, s.age,
         CAST(coalesce(r.rev_cents, 0) AS BIGINT) AS rev_cents
  FROM spine s LEFT JOIN rev r
    ON r.cohort = s.cohort AND r.age = s.age
), cum AS (
  SELECT cohort, age, rev_cents,
         CAST(sum(rev_cents) OVER (
           PARTITION BY cohort ORDER BY age
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_cents
  FROM dense
)
SELECT c.cohort, c.age, z.n_customers,
       round(c.rev_cents / 100.0 + 1e-9, 2) AS revenue,
       round(CAST(c.cum_cents AS DOUBLE) / z.n_customers / 100.0 + 1e-9, 2)
         AS cum_ltv_per_customer
FROM cum c JOIN sizes z ON z.cohort = c.cohort
""",
)
def q338_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by
    first-order month, revenue tracked by months-since-acquisition,
    cumulative LTV per customer filled on a DENSE age spine (a cohort
    with a quiet month still gets its row — the q213/q246 calendar
    lesson applied to cohort age). This is the classic triangle
    finance reads diagonally (calendar) and product reads
    horizontally (maturation): the q233 growth-accounting and q197
    retention views are its marginal slices; q308's first-order
    signal is its age-0 column.

    All revenue is integer cents; the cumulative sum runs over the
    month-grain age axis partitioned by cohort (windows bounded by
    the calendar, never by row count) and stays in BIGINT, so every
    cell is engine-exact before the final dollar formatting.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice", "o_orderdate"]
    )
    month = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast(
        "bigint"
    )
    firsts = orders.groupBy("o_custkey").agg(F.min(month).alias("cohort"))
    firsts = firsts.localCheckpoint(eager=False)  # sizes + aged branches
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    aged = orders.join(F.broadcast(firsts), "o_custkey").select(
        "cohort",
        (month - F.col("cohort")).alias("age"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    rev = aged.groupBy("cohort", "age").agg(
        F.sum("cents").cast("bigint").alias("rev_cents")
    )
    rev = rev.localCheckpoint(eager=False)  # maxage + dense branches
    spine = (
        rev.groupBy("cohort")
        .agg(F.max("age").alias("mx"))
        .select(
            "cohort", F.explode(F.sequence(F.lit(0), F.col("mx"))).alias("age")
        )
    )
    dense = spine.join(rev, ["cohort", "age"], "left").select(
        "cohort",
        "age",
        F.coalesce(F.col("rev_cents"), F.lit(0)).cast("bigint").alias(
            "rev_cents"
        ),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dense.withColumn(
        "cum_cents", F.sum("rev_cents").over(w).cast("bigint")
    )
    return cum.join(F.broadcast(sizes), "cohort").select(
        "cohort",
        "age",
        "n_customers",
        fround(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        fround(
            F.col("cum_cents").cast("double") / F.col("n_customers") / 100.0,
            2,
        ).alias("cum_ltv_per_customer"),
    )


@query(
    "q352_safety_stock_planner",
    tags=("inventory", "planning", "statistics"),
    oracle=f"""
WITH {_BRAND_DAILY_CTE}, s AS (
  SELECT brand,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(d) AS BIGINT) AS sd,
         CAST(sum(d * d) AS BIGINT) AS sd2,
         CAST(min(day_num) AS BIGINT) AS d0,
         CAST(max(day_num) AS BIGINT) AS d1
  FROM daily GROUP BY brand
), m AS (
  SELECT brand, n_days,
         CAST(sd AS DOUBLE) / n_days AS mu,
         sqrt(greatest(
           (CAST(n_days AS DOUBLE) * sd2 - CAST(sd AS DOUBLE) * sd)
             / (CAST(n_days AS DOUBLE) * n_days),
           0.0)) AS sigma,
         CAST(d1 - d0 AS DOUBLE) / (n_days - 1) AS cyc
  FROM s WHERE n_days > 1
)
SELECT brand, n_days,
       round(mu + 1e-9, 4) AS mu_daily,
       round(sigma + 1e-9, 4) AS sigma_daily,
       round(cyc + 1e-9, 4) AS cycle_days,
       round(1.645 * sigma * sqrt(cyc) + 1e-9, 2) AS safety_stock,
       round(mu * cyc + 1.645 * sigma * sqrt(cyc) + 1e-9, 2)
         AS reorder_point
FROM m
""",
)
def q352_safety_stock_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand safety-stock / reorder-point plan from the demand
    series the warehouse actually observed: daily shipped quantity
    gives mu and sigma, the mean gap between active days (telescoping
    (max-min)/(n-1) — NO window needed) proxies the replenishment
    cycle, and the classic z * sigma_d * sqrt(cycle) at z = 1.645
    (95% service level) sets the buffer; reorder point = demand over
    a cycle + buffer. The ops-planning companion to q310's supplier
    scorecard.

    Exactness: quantities are integer-valued doubles CAST to BIGINT on
    both engines, so every input to the float block is an exact
    integer sum; sigma^2 uses the one-pass (n*sd2 - sd^2)/n^2 form
    with each BIGINT cast to double ONCE (the q204 rule), clamped at 0
    before sqrt (q216). Daily brand sums at sf100 stay ~1e6, squares
    ~1e12, well inside int64. The z literal appears as 1.645 on both
    sides; sqrt is correctly rounded per IEEE-754 (the q344 rule).

    Scale: one fact pass to the (brand x day) grain with a broadcast
    dim join, then a 25-row brand frame — no window anywhere.
    """
    li = read_table(
        spark, sf_dir, "lineitem", ["l_partkey", "l_quantity", "l_shipdate"]
    )
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_brand"])
    daily = _brand_daily_units(li, part)
    s = daily.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sd2"),
        F.min("day_num").cast("bigint").alias("d0"),
        F.max("day_num").cast("bigint").alias("d1"),
    )
    nd = F.col("n_days").cast("double")
    mu = F.col("sd").cast("double") / F.col("n_days")
    sigma = F.sqrt(
        F.greatest(
            (nd * F.col("sd2") - F.col("sd").cast("double") * F.col("sd"))
            / (nd * F.col("n_days")),
            F.lit(0.0),
        )
    )
    cyc = (F.col("d1") - F.col("d0")).cast("double") / (F.col("n_days") - 1)
    m = s.where(F.col("n_days") > 1).select(
        "brand", "n_days",
        mu.alias("mu"), sigma.alias("sigma"), cyc.alias("cyc"),
    )
    return m.select(
        "brand", "n_days",
        fround(F.col("mu"), 4).alias("mu_daily"),
        fround(F.col("sigma"), 4).alias("sigma_daily"),
        fround(F.col("cyc"), 4).alias("cycle_days"),
        fround(
            F.lit(1.645) * F.col("sigma") * F.sqrt(F.col("cyc")), 2
        ).alias("safety_stock"),
        fround(
            F.col("mu") * F.col("cyc")
            + F.lit(1.645) * F.col("sigma") * F.sqrt(F.col("cyc")),
            2,
        ).alias("reorder_point"),
    )


@query(
    "q359_price_elasticity",
    tags=("statistics", "regression", "finance"),
    oracle="""
WITH monthly AS (
  SELECT p.p_brand AS brand,
         CAST(date_trunc('month', CAST(l.l_shipdate AS DATE)) AS DATE) AS mo,
         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
), obs AS (
  SELECT brand,
         ln(CAST(rev_cents AS DOUBLE) / (100.0 * qty)) AS x,
         ln(CAST(qty AS DOUBLE)) AS y,
         round(CAST(rev_cents AS DOUBLE) / (100.0 * qty) + 1e-9, 6) AS plevel
  FROM monthly WHERE qty > 0
), s AS (
  SELECT brand,
         CAST(count(*) AS BIGINT) AS m,
         CAST(count(DISTINCT plevel) AS BIGINT) AS n_price_levels,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM obs GROUP BY brand
)
SELECT brand, m AS n_months, n_price_levels,
       round((m * sxy - sx * sy) / (m * sxx - sx * sx) + 1e-9, 4)
         AS elasticity
FROM s
WHERE m >= 24 AND n_price_levels >= 12
""",
)
def q359_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: the log-log OLS slope of
    monthly quantity on monthly average effective unit price (list
    price net of discount) — elasticity < -1 marks brands where a
    price cut grows revenue, > -1 where it just gives margin away.
    The econometric reading of the variation q312's discount ladder
    only tabulates.

    Exactness: monthly quantity and revenue are exact BIGINTs
    (per-line cents rounded BEFORE summing, the fixed-point money
    rule), so each month's (x, y) = (ln price, ln qty) is a
    deterministic double on both engines; the <=84-term OLS sums sit
    inside fround absorption and the slope is one fixed expression
    (q204 pattern). Degenerate fits are excluded by EXACT integer
    guards (month count, distinct rounded price levels) — never by a
    float-variance threshold that could flip cross-engine at the ulp
    (the q212 lesson applied to WHERE clauses).

    Scale: one fact pass to the (brand x month) grain with a
    broadcast dim join; the regression runs on the 25-row brand
    frame.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_partkey", "l_quantity", "l_extendedprice", "l_discount",
         "l_shipdate"],
    )
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_brand"])
    monthly = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", F.col("l_shipdate").cast("date"))
            .cast("date")
            .alias("mo"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("qty"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (F.lit(1) - F.col("l_discount"))
                    * 100
                ).cast("bigint")
            ).cast("bigint").alias("rev_cents"),
        )
    )
    price = F.col("rev_cents").cast("double") / (
        F.lit(100.0) * F.col("qty")
    )
    obs = monthly.where(F.col("qty") > 0).select(
        "brand",
        F.log(price).alias("x"),
        F.log(F.col("qty").cast("double")).alias("y"),
        fround(price, 6).alias("plevel"),
    )
    s = obs.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.countDistinct("plevel").cast("bigint").alias("n_price_levels"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    return s.where((m >= 24) & (F.col("n_price_levels") >= 12)).select(
        "brand",
        m.alias("n_months"),
        "n_price_levels",
        fround(
            (m * F.col("sxy") - sx * sy) / (m * F.col("sxx") - sx * sx), 4
        ).alias("elasticity"),
    )


@query(
    "q360_service_level_backtest",
    tags=("inventory", "planning", "evaluation"),
    oracle=f"""
WITH {_BRAND_DAILY_CTE}, b AS (
  SELECT brand,
         CAST(min(day_num) AS BIGINT) AS d0,
         CAST(max(day_num) AS BIGINT) AS d1,
         CAST(max(day_num) - min(day_num) + 1 AS BIGINT) AS span,
         CAST(sum(d) AS BIGINT) AS sd,
         CAST(sum(d * d) AS BIGINT) AS sd2
  FROM daily GROUP BY brand
), rop AS (
  SELECT brand, d0, d1, span,
         CAST(sd AS DOUBLE) / span * 7.0
         + 1.645 * sqrt(greatest(
             (CAST(span AS DOUBLE) * sd2 - CAST(sd AS DOUBLE) * sd)
               / (CAST(span AS DOUBLE) * span), 0.0)) * sqrt(7.0)
           AS reorder_point
  FROM b WHERE span >= 14
), weekly AS (
  SELECT d.brand, d.day_num + off AS w,
         CAST(sum(d.d) AS BIGINT) AS wd
  FROM daily d
  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS off)
  GROUP BY 1, 2
), win AS (
  SELECT r.brand, r.reorder_point, w.wd
  FROM rop r JOIN weekly w
    ON w.brand = r.brand AND w.w >= r.d0 + 6 AND w.w <= r.d1
)
SELECT brand,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN CAST(wd AS DOUBLE) > reorder_point
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_stockouts,
       round(1.0 - CAST(sum(CASE WHEN CAST(wd AS DOUBLE) > reorder_point
                                 THEN 1 ELSE 0 END) AS BIGINT)
                   / CAST(count(*) AS DOUBLE) + 1e-9, 6)
         AS achieved_service,
       CAST(sum(CASE WHEN CAST(wd AS DOUBLE) > reorder_point
                     THEN 1 ELSE 0 END) AS BIGINT) * 20
         <= CAST(count(*) AS BIGINT) AS target_met
FROM win GROUP BY brand
""",
)
def q360_service_level_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backtest of the q352 inventory model against the series it was
    fit on: slide a 7-day demand window over each brand's calendar
    (zero-demand days counting as zero — the window set is DENSE, not
    active-days-only) and report how often demand exceeded the
    normal-theory reorder point. A 95%-service model whose achieved
    service lands far under 0.95 is the evidence the demand tail is
    heavier than normal (q347's regime) and safety stock needs the
    empirical quantile (q274) instead.

    The rolling sums never use a window function: each active day
    contributes to its 7 covering windows by a bounded x7 explode and
    one grouped sum (the q146 contribution pattern), so missing
    calendar days implicitly add zero on both engines. The 95% target
    check is the exact integer inequality 20*stockouts <= windows
    (q256 rule). The reorder point is a deterministic double from
    exact integer sums; comparing the integer weekly demand against
    it is bit-stable cross-engine.

    Scale: one fact pass to the (brand x day) grain, a x7 explode of
    that bounded frame, and 25-row reporting.
    """
    li = read_table(
        spark, sf_dir, "lineitem", ["l_partkey", "l_quantity", "l_shipdate"]
    )
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_brand"])
    daily = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.lit("1970-01-01")
            ).cast("bigint").alias("day_num"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("d")
        )
        .localCheckpoint(eager=False)  # stats + weekly-window branches
    )
    b = daily.groupBy("brand").agg(
        F.min("day_num").cast("bigint").alias("d0"),
        F.max("day_num").cast("bigint").alias("d1"),
        (F.max("day_num") - F.min("day_num") + 1)
        .cast("bigint")
        .alias("span"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sd2"),
    )
    spand = F.col("span").cast("double")
    rop_expr = F.col("sd").cast("double") / F.col("span") * F.lit(
        7.0
    ) + F.lit(1.645) * F.sqrt(
        F.greatest(
            (spand * F.col("sd2") - F.col("sd").cast("double") * F.col("sd"))
            / (spand * F.col("span")),
            F.lit(0.0),
        )
    ) * F.sqrt(F.lit(7.0))
    rop = b.where(F.col("span") >= 14).select(
        "brand", "d0", "d1", rop_expr.alias("reorder_point")
    )
    weekly = (
        daily.select(
            "brand", "d",
            F.explode(
                F.sequence(F.col("day_num"), F.col("day_num") + 6)
            ).alias("w"),
        )
        .groupBy("brand", "w")
        .agg(F.sum("d").cast("bigint").alias("wd"))
    )
    win = weekly.join(F.broadcast(rop), "brand").where(
        (F.col("w") >= F.col("d0") + 6) & (F.col("w") <= F.col("d1"))
    )
    exceed = F.sum(
        F.when(F.col("wd").cast("double") > F.col("reorder_point"), 1)
        .otherwise(0)
    ).cast("bigint")
    return win.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        exceed.alias("n_stockouts"),
        fround(
            F.lit(1.0)
            - exceed / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("achieved_service"),
        (exceed * 20 <= F.count(F.lit(1)).cast("bigint")).alias(
            "target_met"
        ),
    )


@query(
    "q373_croston_intermittent_demand",
    tags=("inventory", "forecast", "timeseries"),
    oracle=f"""
WITH {_BRAND_DAILY_CTE}, seq AS (
  SELECT brand, day_num, d,
         CAST(row_number() OVER (PARTITION BY brand ORDER BY day_num)
              AS BIGINT) AS rn,
         day_num - lag(day_num) OVER (PARTITION BY brand ORDER BY day_num)
           AS gap
  FROM daily
), tot AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY brand
), terms AS (
  SELECT s.brand, t.n, s.rn, s.d, s.gap,
         1.0 / ((1 << (t.n - s.rn + 1))) AS w
  FROM seq s JOIN tot t ON t.brand = s.brand
  WHERE t.n >= 17 AND t.n - s.rn <= 15
), sm AS (
  SELECT brand, n,
         sum(w * d) AS zhat,
         sum(CASE WHEN rn >= 2 THEN w * gap END) AS phat
  FROM terms GROUP BY brand, n
)
SELECT brand, n AS n_demand_days,
       round(zhat + 1e-9, 6) AS smoothed_demand,
       round(phat + 1e-9, 6) AS smoothed_interval,
       round(zhat / phat + 1e-9, 6) AS croston_rate,
       round(0.75 * (zhat / phat) + 1e-9, 6) AS sba_rate
FROM sm
""",
)
def q373_croston_intermittent_demand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston intermittent-demand forecast per brand (Croston 1972,
    the standard method for sparse/lumpy demand that q352's plain
    mu/sigma mis-serves: averaging zeros into mu under-sizes every
    order-up-to level): demand SIZE and inter-demand INTERVAL are
    smoothed separately (EWMA, alpha = 1/2) over the active-day
    series, and the demand rate is zhat/phat; the Syntetos-Boylan
    (2005) correction multiplies by 1 - alpha/2 = 0.75, the
    literature's fix for Croston's inversion bias. Brands need >= 17
    active days (an EXACT integer guard, the q359 lesson) so both
    smoothers see their full 16 terms.

    Exactness: alpha = 1/2 makes every EWMA weight the exact dyadic
    2^-(i+1) built by INTEGER shift (never pow(), the q358 rule); the
    16-term truncation (residual mass 2^-16, the q334 convention)
    bounds each weighted sum's numerator under 2^40 over the common
    2^-17 denominator, so zhat and phat are EXACT dyadic doubles in
    any summation order — cross-engine stable before rounding; the
    rate is then one correctly-rounded division and the SBA factor a
    single product, parenthesized identically both engines.

    Scale: the (brand x active-day) grain is CALENDAR-BOUNDED (<=
    ~2,500 rows per brand at any corpus size), so the per-brand
    sequence window never grows with data; one fact pass + broadcast
    dim + bounded windows + a 25-row output.
    """
    li = read_table(
        spark, sf_dir, "lineitem", ["l_partkey", "l_quantity", "l_shipdate"]
    )
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_brand"])
    daily = _brand_daily_units(li, part).localCheckpoint(
        eager=False
    )  # sequence + totals branches
    ws = Window.partitionBy("brand").orderBy("day_num")
    seq = daily.select(
        "brand",
        "day_num",
        "d",
        F.row_number().over(ws).cast("bigint").alias("rn"),
        (F.col("day_num") - F.lag("day_num").over(ws)).alias("gap"),
    )
    tot = daily.groupBy("brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    terms = (
        seq.join(F.broadcast(tot), "brand")
        .where((F.col("n") >= 17) & (F.col("n") - F.col("rn") <= 15))
        .select(
            "brand", "n", "rn", "d", "gap",
            (
                F.lit(1.0)
                / F.expr("shiftleft(1, CAST(n - rn AS INT) + 1)")
            ).alias("w"),
        )
    )
    sm = terms.groupBy("brand", "n").agg(
        F.sum(F.col("w") * F.col("d")).alias("zhat"),
        F.sum(
            F.when(F.col("rn") >= 2, F.col("w") * F.col("gap"))
        ).alias("phat"),
    )
    rate = F.col("zhat") / F.col("phat")
    return sm.select(
        "brand",
        F.col("n").alias("n_demand_days"),
        fround(F.col("zhat"), 6).alias("smoothed_demand"),
        fround(F.col("phat"), 6).alias("smoothed_interval"),
        fround(rate, 6).alias("croston_rate"),
        fround(F.lit(0.75) * rate, 6).alias("sba_rate"),
    )


@query(
    "q386_record_breaking_spend",
    tags=("ranking", "window", "behavioral"),
    oracle="""
WITH ords AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), seqd AS (
  SELECT o_custkey, cents,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY d, o_orderkey) AS seq,
         max(cents) OVER (
           PARTITION BY o_custkey ORDER BY d, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
  FROM ords
), flagged AS MATERIALIZED (
  SELECT o_custkey, seq,
         CASE WHEN prevmax IS NULL OR cents > prevmax
              THEN 1 ELSE 0 END AS is_record
  FROM seqd
), percust AS MATERIALIZED (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(is_record) AS BIGINT) AS n_records,
         CAST(max(CASE WHEN is_record = 1 AND seq >= 5
                       THEN 1 ELSE 0 END) AS BIGINT) AS has_late_record
  FROM flagged GROUP BY o_custkey
)
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(p.n_orders) AS BIGINT) AS n_orders,
       CAST(sum(p.n_records) AS BIGINT) AS n_records,
       round(CAST(sum(p.n_records) AS DOUBLE)
             / CAST(sum(p.n_orders) AS DOUBLE) + 1e-9, 6) AS record_rate,
       CAST(sum(p.has_late_record) AS BIGINT) AS late_record_customers,
       round(CAST(sum(p.has_late_record) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) + 1e-9, 6) AS late_record_share
FROM percust p JOIN customer c ON c.c_custkey = p.o_custkey
GROUP BY c.c_mktsegment
""",
)
def q386_record_breaking_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-breaking spend behavior per market segment: an order is
    a RECORD when its exact-cents total strictly exceeds every earlier
    order of the same customer (first order always is). Under
    exchangeable spending the expected record count is harmonic
    (~ln n), so a segment whose record_rate or whose share of
    customers still setting records at order ≥ 5 (late_record_share)
    sits high is a segment with genuinely ESCALATING baskets, not
    noise — the growth-quality read that mean-spend trends hide. The
    temporal application of q210's prefix-max machinery (dominance
    over TIME instead of over price rank).

    Exactness: records are defined on EXACT integer cents (float sums
    are never a cross-engine sort/compare key, the q144 rule) with the
    (o_orderdate, o_orderkey) unique total order both engines; every
    output except the two ratios is pure integer counting; the ratios
    are integer-count ratios (rule 5), rounded anyway.

    Scale: the only window is per-customer (TPC-H order counts per
    customer are scale-invariant, ~10-40 rows — never a data-sized
    partition); one groupBy to the customer grain, the customer dim
    join ONLY after that reduction (customer-grain both sides — a
    co-partitioned shuffle join, deliberately NOT broadcast-hinted:
    the dim is data-sized at scale; AQE may still broadcast it at
    small SFs), one segment-grain reduce.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"]
    )
    ords = orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    seqd = ords.select(
        "o_custkey",
        "cents",
        F.row_number().over(w).alias("seq"),
        F.max("cents").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ).alias("prevmax"),
    )
    flagged = seqd.select(
        "o_custkey",
        "seq",
        F.when(
            F.col("prevmax").isNull() | (F.col("cents") > F.col("prevmax")),
            1,
        ).otherwise(0).alias("is_record"),
    )
    percust = flagged.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("is_record").cast("bigint").alias("n_records"),
        F.max(
            F.when((F.col("is_record") == 1) & (F.col("seq") >= 5), 1)
            .otherwise(0)
        ).cast("bigint").alias("has_late_record"),
    )
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    joined = percust.join(cust, percust.o_custkey == cust.c_custkey)
    nc = F.count(F.lit(1)).cast("bigint")
    return joined.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        nc.alias("n_customers"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum("n_records").cast("bigint").alias("n_records"),
        fround(
            F.sum("n_records").cast("double")
            / F.sum("n_orders").cast("double"),
            6,
        ).alias("record_rate"),
        F.sum("has_late_record").cast("bigint").alias("late_record_customers"),
        fround(
            F.sum("has_late_record").cast("double") / nc.cast("double"), 6
        ).alias("late_record_share"),
    )
