"""Statistical-rigor-at-scale queries: the inference layer a 100 TB
deployment runs ON TOP of its aggregates — distribution-law audits,
survival curves, autocorrelation, closed-form regression, and
resampling-based uncertainty, all as single-pass integer-exact
aggregations with the float math confined to a fixed post-aggregation
expression tree (the q143 lesson: exact BIGINT sums in, identically
parenthesized double arithmetic out — deterministic on both engines).

- q200: Benford first-digit audit (fraud/synthetic-data tripwire)
- q201: Kaplan-Meier customer-survival curve (windowed product via
  exp∘cumsum∘ln — the q110 fround class)
- q203: lag-1..7 autocorrelation of the daily order series
- q204: two-predictor OLS by normal equations + Cramer's rule —
  the closed-form regression that needs ONE aggregation pass however
  many rows feed it
- q207: Poisson bootstrap CI for mean order value (hash-seeded
  replicate weights — the resampling scheme that never shuffles or
  materializes a resample)
- q208: temperature-based corpus mixture weights (the LLM data-mixing
  step between q134's rebalance and a training run)
- q211: tie-corrected Mann-Whitney U over every group pair (the
  nonparametric sibling of q177's Welch t — rank algebra on the
  distinct-value histogram, so every sum is exact)
- q212: Benjamini-Hochberg FDR step-up over the q211 test family
  (distribution-free Chebyshev p-bounds — monotone in |z|, so the BH
  ordering matches exact-p BH and the decisions are conservative)
- q213: seasonal decomposition of the daily order series (day-of-week
  effect + centered 7-day moving-average trend + residual)
- q214: Theil-Sen robust trend of monthly revenue (exact median of
  pairwise slopes on the month grain) vs the OLS slope
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ...functions.scalar import fround
from ...operators.markov import event_transitions, transition_counts
from ...operators.stats import mann_whitney_z
from ...operators.survival import kaplan_meier
from ...sources.readers import parallelize_scan, read_table
from ..registry import query
from ...core.session import local_frame
from .splits import _hash16, _hash16_sql

# P(Poisson(1) <= k) * 65536, floored, for k = 0..5: an integer-exact
# inverse-CDF lattice for 16-bit uniform hashes. Draws beyond the last
# threshold (P ≈ 8e-5) clamp to 6 — documented truncation, identical
# on both engines because the comparison is integer vs literal.
_POIS1_THRESHOLDS = (24109, 48218, 60273, 64291, 65296, 65497)


#: Oracle CTE: each customer's first and last order date
#: (``_customer_spans``).
_PER_CUST_CTE = """per_cust AS (
  SELECT o_custkey,
         min(CAST(o_orderdate AS DATE)) AS first_d,
         max(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY o_custkey
)"""

#: Oracle CTEs from customer spans to Kaplan-Meier risk sets:
#: ``life`` is ``_churn_lifetimes``, ``hist``/``tot``/``risk`` are
#: ``operators.survival``'s duration histogram and risk sets.
_CHURN_RISK_CTES = f"""{_PER_CUST_CTE}, horizon AS (
  SELECT max(last_d) AS end_d FROM per_cust
), life AS (
  SELECT CAST(last_d - first_d AS BIGINT) AS t,
         CASE WHEN last_d < end_d - 90 THEN 1 ELSE 0 END AS churned
  FROM per_cust, horizon
), hist AS (
  SELECT t,
         CAST(count(*) AS BIGINT) AS n_at,
         CAST(sum(churned) AS BIGINT) AS n_events
  FROM life GROUP BY t
), tot AS (
  SELECT CAST(sum(n_at) AS BIGINT) AS n_total FROM hist
), risk AS (
  SELECT t, n_events,
         n_total - CAST(coalesce(sum(n_at) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS n_risk
  FROM hist, tot
)"""


#: Oracle CTE of ``_daily_orders``.
_DAILY_ORDERS_CTE = """daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_num,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
)"""

#: Oracle CTE of ``_monthly_cents``.
_MONTHLY_CENTS_CTE = """monthly AS (
  SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
              + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m_idx,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
)"""


def _customer_spans(orders: DataFrame) -> DataFrame:
    """``(o_custkey, first_d, last_d)``: each customer's first and last
    order date."""
    return orders.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
    )


def _churn_lifetimes(per_cust: DataFrame) -> DataFrame:
    """Survival subjects ``(t, churned)`` from customer spans: lifetime
    in days, churned when the last order is over 90 days before the
    data's last order date (otherwise right-censored)."""
    horizon = per_cust.agg(F.max("last_d").alias("end_d"))
    return per_cust.crossJoin(F.broadcast(horizon)).select(
        F.datediff("last_d", "first_d").cast("bigint").alias("t"),
        F.when(
            F.col("last_d") < F.date_sub(F.col("end_d"), 90), 1
        ).otherwise(0).alias("churned"),
    )


def _daily_orders(orders: DataFrame) -> DataFrame:
    """``(day_num, cnt)``: orders per epoch day."""
    return (
        orders.select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            ).cast("bigint").alias("day_num")
        )
        .groupBy("day_num")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _monthly_cents(orders: DataFrame) -> DataFrame:
    """``(m_idx, cents)``: exact BIGINT order revenue in cents per
    calendar month (``m_idx`` = year * 12 + month)."""
    d = F.col("o_orderdate").cast("date")
    return (
        orders.select(
            (F.year(d) * 12 + F.month(d)).cast("bigint").alias("m_idx"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c1"),
        )
        .groupBy("m_idx")
        .agg(F.sum("c1").alias("cents"))
    )


@query(
    "q200_benford_first_digit",
    tags=("statistics", "audit", "distribution"),
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
), hist AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
), tot AS (
  SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM hist
)
SELECT digit, n_obs,
       round(n_obs * 1.0 / n + 1e-9, 6) AS obs_share,
       round(log10(1 + 1.0 / digit) + 1e-9, 6) AS exp_share,
       round(pow(n_obs - n * log10(1 + 1.0 / digit), 2)
             / (n * log10(1 + 1.0 / digit)) + 1e-9, 6) AS chi_term
FROM hist, tot
""",
)
def q200_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: the observed first
    significant digit distribution against log10(1 + 1/d), with a
    chi-square term per digit. Fabricated, capped, or unit-mangled
    monetary columns fall off the Benford curve long before any
    row-level rule fires — this is the cheapest data-forensics pass
    over a 100 TB fact table (one map-side digit extraction, a 9-row
    histogram, a one-row total broadcast).

    First digit is taken from the integer CENTS string (exact), so the
    digit itself is engine-exact; shares and chi terms are fixed-order
    arithmetic on (bigint, log10-literal) pairs absorbed by the fround
    pair.
    """
    orders = read_table(spark, sf_dir, "orders", ["o_totalprice"])
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    hist = (
        orders.select(
            F.substring(cents.cast("string"), 1, 1).cast("bigint").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = hist.agg(F.sum("n_obs").alias("n"))
    exp_share = F.log10(1 + 1.0 / F.col("digit"))
    expected = F.col("n") * exp_share
    return hist.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        fround(F.col("n_obs") * 1.0 / F.col("n"), 6).alias("obs_share"),
        fround(exp_share, 6).alias("exp_share"),
        fround(
            F.pow(F.col("n_obs") - expected, 2) / expected, 6
        ).alias("chi_term"),
    )


@query(
    "q201_kaplan_meier",
    tags=("statistics", "survival", "window"),
    oracle=f"""
WITH {_CHURN_RISK_CTES}, km AS (
  SELECT t, n_events, n_risk,
         exp(sum(CASE WHEN n_events = n_risk THEN CAST('-inf' AS DOUBLE)
                      ELSE ln(1 - n_events * 1.0 / n_risk) END) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )) AS s
  FROM risk
)
SELECT t AS t_days, n_risk, n_events,
       round(s + 1e-9, 6) AS survival
FROM km WHERE n_events > 0
""",
)
def q201_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for customer lifetime (days between
    first and last order), right-censoring customers still active in
    the final 90 days of the observation window. The product-limit
    estimator is computed as exp(cumulative sum of ln(1 - d/n)) over
    ordered event times — the distributed form of a running product.

    Risk sets and event counts are exact integer window sums over the
    lifetime HISTOGRAM (≤ span-days rows, not customer rows), so the
    single ordered window is bounded by the calendar, never by the
    customer count — the property that keeps this shape alive at
    100 TB. Survival values carry the documented windowed-float-sum
    caveat (q110): the fround pair absorbs ln/exp last-ulp and
    association-order noise.
    """
    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderdate"])
    life = _churn_lifetimes(_customer_spans(orders))
    km = kaplan_meier(life)
    return km.select(
        F.col("t").alias("t_days"),
        "n_risk",
        "n_events",
        fround(F.col("survival"), 6).alias("survival"),
    )


@query(
    "q203_autocorrelation",
    tags=("statistics", "timeseries"),
    oracle=f"""
WITH {_DAILY_ORDERS_CTE}, lags AS (
  SELECT CAST(k AS BIGINT) AS k FROM generate_series(1, 7) t(k)
), pairs AS (
  SELECT l.k, a.cnt AS x, b.cnt AS y
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.day_num = a.day_num + l.k
), sums AS (
  SELECT k,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY k
)
SELECT k, n,
       round((n * sxy - sx * sy) * 1.0
             / sqrt(((n * sxx - sx * sx) * 1.0) * ((n * syy - sy * sy) * 1.0))
             + 1e-9, 6) AS acf
FROM sums
""",
)
def q203_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily order-count series — the
    seasonality detector that decides whether q173's seasonal-naive
    backtest uses lag-1 or lag-7. Pairs are formed by an integer
    day-number equi-join (never a row-offset lag, which silently skips
    calendar gaps), and each lag's Pearson correlation comes from six
    exact BIGINT sums combined in one fixed expression — the
    integer-sums-then-closed-form pattern that makes the statistic
    engine-exact up to the final rounded division.

    Scale: the join runs on the DAILY grain (span-days × 7 rows), so
    the fact-table pass is one date-truncating aggregation.
    """
    orders = read_table(spark, sf_dir, "orders", ["o_orderdate"])
    daily = _daily_orders(orders)
    lags = spark.range(1, 8).select(F.col("id").alias("k"))
    a = daily.select(F.col("day_num"), F.col("cnt").alias("x"))
    b = daily.select(
        F.col("day_num").alias("b_day"), F.col("cnt").alias("y")
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b_day") == F.col("day_num") + F.col("k"))
    )
    sums = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    acf = (n * sxy - sx * sy) * 1.0 / F.sqrt(
        ((n * sxx - sx * sx) * 1.0) * ((n * syy - sy * sy) * 1.0)
    )
    return sums.select("k", "n", fround(acf, 6).alias("acf"))


@query(
    "q204_normal_equation_ols",
    tags=("statistics", "regression", "ml"),
    oracle="""
WITH obs AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(x1) AS BIGINT) AS DOUBLE) AS s1,
         CAST(CAST(sum(x2) AS BIGINT) AS DOUBLE) AS s2,
         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(sum(x1 * x1) AS BIGINT) AS DOUBLE) AS s11,
         CAST(CAST(sum(x1 * x2) AS BIGINT) AS DOUBLE) AS s12,
         CAST(CAST(sum(x2 * x2) AS BIGINT) AS DOUBLE) AS s22,
         CAST(CAST(sum(x1 * y) AS BIGINT) AS DOUBLE) AS s1y,
         CAST(CAST(sum(x2 * y) AS BIGINT) AS DOUBLE) AS s2y
  FROM obs
)
SELECT CAST(n AS BIGINT) AS n,
       round((sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s2y * s12)
              + s2 * (s1y * s12 - s2y * s11))
             / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s2 * s12)
                + s2 * (s1 * s12 - s2 * s11)) + 1e-9, 6) AS beta0_cents,
       round((n * (s1y * s22 - s2y * s12) - sy * (s1 * s22 - s2 * s12)
              + s2 * (s1 * s2y - s2 * s1y))
             / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s2 * s12)
                + s2 * (s1 * s12 - s2 * s11)) + 1e-9, 6) AS beta_qty_cents,
       round((n * (s11 * s2y - s12 * s1y) - s1 * (s1 * s2y - s2 * s1y)
              + sy * (s1 * s12 - s2 * s11))
             / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s2 * s12)
                + s2 * (s1 * s12 - s2 * s11)) + 1e-9, 6) AS beta_disc_cents
FROM sums
""",
)
def q204_normal_equation_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-predictor OLS (extended price in cents ~ quantity +
    discount-percent) solved in closed form: one aggregation pass
    collects the nine normal-equation sums as exact BIGINTs, then
    Cramer's rule inverts the 3×3 Gram matrix in a fixed expression
    tree. This is how regression runs at 100 TB — the fit is a
    map-side-combined aggregate, never an iterative pass, and adding
    rows never adds stages.

    Exactness: all sums fit int64 at sf ≤ 1 (largest is Σ x1·y ≤
    3e15); each is cast to double ONCE (exact below 2^53) and every
    determinant is parenthesized identically on both sides — the q143
    rule — so the betas agree to the last bit before the final round.
    l_quantity/l_discount pass through round() before the bigint cast
    because Spark's int cast truncates while DuckDB's rounds.
    """
    li = read_table(
        spark, sf_dir, "lineitem", ["l_quantity", "l_discount", "l_extendedprice"]
    )
    obs = li.select(
        F.round(F.col("l_quantity")).cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    sums = obs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("s2y"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y = F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s2 * s12)
        + s2 * (s1 * s12 - s2 * s11)
    )
    b0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s2y * s12)
        + s2 * (s1y * s12 - s2y * s11)
    ) / det
    b1 = (
        n * (s1y * s22 - s2y * s12)
        - sy * (s1 * s22 - s2 * s12)
        + s2 * (s1 * s2y - s2 * s1y)
    ) / det
    b2 = (
        n * (s11 * s2y - s12 * s1y)
        - s1 * (s1 * s2y - s2 * s1y)
        + sy * (s1 * s12 - s2 * s11)
    ) / det
    return sums.select(
        n.cast("bigint").alias("n"),
        fround(b0, 6).alias("beta0_cents"),
        fround(b1, 6).alias("beta_qty_cents"),
        fround(b2, 6).alias("beta_disc_cents"),
    )


def _pois1_sql(h: str) -> str:
    """Poisson(1) draw from a 16-bit integer hash via literal
    inverse-CDF thresholds (see _POIS1_THRESHOLDS)."""
    cases = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS1_THRESHOLDS)
    )
    return f"(CASE {cases} ELSE 6 END)"


def _pois1_col(h) -> F.Column:
    expr = F.lit(6)
    for k, t in reversed(list(enumerate(_POIS1_THRESHOLDS))):
        expr = F.when(h < t, k).otherwise(expr)
    return expr


@query(
    "q207_poisson_bootstrap_ci",
    tags=("statistics", "sampling", "bootstrap"),
    oracle=f"""
WITH reps AS (
  SELECT CAST(b AS BIGINT) AS b FROM generate_series(0, 31) t(b)
), weighted AS (
  SELECT r.b,
         {_pois1_sql(_hash16_sql("boot|' || CAST(r.b AS VARCHAR) || '|", "o_orderkey"))} AS w,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders CROSS JOIN reps r
), rep_means AS (
  SELECT b,
         CAST(sum(w * cents) AS BIGINT) * 1.0
           / (100.0 * CAST(sum(w) AS BIGINT)) AS rep_mean
  FROM weighted GROUP BY b
), ranked AS (
  SELECT rep_mean,
         row_number() OVER (ORDER BY rep_mean, b) AS r
  FROM rep_means
), point AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           * 1.0 / (100.0 * count(*)) AS mean_price
  FROM orders
)
SELECT n_orders,
       CAST(32 AS BIGINT) AS n_replicates,
       round(mean_price + 1e-9, 6) AS point_mean,
       round(min(CASE WHEN r = 2 THEN rep_mean END) + 1e-9, 6) AS ci_lo,
       round(min(CASE WHEN r = 31 THEN rep_mean END) + 1e-9, 6) AS ci_hi
FROM ranked, point
GROUP BY n_orders, mean_price
""",
)
def q207_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean order value:
    each of 32 replicates reweights every order by an independent
    Poisson(1) count drawn from a keyed hash, so a "resample" is a
    weighted aggregate — nothing is ever materialized, shuffled, or
    ordered at the fact grain, which is exactly how the bootstrap
    survives 100 TB (the classic trick from the streaming-bootstrap
    literature). The CI is the rank-2 / rank-31 order statistic of the
    32 replicate means — an EXACT rank selection (q184 rule), not an
    interpolated quantile.

    Determinism: weights are integer CASE thresholds on a 16-bit md5
    hash; replicate means are single divisions of exact BIGINT sums;
    hash seeding is for verifiability (production swaps in any keyed
    RNG of its choice, as q149 documents).
    """
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"])
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    reps = spark.range(0, 32).select(F.col("id").alias("b"))
    h = _hash16(
        "", F.concat(F.lit("boot|"), F.col("b").cast("string"), F.lit("|"),
                     F.col("o_orderkey").cast("string"))
    )
    # r13 optimization (guide §2.5 input skew): when orders' layout
    # can't parallelize the scan (one row group locally), the 32x
    # replicate fan-out and its 4.8M md5 hashes run as ONE task.
    # Round-robin the compact 2-column frame only in that case (no-op
    # at scale); replicate sums are exact BIGINTs, order-free.
    # Measured 7.05 s -> 1.6 s (OPTIMIZATION_r13.md).
    orders = parallelize_scan(spark, orders, sf_dir, "orders")
    weighted = orders.crossJoin(F.broadcast(reps)).select(
        "b",
        _pois1_col(h).alias("w"),
        cents.alias("cents"),
    )
    rep_means = weighted.groupBy("b").agg(
        (
            F.sum(F.col("w") * F.col("cents")) * 1.0
            / (100.0 * F.sum("w"))
        ).alias("rep_mean")
    )
    ranked = rep_means.withColumn(
        "r", F.row_number().over(Window.orderBy("rep_mean", "b"))
    )
    point = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents) * 1.0 / (100.0 * F.count(F.lit(1)))).alias("mean_price"),
    )
    return (
        ranked.crossJoin(F.broadcast(point))
        .groupBy("n_orders", "mean_price")
        .agg(
            F.lit(32).cast("bigint").alias("n_replicates"),
            fround(
                F.min(F.when(F.col("r") == 2, F.col("rep_mean"))), 6
            ).alias("ci_lo"),
            fround(
                F.min(F.when(F.col("r") == 31, F.col("rep_mean"))), 6
            ).alias("ci_hi"),
        )
        .select(
            "n_orders",
            "n_replicates",
            fround(F.col("mean_price"), 6).alias("point_mean"),
            "ci_lo",
            "ci_hi",
        )
    )


@query(
    "q208_temperature_mixture",
    tags=("llm-pipeline", "mixing", "statistics"),
    oracle="""
WITH per_lang AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY lang
), z AS (
  SELECT CAST(sum(total_chars) AS BIGINT) AS grand_chars,
         sum(sqrt(CAST(total_chars AS DOUBLE))) AS z_sqrt
  FROM per_lang
)
SELECT lang, n_docs, total_chars,
       round(total_chars * 1.0 / grand_chars + 1e-9, 6) AS raw_share,
       round(sqrt(CAST(total_chars AS DOUBLE)) / z_sqrt + 1e-9, 6)
         AS temp_share,
       round((sqrt(CAST(total_chars AS DOUBLE)) / z_sqrt) * 1e9
             / total_chars + 1e-9, 6) AS epochs_at_1b
FROM per_lang, z
""",
)
def q208_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (T = 2, i.e. p^(1/2)
    renormalized): the standard multilingual-pretraining reweighting
    that lifts low-resource languages without letting any one dominate.
    Reports each language's raw character share, its temperature-
    flattened sampling share, and the implied epochs over that
    language at a 1B-character budget — the number that warns when
    flattening would cycle a small corpus too many times.

    sqrt(p_i)/Σsqrt(p_j) reduces to sqrt(chars_i)/Σsqrt(chars_j), so
    the only cross-engine float surface is one sqrt per language and a
    languages-sized sum, absorbed by the fround pair. One aggregation
    at the language grain plus a one-row broadcast.
    """
    docs = read_table(spark, sf_dir, "documents", ["lang", "n_chars"])
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    z = per_lang.agg(
        F.sum("total_chars").alias("grand_chars"),
        F.sum(F.sqrt(F.col("total_chars").cast("double"))).alias("z_sqrt"),
    )
    sq = F.sqrt(F.col("total_chars").cast("double"))
    return per_lang.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        "total_chars",
        fround(F.col("total_chars") * 1.0 / F.col("grand_chars"), 6).alias(
            "raw_share"
        ),
        fround(sq / F.col("z_sqrt"), 6).alias("temp_share"),
        fround((sq / F.col("z_sqrt")) * 1e9 / F.col("total_chars"), 6).alias(
            "epochs_at_1b"
        ),
    )


# Shared Mann-Whitney CTE chain (q211 reports it, q212 corrects it):
# rank algebra on the (pair, distinct-value) histogram — average ranks
# are prev_count + (tied+1)/2, exact halves, so every rank sum is an
# exact double and the only float surface is the final z arithmetic.
_MW_CTES = """
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM (SELECT DISTINCT event_type FROM events) a
  JOIN (SELECT DISTINCT event_type FROM events) b
    ON a.event_type < b.event_type
), tagged AS (
  SELECT p.ta, p.tb, e.value,
         CASE WHEN e.event_type = p.ta THEN 1 ELSE 0 END AS is_a
  FROM events e JOIN pairs p
    ON e.event_type = p.ta OR e.event_type = p.tb
), hist AS (
  SELECT ta, tb, value,
         CAST(sum(is_a) AS BIGINT) AS ca,
         CAST(count(*) - sum(is_a) AS BIGINT) AS cb,
         CAST(count(*) AS BIGINT) AS tot
  FROM tagged GROUP BY ta, tb, value
), ranked AS (
  SELECT ta, tb, ca, cb, tot,
         CAST(sum(tot) OVER (PARTITION BY ta, tb ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - tot + (tot + 1) / 2.0 AS avg_rank
  FROM hist
), stats AS (
  SELECT ta, tb,
         CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b,
         sum(ca * avg_rank) AS r_a,
         CAST(sum(tot * tot * tot - tot) AS BIGINT) AS ties
  FROM ranked GROUP BY ta, tb
), pre AS (
  SELECT ta, tb, n_a, n_b,
         r_a - n_a * (n_a + 1) / 2.0 AS u_a,
         (n_a * n_b / 12.0)
         * ((n_a + n_b + 1)
            - ties * 1.0 / ((n_a + n_b) * (n_a + n_b - 1.0))) AS sigma2
  FROM stats
), mw AS (
  SELECT ta AS type_a, tb AS type_b, n_a, n_b, u_a,
         CASE WHEN sigma2 > 0
              THEN (u_a - n_a * n_b / 2.0) / sqrt(sigma2) END AS z
  FROM pre
)
"""


def _mw_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _MW_CTES: one row per unordered event-type pair
    with (type_a, type_b, n_a, n_b, u_a, z)."""
    ev = read_table(spark, sf_dir, "events", ["event_type", "value"])
    types = ev.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .join(
            types.select(F.col("event_type").alias("tb")),
            F.col("ta") < F.col("tb"),
        )
    )
    tagged = ev.join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("ta"))
        | (F.col("event_type") == F.col("tb")),
    ).select(
        "ta",
        "tb",
        "value",
        F.when(F.col("event_type") == F.col("ta"), 1).otherwise(0).alias(
            "is_a"
        ),
    )
    return mann_whitney_z(tagged)


@query(
    "q211_mann_whitney_pairs",
    tags=("statistics", "hypothesis-test"),
    oracle=f"""
WITH {_MW_CTES.strip()}
SELECT type_a, type_b, n_a, n_b,
       round(u_a + 1e-9, 6) AS u_stat,
       round(z + 1e-9, 6) AS z_score
FROM mw
""",
)
def q211_mann_whitney_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U for every unordered pair of event
    types (does the `value` distribution differ?) — the nonparametric
    sibling of q177's Welch t, immune to the heavy tails that break
    mean-based tests on monetary columns. Ranks are computed on the
    (pair, distinct-value) histogram: average rank = preceding count +
    (tied + 1)/2 — an exact half — so the rank sum, U, and the
    tie-correction term Σ(t³−t) are all exact and the only float
    surface is the closing z arithmetic (fixed expression tree, q143
    rule). σ² = 0 (a pair with one distinct value) yields NULL z
    rather than an ANSI divide error.

    Scale: windows partition by PAIR; the per-pair frame is the
    distinct-value histogram, which is what bounds work on continuous
    columns (quantize first if a single pair's support outgrows a
    partition).
    """
    mw = _mw_frame(spark, sf_dir)
    return mw.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        fround(F.col("u_a"), 6).alias("u_stat"),
        fround(F.col("z"), 6).alias("z_score"),
    )


@query(
    "q212_bh_fdr_correction",
    tags=("statistics", "hypothesis-test", "multiple-testing"),
    oracle=f"""
WITH {_MW_CTES.strip()},
m AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM mw
), pv AS (
  SELECT type_a, type_b, z,
         CASE WHEN z IS NULL THEN 1.0
              WHEN abs(z) < 1 THEN 1.0
              ELSE 1.0 / (z * z) END AS p_bound
  FROM mw
), ranked_p AS (
  SELECT type_a, type_b, z, p_bound,
         CAST(row_number() OVER (ORDER BY p_bound, type_a, type_b)
              AS BIGINT) AS p_rank
  FROM pv
), kstar AS (
  SELECT CAST(coalesce(max(CASE WHEN p_bound * m <= p_rank * 0.10
                                THEN p_rank END), 0) AS BIGINT) AS k
  FROM ranked_p, m
)
SELECT type_a, type_b,
       round(z + 1e-9, 6) AS z_score,
       round(p_bound + 1e-9, 6) AS p_bound,
       p_rank,
       p_rank <= k AS rejected
FROM ranked_p, kstar
""",
)
def q212_bh_fdr_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over the q211 test
    family: rank the per-pair p-values ascending, find the largest
    rank k with p ≤ (k/m)·α (α = 0.10), reject ranks 1..k. The
    p-values are distribution-free Chebyshev bounds p = min(1, 1/z²)
    — engine-exact arithmetic (no erf, which is NOT cross-engine
    ulp-stable) and MONOTONE in |z|, so the BH ordering is identical
    to exact-p BH and every rejection is conservative (a rejected
    hypothesis would also be rejected under exact normal p-values).

    This is the decision layer every metrics platform needs the
    moment it runs more than one test per day — without it, m tests
    at α each yield ~mα false discoveries.

    Scale: the test-family frame has one row per hypothesis (m rows);
    the rank window and max-k reduction run on that bounded frame.
    """
    mw = _mw_frame(spark, sf_dir)
    m = mw.agg(F.count(F.lit(1)).alias("m"))
    pv = mw.select(
        "type_a",
        "type_b",
        "z",
        F.when(F.col("z").isNull(), F.lit(1.0))
        .when(F.abs(F.col("z")) < 1, F.lit(1.0))
        .otherwise(1.0 / (F.col("z") * F.col("z")))
        .alias("p_bound"),
    )
    ranked_p = pv.withColumn(
        "p_rank",
        F.row_number()
        .over(Window.orderBy("p_bound", "type_a", "type_b"))
        .cast("bigint"),
    ).crossJoin(F.broadcast(m))
    kstar = ranked_p.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_bound") * F.col("m") <= F.col("p_rank") * 0.10,
                    F.col("p_rank"),
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("k")
    )
    return ranked_p.crossJoin(F.broadcast(kstar)).select(
        "type_a",
        "type_b",
        fround(F.col("z"), 6).alias("z_score"),
        fround(F.col("p_bound"), 6).alias("p_bound"),
        "p_rank",
        (F.col("p_rank") <= F.col("k")).alias("rejected"),
    )


@query(
    "q213_seasonal_decomposition",
    tags=("statistics", "timeseries"),
    oracle=f"""
WITH {_DAILY_ORDERS_CTE}, base AS (
  SELECT day_num, day_num % 7 AS dow, cnt FROM daily
), ma AS (
  SELECT day_num, dow, cnt,
         sum(cnt) OVER w * 1.0 / count(*) OVER w AS trend
  FROM base
  WINDOW w AS (ORDER BY day_num RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), dowm AS (
  SELECT dow, CAST(sum(cnt) AS BIGINT) AS dsum,
         CAST(count(*) AS BIGINT) AS dcnt
  FROM base GROUP BY dow
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS gsum,
         CAST(count(*) AS BIGINT) AS gcnt
  FROM base
)
SELECT m.day_num, m.dow, m.cnt,
       round(m.trend + 1e-9, 6) AS trend,
       round(d.dsum * 1.0 / d.dcnt - t.gsum * 1.0 / t.gcnt + 1e-9, 6)
         AS seasonal,
       round(m.cnt - m.trend
             - (d.dsum * 1.0 / d.dcnt - t.gsum * 1.0 / t.gcnt) + 1e-9, 6)
         AS residual
FROM ma m JOIN dowm d ON m.dow = d.dow CROSS JOIN tot t
""",
)
def q213_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily order series:
    trend = centered 7-day moving average (RANGE frame over the
    integer day number, so calendar gaps shrink the window identically
    on both engines instead of sliding over them), seasonal =
    day-of-week mean minus the grand mean (dow = day_num % 7 — integer
    arithmetic, because Spark's and DuckDB's dayofweek() disagree on
    Sunday's index), residual = the rest. The residual series is what
    q191's CUSUM and q113's robust z-scores should monitor — raw
    series alarm on every weekend otherwise.

    All means are exact-integer ratios; the ordered window runs on the
    daily grain (calendar-bounded, the q201 contract).
    """
    orders = read_table(spark, sf_dir, "orders", ["o_orderdate"])
    daily = _daily_orders(orders)
    base = daily.select(
        "day_num", (F.col("day_num") % 7).alias("dow"), "cnt"
    )
    w = Window.orderBy("day_num").rangeBetween(-3, 3)
    ma = base.withColumn(
        "trend", F.sum("cnt").over(w) * 1.0 / F.count(F.lit(1)).over(w)
    )
    dowm = base.groupBy("dow").agg(
        F.sum("cnt").alias("dsum"), F.count(F.lit(1)).alias("dcnt")
    )
    tot = base.agg(
        F.sum("cnt").alias("gsum"), F.count(F.lit(1)).alias("gcnt")
    )
    seasonal = (
        F.col("dsum") * 1.0 / F.col("dcnt")
        - F.col("gsum") * 1.0 / F.col("gcnt")
    )
    return (
        ma.join(F.broadcast(dowm), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "day_num",
            "dow",
            "cnt",
            fround(F.col("trend"), 6).alias("trend"),
            fround(seasonal, 6).alias("seasonal"),
            fround(F.col("cnt") - F.col("trend") - seasonal, 6).alias(
                "residual"
            ),
        )
    )


@query(
    "q214_theil_sen_trend",
    tags=("statistics", "timeseries", "regression"),
    oracle=f"""
WITH {_MONTHLY_CENTS_CTE}, slopes AS (
  SELECT (b.cents - a.cents) * 1.0 / (b.m_idx - a.m_idx) AS slope,
         a.m_idx AS m1, b.m_idx AS m2
  FROM monthly a JOIN monthly b ON a.m_idx < b.m_idx
), rankedsl AS (
  SELECT slope,
         CAST(row_number() OVER (ORDER BY slope, m1, m2) AS BIGINT) AS r
  FROM slopes
), np AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM slopes
), med AS (
  SELECT n_pairs,
         CASE WHEN n_pairs % 2 = 1
              THEN min(CASE WHEN r = CAST(floor((n_pairs + 1) / 2)
                                         AS BIGINT)
                            THEN slope END)
              ELSE (min(CASE WHEN r = CAST(floor(n_pairs / 2) AS BIGINT)
                             THEN slope END)
                    + min(CASE WHEN r = CAST(floor(n_pairs / 2) AS BIGINT)
                                        + 1
                               THEN slope END)) / 2
              END AS ts_slope
  FROM rankedsl, np GROUP BY n_pairs
), sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(CAST(sum(m_idx) AS BIGINT) AS DOUBLE) AS sx,
         CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(sum(m_idx * m_idx) AS BIGINT) AS DOUBLE) AS sxx,
         CAST(CAST(sum(m_idx * cents) AS BIGINT) AS DOUBLE) AS sxy
  FROM monthly
)
SELECT CAST(n AS BIGINT) AS n_months, n_pairs,
       round(ts_slope + 1e-9, 6) AS ts_slope_cents,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6)
         AS ols_slope_cents
FROM med, sums
""",
)
def q214_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly revenue: the EXACT median of
    all pairwise slopes (rank selection, q184 rule — never an
    interpolated quantile), reported next to the OLS slope whose
    sensitivity to outlier months is the reason Theil-Sen exists
    (up to 29% of months can be corrupt before the estimate moves).

    Slopes are single divisions of exact integer cents by integer
    month gaps; the pair join and median rank run on the MONTH grain
    (months² pairs — calendar-bounded, the q201 window contract), so
    the fact-table cost is one aggregation regardless of row count.
    OLS sums follow the q204 pattern: exact BIGINTs cast to double
    once, combined in one fixed expression.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"]
    )
    monthly = _monthly_cents(orders)
    a = monthly.select(
        F.col("m_idx").alias("m1"), F.col("cents").alias("y1")
    )
    b = monthly.select(
        F.col("m_idx").alias("m2"), F.col("cents").alias("y2")
    )
    slopes = a.join(b, F.col("m1") < F.col("m2")).select(
        (
            (F.col("y2") - F.col("y1")) * 1.0 / (F.col("m2") - F.col("m1"))
        ).alias("slope"),
        "m1",
        "m2",
    )
    rankedsl = slopes.withColumn(
        "r",
        F.row_number().over(Window.orderBy("slope", "m1", "m2")).cast(
            "bigint"
        ),
    )
    np_ = slopes.agg(F.count(F.lit(1)).alias("n_pairs"))
    half_odd = F.floor((F.col("n_pairs") + 1) / 2).cast("bigint")
    half_even = F.floor(F.col("n_pairs") / 2).cast("bigint")
    med = (
        rankedsl.crossJoin(F.broadcast(np_))
        .groupBy("n_pairs")
        .agg(
            F.when(
                F.col("n_pairs") % 2 == 1,
                F.min(F.when(F.col("r") == half_odd, F.col("slope"))),
            )
            .otherwise(
                (
                    F.min(F.when(F.col("r") == half_even, F.col("slope")))
                    + F.min(
                        F.when(F.col("r") == half_even + 1, F.col("slope"))
                    )
                )
                / 2
            )
            .alias("ts_slope")
        )
    )
    sums = monthly.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("m_idx").cast("double").alias("sx"),
        F.sum("cents").cast("double").alias("sy"),
        F.sum(F.col("m_idx") * F.col("m_idx")).cast("double").alias("sxx"),
        F.sum(F.col("m_idx") * F.col("cents")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    return med.crossJoin(F.broadcast(sums)).select(
        n.cast("bigint").alias("n_months"),
        "n_pairs",
        fround(F.col("ts_slope"), 6).alias("ts_slope_cents"),
        fround((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias(
            "ols_slope_cents"
        ),
    )


@query(
    "q216_interevent_burstiness",
    tags=("statistics", "timeseries", "events"),
    oracle="""
WITH gaps AS (
  SELECT user_id,
         epoch(ts) - lag(epoch(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS g
  FROM events
), moments AS (
  SELECT user_id,
         CAST(count(g) AS BIGINT) AS n_gaps,
         sum(g) AS sg,
         sum(g * g) AS sg2
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
), pre AS (
  SELECT user_id, n_gaps,
         sg / n_gaps AS mean_g,
         sqrt(greatest(sg2 / n_gaps - (sg / n_gaps) * (sg / n_gaps), 0))
           AS sd_g
  FROM moments WHERE n_gaps >= 10
)
SELECT user_id, n_gaps,
       round(mean_g + 1e-9, 4) AS mean_gap_s,
       round(CASE WHEN sd_g + mean_g > 0
                  THEN (sd_g - mean_g) / (sd_g + mean_g) END + 1e-9, 6)
         AS burstiness
FROM pre
""",
)
def q216_interevent_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness B = (σ−μ)/(σ+μ) of each user's
    inter-event gaps: −1 = metronome, 0 = Poisson, →1 = bursty. The
    one-number behavioral signature that separates bots (periodic,
    B < 0) from humans (bursty, B > 0) and calibrates q24's session
    gap threshold per population.

    One lag window per user (shared user_id shuffle), then a moments
    aggregate — gaps are epoch-second doubles (the q24 epoch parity
    pattern; µs-integer squares would overflow int64 on multi-day
    gaps, the q167 lesson), variance is clamped at zero before the
    sqrt (catastrophic cancellation on near-constant gaps), and users
    need ≥ 10 gaps to be scored.
    """
    ev = read_table(spark, sf_dir, "events", ["user_id", "event_id", "ts"])
    epoch = F.col("ts").cast("double")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gaps = ev.select(
        "user_id", (epoch - F.lag(epoch).over(w)).alias("g")
    ).where(F.col("g").isNotNull())
    moments = gaps.groupBy("user_id").agg(
        F.count("g").alias("n_gaps"),
        F.sum("g").alias("sg"),
        F.sum(F.col("g") * F.col("g")).alias("sg2"),
    )
    mean_g = F.col("sg") / F.col("n_gaps")
    sd_g = F.sqrt(
        F.greatest(
            F.col("sg2") / F.col("n_gaps") - mean_g * mean_g, F.lit(0.0)
        )
    )
    pre = moments.where(F.col("n_gaps") >= 10).select(
        "user_id",
        "n_gaps",
        mean_g.alias("mean_g"),
        sd_g.alias("sd_g"),
    )
    return pre.select(
        "user_id",
        "n_gaps",
        fround(F.col("mean_g"), 4).alias("mean_gap_s"),
        fround(
            F.when(
                F.col("sd_g") + F.col("mean_g") > 0,
                (F.col("sd_g") - F.col("mean_g"))
                / (F.col("sd_g") + F.col("mean_g")),
            ),
            6,
        ).alias("burstiness"),
    )


@query(
    "q228_randomization_test",
    tags=("statistics", "hypothesis-test", "resampling"),
    oracle=f"""
WITH obs AS (
  SELECT event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('purchase', 'click')
), observed AS (
  SELECT sum(CASE WHEN is_a = 1 THEN cents END) * 1.0
           / sum(is_a)
         - sum(CASE WHEN is_a = 0 THEN cents END) * 1.0
           / sum(1 - is_a) AS d_obs
  FROM obs
), reps AS (
  SELECT CAST(b AS BIGINT) AS b FROM generate_series(1, 64) t(b)
), redrawn AS (
  SELECT r.b,
         CASE WHEN {_hash16_sql("perm|' || CAST(r.b AS VARCHAR) || '|", "event_id")}
                   % 2 = 0 THEN 1 ELSE 0 END AS in_a,
         cents
  FROM obs CROSS JOIN reps r
), perm AS (
  SELECT b,
         sum(CASE WHEN in_a = 1 THEN cents END) * 1.0 / sum(in_a)
         - sum(CASE WHEN in_a = 0 THEN cents END) * 1.0 / sum(1 - in_a)
           AS d_b
  FROM redrawn GROUP BY b
)
SELECT round(min(d_obs) / 100 + 1e-9, 6) AS observed_diff,
       CAST(64 AS BIGINT) AS n_replicates,
       CAST(sum(CASE WHEN round(abs(d_b) + 1e-9, 6)
                          >= round(abs(d_obs) + 1e-9, 6)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_as_extreme,
       round((1 + sum(CASE WHEN round(abs(d_b) + 1e-9, 6)
                                >= round(abs(d_obs) + 1e-9, 6)
                           THEN 1 ELSE 0 END)) * 1.0 / 65 + 1e-9, 6)
         AS p_value
FROM perm, observed
""",
)
def q228_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate randomization test for the purchase-vs-click mean
    value difference: 64 hash-seeded random re-splits of the pooled
    rows build the null distribution, and the p-value is the
    add-one-smoothed share of replicates at least as extreme as the
    observed difference. Distribution-free significance with ZERO
    data movement — each replicate is a conditional aggregate over
    map-side hash bits (the q207 resampling contract), so the fact
    pass stays one scan however many replicates run.

    Engine-exactness: values reduce to integer cents, every replicate
    difference is a division of exact BIGINT sums (identical doubles
    on both engines), and the extremity comparison happens on
    6-decimal-ROUNDED magnitudes on both sides, so a last-ulp
    difference can never flip the count.
    """
    ev = read_table(
        spark, sf_dir, "events", ["event_id", "event_type", "value"]
    )
    obs = ev.where(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "is_a"
        ),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    observed = obs.agg(
        (
            F.sum(F.when(F.col("is_a") == 1, F.col("cents"))) * 1.0
            / F.sum("is_a")
            - F.sum(F.when(F.col("is_a") == 0, F.col("cents"))) * 1.0
            / F.sum(1 - F.col("is_a"))
        ).alias("d_obs")
    )
    reps = spark.range(1, 65).select(F.col("id").alias("b"))
    h = _hash16(
        "",
        F.concat(
            F.lit("perm|"),
            F.col("b").cast("string"),
            F.lit("|"),
            F.col("event_id").cast("string"),
        ),
    )
    # r13 optimization (guide §2.5, the q207 class): spread the
    # compact 3-column frame before the 64x re-split fan-out computes
    # its per-(replicate, event) md5 draws — single-task otherwise on
    # a one-row-group layout; no-op at scale. Replicate sums are
    # exact BIGINTs, order-free.
    obs = parallelize_scan(spark, obs, sf_dir, "events")
    redrawn = obs.crossJoin(F.broadcast(reps)).select(
        "b",
        F.when(h % 2 == 0, 1).otherwise(0).alias("in_a"),
        "cents",
    )
    perm = redrawn.groupBy("b").agg(
        (
            F.sum(F.when(F.col("in_a") == 1, F.col("cents"))) * 1.0
            / F.sum("in_a")
            - F.sum(F.when(F.col("in_a") == 0, F.col("cents"))) * 1.0
            / F.sum(1 - F.col("in_a"))
        ).alias("d_b")
    )
    extreme = F.when(
        fround(F.abs(F.col("d_b")), 6) >= fround(F.abs(F.col("d_obs")), 6), 1
    ).otherwise(0)
    return perm.crossJoin(F.broadcast(observed)).agg(
        fround(F.min("d_obs") / 100, 6).alias("observed_diff"),
        F.lit(64).cast("bigint").alias("n_replicates"),
        F.sum(extreme).cast("bigint").alias("n_as_extreme"),
        fround((1 + F.sum(extreme)) * 1.0 / 65, 6).alias("p_value"),
    )


@query(
    "q229_mann_kendall_trend",
    tags=("statistics", "timeseries", "hypothesis-test"),
    oracle=f"""
WITH {_MONTHLY_CENTS_CTE}, s AS (
  SELECT CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM monthly a JOIN monthly b ON a.m_idx < b.m_idx
), ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        FROM monthly GROUP BY cents) WHERE t > 1
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS nm FROM monthly
)
SELECT s_stat, nm AS n_months,
       round((CASE WHEN s_stat > 0 THEN s_stat - 1
                   WHEN s_stat < 0 THEN s_stat + 1
                   ELSE 0 END)
             / sqrt((nm * (nm - 1.0) * (2 * nm + 5) - tie_term) / 18)
             + 1e-9, 6) AS z_mk
FROM s, ties, n
""",
)
def q229_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on monthly revenue — the significance
    companion to q214's Theil-Sen slope (same pair frame): S counts
    concordant minus discordant month pairs, and the tie-corrected
    normal approximation (with the standard ±1 continuity correction)
    yields z. Monotone-trend detection with NO distributional
    assumption on the revenue levels.

    S and the tie term are exact integer sums on the month-pair grain
    (calendar-bounded, the q214 contract); z is one fixed expression.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"]
    )
    monthly = _monthly_cents(orders).localCheckpoint(eager=False)
    a = monthly.select(
        F.col("m_idx").alias("m1"), F.col("cents").alias("y1")
    )
    b = monthly.select(
        F.col("m_idx").alias("m2"), F.col("cents").alias("y2")
    )
    s = a.join(b, F.col("m1") < F.col("m2")).agg(
        F.sum(
            F.when(F.col("y2") > F.col("y1"), 1)
            .when(F.col("y2") < F.col("y1"), -1)
            .otherwise(0)
        ).cast("bigint").alias("s_stat"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    ties = (
        monthly.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).cast("bigint").alias("tie_term")
        )
    )
    n = monthly.agg(F.count(F.lit(1)).alias("nm"))
    s_cc = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    sigma = F.sqrt(
        (
            F.col("nm") * (F.col("nm") - 1.0) * (2 * F.col("nm") + 5)
            - F.col("tie_term")
        )
        / 18
    )
    return (
        s.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(n))
        .select(
            "s_stat",
            F.col("nm").alias("n_months"),
            fround(s_cc / sigma, 6).alias("z_mk"),
        )
    )


def _auc_rep_sql(weighted_src: str, b_col: str) -> str:
    """Per-replicate rank-sum AUC over the (replicate, distinct-p)
    histogram — 2x the Mann-Whitney numerator stays an exact BIGINT,
    so every replicate AUC is an exact integer ratio."""
    return f"""
  SELECT {b_col},
         CAST(sum(n_pos_p) AS BIGINT) AS npos,
         CAST(sum(n_neg_p) AS BIGINT) AS nneg,
         CAST(sum(n_pos_p * (2 * cum_before + n_neg_p)) AS BIGINT) AS num2
  FROM (
    SELECT {b_col}, n_pos_p, n_neg_p,
           coalesce(CAST(sum(n_neg_p) OVER (
             PARTITION BY {b_col} ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS BIGINT), 0) AS cum_before
    FROM {weighted_src}
  ) GROUP BY {b_col}
"""


_AUC_SCORED_CTE = """
scored AS (
  SELECT l_orderkey,
         round({sigmoid} + 1e-9, 6) AS p,
         CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END AS y
  FROM lineitem
  WHERE l_linenumber = 1
)
"""


def _auc_boot_oracle() -> str:
    from .mlq import _SIGMOID_SQL

    scored = _AUC_SCORED_CTE.format(sigmoid=_SIGMOID_SQL).strip()
    h = _hash16_sql(
        "aucboot|' || CAST(r.b AS VARCHAR) || '|", "l_orderkey"
    )
    return f"""
WITH reps AS (
  SELECT CAST(b AS BIGINT) AS b FROM generate_series(0, 31) t(b)
), {scored},
weighted AS (
  SELECT r.b, {_pois1_sql(h)} AS w, p, y
  FROM scored CROSS JOIN reps r
), hist AS (
  SELECT b, p,
         CAST(sum(w * y) AS BIGINT) AS n_pos_p,
         CAST(sum(w * (1 - y)) AS BIGINT) AS n_neg_p
  FROM weighted GROUP BY b, p
), rep AS ({_auc_rep_sql("hist", "b")}),
aucs AS (
  SELECT b,
         CAST(num2 AS DOUBLE)
           / ((2.0 * CAST(npos AS DOUBLE)) * CAST(nneg AS DOUBLE)) AS auc
  FROM rep
), ranked AS (
  SELECT auc, row_number() OVER (ORDER BY auc, b) AS r FROM aucs
), phist AS (
  SELECT p,
         CAST(sum(y) AS BIGINT) AS n_pos_p,
         CAST(sum(1 - y) AS BIGINT) AS n_neg_p
  FROM scored GROUP BY p
), point AS (
  SELECT CAST(sum(n_pos_p) + sum(n_neg_p) AS BIGINT) AS n_rows,
         CAST(CAST(sum(n_pos_p * (2 * cum_before + n_neg_p)) AS BIGINT)
              AS DOUBLE)
           / ((2.0 * CAST(CAST(sum(n_pos_p) AS BIGINT) AS DOUBLE))
              * CAST(CAST(sum(n_neg_p) AS BIGINT) AS DOUBLE)) AS point_auc
  FROM (
    SELECT n_pos_p, n_neg_p,
           coalesce(CAST(sum(n_neg_p) OVER (
             ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS BIGINT), 0) AS cum_before
    FROM phist
  )
)
SELECT n_rows,
       CAST(32 AS BIGINT) AS n_replicates,
       round(point_auc + 1e-9, 6) AS point_auc,
       round(min(CASE WHEN r = 2 THEN auc END) + 1e-9, 6) AS ci_lo,
       round(min(CASE WHEN r = 31 THEN auc END) + 1e-9, 6) AS ci_hi
FROM ranked, point
GROUP BY n_rows, point_auc
"""


@query(
    "q247_bootstrap_auc_ci",
    tags=("ml", "evaluation", "bootstrap"),
    oracle=_auc_boot_oracle(),
)
def q247_bootstrap_auc_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the demo model's AUC:
    32 replicates reweight every ORDER (cluster bootstrap on the
    resample unit, q207's keyed-hash Poisson(1) trick), each
    replicate's AUC is the exact tie-corrected rank-sum on its
    weighted (replicate, distinct-p) histogram, and the CI is the
    rank-2/31 order statistic of the replicate AUCs — the uncertainty
    band q52's point AUC ships without, computed with NOTHING
    materialized at the fact grain.

    Exactness: 2x the Mann-Whitney numerator is an exact BIGINT
    (integer weights x integer cumulative counts — exact until
    N ≈ 3e9 rows, the documented audit bound; past that the per-term
    product must cast to double first), so replicate AUCs agree
    bit-for-bit across engines BEFORE rounding. The prefix window runs
    on the distinct-rounded-p grain — bounded by 1e6 + 1 values per
    replicate at ANY corpus scale (the q227 argument), partitioned
    across replicates.
    """
    from ...ml.inference import score_column_native
    from .mlq import DEMO_MODEL

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"],
    )
    scored = li.where(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        F.round(
            score_column_native(
                DEMO_MODEL,
                F.col("l_quantity") / 50,
                F.col("l_discount") * 10,
                F.col("l_tax") * 12.5,
            )
            + 1e-9,
            6,
        ).alias("p"),
        F.when(F.col("l_quantity") > 30, 1).otherwise(0).alias("y"),
    )
    # r13 optimization (guide §2.5 input skew, the q207 class): the
    # post-filter frame inherits the scan's single partition when the
    # layout can't split, so the checkpoint blocks — and with them the
    # 32x replicate fan-out's 4.8M md5 hashes — would all live on ONE
    # task. Spread the compact 3-column frame first (no-op at scale).
    scored = parallelize_scan(spark, scored, sf_dir, "lineitem")
    scored = scored.localCheckpoint(
        eager=False
    )  # replicate fan-out + point branches
    reps = spark.range(0, 32).select(F.col("id").alias("b"))
    h = _hash16(
        "",
        F.concat(
            F.lit("aucboot|"),
            F.col("b").cast("string"),
            F.lit("|"),
            F.col("l_orderkey").cast("string"),
        ),
    )
    weighted = scored.crossJoin(F.broadcast(reps)).select(
        "b", _pois1_col(h).alias("w"), "p", "y"
    )
    hist = weighted.groupBy("b", "p").agg(
        F.sum(F.col("w") * F.col("y")).alias("n_pos_p"),
        F.sum(F.col("w") * (1 - F.col("y"))).alias("n_neg_p"),
    )
    wb = Window.partitionBy("b").orderBy("p")
    cum = hist.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("n_neg_p").over(
                wb.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    rep = cum.groupBy("b").agg(
        F.sum("n_pos_p").alias("npos"),
        F.sum("n_neg_p").alias("nneg"),
        F.sum(
            F.col("n_pos_p") * (2 * F.col("cum_before") + F.col("n_neg_p"))
        ).alias("num2"),
    )
    auc = F.col("num2").cast("double") / (
        (2.0 * F.col("npos").cast("double")) * F.col("nneg").cast("double")
    )
    ranked = rep.select("b", auc.alias("auc")).withColumn(
        "r", F.row_number().over(Window.orderBy("auc", "b"))
    )
    # point estimate: the same histogram machinery at weight 1
    phist = scored.groupBy("p").agg(
        F.sum("y").alias("n_pos_p"),
        F.sum(1 - F.col("y")).alias("n_neg_p"),
    )
    pw = Window.orderBy("p")
    pcum = phist.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("n_neg_p").over(
                pw.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    point = pcum.agg(
        (F.sum("n_pos_p") + F.sum("n_neg_p")).cast("bigint").alias("n_rows"),
        (
            F.sum(
                F.col("n_pos_p")
                * (2 * F.col("cum_before") + F.col("n_neg_p"))
            ).cast("double")
            / (
                (2.0 * F.sum("n_pos_p").cast("double"))
                * F.sum("n_neg_p").cast("double")
            )
        ).alias("point_auc"),
    )
    return (
        ranked.crossJoin(F.broadcast(point))
        .groupBy("n_rows", "point_auc")
        .agg(
            F.lit(32).cast("bigint").alias("n_replicates"),
            fround(F.min(F.when(F.col("r") == 2, F.col("auc"))), 6).alias(
                "ci_lo"
            ),
            fround(F.min(F.when(F.col("r") == 31, F.col("auc"))), 6).alias(
                "ci_hi"
            ),
        )
        .select(
            "n_rows",
            "n_replicates",
            fround(F.col("point_auc"), 6).alias("point_auc"),
            "ci_lo",
            "ci_hi",
        )
    )


@query(
    "q249_simpson_paradox_screen",
    tags=("statistics", "regression", "audit"),
    oracle="""
WITH obs AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_discount * 100) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), gsums AS (
  SELECT grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM obs GROUP BY grp
), pool AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(sx) AS BIGINT) AS sx,
         CAST(sum(sy) AS BIGINT) AS sy,
         CAST(sum(sxy) AS BIGINT) AS sxy,
         CAST(sum(sxx) AS BIGINT) AS sxx
  FROM gsums
), slopes AS (
  SELECT g.grp, g.n,
         CASE WHEN CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE)
                   - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE) = 0
              THEN NULL
              ELSE round((CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
                          - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
                         / (CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE)
                            - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE))
                         + 1e-9, 6) + 0 END AS slope_group,
         CASE WHEN CAST(p.n AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                   - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE) = 0
              THEN NULL
              ELSE round((CAST(p.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
                          - CAST(p.sx AS DOUBLE) * CAST(p.sy AS DOUBLE))
                         / (CAST(p.n AS DOUBLE) * CAST(p.sxx AS DOUBLE)
                            - CAST(p.sx AS DOUBLE) * CAST(p.sx AS DOUBLE))
                         + 1e-9, 6) + 0 END AS slope_pooled
  FROM gsums g CROSS JOIN pool p
)
SELECT grp, n, slope_group, slope_pooled,
       CASE WHEN slope_group IS NULL OR slope_pooled IS NULL THEN NULL
            ELSE (slope_group > 0 AND slope_pooled < 0)
              OR (slope_group < 0 AND slope_pooled > 0) END AS sign_flip
FROM slopes
""",
)
def q249_simpson_paradox_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's-paradox screen: the within-group OLS slope of
    extended price (cents) on discount (percent-cents) per return
    flag, against the pooled slope — a per-group/pooled sign
    disagreement is the aggregation-reversal warning that any
    dashboard aggregating over a confounded grouping needs before
    publishing a "discounts increase revenue" headline.

    Scale: one grouped aggregation collects the five exact-BIGINT
    normal-equation sums per group; the POOLED sums are the column
    sums of the group frame (never a second fact scan), broadcast
    back. Each sum casts to double ONCE (q204 rule), slopes round with
    the sign-of-zero guard (footgun 9), and the flip flag compares
    ROUNDED slopes (q228 rule) with NULL propagated explicitly.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_returnflag", "l_discount", "l_extendedprice"],
    )
    obs = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    gsums = obs.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).localCheckpoint(eager=False)  # pooled reduce + per-group branches
    pool = gsums.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("psx"),
        F.sum("sy").alias("psy"),
        F.sum("sxy").alias("psxy"),
        F.sum("sxx").alias("psxx"),
    )

    def slope(n, sx, sy, sxy, sxx):
        n_d = F.col(n).cast("double")
        sx_d = F.col(sx).cast("double")
        sy_d = F.col(sy).cast("double")
        sxy_d = F.col(sxy).cast("double")
        sxx_d = F.col(sxx).cast("double")
        den = n_d * sxx_d - sx_d * sx_d
        return F.when(den == 0, F.lit(None).cast("double")).otherwise(
            fround((n_d * sxy_d - sx_d * sy_d) / den, 6) + 0
        )

    slopes = gsums.crossJoin(F.broadcast(pool)).select(
        "grp",
        "n",
        slope("n", "sx", "sy", "sxy", "sxx").alias("slope_group"),
        slope("pn", "psx", "psy", "psxy", "psxx").alias("slope_pooled"),
    )
    sg, sp = F.col("slope_group"), F.col("slope_pooled")
    return slopes.select(
        "grp",
        "n",
        "slope_group",
        "slope_pooled",
        F.when(
            sg.isNull() | sp.isNull(), F.lit(None).cast("boolean")
        ).otherwise(
            ((sg > 0) & (sp < 0)) | ((sg < 0) & (sp > 0))
        ).alias("sign_flip"),
    )


_QR_GRID_A = [0, 1000000, 2000000, 3000000, 4000000, 5000000, 6000000]
_QR_GRID_B = [0, 100000, 200000, 300000, 400000, 500000, 600000]


def _qr_oracle() -> str:
    cands = ", ".join(
        f"({a}, {b})" for a in _QR_GRID_A for b in _QR_GRID_B
    )
    return f"""
WITH obs AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem WHERE l_linenumber = 1
), cands(a, b) AS (
  SELECT CAST(a AS BIGINT), CAST(b AS BIGINT)
  FROM (VALUES {cands}) t(a, b)
), losses AS MATERIALIZED (
  SELECT c.a, c.b,
         CAST(sum(greatest(o.y - (c.a + c.b * o.x),
                           -(o.y - (c.a + c.b * o.x)))) AS BIGINT)
           AS loss2,
         CAST(sum(greatest(9 * (o.y - (c.a + c.b * o.x)),
                           -(o.y - (c.a + c.b * o.x)))) AS BIGINT)
           AS loss10,
         CAST(count(*) AS BIGINT) AS n
  FROM obs o CROSS JOIN cands c
  GROUP BY c.a, c.b
)
SELECT 'p50' AS tau, a AS best_a, b AS best_b,
       round(loss2 / (2.0 * n * 100.0) + 1e-9, 4) AS mean_pinball_dollars
FROM losses
QUALIFY row_number() OVER (ORDER BY loss2, a, b) = 1
UNION ALL
SELECT 'p90' AS tau, a AS best_a, b AS best_b,
       round(loss10 / (10.0 * n * 100.0) + 1e-9, 4) AS mean_pinball_dollars
FROM losses
QUALIFY row_number() OVER (ORDER BY loss10, a, b) = 1
"""


@query(
    "q257_grid_quantile_regression",
    tags=("statistics", "regression", "grid-search"),
    oracle=_qr_oracle(),
)
def q257_grid_quantile_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile regression by exhaustive grid search: fit
    extendedprice-cents = a + b·quantity at τ = 0.5 and 0.9 by
    evaluating the pinball loss of a 7×7 literal candidate grid in ONE
    aggregation pass — the distributed model-selection pattern (grid
    search as a broadcast fan-out + groupBy, q223's philosophy applied
    to a loss surface) that replaces τ-quantile iterative solvers when
    the model is low-dimensional; production refines the grid around
    the argmin recursively.

    Exactness: scaled pinball losses are exact BIGINTs —
    2·pinball(τ=.5) = |d| and 10·pinball(τ=.9) = max(9d, −d) with
    integer cents d — so the argmin per τ is an exact integer
    comparison with an (a, b) total-order tie-break (footgun 3). Only
    the REPORTED mean loss divides into dollars (exact-ratio class,
    rule 5). Scale: the fan-out is |facts| × 49 candidate rows,
    map-side broadcast, one shuffle on the 49-key grid.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_linenumber", "l_quantity", "l_extendedprice"],
    )
    obs = li.where(F.col("l_linenumber") == 1).select(
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    cands = local_frame(spark, 
        [(a, b) for a in _QR_GRID_A for b in _QR_GRID_B], "a long, b long"
    )
    d = F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
    losses = (
        obs.crossJoin(F.broadcast(cands))
        .groupBy("a", "b")
        .agg(
            F.sum(F.greatest(d, -d)).alias("loss2"),
            F.sum(F.greatest(9 * d, -d)).alias("loss10"),
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint(eager=False)  # two argmin branches
    )
    p50 = (
        losses.orderBy("loss2", "a", "b")
        .limit(1)
        .select(
            F.lit("p50").alias("tau"),
            F.col("a").alias("best_a"),
            F.col("b").alias("best_b"),
            fround(
                F.col("loss2") / (2.0 * F.col("n") * 100.0), 4
            ).alias("mean_pinball_dollars"),
        )
    )
    p90 = (
        losses.orderBy("loss10", "a", "b")
        .limit(1)
        .select(
            F.lit("p90").alias("tau"),
            F.col("a").alias("best_a"),
            F.col("b").alias("best_b"),
            fround(
                F.col("loss10") / (10.0 * F.col("n") * 100.0), 4
            ).alias("mean_pinball_dollars"),
        )
    )
    return p50.unionByName(p90)


@query(
    "q261_difference_in_differences",
    tags=("statistics", "causal", "ab-test"),
    oracle=f"""
WITH span AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS d0,
         max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
), assigned AS (
  SELECT CASE WHEN {_hash16_sql("did|", "o_custkey")} < 32768
              THEN 'treat' ELSE 'control' END AS grp,
         CASE WHEN CAST(o_orderdate AS DATE) - d0
                   >= CAST((d1 - d0) / 2 AS BIGINT)
              THEN 'post' ELSE 'pre' END AS period,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders CROSS JOIN span
), cells AS (
  SELECT grp, period,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         sum(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE)) AS sq
  FROM assigned GROUP BY grp, period
), m AS (
  SELECT grp, period, n,
         CAST(s AS DOUBLE) / n AS mean,
         (CAST(n AS DOUBLE) * sq
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var
  FROM cells
), wide AS (
  SELECT
    min(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean END) AS tp0,
    min(CASE WHEN grp = 'treat' AND period = 'post' THEN mean END) AS tp1,
    min(CASE WHEN grp = 'control' AND period = 'pre' THEN mean END) AS cp0,
    min(CASE WHEN grp = 'control' AND period = 'post' THEN mean END) AS cp1,
    min(CASE WHEN grp = 'treat' AND period = 'pre' THEN var / n END) AS v1,
    min(CASE WHEN grp = 'treat' AND period = 'post' THEN var / n END) AS v2,
    min(CASE WHEN grp = 'control' AND period = 'pre' THEN var / n END) AS v3,
    min(CASE WHEN grp = 'control' AND period = 'post' THEN var / n END) AS v4,
    CAST(sum(n) AS BIGINT) AS n_orders
  FROM m
)
SELECT n_orders,
       round(tp0 / 100.0 + 1e-9, 4) AS treat_pre,
       round(tp1 / 100.0 + 1e-9, 4) AS treat_post,
       round(cp0 / 100.0 + 1e-9, 4) AS control_pre,
       round(cp1 / 100.0 + 1e-9, 4) AS control_post,
       round(((tp1 - tp0) - (cp1 - cp0)) / 100.0 + 1e-9, 4) + 0 AS did,
       round(sqrt(((v1 + v2) + v3) + v4) / 100.0 + 1e-9, 4) AS se,
       round(((tp1 - tp0) - (cp1 - cp0)) / sqrt(((v1 + v2) + v3) + v4)
             + 1e-9, 4) + 0 AS t_stat
FROM wide
""",
)
def q261_difference_in_differences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Difference-in-differences estimator: keyed-hash treatment
    assignment on the customer (the q127 split), pre/post periods at
    the data's midpoint date (integer day arithmetic), DiD =
    (ΔTreat − ΔControl) on mean order value with a four-cell Welch
    standard error — the quasi-experimental workhorse for launches
    that can't be randomized per event; on a null assignment (this
    hash split changes nothing) t should hover near 0, making the
    query its own A/A calibration (q177's discipline).

    Exactness: count/sum cells are exact BIGINTs cast to double once
    (q204 rule); the SQUARE sum alone is a float sum of exact double
    products — cents < 2^26 so each square is exact, but Σcents² would
    overflow int64 at sf0.1 (measured), the q204 bound inverted —
    and its ordering ulp is fround-absorbed. did/t carry the
    sign-of-zero `+ 0` guard (footgun 9). One grouped pass over
    orders; everything after is a 4-row frame.
    """
    o = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate",
                                  "o_totalprice"],
    )
    span = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    h = _hash16("did|", F.col("o_custkey"))
    assigned = o.crossJoin(F.broadcast(span)).select(
        F.when(h < 32768, "treat").otherwise("control").alias("grp"),
        F.when(
            F.datediff(F.to_date("o_orderdate"), F.col("d0"))
            >= F.floor(
                F.datediff(F.col("d1"), F.col("d0")) / 2
            ).cast("bigint"),
            "post",
        ).otherwise("pre").alias("period"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cells = assigned.groupBy("grp", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(
            F.col("cents").cast("double") * F.col("cents").cast("double")
        ).alias("sq"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        n_d * F.col("sq")
        - F.col("s").cast("double") * F.col("s").cast("double")
    ) / (n_d * (n_d - 1.0))
    m = cells.select(
        "grp", "period", "n", mean.alias("mean"), var.alias("var")
    )

    def cell(g, p, col):
        return F.min(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p), F.col(col)
            )
        )

    m2 = m.withColumn("var_n", F.col("var") / F.col("n"))
    wide = m2.agg(
        cell("treat", "pre", "mean").alias("tp0"),
        cell("treat", "post", "mean").alias("tp1"),
        cell("control", "pre", "mean").alias("cp0"),
        cell("control", "post", "mean").alias("cp1"),
        cell("treat", "pre", "var_n").alias("v1"),
        cell("treat", "post", "var_n").alias("v2"),
        cell("control", "pre", "var_n").alias("v3"),
        cell("control", "post", "var_n").alias("v4"),
        F.sum("n").alias("n_orders"),
    )
    did = (F.col("tp1") - F.col("tp0")) - (F.col("cp1") - F.col("cp0"))
    sev = ((F.col("v1") + F.col("v2")) + F.col("v3")) + F.col("v4")
    return wide.select(
        "n_orders",
        fround(F.col("tp0") / 100.0, 4).alias("treat_pre"),
        fround(F.col("tp1") / 100.0, 4).alias("treat_post"),
        fround(F.col("cp0") / 100.0, 4).alias("control_pre"),
        fround(F.col("cp1") / 100.0, 4).alias("control_post"),
        (fround(did / 100.0, 4) + 0).alias("did"),
        fround(F.sqrt(sev) / 100.0, 4).alias("se"),
        (fround(did / F.sqrt(sev), 4) + 0).alias("t_stat"),
    )


@query(
    "q268_friedman_dow_test",
    tags=("statistics", "nonparametric", "seasonality"),
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_num,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
), bounds AS (
  SELECT min(day_num) AS mn, max(day_num) AS mx FROM daily
), spine AS (
  SELECT g.d AS day_num, CAST(coalesce(dd.cents, 0) AS BIGINT) AS cents,
         CAST(g.d // 7 AS BIGINT) AS week,
         CAST(g.d % 7 AS BIGINT) AS dow
  FROM (SELECT unnest(generate_series(mn, mx)) AS d FROM bounds) g
  LEFT JOIN daily dd ON dd.day_num = g.d
), full_weeks AS MATERIALIZED (
  SELECT * FROM spine
  WHERE week IN (
    SELECT week FROM spine GROUP BY week HAVING count(*) = 7
  )
), ranked AS (
  SELECT week, dow,
         rank() OVER (PARTITION BY week ORDER BY cents)
           + (count(*) OVER (PARTITION BY week, cents) - 1) / 2.0
           AS avg_rank
  FROM full_weeks
), rj AS (
  SELECT dow,
         sum(avg_rank) AS sum_rank,
         CAST(count(*) AS BIGINT) AS n_blocks
  FROM ranked GROUP BY dow
), stat AS (
  SELECT any_value(n_blocks) AS n_blocks,
         (12.0 / (any_value(n_blocks) * 7.0 * 8.0)) * sum(sum_rank * sum_rank)
           - (3.0 * any_value(n_blocks)) * 8.0 AS fr
  FROM rj
)
SELECT r.dow, r.n_blocks,
       round(r.sum_rank / r.n_blocks + 1e-9, 6) AS mean_rank,
       round(s.fr + 1e-9, 6) + 0 AS friedman_stat
FROM rj r CROSS JOIN stat s
""",
)
def q268_friedman_dow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test for day-of-week seasonality: each complete
    calendar week is a block, the 7 days are treatments, daily revenue
    ranks WITHIN its week (ties as exact-half average ranks — the q211
    rank-algebra class), and FR = 12/(n·k·(k+1))·ΣR_j² − 3n(k+1)
    measures whether some weekday systematically out-earns the others
    without assuming any distribution — the nonparametric complement
    to q213's moving-average decomposition and q229's monotone-trend
    test. dow is the epoch-day modulus (q213 rule); the day spine is
    DENSE with partial boundary weeks dropped so every block has
    exactly k = 7 treatments.

    Scale: one daily aggregate, then everything runs on the days
    grain (bounded by the time span); the rank window partitions by
    week. Average ranks are exact halves (integer cents compare
    exactly), so ΣR_j² diverges across engines only at the float-sum
    ulp, absorbed by the fround pair.
    """
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"])
    daily = o.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
            "day_num"
        )
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("cents")
    )
    bounds = daily.agg(
        F.min("day_num").alias("mn"), F.max("day_num").alias("mx")
    )
    spine = (
        bounds.select(
            F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("d")
        )
        .join(daily, F.col("d") == F.col("day_num"), "left")
        .select(
            F.coalesce(F.col("cents"), F.lit(0)).cast("bigint").alias(
                "cents"
            ),
            F.floor(F.col("d") / 7).cast("bigint").alias("week"),
            (F.col("d") % 7).cast("bigint").alias("dow"),
        )
        .localCheckpoint(eager=False)  # full-week filter + rank branches
    )
    full = spine.join(
        spine.groupBy("week")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") == 7)
        .select("week"),
        "week",
        "left_semi",
    )
    wr = Window.partitionBy("week").orderBy("cents")
    wt = Window.partitionBy("week", "cents")
    ranked = full.select(
        "week",
        "dow",
        (
            F.rank().over(wr)
            + (F.count(F.lit(1)).over(wt) - 1) / 2.0
        ).alias("avg_rank"),
    )
    rj = ranked.groupBy("dow").agg(
        F.sum("avg_rank").alias("sum_rank"),
        F.count(F.lit(1)).alias("n_blocks"),
    )
    rj = rj.localCheckpoint(eager=False)  # stat reduce + output branches
    stat = rj.agg(
        F.any_value("n_blocks").alias("nb"),
        (
            (12.0 / (F.any_value("n_blocks") * 7.0 * 8.0))
            * F.sum(F.col("sum_rank") * F.col("sum_rank"))
            - (3.0 * F.any_value("n_blocks")) * 8.0
        ).alias("fr"),
    )
    return rj.crossJoin(F.broadcast(stat)).select(
        "dow",
        "n_blocks",
        fround(F.col("sum_rank") / F.col("n_blocks"), 6).alias(
            "mean_rank"
        ),
        (fround(F.col("fr"), 6) + 0).alias("friedman_stat"),
    )


@query(
    "q295_breusch_pagan_screen",
    tags=("statistics", "regression", "diagnostics"),
    oracle="""
WITH obs AS MATERIALIZED (
  SELECT CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), s1 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM obs
), beta AS (
  SELECT n,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b1,
         (CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS b0
  FROM s1
), resid AS (
  SELECT o.x,
         (CAST(o.y AS DOUBLE) - (b.b0 + b.b1 * CAST(o.x AS DOUBLE)))
         * (CAST(o.y AS DOUBLE) - (b.b0 + b.b1 * CAST(o.x AS DOUBLE)))
           AS e2
  FROM obs o CROSS JOIN beta b
), s2 AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         sum(e2) AS se,
         sum(CAST(x AS DOUBLE) * e2) AS sxe,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         sum(e2 * e2) AS see
  FROM resid
)
SELECT CAST(b.n AS BIGINT) AS n_rows,
       round(b.b0 / 100.0 + 1e-9, 4) + 0 AS beta0_dollars,
       round(b.b1 / 100.0 + 1e-9, 4) + 0 AS beta1_dollars,
       round(s.n * (((s.n * s.sxe - s.sx * s.se)
                     * (s.n * s.sxe - s.sx * s.se))
                    / ((s.n * s.sxx - s.sx * s.sx)
                       * (s.n * s.see - s.se * s.se)))
             + 1e-9, 4) AS bp_stat,
       round(s.n * (((s.n * s.sxe - s.sx * s.se)
                     * (s.n * s.sxe - s.sx * s.se))
                    / ((s.n * s.sxx - s.sx * s.sx)
                       * (s.n * s.see - s.se * s.se)))
             + 1e-9, 4) >= 3.84 AS heteroscedastic
FROM beta b CROSS JOIN s2 s
""",
)
def q295_breusch_pagan_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Breusch–Pagan (Koenker form) heteroscedasticity screen on the
    price~quantity regression: fit the line from exact BIGINT sums,
    square the residuals, and test whether e² correlates with the
    regressor — BP = n·R²_aux = n·corr(x, e²)², flagged at the χ²₁
    95% critical value — the diagnostic that says whether q204-class
    OLS standard errors can be trusted or need robust (sandwich)
    errors; on this data variance grows mechanically with quantity,
    so the screen doubles as a known-positive self-check.

    Scale: two aggregation passes over the fact (sums, then residual
    sums with the one-row beta broadcast), everything else one-row
    algebra. First-stage sums are exact BIGINTs; residual products
    are doubles in the identical association on both sides (q143),
    and the flag thresholds the ROUNDED statistic (q228 rule).
    """
    li = read_table(
        spark, sf_dir, "lineitem", ["l_quantity", "l_extendedprice"]
    )
    obs = li.select(
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    ).localCheckpoint(eager=False)  # two regression passes
    s1 = obs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    b1 = (n_d * F.col("sxy").cast("double") - sx_d * sy_d) / (
        n_d * F.col("sxx").cast("double") - sx_d * sx_d
    )
    beta = s1.select(
        "n", b1.alias("b1"), ((sy_d - b1 * sx_d) / n_d).alias("b0")
    )
    e = F.col("y").cast("double") - (
        F.col("b0") + F.col("b1") * F.col("x").cast("double")
    )
    resid = obs.crossJoin(F.broadcast(beta)).select(
        "x", (e * e).alias("e2")
    )
    s2 = resid.agg(
        F.count(F.lit(1)).cast("double").alias("n2"),
        F.sum("x").cast("double").alias("sx2"),
        F.sum("e2").alias("se"),
        F.sum(F.col("x").cast("double") * F.col("e2")).alias("sxe"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx2"),
        F.sum(F.col("e2") * F.col("e2")).alias("see"),
    )
    num = F.col("n2") * F.col("sxe") - F.col("sx2") * F.col("se")
    bp = F.col("n2") * (
        (num * num)
        / (
            (F.col("n2") * F.col("sxx2") - F.col("sx2") * F.col("sx2"))
            * (F.col("n2") * F.col("see") - F.col("se") * F.col("se"))
        )
    )
    return beta.crossJoin(F.broadcast(s2)).select(
        F.col("n").cast("bigint").alias("n_rows"),
        (fround(F.col("b0") / 100.0, 4) + 0).alias("beta0_dollars"),
        (fround(F.col("b1") / 100.0, 4) + 0).alias("beta1_dollars"),
        fround(bp, 4).alias("bp_stat"),
        (fround(bp, 4) >= 3.84).alias("heteroscedastic"),
    )


@query(
    "q304_effective_sample_size",
    tags=("statistics", "timeseries", "experiment-design"),
    oracle="""
WITH daily AS MATERIALIZED (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_num,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
), lags AS (
  SELECT unnest(generate_series(1, 7)) AS k
), sums AS (
  SELECT l.k,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a.cnt) AS BIGINT) AS sx,
         CAST(sum(b.cnt) AS BIGINT) AS sy,
         CAST(sum(a.cnt * b.cnt) AS BIGINT) AS sxy,
         CAST(sum(a.cnt * a.cnt) AS BIGINT) AS sxx,
         CAST(sum(b.cnt * b.cnt) AS BIGINT) AS syy
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.day_num = a.day_num + l.k
  GROUP BY l.k
), rhos AS (
  SELECT k,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt(((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * ((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
           AS rho
  FROM sums
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
)
SELECT nd.n_days,
       round(1.0 + 2.0 * sum(greatest(r.rho, 0.0)) + 1e-9, 6)
         AS inflation_factor,
       round(nd.n_days / (1.0 + 2.0 * sum(greatest(r.rho, 0.0)))
             + 1e-9, 4) AS effective_n,
       round(sum(greatest(r.rho, 0.0)) + 1e-9, 6) AS rho_sum_pos
FROM rhos r CROSS JOIN nd
GROUP BY nd.n_days
""",
)
def q304_effective_sample_size(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Effective sample size of the daily order series under
    autocorrelation: ESS = n / (1 + 2·Σₖ ρₖ⁺) over lags 1-7 (positive
    ρ only — the conservative truncation; Kish/Newey-West family) —
    the number that deflates q177's A/B test denominator when the
    unit of randomization is time: n "days of data" are worth far
    fewer independent observations when days autocorrelate, and
    tests that ignore it overstate significance.

    Scale: the daily frame is bounded; ACF at 7 lags is q203's exact
    integer-hour/day equi-join machinery (never row offsets), sums
    exact BIGINTs cast once (q204), ρ algebra in the identical
    association on both sides.
    """
    o = read_table(spark, sf_dir, "orders", ["o_orderdate"])
    daily = (
        o.groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "day_num"
            )
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # lag-join sides + count
    )
    lags = spark.range(1, 8).select(F.col("id").alias("k"))
    a = daily.select("day_num", F.col("cnt").alias("x"))
    b = daily.select(
        F.col("day_num").alias("bd"), F.col("cnt").alias("y")
    )
    sums = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bd") == F.col("day_num") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    rho = (n_d * F.col("sxy").cast("double") - sx_d * sy_d) / F.sqrt(
        (n_d * F.col("sxx").cast("double") - sx_d * sx_d)
        * (n_d * F.col("syy").cast("double") - sy_d * sy_d)
    )
    rhos = sums.select("k", rho.alias("rho"))
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    rsum = F.sum(F.greatest(F.col("rho"), F.lit(0.0)))
    return (
        rhos.crossJoin(F.broadcast(nd))
        .groupBy("n_days")
        .agg(
            fround(1.0 + 2.0 * rsum, 6).alias("inflation_factor"),
            fround(F.col("n_days") / (1.0 + 2.0 * rsum), 4).alias(
                "effective_n"
            ),
            fround(rsum, 6).alias("rho_sum_pos"),
        )
        .select("n_days", "inflation_factor", "effective_n", "rho_sum_pos")
    )


@query(
    "q307_price_ending_census",
    tags=("statistics", "pricing", "audit"),
    oracle="""
WITH endings AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) % 100 AS ending,
         CAST(count(*) AS BIGINT) AS n
  FROM orders
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS t,
         CAST(count(*) AS BIGINT) AS n_endings
  FROM endings
)
SELECT CAST(e.ending AS BIGINT) AS ending_cents, e.n,
       round(e.n * 1.0 / t.t + 1e-9, 6) AS share,
       round((e.n - t.t / 100.0) * (e.n - t.t / 100.0)
             / (t.t / 100.0) + 1e-9, 4) AS chi2_contribution,
       CAST(row_number() OVER (ORDER BY e.n DESC, e.ending) AS BIGINT)
         AS rk
FROM endings e CROSS JOIN tot t
QUALIFY rk <= 10
""",
)
def q307_price_ending_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Price-ending census: the 10 most common cent endings of order
    totals with their uniform-expectation chi-square contributions —
    the q200 Benford discipline applied to the LAST digits, where
    psychological pricing (.99/.95 clustering) is legitimate but a
    single spiked ending in machine-generated totals is a rounding
    bug or fabricated-data fingerprint (forensic accounting's other
    classic screen).

    Scale: one grouped pass to the ≤100-row endings frame; everything
    after is bounded. Counts exact; shares exact ratios; ranked on
    exact counts with the ending as tie-break (footgun 3).
    """
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders", ["o_totalprice"])
    endings = o.groupBy(
        (F.round(F.col("o_totalprice") * 100).cast("bigint") % 100).alias(
            "ending"
        )
    ).agg(F.count(F.lit(1)).alias("n"))
    endings = endings.localCheckpoint(eager=False)  # totals + ranking
    tot = endings.agg(
        F.sum("n").cast("bigint").alias("t"),
        F.count(F.lit(1)).alias("n_endings"),
    )
    exp = F.col("t") / 100.0
    ranked = (
        endings.crossJoin(F.broadcast(tot))
        .select(
            F.col("ending").cast("bigint").alias("ending_cents"),
            "n",
            fround(F.col("n") * 1.0 / F.col("t"), 6).alias("share"),
            fround(
                (F.col("n") - exp) * (F.col("n") - exp) / exp, 4
            ).alias("chi2_contribution"),
        )
        .orderBy(F.desc("n"), F.asc("ending_cents"))
        .limit(10)
    )
    return ranked.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("ending_cents")))
        .cast("bigint"),
    )


@query(
    "q322_cooks_distance_screen",
    tags=("statistics", "regression", "influence"),
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS x,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY o_custkey
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syyd
  FROM cust
), coefs AS (
  SELECT n, sx, sy,
         CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS sxxc,
         CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS sxyc,
         syyd - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS syyc
  FROM sums
), coefs2 AS (
  SELECT n, sx, sxxc,
         sxyc / sxxc AS slope,
         CAST(sy AS DOUBLE) / n
           - sxyc / sxxc * (CAST(sx AS DOUBLE) / n) AS icept,
         (syyc - sxyc / sxxc * sxyc) / (n - 2) AS s2
  FROM coefs
), scored AS (
  SELECT o_custkey, x, y,
         y - (icept + slope * x) AS e,
         1.0 / n + (x - CAST(sx AS DOUBLE) / n)
                   * (x - CAST(sx AS DOUBLE) / n) / sxxc AS h,
         s2
  FROM cust, coefs2
), cooked AS (
  SELECT o_custkey, x, y, e, h,
         e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) AS d
  FROM scored
), ranked AS (
  SELECT o_custkey, x AS n_orders,
         round(y / 100.0 + 1e-9, 2) AS spend,
         round(e / 100.0 + 1e-9, 2) AS resid,
         round(h + 1e-9, 6) AS leverage,
         round(d + 1e-9, 6) AS cook_d,
         CAST(row_number() OVER (
           ORDER BY round(d + 1e-9, 6) DESC, o_custkey
         ) AS BIGINT) AS rk
  FROM cooked
)
SELECT o_custkey, n_orders, spend, resid, leverage, cook_d, rk
FROM ranked WHERE rk <= 30
""",
)
def q322_cooks_distance_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out influence screen with NO refitting: Cook's
    distance for the per-customer regression spend ~ order_count,
    computed entirely from the closed-form hat values
    h_ii = 1/n + (x_i − x̄)²/Sxx — the Sherman-Morrison identity makes
    n leave-one-out refits a single aggregation pass plus one
    broadcast-back map (the q204 normal-equation family extended from
    coefficients to per-point influence). Reports the 30 most
    influential customers: the accounts whose removal moves the fitted
    spend to order-count relationship the most — the screen that runs
    before any revenue model is trusted at 100 TB.

    Exactness: all first-order sums are BIGINT; Σy² (which q204
    proved overflows int64 at scale) is summed as HUGEINT in DuckDB
    and decimal(38,0) in Spark — both exact integers — then cast to
    double ONCE, so both engines round the same exact value (a new
    instance of the cast-once rule that sidesteps the q261 overflow).
    Downstream double arithmetic uses identical expression trees; the
    top-30 selection orders by the ROUNDED distance with a unique key
    tie-break (footguns 2/3).
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice"]
    )
    cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    cust = cust.localCheckpoint(eager=False)  # sums + scored branches
    sums = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("syyd"),
    )
    nd = F.col("n")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    coefs = sums.select(
        "n",
        "sx",
        "sy",
        (F.col("sxx").cast("double") - sxd * sxd / nd).alias("sxxc"),
        (F.col("sxy").cast("double") - sxd * syd / nd).alias("sxyc"),
        (F.col("syyd") - syd * syd / nd).alias("syyc"),
    ).select(
        "n",
        "sx",
        "sxxc",
        (F.col("sxyc") / F.col("sxxc")).alias("slope"),
        (
            syd / nd - F.col("sxyc") / F.col("sxxc") * (sxd / nd)
        ).alias("icept"),
        (
            (F.col("syyc") - F.col("sxyc") / F.col("sxxc") * F.col("sxyc"))
            / (nd - 2)
        ).alias("s2"),
    )
    scored = cust.crossJoin(F.broadcast(coefs)).select(
        "o_custkey",
        "x",
        "y",
        (F.col("y") - (F.col("icept") + F.col("slope") * F.col("x"))).alias(
            "e"
        ),
        (
            F.lit(1.0) / nd
            + (F.col("x") - sxd / nd) * (F.col("x") - sxd / nd)
            / F.col("sxxc")
        ).alias("h"),
        "s2",
    )
    cooked = scored.select(
        "o_custkey",
        "x",
        "y",
        "e",
        "h",
        (
            F.col("e") * F.col("e") * F.col("h")
            / (
                2.0
                * F.col("s2")
                * (F.lit(1.0) - F.col("h"))
                * (F.lit(1.0) - F.col("h"))
            )
        ).alias("d"),
    )
    ranked = cooked.select(
        "o_custkey",
        F.col("x").alias("n_orders"),
        fround(F.col("y") / 100.0, 2).alias("spend"),
        fround(F.col("e") / 100.0, 2).alias("resid"),
        fround(F.col("h"), 6).alias("leverage"),
        fround(F.col("d"), 6).alias("cook_d"),
    )
    top = ranked.orderBy(F.desc("cook_d"), F.asc("o_custkey")).limit(30)
    return top.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("cook_d"), F.asc("o_custkey")))
        .cast("bigint"),
    )


@query(
    "q323_kendall_tau",
    tags=("statistics", "correlation", "exact"),
    oracle="""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS y
  FROM orders GROUP BY 1
), pairs AS (
  SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM monthly a JOIN monthly b ON a.m < b.m
), counted AS (
  SELECT CAST(sum(CASE WHEN (ax < bx AND ay < by)
                         OR (ax > bx AND ay > by) THEN 1 ELSE 0 END)
              AS BIGINT) AS concordant,
         CAST(sum(CASE WHEN (ax < bx AND ay > by)
                         OR (ax > bx AND ay < by) THEN 1 ELSE 0 END)
              AS BIGINT) AS discordant,
         CAST(sum(CASE WHEN ax = bx THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
         CAST(sum(CASE WHEN ay = by THEN 1 ELSE 0 END) AS BIGINT) AS ties_y,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM pairs
), months AS (
  SELECT CAST(count(*) AS BIGINT) AS n_months FROM monthly
)
SELECT n_months, n_pairs, concordant, discordant, ties_x, ties_y,
       CASE WHEN (n_pairs - ties_x) * (n_pairs - ties_y) > 0
            THEN round((concordant - discordant) * 1.0
                       / sqrt((n_pairs - ties_x) * 1.0
                              * (n_pairs - ties_y)) + 1e-9, 6)
            END AS tau_b
FROM counted, months
""",
)
def q323_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between monthly revenue and
    monthly active customers — the concordance-based sibling of the
    q283/q308 Spearman rho, preferred when the series are short and
    tie-heavy because every ingredient is an exact INTEGER pair count
    (concordant, discordant, tie-in-x, tie-in-y); the only float op is
    one sqrt of an exact integer product (IEEE correctly-rounded on
    both engines) and one division, absorbed by the fround pair.

    Scale: the pair join is over the MONTH grain — bounded by the
    calendar (n_pairs = months·(months−1)/2), never by row count, so
    the quadratic enumeration is a constant-size frame at any corpus
    size; the data-sized work is one groupBy(month) pass.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice", "o_orderdate"]
    )
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("m")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("x"),
            F.countDistinct("o_custkey").cast("bigint").alias("y"),
        )
    )
    monthly = monthly.localCheckpoint(eager=False)  # pair + count branches
    a = monthly.select(
        F.col("m").alias("ma"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = monthly.select(
        F.col("m").alias("mb"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    pairs = a.join(F.broadcast(b), F.col("ma") < F.col("mb"))
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("bigint")  # noqa: E731
    counted = pairs.agg(
        cnt(
            ((F.col("ax") < F.col("bx")) & (F.col("ay") < F.col("by")))
            | ((F.col("ax") > F.col("bx")) & (F.col("ay") > F.col("by")))
        ).alias("concordant"),
        cnt(
            ((F.col("ax") < F.col("bx")) & (F.col("ay") > F.col("by")))
            | ((F.col("ax") > F.col("bx")) & (F.col("ay") < F.col("by")))
        ).alias("discordant"),
        cnt(F.col("ax") == F.col("bx")).alias("ties_x"),
        cnt(F.col("ay") == F.col("by")).alias("ties_y"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    months = monthly.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    denom_ok = (
        (F.col("n_pairs") - F.col("ties_x"))
        * (F.col("n_pairs") - F.col("ties_y"))
        > 0
    )
    tau = fround(
        (F.col("concordant") - F.col("discordant"))
        * 1.0
        / F.sqrt(
            (F.col("n_pairs") - F.col("ties_x"))
            * 1.0
            * (F.col("n_pairs") - F.col("ties_y"))
        ),
        6,
    )
    return counted.crossJoin(F.broadcast(months)).select(
        "n_months",
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.when(denom_ok, tau).alias("tau_b"),
    )


@query(
    "q325_logrank_test",
    tags=("statistics", "survival", "hypothesis-test"),
    oracle=f"""
WITH {_PER_CUST_CTE}, horizon AS (
  SELECT max(last_d) AS end_d FROM per_cust
), life AS (
  SELECT CAST(p.last_d - p.first_d AS BIGINT) AS t,
         CASE WHEN p.last_d < h.end_d - 90 THEN 1 ELSE 0 END AS churned,
         CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp
  FROM per_cust p
  JOIN customer c ON c.c_custkey = p.o_custkey, horizon h
), hist AS (
  SELECT t,
         CAST(count(*) AS BIGINT) AS n_at,
         CAST(sum(grp) AS BIGINT) AS n1_at,
         CAST(sum(churned) AS BIGINT) AS d,
         CAST(sum(CASE WHEN grp = 1 THEN churned ELSE 0 END) AS BIGINT)
           AS d1
  FROM life GROUP BY t
), tot AS (
  SELECT CAST(sum(n_at) AS BIGINT) AS n_total,
         CAST(sum(n1_at) AS BIGINT) AS n1_total
  FROM hist
), risk AS (
  SELECT t, d, d1,
         n_total - CAST(coalesce(sum(n_at) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS n_risk,
         n1_total - CAST(coalesce(sum(n1_at) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS n1_risk
  FROM hist, tot
), terms AS (
  SELECT d, d1,
         d * n1_risk * 1.0 / n_risk AS e1,
         CASE WHEN n_risk > 1
              THEN d * (n1_risk * 1.0 / n_risk)
                     * (1.0 - n1_risk * 1.0 / n_risk)
                     * ((n_risk - d) * 1.0 / (n_risk - 1))
              ELSE 0.0 END AS v
  FROM risk WHERE d > 0
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_event_times,
         CAST(sum(d1) AS BIGINT) AS o1,
         sum(e1) AS e1, sum(v) AS v
  FROM terms
)
SELECT t.n1_total AS n_group1,
       t.n_total - t.n1_total AS n_group0,
       a.n_event_times, a.o1,
       round(a.e1 + 1e-9, 6) AS e1,
       round(a.v + 1e-9, 6) AS var_o1,
       CASE WHEN a.v > 0
            THEN round((a.o1 - a.e1) / sqrt(a.v) + 1e-9, 6) END AS z
FROM agg a, tot t
""",
)
def q325_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (Mantel-Cox): does the BUILDING market
    segment churn on a different survival curve than everyone else?
    Uses q201's exact survival convention (duration = first→last order
    span, churned = inactive in the final 90 days) and compares
    observed group-1 events against the hypergeometric expectation at
    every event time. The at-risk counts come from suffix sums over
    the DURATION grain — the window is bounded by the calendar span
    (q201/q227 argument), not by customer count, so the plan is two
    key-partitioned aggregations plus a constant-size window at any
    scale.

    Event/at-risk counts are exact BIGINTs; the E[O1] and variance
    accumulations are the documented q24 float-sum class (sums of
    O(1)-magnitude terms over a calendar-bounded frame), absorbed by
    the fround pair; z divides once and guards V = 0 with NULL on
    both engines.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderdate"]
    )
    customer = read_table(
        spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"]
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("first_d"),
        F.max(F.to_date("o_orderdate")).alias("last_d"),
    )
    per_cust = per_cust.localCheckpoint(eager=False)  # horizon + life
    horizon = per_cust.agg(F.max("last_d").alias("end_d"))
    life = (
        per_cust.join(
            F.broadcast(customer),
            per_cust["o_custkey"] == customer["c_custkey"],
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("last_d", "first_d").cast("bigint").alias("t"),
            F.when(
                F.col("last_d") < F.date_sub(F.col("end_d"), 90), 1
            )
            .otherwise(0)
            .alias("churned"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("grp"),
        )
    )
    hist = life.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at"),
        F.sum("grp").cast("bigint").alias("n1_at"),
        F.sum("churned").cast("bigint").alias("d"),
        F.sum(F.when(F.col("grp") == 1, F.col("churned")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
    )
    hist = hist.localCheckpoint(eager=False)  # tot + risk branches
    tot = hist.agg(
        F.sum("n_at").cast("bigint").alias("n_total"),
        F.sum("n1_at").cast("bigint").alias("n1_total"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = hist.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "d1",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_at").over(w_prev), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
        (
            F.col("n1_total")
            - F.coalesce(F.sum("n1_at").over(w_prev), F.lit(0))
        )
        .cast("bigint")
        .alias("n1_risk"),
    )
    share = F.col("n1_risk") * 1.0 / F.col("n_risk")
    terms = risk.where(F.col("d") > 0).select(
        "d",
        "d1",
        (F.col("d") * F.col("n1_risk") * 1.0 / F.col("n_risk")).alias("e1"),
        F.when(
            F.col("n_risk") > 1,
            F.col("d")
            * share
            * (F.lit(1.0) - share)
            * (
                (F.col("n_risk") - F.col("d"))
                * 1.0
                / (F.col("n_risk") - 1)
            ),
        )
        .otherwise(0.0)
        .alias("v"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1").alias("e1"),
        F.sum("v").alias("v"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("n1_total").alias("n_group1"),
        (F.col("n_total") - F.col("n1_total")).alias("n_group0"),
        "n_event_times",
        "o1",
        fround(F.col("e1"), 6).alias("e1"),
        fround(F.col("v"), 6).alias("var_o1"),
        F.when(
            F.col("v") > 0,
            fround((F.col("o1") - F.col("e1")) / F.sqrt("v"), 6),
        ).alias("z"),
    )


@query(
    "q328_cuped_adjustment",
    tags=("statistics", "experimentation", "variance-reduction"),
    oracle=f"""
WITH span AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS d0,
         max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
), cutoff AS (
  SELECT d0 + CAST((d1 - d0) // 2 AS INTEGER) AS cd FROM span
), cust AS (
  SELECT o_custkey,
         CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) < cd
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) >= cd
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM orders, cutoff GROUP BY o_custkey
), arms AS (
  SELECT x, y,
         CASE WHEN {_hash16_sql('cuped|', 'o_custkey')} % 2 = 1
              THEN 1 ELSE 0 END AS arm
  FROM cust
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxxd,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxyd,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syyd,
         CAST(sum(arm) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sxb,
         CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS syb
  FROM arms
), cent AS (
  SELECT n, sx, sy, nb, sxb, syb, n - nb AS na,
         sx - sxb AS sxa, sy - syb AS sya,
         sxxd - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS sxxc,
         sxyd - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS sxyc,
         syyd - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS syyc
  FROM sums
), coefs AS (
  SELECT n, sx, na, nb, sxa, sya, sxb, syb,
         sxyc / sxxc AS theta,
         sxyc * sxyc / (sxxc * syyc) AS rho2
  FROM cent
), adj AS (
  SELECT na, nb, theta, rho2,
         CAST(sya AS DOUBLE) / na AS raw_a,
         CAST(syb AS DOUBLE) / nb AS raw_b,
         CAST(sya AS DOUBLE) / na
           - theta * (CAST(sxa AS DOUBLE) / na
                      - CAST(sx AS DOUBLE) / n) AS madj_a,
         CAST(syb AS DOUBLE) / nb
           - theta * (CAST(sxb AS DOUBLE) / nb
                      - CAST(sx AS DOUBLE) / n) AS madj_b
  FROM coefs
)
SELECT na AS n_a, nb AS n_b,
       round(theta + 1e-9, 6) AS theta,
       round(rho2 + 1e-9, 6) AS rho2,
       round(raw_a / 100.0 + 1e-9, 2) AS mean_raw_a,
       round(raw_b / 100.0 + 1e-9, 2) AS mean_raw_b,
       round((raw_b - raw_a) / 100.0 + 1e-9, 2) AS diff_raw,
       round(madj_a / 100.0 + 1e-9, 2) AS mean_adj_a,
       round(madj_b / 100.0 + 1e-9, 2) AS mean_adj_b,
       round((madj_b - madj_a) / 100.0 + 1e-9, 2) AS diff_adj
FROM adj
""",
)
def q328_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout (Deng, Xu, Kohavi,
    Walker, WSDM 2013): customers hash-split into two arms (the q127
    content-stable assignment), post-period spend adjusted by the
    pre-period covariate, ŷ = y − θ(x − x̄) with θ = Cov(x,y)/Var(x).
    Reports raw vs adjusted arm means and deltas plus ρ² — the
    fraction of metric variance the covariate removes, i.e. how much
    smaller the experiment needs to be. On a null split (no real
    treatment) diff_adj shrinks toward zero exactly when pre- and
    post-period spend correlate.

    One groupBy(customer) pass then ONE global aggregation; θ and the
    adjusted means are pure algebra on exact sums (no second data
    pass — the same closed-form trick as q322). First-order sums stay
    BIGINT; the three second-order sums use the q322 HUGEINT /
    decimal(38,0) exact path, cast to double once.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice", "o_orderdate"]
    )
    span = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    cutoff = span.select(
        F.date_add(
            F.col("d0"),
            F.floor(F.datediff("d1", "d0") / 2).cast("int"),
        ).alias("cd")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cust = (
        orders.crossJoin(F.broadcast(cutoff))
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(F.to_date("o_orderdate") < F.col("cd"), cents)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.to_date("o_orderdate") >= F.col("cd"), cents)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    arms = cust.select(
        "x",
        "y",
        F.when(_hash16("cuped|", F.col("o_custkey")) % 2 == 1, 1)
        .otherwise(0)
        .alias("arm"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sums = arms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxxd"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxyd"),
        F.sum(dec("y") * F.col("y")).cast("double").alias("syyd"),
        F.sum("arm").cast("bigint").alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("sxb"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("syb"),
    )
    sxd, syd, nd = (
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
        F.col("n"),
    )
    cent = sums.select(
        "n",
        "sx",
        "sy",
        "nb",
        "sxb",
        "syb",
        (F.col("n") - F.col("nb")).alias("na"),
        (F.col("sx") - F.col("sxb")).alias("sxa"),
        (F.col("sy") - F.col("syb")).alias("sya"),
        (F.col("sxxd") - sxd * sxd / nd).alias("sxxc"),
        (F.col("sxyd") - sxd * syd / nd).alias("sxyc"),
        (F.col("syyd") - syd * syd / nd).alias("syyc"),
    )
    coefs = cent.select(
        "n",
        "sx",
        "na",
        "nb",
        "sxa",
        "sya",
        "sxb",
        "syb",
        (F.col("sxyc") / F.col("sxxc")).alias("theta"),
        (
            F.col("sxyc") * F.col("sxyc")
            / (F.col("sxxc") * F.col("syyc"))
        ).alias("rho2"),
    )
    adj = coefs.select(
        "na",
        "nb",
        "theta",
        "rho2",
        (F.col("sya").cast("double") / F.col("na")).alias("raw_a"),
        (F.col("syb").cast("double") / F.col("nb")).alias("raw_b"),
        (
            F.col("sya").cast("double") / F.col("na")
            - F.col("theta")
            * (
                F.col("sxa").cast("double") / F.col("na")
                - F.col("sx").cast("double") / F.col("n")
            )
        ).alias("madj_a"),
        (
            F.col("syb").cast("double") / F.col("nb")
            - F.col("theta")
            * (
                F.col("sxb").cast("double") / F.col("nb")
                - F.col("sx").cast("double") / F.col("n")
            )
        ).alias("madj_b"),
    )
    return adj.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        fround(F.col("theta"), 6).alias("theta"),
        fround(F.col("rho2"), 6).alias("rho2"),
        fround(F.col("raw_a") / 100.0, 2).alias("mean_raw_a"),
        fround(F.col("raw_b") / 100.0, 2).alias("mean_raw_b"),
        fround((F.col("raw_b") - F.col("raw_a")) / 100.0, 2).alias(
            "diff_raw"
        ),
        fround(F.col("madj_a") / 100.0, 2).alias("mean_adj_a"),
        fround(F.col("madj_b") / 100.0, 2).alias("mean_adj_b"),
        fround((F.col("madj_b") - F.col("madj_a")) / 100.0, 2).alias(
            "diff_adj"
        ),
    )


@query(
    "q332_pca_2x2_closed_form",
    tags=("statistics", "pca", "exact"),
    oracle="""
WITH joined AS (
  SELECT n.n_name,
         CAST(l.l_quantity AS BIGINT) AS q,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
), sums AS (
  SELECT n_name,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS sq,
         CAST(sum(p) AS BIGINT) AS sp,
         CAST(sum(q * q) AS BIGINT) AS sqq,
         CAST(sum(q * p) AS BIGINT) AS sqp,
         CAST(sum(CAST(p AS HUGEINT) * p) AS DOUBLE) AS sppd
  FROM joined GROUP BY n_name
), comps AS (
  SELECT n_name, n,
         (CAST(sqq AS DOUBLE)
            - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / (n - 1) AS a,
         (CAST(sqp AS DOUBLE)
            - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE) / n) / (n - 1) AS b,
         (sppd
            - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n) / (n - 1) AS c
  FROM sums
), eig AS (
  SELECT n_name, n, a, b, c,
         sqrt((a - c) * (a - c) + 4.0 * b * b) AS disc
  FROM comps
)
SELECT n_name, n,
       round(a + 1e-9, 2) AS var_qty,
       round(c + 1e-9, 2) AS var_price,
       round(b + 1e-9, 2) AS cov_qp,
       round((a + c + disc) / 2.0 + 1e-9, 2) AS lambda1,
       round((a + c - disc) / 2.0 + 1e-9, 2) AS lambda2,
       round((a + c + disc) / 2.0 / (a + c) + 1e-9, 6)
         AS explained_ratio
FROM eig
""",
)
def q332_pca_2x2_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation 2-feature PCA by closed-form symmetric eigenvalues:
    the covariance matrix of (quantity, price-in-cents) per supplier
    nation and its exact eigen decomposition
    λ = ((a+c) ± √((a−c)² + 4b²))/2 — principal components at any
    scale WITHOUT an iterative solver, because a 2×2 symmetric matrix
    has a radical solution and IEEE sqrt is correctly rounded on both
    engines (the same reason q323's tau denominator is safe, and the
    reason this stops at 2×2: bigger eigenproblems need iteration,
    which is q299/q125 unrolling territory). `explained_ratio`
    (λ1 / trace) is the one-number "is this 2-D data really 1-D"
    screen that runs before any projection decision.

    Covariance ingredients are exact: quantity and cents are integer
    sums in BIGINT, the price square sum uses the q322 HUGEINT /
    decimal(38,0) path, and every double expression tree is mirrored
    verbatim. One groupBy(nation) pass over the fact table; the two
    dims broadcast.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_suppkey", "l_quantity", "l_extendedprice"],
    )
    supp = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    nat = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    joined = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .select(
            "n_name",
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("p"),
        )
    )
    sums = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("p").cast("bigint").alias("sp"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
        F.sum(F.col("q") * F.col("p")).cast("bigint").alias("sqp"),
        F.sum(F.col("p").cast("decimal(38,0)") * F.col("p"))
        .cast("double")
        .alias("sppd"),
    )
    nd = F.col("n")
    sqd, spd = F.col("sq").cast("double"), F.col("sp").cast("double")
    comps = sums.select(
        "n_name",
        "n",
        (
            (F.col("sqq").cast("double") - sqd * sqd / nd) / (nd - 1)
        ).alias("a"),
        (
            (F.col("sqp").cast("double") - sqd * spd / nd) / (nd - 1)
        ).alias("b"),
        ((F.col("sppd") - spd * spd / nd) / (nd - 1)).alias("c"),
    )
    eig = comps.select(
        "n_name",
        "n",
        "a",
        "b",
        "c",
        F.sqrt(
            (F.col("a") - F.col("c")) * (F.col("a") - F.col("c"))
            + 4.0 * F.col("b") * F.col("b")
        ).alias("disc"),
    )
    return eig.select(
        "n_name",
        "n",
        fround(F.col("a"), 2).alias("var_qty"),
        fround(F.col("c"), 2).alias("var_price"),
        fround(F.col("b"), 2).alias("cov_qp"),
        fround((F.col("a") + F.col("c") + F.col("disc")) / 2.0, 2).alias(
            "lambda1"
        ),
        fround((F.col("a") + F.col("c") - F.col("disc")) / 2.0, 2).alias(
            "lambda2"
        ),
        fround(
            (F.col("a") + F.col("c") + F.col("disc"))
            / 2.0
            / (F.col("a") + F.col("c")),
            6,
        ).alias("explained_ratio"),
    )


def _ransac_key_sql(seed: str) -> str:
    """BIGINT selection key ``hash16 * 2^32 + custkey`` — a unique
    total order per hypothesis usable by DuckDB's scalar arg_min
    (struct ordering keys are Spark-only)."""
    h = _hash16_sql(
        seed, "(CAST(hyp AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR))"
    )
    return f"({h} * 4294967296 + o_custkey)"


@query(
    "q333_ransac_line_fit",
    tags=("statistics", "robust", "regression"),
    oracle=f"""
WITH cust AS (
  SELECT o_custkey,
         CAST(max(CAST(o_orderdate AS DATE))
              - min(CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS y
  FROM orders GROUP BY o_custkey
), hyps AS (
  SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS hyp
), pa AS (
  SELECT hyp,
         arg_min(x, {_ransac_key_sql('ransacA|')}) AS xa,
         arg_min(y, {_ransac_key_sql('ransacA|')}) AS ya
  FROM cust, hyps GROUP BY hyp
), pb AS (
  SELECT hyp,
         arg_min(x, {_ransac_key_sql('ransacB|')}) AS xb,
         arg_min(y, {_ransac_key_sql('ransacB|')}) AS yb
  FROM cust, hyps GROUP BY hyp
), hypf AS (
  SELECT pa.hyp, xa, ya, xb, yb, xb != xa AS valid
  FROM pa JOIN pb ON pa.hyp = pb.hyp
), counted AS (
  SELECT h.hyp,
         CAST(count(*) AS BIGINT) AS n_pts,
         CAST(sum(CASE WHEN abs((c.y - h.ya) * (h.xb - h.xa)
                                - (h.yb - h.ya) * (c.x - h.xa))
                            <= 55000000 * abs(h.xb - h.xa)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
  FROM hypf h JOIN cust c ON h.valid
  GROUP BY h.hyp
), report AS (
  SELECT h.hyp, h.xa, h.xb, h.valid,
         round(h.ya / 100.0 + 1e-9, 2) AS ya_dollars,
         round(h.yb / 100.0 + 1e-9, 2) AS yb_dollars,
         c.n_inliers,
         round(c.n_inliers * 1.0 / c.n_pts + 1e-9, 6) AS inlier_share,
         coalesce(c.n_inliers, -1) AS ord_key
  FROM hypf h LEFT JOIN counted c ON c.hyp = h.hyp
)
SELECT hyp, xa, ya_dollars, xb, yb_dollars, valid, n_inliers,
       inlier_share,
       CAST(row_number() OVER (ORDER BY ord_key DESC, hyp) AS BIGINT) = 1
         AS is_best
FROM report
""",
)
def q333_ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RANSAC (Fischler & Bolles 1981) for the robust
    customer spend ~ tenure line: 16 hypothesis point-pairs drawn by
    keyed-hash ranking (the q207/q228 resampling contract — seeded,
    partition-independent, reproducible at any parallelism), each
    scored by its exact inlier count. The inlier test cross-multiplies
    |（y−ya)(xb−xa) − (yb−ya)(x−xa)| ≤ t·|xb−xa| so membership is an
    INTEGER comparison — no division, no float residual, engine-exact
    (products are ≤ 2^40, far inside int64). The band half-width t =
    $550k in cents is sized to the corpus's median absolute residual
    (probed per the q296/q317 lesson: thresholds are measured, not
    guessed). Degenerate pairs (xa = xb) stay in the report flagged
    invalid with NULL counts.

    Scale: hypothesis selection is a map-side min_by per hypothesis
    (16 accumulators, no data-grain window); scoring broadcasts the
    16-row hypothesis frame over one pass of the customer grain.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice", "o_orderdate"]
    )
    cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.max(F.to_date("o_orderdate")), F.min(F.to_date("o_orderdate"))
        )
        .cast("bigint")
        .alias("x"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    cust = cust.localCheckpoint(eager=False)  # selection + scoring branches
    hyps = spark.range(16).select(F.col("id").cast("bigint").alias("hyp"))
    ch = cust.crossJoin(F.broadcast(hyps))

    def _key(seed: str):
        return (
            _hash16(
                seed,
                F.concat(
                    F.col("hyp").cast("string"),
                    F.lit("|"),
                    F.col("o_custkey").cast("string"),
                ),
            ).cast("bigint")
            * F.lit(4294967296).cast("bigint")
            + F.col("o_custkey")
        )

    pa = ch.groupBy("hyp").agg(
        F.min_by("x", _key("ransacA|")).alias("xa"),
        F.min_by("y", _key("ransacA|")).alias("ya"),
    )
    pb = ch.groupBy("hyp").agg(
        F.min_by("x", _key("ransacB|")).alias("xb"),
        F.min_by("y", _key("ransacB|")).alias("yb"),
    )
    hypf = pa.join(pb, "hyp").withColumn(
        "valid", F.col("xb") != F.col("xa")
    )
    hypf = hypf.localCheckpoint(eager=False)  # scoring + report branches
    inlier = (
        F.abs(
            (F.col("y") - F.col("ya")) * (F.col("xb") - F.col("xa"))
            - (F.col("yb") - F.col("ya")) * (F.col("x") - F.col("xa"))
        )
        <= F.lit(55000000) * F.abs(F.col("xb") - F.col("xa"))
    )
    counted = (
        hypf.where("valid")
        .crossJoin(cust)
        .groupBy("hyp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pts"),
            F.sum(F.when(inlier, 1).otherwise(0))
            .cast("bigint")
            .alias("n_inliers"),
        )
    )
    report = hypf.join(
        counted.select(
            F.col("hyp").alias("chyp"), "n_pts", "n_inliers"
        ),
        F.col("hyp") == F.col("chyp"),
        "left",
    ).select(
        "hyp",
        "xa",
        fround(F.col("ya") / 100.0, 2).alias("ya_dollars"),
        "xb",
        fround(F.col("yb") / 100.0, 2).alias("yb_dollars"),
        "valid",
        "n_inliers",
        fround(F.col("n_inliers") * 1.0 / F.col("n_pts"), 6).alias(
            "inlier_share"
        ),
        F.coalesce(F.col("n_inliers"), F.lit(-1)).alias("ord_key"),
    )
    from pyspark.sql.window import Window as _W

    return report.select(
        "hyp",
        "xa",
        "ya_dollars",
        "xb",
        "yb_dollars",
        "valid",
        "n_inliers",
        "inlier_share",
        (
            F.row_number().over(_W.orderBy(F.desc("ord_key"), F.asc("hyp")))
            == 1
        ).alias("is_best"),
    )


@query(
    "q337_theil_decomposition",
    tags=("statistics", "inequality", "economics"),
    oracle="""
WITH cust AS (
  SELECT o.o_custkey, c.c_nationkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey, c.c_nationkey
), gt AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS s,
         sum(y * ln(y)) AS l
  FROM cust
), grp AS (
  SELECT n.n_name,
         CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(y) AS BIGINT) AS sg,
         sum(y * ln(y)) AS lg
  FROM cust JOIN nation n ON n.n_nationkey = cust.c_nationkey
  GROUP BY n.n_name
)
SELECT g.n_name, g.ng,
       round(CAST(g.sg AS DOUBLE) / g.ng / 100.0 + 1e-9, 2)
         AS mean_spend,
       round(CAST(g.sg AS DOUBLE) / t.s + 1e-9, 6) AS revenue_share,
       round(g.lg / (g.ng * (CAST(g.sg AS DOUBLE) / g.ng))
             - ln(CAST(g.sg AS DOUBLE) / g.ng) + 1e-9, 6) AS theil_g,
       round(CAST(g.sg AS DOUBLE) / t.s
             * (g.lg / (g.ng * (CAST(g.sg AS DOUBLE) / g.ng))
                - ln(CAST(g.sg AS DOUBLE) / g.ng)) + 1e-9, 6)
         AS within_contrib,
       round(CAST(g.sg AS DOUBLE) / t.s
             * ln((CAST(g.sg AS DOUBLE) / g.ng)
                  / (CAST(t.s AS DOUBLE) / t.n)) + 1e-9, 6)
         AS between_contrib,
       round(t.l / (t.n * (CAST(t.s AS DOUBLE) / t.n))
             - ln(CAST(t.s AS DOUBLE) / t.n) + 1e-9, 6) AS theil_total
FROM grp g, gt t
""",
)
def q337_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index of customer revenue, decomposed by
    nation (Theil 1967): T = Σ(y/μ)ln(y/μ)/n splits EXACTLY into a
    within-group and a between-group part — the only standard
    inequality index with a clean additive decomposition (Gini, q119,
    has none), which is what makes it the revenue-concentration
    monitor you can drill by region: `within_contrib` says "how
    unequal inside this nation", `between_contrib` says "how much
    this nation's mean diverges from the global mean", and the two
    columns sum (over nations) to `theil_total` up to float dust.

    T reduces to (Σ y·ln y)/(n·μ) − ln μ, so ONE groupBy pass
    per grain suffices: integer cent sums (exact) plus a y·ln(y)
    accumulation (the documented q24 float-sum class — relative error
    ~1e-15, absorbed by the fround pair; ln on identical doubles is
    the q95/q158 precedent). No per-row second pass, no window.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice"]
    )
    customer = read_table(
        spark, sf_dir, "customer", ["c_custkey", "c_nationkey"]
    )
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    cust = (
        orders.join(
            F.broadcast(customer),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy("o_custkey", "c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    cust = cust.localCheckpoint(eager=False)  # global + group branches
    gt = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y") * F.log("y")).alias("l"),
    )
    grp = (
        cust.join(
            F.broadcast(nation),
            cust["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ng"),
            F.sum("y").cast("bigint").alias("sg"),
            F.sum(F.col("y") * F.log("y")).alias("lg"),
        )
    )
    sgd = F.col("sg").cast("double")
    sd = F.col("s").cast("double")
    mu_g = sgd / F.col("ng")
    mu = sd / F.col("n")
    theil_g = F.col("lg") / (F.col("ng") * mu_g) - F.log(mu_g)
    return grp.crossJoin(F.broadcast(gt)).select(
        "n_name",
        "ng",
        fround(mu_g / 100.0, 2).alias("mean_spend"),
        fround(sgd / F.col("s"), 6).alias("revenue_share"),
        fround(theil_g, 6).alias("theil_g"),
        fround(sgd / F.col("s") * theil_g, 6).alias("within_contrib"),
        fround(sgd / F.col("s") * F.log(mu_g / mu), 6).alias(
            "between_contrib"
        ),
        fround(
            F.col("l") / (F.col("n") * mu) - F.log(mu), 6
        ).alias("theil_total"),
    )


@query(
    "q342_sprt_return_rate_monitor",
    tags=("statistics", "sequential", "monitoring"),
    oracle="""
WITH day AS (
  SELECT o.o_orderpriority AS priority, l.l_shipdate AS d,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS r
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderpriority, l.l_shipdate
), scored AS (
  SELECT priority, d, n, r,
         CAST(sum(2877 * r - 1542 * (n - r))
              OVER (PARTITION BY priority ORDER BY d
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_llr
  FROM day
), flagged AS (
  SELECT priority, d, n, r, cum_llr,
         CASE WHEN abs(cum_llr) >= 29444 THEN 1 ELSE 0 END AS crossed,
         coalesce(CAST(sum(CASE WHEN abs(cum_llr) >= 29444 THEN 1
                                ELSE 0 END)
                       OVER (PARTITION BY priority ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS BIGINT), 0)
           AS prior_crossings
  FROM scored
)
SELECT priority, strftime(d, '%Y-%m-%d') AS day, n, r, cum_llr,
       CASE WHEN cum_llr >= 29444 THEN 'accept_drift'
            WHEN cum_llr <= -29444 THEN 'accept_null'
            ELSE 'continue' END AS decision,
       (crossed = 1 AND prior_crossings = 0) AS is_decision_day
FROM flagged
""",
)
def q342_sprt_return_rate_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wald's sequential probability ratio test (SPRT) run per order
    priority over the daily ship stream: is the return-flag rate at
    its baseline p0=0.30 or drifted to p1=0.40? Unlike the
    fixed-horizon tests (q177 Welch, q228 randomization), the SPRT is
    the MONITORING shape — it inspects the cumulative log-likelihood
    ratio after every day and stops the first time it leaves the
    (log B, log A) corridor, with both error rates controlled at
    α=β=0.05 by Wald's boundaries.

    Integer lattice: the per-day LLR increment r·ln(p1/p0) +
    (n−r)·ln(q1/q0) is rescaled to units of 1e-4 nats and ROUNDED TO
    INTEGERS ONCE, at design time (2877 = round(1e4·ln(4/3)), −1542 =
    round(1e4·ln(6/7)); boundary 29444 = round(1e4·ln(19))). The
    running statistic is then an exact BIGINT prefix sum — no float
    cumsum, so no segment-tree-vs-fold ulp divergence (the q110/q191
    class is designed out, not rounded away), and the ~5e-5-nat/step
    lattice error is orders below the boundary scale.

    `is_decision_day` marks the FIRST boundary crossing per priority
    (a real monitor freezes there; the full path after it is reported
    for audit). Aggregate-over-window is computed in a prior
    projection on both engines (the q272 DuckDB restriction).

    Scale: one corpus-sized groupBy to the (priority × day) grain;
    both windows run on that bounded frame (5 × |days|), partitioned
    by priority.
    """
    from pyspark.sql import Window

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_returnflag", "l_shipdate"],
    )
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_orderpriority"]
    )
    day = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("l_shipdate").alias("d"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("r"),
        )
    )
    w_cum = (
        Window.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = day.select(
        "priority", "d", "n", "r",
        F.sum(
            F.lit(2877) * F.col("r")
            - F.lit(1542) * (F.col("n") - F.col("r"))
        )
        .over(w_cum)
        .cast("bigint")
        .alias("cum_llr"),
    )
    w_prev = (
        Window.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    crossed = F.when(F.abs(F.col("cum_llr")) >= 29444, 1).otherwise(0)
    flagged = scored.select(
        "priority", "d", "n", "r", "cum_llr",
        crossed.alias("crossed"),
        F.coalesce(
            F.sum(crossed).over(w_prev).cast("bigint"), F.lit(0)
        ).alias("prior_crossings"),
    )
    return flagged.select(
        "priority",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n", "r", "cum_llr",
        F.when(F.col("cum_llr") >= 29444, "accept_drift")
        .when(F.col("cum_llr") <= -29444, "accept_null")
        .otherwise("continue")
        .alias("decision"),
        (
            (F.col("crossed") == 1) & (F.col("prior_crossings") == 0)
        ).alias("is_decision_day"),
    )


@query(
    "q347_hill_tail_index",
    tags=("statistics", "distribution", "topk"),
    oracle="""
WITH top AS (
  SELECT o_totalprice AS x,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey DESC)
           AS i
  FROM orders
  ORDER BY o_totalprice DESC, o_orderkey DESC
  LIMIT 101
), s AS (
  SELECT
    max(x) AS xtop,
    sum(CASE WHEN i <= 25 THEN ln(x) END) AS s25,
    max(CASE WHEN i = 26 THEN x END) AS x25,
    sum(CASE WHEN i <= 50 THEN ln(x) END) AS s50,
    max(CASE WHEN i = 51 THEN x END) AS x50,
    sum(CASE WHEN i <= 100 THEN ln(x) END) AS s100,
    max(CASE WHEN i = 101 THEN x END) AS x100
  FROM top
)
SELECT CAST(k AS BIGINT) AS k, xmin,
       CASE WHEN xmin = xtop THEN NULL
            ELSE round(h + 1e-9, 6) END AS hill_gamma,
       CASE WHEN xmin = xtop THEN NULL
            ELSE round(1.0 / h + 1e-9, 6) END AS tail_alpha
FROM (
  SELECT 25 AS k, x25 AS xmin, s25 / 25.0 - ln(x25) AS h, xtop FROM s
  UNION ALL SELECT 50, x50, s50 / 50.0 - ln(x50), xtop FROM s
  UNION ALL SELECT 100, x100, s100 / 100.0 - ln(x100), xtop FROM s
) t
""",
)
def q347_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator of the order-value distribution at
    k = 25/50/100 upper order statistics — the quantitative answer to
    "HOW heavy is the revenue tail" that q163's Zipf slope and q218's
    Pareto knee only eyeball: gamma_k = (1/k)*sum_{i<=k} ln(x_(i)) -
    ln(x_(k+1)), alpha = 1/gamma (alpha < 2: variance-infinite regime
    where mean-based capacity planning breaks). Reporting three k
    values IS the method — a stable plateau across k is the evidence
    the tail is genuinely Pareto rather than log-normal.

    Exactness: the top-101 selection is a total order (price desc,
    orderkey desc — rule 3) feeding TakeOrderedAndProject; ln() of
    bit-identical doubles is engine-stable by the repo's q158/q186
    precedent, and the <=100-term float sums land far inside the
    fround-6 absorption band (sum error ~1e-11 vs 5e-7 threshold).

    Scale: the ONLY data-sized operation is the top-k scan (partial
    per-partition top-101, no shuffle of the fact table); the rank
    window and the unpivot run on the 101-row bounded frame (the
    PLANS.md SinglePartition funnel policy).
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"]
    )
    top = (
        orders.orderBy(F.desc("o_totalprice"), F.desc("o_orderkey"))
        .limit(101)
        .select(F.col("o_totalprice").alias("x"), "o_orderkey")
    )
    w = Window.orderBy(F.desc("x"), F.desc("o_orderkey"))
    ranked = top.select("x", F.row_number().over(w).alias("i"))
    s = ranked.agg(
        F.max(F.col("x")).alias("xtop"),
        F.sum(F.when(F.col("i") <= 25, F.log("x"))).alias("s25"),
        F.max(F.when(F.col("i") == 26, F.col("x"))).alias("x25"),
        F.sum(F.when(F.col("i") <= 50, F.log("x"))).alias("s50"),
        F.max(F.when(F.col("i") == 51, F.col("x"))).alias("x50"),
        F.sum(F.when(F.col("i") <= 100, F.log("x"))).alias("s100"),
        F.max(F.when(F.col("i") == 101, F.col("x"))).alias("x100"),
    )
    stacked = s.select(
        F.expr(
            "stack(3,"
            " CAST(25 AS BIGINT), x25, s25 / 25.0 - ln(x25),"
            " CAST(50 AS BIGINT), x50, s50 / 50.0 - ln(x50),"
            " CAST(100 AS BIGINT), x100, s100 / 100.0 - ln(x100)"
            ") AS (k, xmin, h)"
        ),
        "xtop",
    )
    # Degenerate-tail guard (q201 ln(0)-class): if the (k+1)-th order
    # statistic equals the MAXIMUM, all top k+1 values are identical,
    # h is ulp-noise around 0, and 1/h diverges engine-specifically
    # (Spark double division yields Infinity; DuckDB depends on
    # ieee_floating_point_ops). The estimator is undefined there —
    # NULL both columns on both sides via the same exact raw-double
    # comparison. Unreachable on current testdata; armed against a
    # regenerated corpus.
    degenerate = F.col("xmin") == F.col("xtop")
    return stacked.select(
        "k",
        "xmin",
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(fround(F.col("h"), 6))
        .alias("hill_gamma"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(fround(F.lit(1.0) / F.col("h"), 6))
        .alias("tail_alpha"),
    )


#: Oracle CTE of ``_brand_returns``.
_BRAND_RETURNS_CTE = """j AS (
  SELECT p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS r
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand
)"""


def _brand_returns(li: DataFrame, part: DataFrame) -> DataFrame:
    """``(brand, n, r)``: lines and returned (``R``) lines per brand."""
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).cast("bigint").alias("r"),
        )
    )


@query(
    "q348_wilson_lower_bound",
    tags=("statistics", "ranking", "quality"),
    oracle=f"""
WITH {_BRAND_RETURNS_CTE}, w AS (
  SELECT brand, n, r,
         CAST(r AS DOUBLE) / n AS phat,
         CAST(n AS DOUBLE) AS nd
  FROM j
), b AS (
  SELECT brand, n, r, phat,
         (phat + (1.96 * 1.96) / (2.0 * nd)
          - 1.96 * sqrt(phat * (1.0 - phat) / nd
                        + (1.96 * 1.96) / (4.0 * nd * nd)))
         / (1.0 + (1.96 * 1.96) / nd) AS lb
  FROM w
)
SELECT brand, n, r,
       round(phat + 1e-9, 6) AS return_rate,
       round(lb + 1e-9, 6) AS wilson_lb,
       CAST(row_number() OVER (ORDER BY round(lb + 1e-9, 6) DESC, brand)
            AS BIGINT) AS wilson_rank,
       CAST(row_number() OVER (ORDER BY round(phat + 1e-9, 6) DESC, brand)
            AS BIGINT) AS naive_rank,
       row_number() OVER (ORDER BY round(lb + 1e-9, 6) DESC, brand)
         <> row_number() OVER (ORDER BY round(phat + 1e-9, 6) DESC, brand)
         AS rank_moved
FROM b
""",
)
def q348_wilson_lower_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower-bound ranking of per-brand return rates —
    the small-sample-honest league table: ranking by the raw rate lets
    a brand with 3 returns out of 5 lines outrank one with 400 out of
    1000, while the 95% Wilson lower bound shrinks small-n estimates
    toward zero exactly as hard as their evidence is thin (the
    Agresti-style interval behind "sort by best" comment ranking).
    rank_moved flags every brand whose position changes between the
    two orderings — the rows where naive ranking would mislead.

    Exactness: n and r are exact BIGINTs from one grouped pass; the
    bound is a fixed, identically-parenthesized double expression of
    (r, n) and the 1.96 literal (z^2 spelled 1.96*1.96 so both engines
    fold the SAME product — never a 3.8416 literal that may differ in
    the last ulp from the fold). Both rank windows order by the
    ROUNDED bound with the brand as tie-break (rules 2/3) so the sort
    key is cross-engine bit-identical.

    Scale: one fact-table pass with a broadcast dim join; every
    window sits on the 25-row brand frame (bounded funnel).
    """
    li = read_table(spark, sf_dir, "lineitem", ["l_partkey", "l_returnflag"])
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_brand"])
    j = _brand_returns(li, part)
    phat = F.col("r").cast("double") / F.col("n")
    nd = F.col("n").cast("double")
    z2 = F.lit(1.96) * F.lit(1.96)
    lb = (
        phat
        + z2 / (F.lit(2.0) * nd)
        - F.lit(1.96)
        * F.sqrt(
            phat * (F.lit(1.0) - phat) / nd
            + z2 / (F.lit(4.0) * nd * nd)
        )
    ) / (F.lit(1.0) + z2 / nd)
    b = j.select(
        "brand", "n", "r",
        fround(phat, 6).alias("return_rate"),
        fround(lb, 6).alias("wilson_lb"),
    )
    w_lb = Window.orderBy(F.desc("wilson_lb"), F.asc("brand"))
    w_naive = Window.orderBy(F.desc("return_rate"), F.asc("brand"))
    return b.select(
        "brand", "n", "r", "return_rate", "wilson_lb",
        F.row_number().over(w_lb).cast("bigint").alias("wilson_rank"),
        F.row_number().over(w_naive).cast("bigint").alias("naive_rank"),
        (
            F.row_number().over(w_lb) != F.row_number().over(w_naive)
        ).alias("rank_moved"),
    )


@query(
    "q349_matched_cohort_uplift",
    tags=("statistics", "causal", "join"),
    oracle="""
WITH outc AS (
  SELECT l_orderkey AS okey, CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey
), o AS (
  SELECT o_orderkey, o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         coalesce(n_lines, 0) AS n_lines
  FROM orders LEFT JOIN outc ON okey = o_orderkey
), treated AS (
  SELECT * FROM o WHERE priority IN ('1-URGENT', '2-HIGH')
), control AS (
  SELECT o_orderkey AS c_key, cents AS c_cents, n_lines AS c_lines,
         cents // 50000 AS c_cell
  FROM o WHERE priority = '5-LOW'
), cells AS (
  SELECT c_key, c_cents, c_lines, c_cell + d AS cell
  FROM control CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d)
), cand AS (
  SELECT t.o_orderkey, t.priority, t.cents, t.n_lines,
         c.c_key, c.c_cents, c.c_lines,
         abs(t.cents - c.c_cents) AS gap
  FROM treated t JOIN cells c ON c.cell = t.cents // 50000
  WHERE abs(t.cents - c.c_cents) <= 50000
), best AS (
  SELECT o_orderkey, priority, n_lines, c_lines, gap
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_orderkey ORDER BY gap, c_key) AS rn
    FROM cand
  ) WHERE rn = 1
), m AS (
  SELECT priority,
         CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(n_lines - c_lines) AS BIGINT) AS d_lines,
         CAST(sum(gap) AS BIGINT) AS sgap
  FROM best GROUP BY priority
), nt AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n_treated
  FROM treated GROUP BY priority
)
SELECT nt.priority, n_treated, coalesce(n_matched, 0) AS n_matched,
       round(CAST(d_lines AS DOUBLE) / n_matched + 1e-9, 4) AS att_lines,
       round(CAST(sgap AS DOUBLE) / n_matched / 100.0 + 1e-9, 4)
         AS mean_gap_dollars
FROM nt LEFT JOIN m USING (priority)
""",
)
def q349_matched_cohort_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matched-cohort uplift: every urgent/high-priority order is
    matched (with replacement) to its nearest '5-LOW' order by total
    price within a $500 caliper, and the average line-count difference
    over matched pairs estimates the priority effect with the
    order-size confounder held fixed — nearest-neighbor matching, the
    design-based sibling of q261's DiD (which needs a time dimension
    this comparison doesn't have).

    The nearest-within-caliper search never goes all-pairs: prices
    are bucketed into caliper-width integer-cent cells, controls
    explode to their 3 adjacent cells, and the equi-join on cell
    provably covers every pair within the caliper. Per-treated argmin
    is totally ordered by (gap, control key) — rule 3/footgun 6 — via
    one grouped min-struct (the q07 machinery) on the Spark side and
    the equivalent rn=1 window in the oracle.

    Exactness: cents, gaps, line counts, and their sums are exact
    BIGINTs end to end; the two reported averages are single integer
    ratios rounded per rule 2. Matching WITH replacement keeps the
    estimator order-free (greedy without-replacement matching is
    sequential and engine-dependent — deliberately not this query).

    Scale: one fact pass for outcomes, a x3 explode of the control
    side, and a cell equi-join whose fan-in per cell is bounded by
    the price histogram, not the table size.
    """
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey"])
    outc = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    orders = read_table(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    o = (
        orders.join(outc, orders.o_orderkey == outc.okey, "left")
        .select(
            "o_orderkey",
            F.col("o_orderpriority").alias("priority"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "cents"
            ),
            F.coalesce("n_lines", F.lit(0).cast("bigint")).alias("n_lines"),
        )
        .localCheckpoint(eager=False)  # treated + control branches
    )
    treated = o.where(F.col("priority").isin("1-URGENT", "2-HIGH"))
    control = o.where(F.col("priority") == "5-LOW").select(
        F.col("o_orderkey").alias("c_key"),
        F.col("cents").alias("c_cents"),
        F.col("n_lines").alias("c_lines"),
        F.expr("cents DIV 50000").alias("c_cell"),
    )
    cells = control.select(
        "c_key", "c_cents", "c_lines",
        F.explode(
            F.array(
                F.col("c_cell") - 1, F.col("c_cell"), F.col("c_cell") + 1
            )
        ).alias("cell"),
    )
    cand = (
        treated.join(
            cells, F.col("cell") == F.expr("cents DIV 50000")
        )
        .where(F.abs(F.col("cents") - F.col("c_cents")) <= 50000)
        .select(
            "o_orderkey", "priority", "n_lines", "c_lines", "c_key",
            F.abs(F.col("cents") - F.col("c_cents")).alias("gap"),
        )
    )
    best = (
        cand.groupBy("o_orderkey", "priority", "n_lines")
        .agg(F.min(F.struct("gap", "c_key", "c_lines")).alias("b"))
        .select(
            "priority", "n_lines",
            F.col("b.gap").alias("gap"),
            F.col("b.c_lines").alias("c_lines"),
        )
    )
    m = best.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.sum(F.col("n_lines") - F.col("c_lines")).cast("bigint").alias(
            "d_lines"
        ),
        F.sum("gap").cast("bigint").alias("sgap"),
    )
    nt = treated.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_treated")
    )
    return nt.join(m, "priority", "left").select(
        "priority", "n_treated",
        F.coalesce("n_matched", F.lit(0).cast("bigint")).alias("n_matched"),
        fround(
            F.col("d_lines").cast("double") / F.col("n_matched"), 4
        ).alias("att_lines"),
        fround(
            F.col("sgap").cast("double") / F.col("n_matched") / F.lit(100.0),
            4,
        ).alias("mean_gap_dollars"),
    )


@query(
    "q363_empirical_bayes_shrinkage",
    tags=("statistics", "ranking", "quality"),
    oracle=f"""
WITH {_BRAND_RETURNS_CTE}, pool1 AS (
  SELECT CAST(count(*) AS BIGINT) AS nb,
         avg(CAST(r AS DOUBLE) / n) AS mrate
  FROM j
), pool2 AS (
  SELECT nb, mrate,
         sum((CAST(r AS DOUBLE) / n - mrate)
             * (CAST(r AS DOUBLE) / n - mrate)) / (nb - 1) AS s2
  FROM j CROSS JOIN pool1
  GROUP BY nb, mrate
), prior AS (
  SELECT mrate,
         round(CASE WHEN round(s2 + 1e-9, 12) > 0
               THEN mrate * (1.0 - mrate) / s2 - 1.0
               ELSE 0.0 END + 1e-9, 6) AS m_strength
  FROM pool2
)
SELECT brand, n, r,
       round(CAST(r AS DOUBLE) / n + 1e-9, 6) AS raw_rate,
       m_strength,
       round((r + m_strength * mrate) / (n + m_strength) + 1e-9, 6)
         AS shrunk_rate,
       round((r + m_strength * mrate) / (n + m_strength)
             - CAST(r AS DOUBLE) / n + 1e-9, 6) + 0 AS shrink_delta
FROM j CROSS JOIN prior
""",
)
def q363_empirical_bayes_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes (beta-binomial, moment-matched) shrinkage of
    per-brand return rates: the prior strength M is estimated from the
    BETWEEN-brand rate dispersion (M = p(1-p)/s^2 - 1), and each
    brand's rate shrinks to (r + M*pbar)/(n + M) — small-n brands move
    hardest, the large-n brands barely move. The parametric companion
    to q348's Wilson bound: Wilson widens uncertainty per brand in
    isolation; EB borrows strength ACROSS brands.

    Exactness: (n, r) are exact BIGINTs; the between-brand variance
    is the TWO-PASS centered form sum((rate - mrate)^2)/(nb-1) — the
    one-pass m2 - nb*mrate^2 form cancels catastrophically on this
    data (brand rates nearly equal), and M = p(1-p)/s^2 amplifies the
    cross-engine sum-order ulp by ~1e9 (measured: a real sf0.1 ULP
    failure). Centered terms are positive, so the float sum carries
    full relative precision and M lands well inside fround-6. The s^2 > 0 branch tests the ROUNDED
    variance (12 dp) so an engine-ulp on an exactly-degenerate
    all-equal-rates corpus can never flip the CASE (the q212 NULL-
    ordering lesson generalized to comparisons); M itself ships
    rounded and the shrunk rates reuse that rounded M on both sides.
    shrink_delta can round to -0.0 (footgun 9), hence the +0 guard.

    Scale: one fact pass with a broadcast dim, then everything on the
    25-row brand frame crossed with a 1-row prior.
    """
    li = read_table(spark, sf_dir, "lineitem", ["l_partkey", "l_returnflag"])
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_brand"])
    j = _brand_returns(li, part).localCheckpoint(
        eager=False
    )  # pool + per-brand branches
    rate = F.col("r").cast("double") / F.col("n")
    pool1 = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.avg(rate).alias("mrate"),
    )
    dev = rate - F.col("mrate")
    pool2 = (
        j.crossJoin(F.broadcast(pool1))
        .groupBy("nb", "mrate")
        .agg((F.sum(dev * dev) / (F.col("nb") - 1)).alias("s2"))
    )
    prior = pool2.select(
        "mrate",
        fround(
            F.when(
                fround(F.col("s2"), 12) > 0,
                F.col("mrate") * (F.lit(1.0) - F.col("mrate"))
                / F.col("s2")
                - F.lit(1.0),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("m_strength"),
    )
    shrunk = (F.col("r") + F.col("m_strength") * F.col("mrate")) / (
        F.col("n") + F.col("m_strength")
    )
    return j.crossJoin(F.broadcast(prior)).select(
        "brand", "n", "r",
        fround(rate, 6).alias("raw_rate"),
        "m_strength",
        fround(shrunk, 6).alias("shrunk_rate"),
        (fround(shrunk - rate, 6) + F.lit(0)).alias("shrink_delta"),
    )


@query(
    "q376_cmh_stratified_association",
    tags=("statistics", "audit", "causal"),
    oracle="""
WITH base AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS hi,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
  FROM lineitem
), strata AS (
  SELECT y,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(hi) AS BIGINT) AS r1,
         CAST(sum(ret) AS BIGINT) AS c1,
         CAST(sum(hi * ret) AS BIGINT) AS a
  FROM base GROUP BY y
), per AS (
  SELECT y, n, r1, c1, a,
         (CAST(r1 AS DOUBLE) * c1) / n AS e,
         CAST(a * n - r1 * c1 AS DOUBLE) / n AS d,
         ((CAST(r1 AS DOUBLE) * (n - r1)) * (CAST(c1 AS DOUBLE) * (n - c1)))
           / ((CAST(n AS DOUBLE) * n) * (n - 1)) AS v,
         CAST(a * (n - r1 - c1 + a) AS DOUBLE) / n AS orn,
         CAST((r1 - a) * (c1 - a) AS DOUBLE) / n AS ord
  FROM strata WHERE n >= 2
), tot AS (
  SELECT sum(d) AS dsum, sum(v) AS vsum,
         sum(orn) AS onum, sum(ord) AS oden
  FROM per
)
SELECT y AS stratum_year, n, r1 AS n_high_discount, c1 AS n_returned,
       a AS n_high_returned,
       round(e + 1e-9, 6) AS expected_a,
       round(d + 1e-9, 6) + 0 AS excess_a,
       round(v + 1e-9, 6) AS variance_a,
       round((dsum * dsum) / vsum + 1e-9, 6) AS cmh_stat,
       round(onum / oden + 1e-9, 6) AS or_mh,
       round((dsum * dsum) / vsum + 1e-9, 6) > 3.841459 AS reject_indep
FROM per, tot
""",
)
def q376_cmh_stratified_association(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Mantel-Haenszel test of the discount -> return
    association STRATIFIED by ship year — the hypothesis test q249's
    Simpson's-paradox screen motivates but never runs: pooling years
    can manufacture or mask a discount/return association when both
    drift over time, and CMH asks "is there an association WITHIN
    strata, net of the confounder?" plus the Mantel-Haenszel common
    odds ratio as its effect size. One row per stratum (its 2x2
    margins and excess) with the global statistic and the chi2(1)
    5%-level decision replicated across rows.

    Exactness: each stratum's excess a - E keeps an EXACT BIGINT
    numerator (a*n - r1*c1, the cancellation happens in integers —
    the q363 lesson built in), so no float-sum cancellation exists
    anywhere; variances and odds-ratio legs are cast-ONCE double
    products (the q204 rule; BIGINT cross-products would overflow at
    sf ~5000); the <= |years|-term sums land far inside fround-6, and
    the reject flag compares the ROUNDED statistic to the literal
    3.841459 on both engines (q228 convention). excess_a can round to
    zero from below -> `+ 0` (footgun 9).

    Scale: one fact pass to the <= |years| stratum grain (map-side
    combined), then bounded-frame algebra and a 1-row broadcast back.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_shipdate", "l_discount", "l_returnflag"],
    )
    base = li.select(
        F.year("l_shipdate").cast("bigint").alias("y"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("hi"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    strata = base.groupBy("y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("hi").cast("bigint").alias("r1"),
        F.sum("ret").cast("bigint").alias("c1"),
        F.sum(F.col("hi") * F.col("ret")).cast("bigint").alias("a"),
    )
    n, r1, c1, a = F.col("n"), F.col("r1"), F.col("c1"), F.col("a")
    per = strata.where(n >= 2).select(
        "y", "n", "r1", "c1", "a",
        ((r1.cast("double") * c1) / n).alias("e"),
        ((a * n - r1 * c1).cast("double") / n).alias("d"),
        (
            ((r1.cast("double") * (n - r1)) * (c1.cast("double") * (n - c1)))
            / ((n.cast("double") * n) * (n - 1))
        ).alias("v"),
        ((a * (n - r1 - c1 + a)).cast("double") / n).alias("orn"),
        (((r1 - a) * (c1 - a)).cast("double") / n).alias("ord"),
    ).localCheckpoint(eager=False)  # totals + per-stratum branches
    tot = per.agg(
        F.sum("d").alias("dsum"),
        F.sum("v").alias("vsum"),
        F.sum("orn").alias("onum"),
        F.sum("ord").alias("oden"),
    )
    cmh = (F.col("dsum") * F.col("dsum")) / F.col("vsum")
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("y").alias("stratum_year"),
        "n",
        F.col("r1").alias("n_high_discount"),
        F.col("c1").alias("n_returned"),
        F.col("a").alias("n_high_returned"),
        fround(F.col("e"), 6).alias("expected_a"),
        (fround(F.col("d"), 6) + F.lit(0.0)).alias("excess_a"),
        fround(F.col("v"), 6).alias("variance_a"),
        fround(cmh, 6).alias("cmh_stat"),
        fround(F.col("onum") / F.col("oden"), 6).alias("or_mh"),
        (fround(cmh, 6) > 3.841459).alias("reject_indep"),
    )


@query(
    "q378_restricted_mean_survival",
    tags=("statistics", "survival"),
    oracle="""
WITH per_cust AS (
  SELECT o.o_custkey, c.c_mktsegment AS seg,
         min(CAST(o.o_orderdate AS DATE)) AS first_d,
         max(CAST(o.o_orderdate AS DATE)) AS last_d
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey, c.c_mktsegment
), horizon AS (
  SELECT max(last_d) AS end_d FROM per_cust
), life AS (
  SELECT seg, CAST(last_d - first_d AS BIGINT) AS t,
         CASE WHEN last_d < end_d - 90 THEN 1 ELSE 0 END AS churned
  FROM per_cust, horizon
), hist AS (
  SELECT seg, t,
         CAST(count(*) AS BIGINT) AS n_at,
         CAST(sum(churned) AS BIGINT) AS n_events
  FROM life GROUP BY seg, t
), tot AS (
  SELECT seg, CAST(sum(n_at) AS BIGINT) AS n_total FROM hist GROUP BY seg
), risk AS (
  SELECT h.seg, h.t, h.n_events,
         tt.n_total - CAST(coalesce(sum(h.n_at) OVER (
           PARTITION BY h.seg ORDER BY h.t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS n_risk,
         tt.n_total
  FROM hist h JOIN tot tt ON tt.seg = h.seg
), km AS (
  SELECT seg, t, n_events, n_risk, n_total,
         exp(sum(CASE WHEN n_events = n_risk THEN CAST('-inf' AS DOUBLE)
                      ELSE ln(1 - n_events * 1.0 / n_risk) END) OVER (
           PARTITION BY seg ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )) AS s
  FROM risk
), ev AS (
  SELECT seg, t, n_events, n_total, s,
         lag(t) OVER (PARTITION BY seg ORDER BY t) AS t_prev,
         lead(t) OVER (PARTITION BY seg ORDER BY t) AS t_next
  FROM km WHERE n_events > 0
), contrib AS (
  SELECT seg, n_total, n_events, t, s,
         (CASE WHEN t_prev IS NULL
               THEN CAST(least(t, 720) AS DOUBLE) ELSE 0.0 END)
         + s * greatest(least(coalesce(t_next, 720), 720) - least(t, 720), 0)
           AS area
  FROM ev
)
SELECT seg AS segment,
       CAST(max(n_total) AS BIGINT) AS n_customers,
       CAST(sum(n_events) AS BIGINT) AS n_events_total,
       round(sum(area) + 1e-9, 4) AS rmst_720,
       min(CASE WHEN s <= 0.5 THEN t END) AS median_days,
       round(coalesce(max_by(s, t) FILTER (t <= 720), 1.0) + 1e-9, 6)
         AS s_at_720
FROM contrib GROUP BY seg
""",
)
def q378_restricted_mean_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Restricted mean survival time at tau = 720 days per market
    segment — the SINGLE-NUMBER survival comparison the q201 curve and
    q325 log-rank lack: RMST is the area under the KM step function up
    to tau ("expected active days in the first two years"), the
    recommended effect measure when proportional hazards fails (Royston
    & Parmar 2013); reported with the KM median (first event time the
    curve crosses 1/2, NULL while it never does) and the survival
    level at tau. Same lifetime/censoring convention as q201/q325.

    Exactness: KM survival is exp(cumulative ln-factor sum) over a
    FIXED order (t within segment) — bit-identical cross-engine per
    q201; segment widths are exact integers (least/greatest clips),
    so each area term is one product, and the per-segment sum lands
    inside fround; the median test compares the raw bit-identical s to
    the literal 0.5; s_at_720 is max_by over the UNIQUE t key
    (footgun 6) with the DuckDB FILTER-NULL coalesced to 1.0 (the
    q272 lesson — no event by tau means the curve is still at 1).

    Scale: all windows run on the (segment x duration-day) HISTOGRAM
    grain — bounded by calendar span times |segments|, never by
    customer count (the q201 property, partitioned).
    """
    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderdate"])
    cust = read_table(
        spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"]
    )
    per_cust = (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
        .groupBy("o_custkey", "c_mktsegment")
        .agg(
            F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"), "first_d", "last_d"
        )
    )
    horizon = per_cust.agg(F.max("last_d").alias("end_d"))
    life = per_cust.crossJoin(F.broadcast(horizon)).select(
        "seg",
        F.datediff("last_d", "first_d").cast("bigint").alias("t"),
        F.when(
            F.col("last_d") < F.date_sub(F.col("end_d"), 90), 1
        ).otherwise(0).alias("churned"),
    )
    hist = life.groupBy("seg", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at"),
        F.sum("churned").cast("bigint").alias("n_events"),
    ).localCheckpoint(eager=False)  # totals + window branches
    tot = hist.groupBy("seg").agg(
        F.sum("n_at").cast("bigint").alias("n_total")
    )
    w_prev = (
        Window.partitionBy("seg")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("seg")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = hist.join(F.broadcast(tot), "seg").select(
        "seg",
        "t",
        "n_events",
        "n_total",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_at").over(w_prev), F.lit(0))
        ).cast("bigint").alias("n_risk"),
    )
    term = F.when(
        F.col("n_events") == F.col("n_risk"), F.lit(float("-inf"))
    ).otherwise(F.log(1 - F.col("n_events") * 1.0 / F.col("n_risk")))
    km = risk.withColumn("survival", F.exp(F.sum(term).over(w_cum))).where(
        F.col("n_events") > 0
    )
    w_seg = Window.partitionBy("seg").orderBy("t")
    ev = km.select(
        "seg", "t", "n_events", "n_total",
        F.col("survival").alias("s"),
        F.lag("t").over(w_seg).alias("t_prev"),
        F.lead("t").over(w_seg).alias("t_next"),
    )
    area = F.when(
        F.col("t_prev").isNull(),
        F.least(F.col("t"), F.lit(720)).cast("double"),
    ).otherwise(F.lit(0.0)) + F.col("s") * F.greatest(
        F.least(F.coalesce(F.col("t_next"), F.lit(720)), F.lit(720))
        - F.least(F.col("t"), F.lit(720)),
        F.lit(0),
    )
    contrib = ev.select(
        "seg", "n_total", "n_events", "t", "s", area.alias("area")
    )
    return contrib.groupBy(F.col("seg").alias("segment")).agg(
        F.max("n_total").cast("bigint").alias("n_customers"),
        F.sum("n_events").cast("bigint").alias("n_events_total"),
        fround(F.sum("area"), 4).alias("rmst_720"),
        F.min(F.when(F.col("s") <= 0.5, F.col("t"))).alias("median_days"),
        fround(
            F.coalesce(
                F.max_by(
                    F.when(F.col("t") <= 720, F.col("s")),
                    F.when(F.col("t") <= 720, F.col("t")),
                ),
                F.lit(1.0),
            ),
            6,
        ).alias("s_at_720"),
    )


@query(
    "q384_nelson_aalen_hazard",
    tags=("statistics", "survival", "window"),
    oracle=f"""
WITH {_CHURN_RISK_CTES}, na AS (
  SELECT t, n_events, n_risk,
         CAST(sum((1000000 * n_events) // n_risk) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_hazard_ppm
  FROM risk
)
SELECT t AS t_days, n_risk, n_events, cum_hazard_ppm,
       round(cum_hazard_ppm / 1000000.0 + 1e-9, 6) AS nelson_aalen,
       round(exp(-(cum_hazard_ppm / 1000000.0)) + 1e-9, 6)
         AS breslow_survival
FROM na WHERE n_events > 0
""",
)
def q384_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative churn hazard on q201's exact lifetime
    frame (days between first and last order, 90-day right-censoring)
    — the hazard-scale member of the survival family: q201 estimates
    S(t) multiplicatively (KM), q325 tests two curves against each
    other (log-rank), q378 integrates S (RMST), and this accumulates
    the raw risk intensity H(t) = Σ d_j/n_j, whose slope changes are
    what a retention team reads (constant slope = memoryless churn;
    flattening = loyalty cohort). Breslow's S(t) = exp(-H) rides
    along for a direct same-row comparison with q201's KM survival —
    the classic estimator-agreement check (they converge as n grows).

    Exactness: unlike q201's exp-of-log-sum float window, the hazard
    here is defined in FIXED-POINT millionths — each increment is the
    exact integer division (1e6*d) DIV n, the running window sum is
    pure BIGINT (order-insensitive, zero float accumulation; the
    operators/survival.py::nelson_aalen contract), and H = ppm/1e6 is
    the identical double on both engines. Only the final exp crosses
    libm (the q201/q158 precedent), absorbed by the fround pair.

    Scale: subjects reduce to the duration histogram FIRST, so the
    single ordered window is calendar-bounded (≤ span-days rows),
    never customer-bounded — q201's 100 TB property, inherited.
    """
    from ...operators.survival import nelson_aalen

    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderdate"])
    life = _churn_lifetimes(_customer_spans(orders))
    na = nelson_aalen(life)
    h = F.col("cum_hazard_ppm") / F.lit(1000000.0)
    return na.select(
        F.col("t").alias("t_days"),
        "n_risk",
        "n_events",
        "cum_hazard_ppm",
        fround(h, 6).alias("nelson_aalen"),
        fround(F.exp(-h), 6).alias("breslow_survival"),
    )


@query(
    "q393_power_analysis_planner",
    tags=("statistics", "experiment", "planner"),
    oracle="""
WITH obs AS (
  SELECT c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice) AS BIGINT) AS y,
         o.o_custkey AS cust
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), segs AS (
  SELECT segment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT cust) AS BIGINT) AS n_cust,
         CAST(CAST(sum(y) AS BIGINT) AS BIGINT) AS sy,
         CAST(CAST(sum(y * y) AS BIGINT) AS BIGINT) AS syy
  FROM obs GROUP BY segment HAVING count(*) >= 2
), stats AS (
  SELECT segment, n, n_cust,
         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS var
  FROM segs
), grid AS (
  SELECT CAST(mde_pct AS BIGINT) AS mde_pct,
         CAST(power_pct AS BIGINT) AS power_pct,
         CAST(zsum AS DOUBLE) AS zsum
  FROM (VALUES (1, 80, 2.801585), (2, 80, 2.801585),
               (5, 80, 2.801585), (10, 80, 2.801585),
               (1, 90, 3.241516), (2, 90, 3.241516),
               (5, 90, 3.241516), (10, 90, 3.241516)) t(mde_pct, power_pct, zsum)
)
SELECT segment, mde_pct, power_pct, n_cust,
       round(mu + 1e-9, 4) AS mu,
       round(sqrt(var) + 1e-9, 4) AS sd,
       CAST(ceil(2.0 * var * zsum * zsum
                 / ((CAST(mde_pct AS DOUBLE) * mu / 100.0)
                    * (CAST(mde_pct AS DOUBLE) * mu / 100.0))) AS BIGINT)
         AS n_per_arm,
       2 * CAST(ceil(2.0 * var * zsum * zsum
                     / ((CAST(mde_pct AS DOUBLE) * mu / 100.0)
                        * (CAST(mde_pct AS DOUBLE) * mu / 100.0))) AS BIGINT)
         <= n_cust AS feasible
FROM stats CROSS JOIN grid
""",
)
def q393_power_analysis_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test power planner: for every market segment and a grid of
    relative minimum-detectable effects (1/2/5/10 % of the segment's
    mean order value) at 80 %/90 % power, the required per-arm sample
    size n = 2 sigma^2 (z_a/2 + z_b)^2 / delta^2 — the standard
    two-sample normal-approximation formula — plus a feasibility flag
    against the segment's actual customer count. This is the query an
    experimentation platform runs BEFORE launching a test; it pairs
    with q177 (Welch analysis) and q342 (sequential monitoring).

    Engine-exactness: per-segment n/Σy/Σy² are exact BIGINTs in whole
    dollars (Σy² ~5e17 at sf1, inside int64); the one-pass variance
    casts each sum to double ONCE before any multiplication (n·Σy²
    would overflow int64 — the q214 rule) and is well-conditioned
    here (nothing divides BY it; cv ≈ 0.5, so the subtraction loses
    ~2 bits, not the q363 cancellation class). z-constant SUMS ship
    as single literals (2.801585 / 3.241516) so no cross-engine
    erf/quantile function is ever called (the q212 rule); ceil acts
    on identical doubles.

    Scale: one join + one aggregation to the 5-segment grain; the
    sweep is a 40-row planning frame.
    """
    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    obs = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("y"),
        F.col("o_custkey").alias("cust"),
    )
    segs = (
        obs.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count_distinct(F.col("cust")).cast("bigint").alias("n_cust"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        )
        .where(F.col("n") >= 2)
    )
    n_d = F.col("n").cast("double")
    stats = segs.select(
        "segment",
        "n",
        "n_cust",
        (F.col("sy").cast("double") / n_d).alias("mu"),
        (
            (n_d * F.col("syy").cast("double")
             - F.col("sy").cast("double") * F.col("sy").cast("double"))
            / (n_d * (n_d - 1.0))
        ).alias("var"),
    )
    grid = local_frame(spark, 
        [
            (1, 80, 2.801585), (2, 80, 2.801585),
            (5, 80, 2.801585), (10, 80, 2.801585),
            (1, 90, 3.241516), (2, 90, 3.241516),
            (5, 90, 3.241516), (10, 90, 3.241516),
        ],
        "mde_pct bigint, power_pct bigint, zsum double",
    )
    delta = F.col("mde_pct").cast("double") * F.col("mu") / 100.0
    n_arm = F.ceil(
        2.0 * F.col("var") * F.col("zsum") * F.col("zsum") / (delta * delta)
    ).cast("bigint")
    return stats.crossJoin(F.broadcast(grid)).select(
        "segment",
        "mde_pct",
        "power_pct",
        "n_cust",
        fround(F.col("mu"), 4).alias("mu"),
        fround(F.sqrt(F.col("var")), 4).alias("sd"),
        n_arm.alias("n_per_arm"),
        (2 * n_arm <= F.col("n_cust")).alias("feasible"),
    )


def _q404_expected_d2_sql() -> str:
    """Expected second-digit Benford share as a FIXED-ORDER 9-term
    chain: sum_k log10(1 + 1/(10k + d)) written out left-associated so
    both engines add the identical doubles in the identical order (a
    grouped float sum would be order-free only by accident)."""
    return " + ".join(
        f"log10(1 + 1.0 / ({10 * k} + d2))" for k in range(1, 10)
    )


def _expected_d2_spark():
    expr = None
    for k in range(1, 10):
        term = F.log10(1 + 1.0 / (F.lit(10 * k) + F.col("d2")))
        expr = term if expr is None else expr + term
    return expr


@query(
    "q404_benford_second_digit",
    tags=("statistics", "audit", "distribution"),
    oracle=f"""
WITH digits AS (
  SELECT CAST(substr(s, 2, 1) AS BIGINT) AS d2,
         CAST(substr(s, 1, 2) AS BIGINT) AS d12
  FROM (
    SELECT CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS s
    FROM orders
  )
), cont AS MATERIALIZED (
  SELECT d2, d12, CAST(count(*) AS BIGINT) AS nc
  FROM digits GROUP BY 1, 2
), tot AS MATERIALIZED (
  SELECT CAST(sum(nc) AS BIGINT) AS n FROM cont
), h2 AS (
  SELECT l.range AS d2, CAST(COALESCE(sum(c.nc), 0) AS BIGINT) AS n_obs
  FROM range(0, 10) l LEFT JOIN cont c ON c.d2 = l.range
  GROUP BY 1
), h12 AS (
  SELECT l.range AS d12, CAST(COALESCE(sum(c.nc), 0) AS BIGINT) AS n_obs
  FROM range(10, 100) l LEFT JOIN cont c ON c.d12 = l.range
  GROUP BY 1
), chi2 AS (
  SELECT sum(pow(n_obs - n * p, 2) / (n * p)) AS chi2, min(n) AS n
  FROM (SELECT h.n_obs, t.n, {_q404_expected_d2_sql()} AS p
        FROM h2 h CROSS JOIN tot t)
), chi12 AS (
  SELECT sum(pow(n_obs - n * p, 2) / (n * p)) AS chi2, min(n) AS n
  FROM (SELECT h.n_obs, t.n, log10(1 + 1.0 / d12) AS p
        FROM h12 h CROSS JOIN tot t)
)
SELECT 'second_digit' AS test, CAST(n AS BIGINT) AS n,
       CAST(9 AS BIGINT) AS df,
       round(chi2 + 1e-9, 4) AS chi2,
       round(chi2 + 1e-9, 4) > 16.919 AS reject_5pct
FROM chi2
UNION ALL
SELECT 'first_two_digits' AS test, CAST(n AS BIGINT) AS n,
       CAST(89 AS BIGINT) AS df,
       round(chi2 + 1e-9, 4) AS chi2,
       round(chi2 + 1e-9, 4) > 112.022 AS reject_5pct
FROM chi12
""",
)
def q404_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford SECOND-digit and first-TWO-digit chi-square tests on
    order totals — the forensic escalation of q200's first-digit
    audit (fabricators who learn the first-digit law still miss the
    flatter second-digit curve P(d) = Σ_k log10(1 + 1/(10k+d)) and
    the 90-cell first-two law). Both digits come from the integer
    CENTS string (exact, engine-identical substrings); both
    histograms reduce from ONE (d2, d12) contingency pass over the
    fact table, densified against literal digit lattices so zero
    cells still contribute their expected mass to chi-square.

    Exactness: digit extraction and cell counts are pure integers;
    the expected second-digit share is a fixed-order 9-term log10
    chain spelled identically on both engines (never a grouped float
    sum); the 10- and 90-term chi-square sums are the q24 float-sum
    class, absorbed by fround(4); rejection compares the ROUNDED
    statistic to the literal critical value (the q348 rule) at
    df = 9 / 89.

    Scale: one map-side digit projection, one shuffle to the ≤900-row
    contingency (checkpointed — it feeds both histograms and the
    total), then arithmetic on bounded lattices."""
    orders = read_table(spark, sf_dir, "orders", ["o_totalprice"])
    s = F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string")
    digits = orders.select(
        F.substring(s, 2, 1).cast("bigint").alias("d2"),
        F.substring(s, 1, 2).cast("bigint").alias("d12"),
    )
    cont = (
        digits.groupBy("d2", "d12")
        .agg(F.count(F.lit(1)).alias("nc"))
        .localCheckpoint(eager=False)  # feeds h2, h12, and the total
    )
    tot = cont.agg(F.sum("nc").cast("bigint").alias("n"))
    lat2 = spark.range(0, 10).select(F.col("id").alias("d2"))
    lat12 = spark.range(10, 100).select(F.col("id").alias("d12"))
    h2 = lat2.join(
        F.broadcast(cont.groupBy("d2").agg(F.sum("nc").alias("raw"))),
        "d2",
        "left",
    ).select(
        "d2", F.coalesce(F.col("raw"), F.lit(0)).cast("bigint").alias("n_obs")
    )
    h12 = lat12.join(
        F.broadcast(cont.groupBy("d12").agg(F.sum("nc").alias("raw"))),
        "d12",
        "left",
    ).select(
        "d12",
        F.coalesce(F.col("raw"), F.lit(0)).cast("bigint").alias("n_obs"),
    )

    def chi(frame: DataFrame, p_expr, label: str, df: int, crit: float):
        expected = F.col("n") * F.col("p")
        agg = (
            frame.crossJoin(F.broadcast(tot))
            .select("n_obs", "n", p_expr.alias("p"))
            .agg(
                F.sum(
                    F.pow(F.col("n_obs") - expected, 2) / expected
                ).alias("chi2"),
                F.min("n").alias("n"),
            )
        )
        rounded = fround(F.col("chi2"), 4)
        return agg.select(
            F.lit(label).alias("test"),
            F.col("n").cast("bigint").alias("n"),
            F.lit(df).cast("bigint").alias("df"),
            rounded.alias("chi2"),
            (rounded > F.lit(crit)).alias("reject_5pct"),
        )

    out2 = chi(h2, _expected_d2_spark(), "second_digit", 9, 16.919)
    out12 = chi(
        h12,
        F.log10(1 + 1.0 / F.col("d12")),
        "first_two_digits",
        89,
        112.022,
    )
    return out2.unionByName(out12)


# epoch microseconds of 2024-01-16T00:00:00Z — the pre/experiment
# period boundary for q405 (events span January 2024 at every SF;
# probed per the q296 sizing discipline). Inlined as an integer so
# both engines compare the SAME µs value with no timezone parsing.
_Q405_SPLIT_US = 1_705_363_200_000_000


@query(
    "q405_cuped_adjusted_ab",
    tags=("statistics", "testing", "variance-reduction"),
    oracle=f"""
WITH per_user AS MATERIALIZED (
  SELECT user_id,
         CASE WHEN {_hash16_sql('sprtarm', 'user_id')} < 32768
              THEN 'A' ELSE 'B' END AS arm,
         CAST(sum(CASE WHEN epoch_us(ts) < {_Q405_SPLIT_US}
                       THEN CAST(round(value * 100 + 1e-9) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN epoch_us(ts) >= {_Q405_SPLIT_US}
                       THEN CAST(round(value * 100 + 1e-9) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
), pooled AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM per_user
), model AS MATERIALIZED (
  SELECT n, sx,
         CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
              THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         END AS theta,
         CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                   > 0
              THEN pow(CAST(n AS DOUBLE) * sxy
                       - CAST(sx AS DOUBLE) * sy, 2)
                   / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * syy
                         - CAST(sy AS DOUBLE) * sy))
         END AS rho2
  FROM pooled
), arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(x) AS BIGINT) AS sxa, CAST(sum(y) AS BIGINT) AS sya
  FROM per_user GROUP BY arm
)
SELECT a.arm, a.n_users,
       round(CAST(a.sya AS DOUBLE) / a.n_users / 100 + 1e-9, 4)
         AS mean_spend,
       round((CAST(a.sya AS DOUBLE)
              - m.theta * (CAST(a.sxa AS DOUBLE)
                           - CAST(a.n_users AS DOUBLE)
                             * (CAST(m.sx AS DOUBLE) / m.n)))
             / a.n_users / 100 + 1e-9, 4) AS mean_spend_adj,
       round(m.theta + 1e-9, 6) AS theta,
       round(m.rho2 + 1e-9, 6) AS var_reduction
FROM arms a CROSS JOIN model m
""",
)
def q405_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013): adjust
    each arm's experiment-period spend by the pooled pre-period
    covariate — Y_adj = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) — the
    industry-standard companion to q177's Welch test that shrinks
    variance by ρ² without touching the treatment effect. Arms reuse
    q402's seeded hash split, so the two sequential/fixed-horizon
    readouts describe the same experiment.

    Exactness: per-user pre/post spends are exact cents from ONE
    conditional-sum pass (period boundary an inlined epoch-µs integer
    — no timezone parsing); the five pooled moments are exact BIGINT
    (per-user cents² stays < 2^46 through sf100); θ, ρ², and BOTH arm
    means come from fixed closed-form expressions over cast-once
    doubles (the q204 Cramer discipline — n·Σxy would overflow int64
    past sf1), so no data-sized float sum exists anywhere: the
    adjusted mean collapses to (ΣY_a − θ(ΣX_a − n_a·X̄))/n_a.
    Degenerate var(X) ≤ 0 yields NULL θ on both engines.

    Scale: one shuffle to the user grain, one 5-moment reduce, a
    2-row arm frame joined to the 1-row model — q204's shape."""
    ev = read_table(spark, sf_dir, "events", ["user_id", "ts", "value"])
    cents = F.round(F.col("value") * 100 + F.lit(1e-9), 0).cast("bigint")
    pre = F.unix_micros("ts") < _Q405_SPLIT_US
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(pre, cents).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(~pre, cents).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("y"),
        )
        .select(
            F.when(_hash16("sprtarm", F.col("user_id")) < 32768, "A")
            .otherwise("B")
            .alias("arm"),
            "x",
            "y",
        )
        .localCheckpoint(eager=False)  # feeds pooled moments AND arms
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    vx = nd * F.col("sxx") - sxd * F.col("sx")
    vy = nd * F.col("syy") - syd * F.col("sy")
    cxy = nd * F.col("sxy") - sxd * F.col("sy")
    model = pooled.select(
        "n",
        "sx",
        F.when(vx > 0, cxy / vx).alias("theta"),
        F.when(vx * vy > 0, F.pow(cxy, 2) / (vx * vy)).alias("rho2"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("sxa"),
        F.sum("y").cast("bigint").alias("sya"),
    )
    syad = F.col("sya").cast("double")
    adj = (
        syad
        - F.col("theta")
        * (
            F.col("sxa").cast("double")
            - F.col("n_users").cast("double")
            * (F.col("sx").cast("double") / F.col("n"))
        )
    ) / F.col("n_users") / 100
    return arms.crossJoin(F.broadcast(model)).select(
        "arm",
        "n_users",
        fround(syad / F.col("n_users") / 100, 4).alias("mean_spend"),
        fround(adj, 4).alias("mean_spend_adj"),
        fround(F.col("theta"), 6).alias("theta"),
        fround(F.col("rho2"), 6).alias("var_reduction"),
    )


# The five TPC-H order priorities, in their built-in dose order (the
# leading digit makes lexicographic order == severity order). Literal
# keys so the closing Kruskal-Wallis H is a FIXED five-term expression
# tree, never an engine-ordered float aggregation (the q404 chain
# rule).
_PRIORITIES = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)


#: Oracle CTEs of ``_priority_ties``.
_PRIORITY_TIES_CTES = """obs AS (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
), hv AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS tot,
         CAST(sum(CASE WHEN grp = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN grp = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(sum(CASE WHEN grp = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(sum(CASE WHEN grp = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         CAST(sum(CASE WHEN grp = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS c5
  FROM obs GROUP BY v
)"""


def _priority_ties(orders: DataFrame) -> DataFrame:
    """``(v, tot, c1..c5)``: orders per exact price in cents ``v``, in
    total and per order priority (``_PRIORITIES`` order) — the tie
    groups of a rank test over the five priorities."""
    obs = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    return obs.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("tot"),
        *[
            F.sum(F.when(F.col("grp") == g, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{i}")
            for i, g in enumerate(_PRIORITIES, 1)
        ],
    )


@query(
    "q407_kruskal_wallis",
    tags=("statistics", "hypothesis-test"),
    oracle=f"""
WITH {_PRIORITY_TIES_CTES}, rk AS MATERIALIZED (
  SELECT c1, c2, c3, c4, c5, tot,
         2 * CAST(sum(tot) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) - tot + 1 AS two_r
  FROM hv
), tots AS (
  SELECT CAST(sum(tot) AS BIGINT) AS n_total,
         CAST(sum(tot * tot * tot - tot) AS BIGINT) AS ties
  FROM hv
), gr AS MATERIALIZED (
  SELECT g.grp AS priority,
         CAST(sum(CASE g.idx WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3
                             WHEN 4 THEN c4 ELSE c5 END) AS BIGINT) AS n_group,
         CAST(sum(CASE g.idx WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3
                             WHEN 4 THEN c4 ELSE c5 END * two_r)
              AS BIGINT) AS rank_sum2
  FROM rk CROSS JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2),
                             ('3-MEDIUM', 3), ('4-NOT SPECIFIED', 4),
                             ('5-LOW', 5)) g(grp, idx)
  GROUP BY g.grp
), st AS (
  SELECT CAST(coalesce(sum(CASE WHEN priority = '1-URGENT' THEN n_group END), 0) AS BIGINT) AS n1,
         CAST(coalesce(sum(CASE WHEN priority = '2-HIGH' THEN n_group END), 0) AS BIGINT) AS n2,
         CAST(coalesce(sum(CASE WHEN priority = '3-MEDIUM' THEN n_group END), 0) AS BIGINT) AS n3,
         CAST(coalesce(sum(CASE WHEN priority = '4-NOT SPECIFIED' THEN n_group END), 0) AS BIGINT) AS n4,
         CAST(coalesce(sum(CASE WHEN priority = '5-LOW' THEN n_group END), 0) AS BIGINT) AS n5,
         CAST(coalesce(sum(CASE WHEN priority = '1-URGENT' THEN rank_sum2 END), 0) AS BIGINT) AS r1,
         CAST(coalesce(sum(CASE WHEN priority = '2-HIGH' THEN rank_sum2 END), 0) AS BIGINT) AS r2,
         CAST(coalesce(sum(CASE WHEN priority = '3-MEDIUM' THEN rank_sum2 END), 0) AS BIGINT) AS r3,
         CAST(coalesce(sum(CASE WHEN priority = '4-NOT SPECIFIED' THEN rank_sum2 END), 0) AS BIGINT) AS r4,
         CAST(coalesce(sum(CASE WHEN priority = '5-LOW' THEN rank_sum2 END), 0) AS BIGINT) AS r5
  FROM gr
), h AS (
  SELECT n_total, ties,
         (CASE WHEN n1 > 0 THEN CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE) / (4.0 * n1) ELSE 0.0 END
          + CASE WHEN n2 > 0 THEN CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / (4.0 * n2) ELSE 0.0 END
          + CASE WHEN n3 > 0 THEN CAST(r3 AS DOUBLE) * CAST(r3 AS DOUBLE) / (4.0 * n3) ELSE 0.0 END
          + CASE WHEN n4 > 0 THEN CAST(r4 AS DOUBLE) * CAST(r4 AS DOUBLE) / (4.0 * n4) ELSE 0.0 END
          + CASE WHEN n5 > 0 THEN CAST(r5 AS DOUBLE) * CAST(r5 AS DOUBLE) / (4.0 * n5) ELSE 0.0 END) AS s,
         CAST((CASE WHEN n1 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN n2 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN n3 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN n4 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN n5 > 0 THEN 1 ELSE 0 END) - 1 AS BIGINT) AS df
  FROM st CROSS JOIN tots
), hh AS (
  SELECT n_total, df,
         12.0 / (n_total * (n_total + 1)) * s - 3.0 * (n_total + 1) AS h_stat,
         1.0 - CAST(ties AS DOUBLE)
               / (CAST(n_total AS DOUBLE) * n_total * n_total - n_total) AS tie_c
  FROM h
)
SELECT g.priority, g.n_group, g.rank_sum2,
       round(CASE WHEN g.n_group > 0
                  THEN g.rank_sum2 / (2.0 * g.n_group) END + 1e-9, 6) AS mean_rank,
       hh.n_total,
       round(hh.h_stat + 1e-9, 4) + 0 AS h_stat,
       round(CASE WHEN hh.tie_c > 0 THEN hh.h_stat / hh.tie_c END + 1e-9, 4)
         + 0 AS h_tie_corrected,
       hh.df,
       CASE WHEN hh.df = 4
            THEN round(CASE WHEN hh.tie_c > 0
                            THEN hh.h_stat / hh.tie_c END + 1e-9, 4) > 9.487729
       END AS reject_5pct
FROM gr g CROSS JOIN hh
""",
)
def q407_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: does the order-total distribution differ
    across the five order priorities? The k-group generalization of
    q211's Mann-Whitney (which only compares pairs) and the
    nonparametric sibling of q187's ANOVA — the test a pipeline runs
    when the response is heavy-tailed money and a mean-based F is
    untrustworthy.

    Exactness: ranks live on the distinct-CENTS histogram where the
    doubled average rank 2·R(v) = 2·cumcount − tot + 1 is an exact
    BIGINT, so every per-group rank sum (Σ c_k(v)·2R(v) ≤ N·(2N+1),
    inside int64 through sf1000) and the tie term Σ(t³−t) are pure
    integers; the closing H and its tie correction are a FIXED
    five-literal-group expression tree over cast-once doubles (never
    an engine-ordered float aggregation — the q404 chain rule), and
    the reject flag compares the ROUNDED corrected H to the literal
    χ²(4) critical value, defined only at df = 4 (the q377 rule).

    Scale: the global rank prefix-sum is the two-level
    operators/rankops.py::bucketed_rank_cumsum — no data-sized
    single-partition window; everything after the histogram is a
    ≤5-row frame. Oracle uses the plain global window (single-node
    DuckDB), equivalence pinned by the q199 property tests.
    """
    from ...operators.rankops import bucketed_rank_cumsum

    orders = read_table(
        spark, sf_dir, "orders", ["o_orderpriority", "o_totalprice"]
    )
    hv = _priority_ties(orders)
    rk = bucketed_rank_cumsum(
        hv, "v", (), "tot", rank_out="_rk", cum_out="_cum"
    ).select(
        "c1",
        "c2",
        "c3",
        "c4",
        "c5",
        "tot",
        (2 * F.col("_cum").cast("bigint") - F.col("tot") + 1)
        .cast("bigint")
        .alias("two_r"),
    )
    # two downstream branches (group rank sums + the N/ties totals)
    rk = rk.localCheckpoint()
    tots = rk.agg(
        F.sum("tot").cast("bigint").alias("n_total"),
        F.sum(F.col("tot") * F.col("tot") * F.col("tot") - F.col("tot"))
        .cast("bigint")
        .alias("ties"),
    )
    stack_expr = "stack(5, " + ", ".join(
        f"'{g}', c{i}" for i, g in enumerate(_PRIORITIES, 1)
    ) + ") as (priority, cnt)"
    gr = (
        rk.select("two_r", F.expr(stack_expr))
        .groupBy("priority")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_group"),
            F.sum(F.col("cnt") * F.col("two_r"))
            .cast("bigint")
            .alias("rank_sum2"),
        )
        .localCheckpoint()  # feeds both the output rows and the H row
    )
    st = gr.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("priority") == g, F.col("n_group"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"n{i}")
            for i, g in enumerate(_PRIORITIES, 1)
        ],
        *[
            F.coalesce(
                F.sum(F.when(F.col("priority") == g, F.col("rank_sum2"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"r{i}")
            for i, g in enumerate(_PRIORITIES, 1)
        ],
    )
    term = None
    df_expr = None
    for i in range(1, 6):
        n_i, r_i = F.col(f"n{i}"), F.col(f"r{i}")
        t_i = F.when(
            n_i > 0,
            r_i.cast("double") * r_i.cast("double") / (4.0 * n_i),
        ).otherwise(F.lit(0.0))
        d_i = F.when(n_i > 0, 1).otherwise(0)
        term = t_i if term is None else term + t_i
        df_expr = d_i if df_expr is None else df_expr + d_i
    n_t = F.col("n_total")
    h = st.crossJoin(F.broadcast(tots)).select(
        "n_total",
        (F.lit(12.0) / (n_t * (n_t + 1)) * term - 3.0 * (n_t + 1)).alias(
            "h_stat"
        ),
        (
            F.lit(1.0)
            - F.col("ties").cast("double")
            / (n_t.cast("double") * n_t * n_t - n_t)
        ).alias("tie_c"),
        (df_expr - 1).cast("bigint").alias("df"),
    )
    h_corr = fround(
        F.when(F.col("tie_c") > 0, F.col("h_stat") / F.col("tie_c")), 4
    )
    return gr.crossJoin(F.broadcast(h)).select(
        "priority",
        "n_group",
        "rank_sum2",
        fround(
            F.when(
                F.col("n_group") > 0,
                F.col("rank_sum2") / (2.0 * F.col("n_group")),
            ),
            6,
        ).alias("mean_rank"),
        "n_total",
        (fround(F.col("h_stat"), 4) + F.lit(0.0)).alias("h_stat"),
        (h_corr + F.lit(0.0)).alias("h_tie_corrected"),
        "df",
        F.when(F.col("df") == 4, h_corr > 9.487729).alias("reject_5pct"),
    )


@query(
    "q408_cochran_armitage_trend",
    tags=("statistics", "hypothesis-test", "dose-response"),
    oracle="""
WITH obs AS (
  SELECT l_linestatus AS linestatus,
         CAST(round(l_discount * 100) AS BIGINT) AS t,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS x
  FROM lineitem
), agg AS (
  SELECT linestatus,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS r,
         CAST(sum(t) AS BIGINT) AS st_n,
         CAST(sum(t * t) AS BIGINT) AS st2_n,
         CAST(sum(t * x) AS BIGINT) AS st_r
  FROM obs GROUP BY linestatus
), pre AS (
  SELECT linestatus, n, r,
         n * st_r - r * st_n AS num,
         CAST(n AS DOUBLE) * st2_n - CAST(st_n AS DOUBLE) * st_n
           AS den_t
  FROM agg
), z AS (
  SELECT linestatus, n, r, num,
         CASE WHEN r > 0 AND r < n AND den_t > 0
              THEN CAST(num AS DOUBLE) * sqrt(n - 1.0)
                   / sqrt(CAST(r AS DOUBLE) * (n - r) * den_t)
         END AS z_trend
  FROM pre
)
SELECT linestatus,
       n AS n_lines,
       r AS n_returned,
       num AS trend_num,
       round(z_trend + 1e-9, 6) + 0 AS z_trend,
       round(z_trend * z_trend + 1e-9, 4) AS z2,
       round(z_trend * z_trend + 1e-9, 4) > 3.841459 AS reject_5pct
FROM z
""",
)
def q408_cochran_armitage_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage trend test per line status: does return
    probability rise (or fall) MONOTONICALLY with the discount dose
    (the exact integer percent lattice 0..10)? The dose-response
    member of the association family — q376's CMH asks "is there an
    association controlling for strata", this asks the sharper
    ordered question "is it a trend in the dose", which is the test a
    pricing team actually wants before touching the discount ladder.

    Statistic: with dose scores t_i, group sizes n_i, successes r_i,
    Z = (N·Σt_i r_i − R·Σt_i n_i)·√(N−1) /
    √(R(N−R)(N·Σt_i²n_i − (Σt_i n_i)²)) — the hypergeometric-variance
    form whose numerator is an EXACT BIGINT (t ≤ 10 ⇒ the num
    products and num's own value stay ≤ 10N² < 2^63 through
    N < 9.6e8 ≈ sf300 at this profile — past that no int64 display
    of trend_num exists at all). The dose spread den_t is assembled
    from the exact BIGINT sums as a cast-once double pair with
    IDENTICAL trees on both engines (the q261/q409 rule, applied
    proactively in round 13: as BIGINT products it crossed int64
    near ~sf100); it only feeds the sqrt, and its relative float
    error ~1e-16·(100N²/den_t) stays negligible for any
    non-degenerate dose mix (den_t ≈ 4·var(t)·N² with var(t) ≈ 8 on
    this lattice — the q363 catastrophic class needs var(t) ~ 1e-10,
    excluded by the den_t > 0 guard's practical range). The q363
    float-cancellation class is structurally absent from the
    NUMERATOR (integer, the q376 discipline); the only other float
    surface is the closing fixed expression, and the reject flag
    compares the ROUNDED z² to the literal χ²(1) critical value
    (q404 rule). Degenerate guards are exact integer tests: r = 0,
    r = N, or a single dose level yields NULL z, never an ANSI error.

    Scale: one map-side projection + one reduce to the 2-row
    linestatus grain — no join, no window, nothing data-sized
    survives the groupBy.
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_linestatus", "l_discount", "l_returnflag"],
    )
    obs = li.select(
        F.col("l_linestatus").alias("linestatus"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("t"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("x"),
    )
    agg = obs.groupBy("linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("r"),
        F.sum("t").cast("bigint").alias("st_n"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("st2_n"),
        F.sum(F.col("t") * F.col("x")).cast("bigint").alias("st_r"),
    )
    n, r = F.col("n"), F.col("r")
    pre = agg.select(
        "linestatus",
        "n",
        "r",
        (n * F.col("st_r") - r * F.col("st_n")).alias("num"),
        (
            n.cast("double") * F.col("st2_n")
            - F.col("st_n").cast("double") * F.col("st_n")
        ).alias("den_t"),
    )
    z = F.when(
        (r > 0) & (r < n) & (F.col("den_t") > 0),
        F.col("num").cast("double")
        * F.sqrt(n - 1.0)
        / F.sqrt(r.cast("double") * (n - r) * F.col("den_t")),
    )
    pre = pre.withColumn("z_trend", z)
    z2 = fround(F.col("z_trend") * F.col("z_trend"), 4)
    return pre.select(
        "linestatus",
        n.alias("n_lines"),
        r.alias("n_returned"),
        F.col("num").alias("trend_num"),
        (fround(F.col("z_trend"), 6) + F.lit(0.0)).alias("z_trend"),
        z2.alias("z2"),
        (z2 > 3.841459).alias("reject_5pct"),
    )


@query(
    "q409_jonckheere_terpstra",
    tags=("statistics", "hypothesis-test", "dose-response"),
    oracle="""
WITH obs AS MATERIALIZED (
  SELECT o_orderpriority AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS value
  FROM orders
), pairs AS (
  SELECT a.grp AS ta, b.grp AS tb
  FROM (SELECT DISTINCT grp FROM obs) a
  JOIN (SELECT DISTINCT grp FROM obs) b ON a.grp < b.grp
), tagged AS (
  SELECT p.ta, p.tb, o.value,
         CASE WHEN o.grp = p.ta THEN 1 ELSE 0 END AS is_a
  FROM obs o JOIN pairs p ON o.grp = p.ta OR o.grp = p.tb
), hist AS (
  SELECT ta, tb, value,
         CAST(sum(is_a) AS BIGINT) AS ca,
         CAST(count(*) - sum(is_a) AS BIGINT) AS cb,
         CAST(count(*) AS BIGINT) AS tot
  FROM tagged GROUP BY ta, tb, value
), ranked AS (
  SELECT ta, tb, ca, cb, tot,
         CAST(sum(tot) OVER (PARTITION BY ta, tb ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - tot + (tot + 1) / 2.0 AS avg_rank
  FROM hist
), mwstats AS (
  SELECT ta, tb,
         CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b,
         sum(ca * avg_rank) AS r_a
  FROM ranked GROUP BY ta, tb
), jt AS (
  SELECT sum(n_a * n_b - (r_a - n_a * (n_a + 1) / 2.0)) AS jt_stat
  FROM mwstats
), g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n FROM obs GROUP BY grp
), g2 AS (
  SELECT n, n * n AS n2,
         (n * n) // 67108864 AS hi,
         (n * n) % 67108864 AS lo
  FROM g
), ga AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_groups,
         CAST(sum(n2) AS BIGINT) AS sn2,
         CAST(sum(hi * n) AS BIGINT) AS s1,
         CAST(sum(lo * n) AS BIGINT) AS s2lo
  FROM g2
), gb AS (
  SELECT n_total, n_groups, sn2,
         CAST(s1 AS DOUBLE) * 67108864.0 + s2lo AS sn3,
         sn2 - n_total AS s4g
  FROM ga
), gc AS (
  SELECT n_total, n_groups, sn2, s4g,
         2.0 * sn3 + 3.0 * sn2 - 5.0 * n_total AS s2g,
         sn3 - 3.0 * sn2 + 2.0 * n_total AS s3g
  FROM gb
), vh AS (
  SELECT value, CAST(count(*) AS BIGINT) AS t FROM obs GROUP BY value
), va AS (
  SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS s2t,
         CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS s3t,
         CAST(sum(t * (t - 1)) AS BIGINT) AS s4t
  FROM vh
), fin AS (
  SELECT jt_stat, n_total, n_groups,
         (n_total * n_total - sn2) / 4.0 AS mean_jt,
         (CAST(n_total AS DOUBLE) * (n_total - 1) * (2 * n_total + 5)
          - s2g - s2t) / 72.0
         + s3g * s3t
           / (36.0 * n_total * (n_total - 1) * (n_total - 2))
         + CAST(s4g AS DOUBLE) * s4t
           / (8.0 * n_total * (n_total - 1)) AS var_jt
  FROM jt CROSS JOIN gc CROSS JOIN va
)
SELECT n_total, n_groups,
       round(jt_stat + 1e-9, 1) AS jt_stat,
       round(mean_jt + 1e-9, 2) AS mean_jt,
       round(sqrt(var_jt) + 1e-9, 4) AS sd_jt,
       round(CASE WHEN var_jt > 0
                  THEN (jt_stat - mean_jt) / sqrt(var_jt) END + 1e-9, 6)
         + 0 AS z_jt,
       round(abs(CASE WHEN var_jt > 0
                      THEN (jt_stat - mean_jt) / sqrt(var_jt) END) + 1e-9, 6)
         > 1.959964 AS reject_5pct
FROM fin
""",
)
def q409_jonckheere_terpstra(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test: do order totals
    trend MONOTONICALLY across the five priorities in their built-in
    dose order (1-URGENT < … < 5-LOW, lexicographic == severity)?
    Completes the dose-response trio — q408 (Cochran-Armitage) is the
    binary-outcome member, q229 (Mann-Kendall) trends over TIME, and
    this is the continuous-response trend over ordered GROUPS, strictly
    more powerful than q407's Kruskal-Wallis when the alternative is
    ordered.

    Statistic: JT = Σ_{i<j} U_ij where U_ij counts pairs (a from the
    lower group i, b from j) with a < b, plus half-ties. Each U_ij
    comes from the q211 rank algebra on the per-pair distinct-value
    histogram: U_ij = n_a·n_b − (r_a − n_a(n_a+1)/2) — exact halves —
    so the 10-term JT sum is float-exact in any order (multiples of
    0.5 below 2^52, exact through n_a·n_b < 4.5e15 ≈ sf1000). Mean
    (N²−Σn_i²)/4 is exact quarters from exact BIGINTs (N² inside
    int64 through N < 3e9 ≈ sf2000); the tie-corrected variance
    (Lehmann) assembles from EXACT BIGINT sums through FIXED double
    expressions: per-group cubics come from a hi/lo split of n²
    (Σn³ = 2^26·Σ(n² div 2^26 · n) + Σ(n² mod 2^26 · n), every
    product < 2^63 through per-group n < 8.5e8 ≈ sf2800 — the naive
    n(n−1)(2n+5) BIGINT product crossed int64 at the 100x probe and
    ANSI-errored, the q261 class), then
    Σn(n−1)(2n+5) = 2Σn³ + 3Σn² − 5N and Σn(n−1)(n−2) = Σn³ − 3Σn²
    + 2N as fixed closing expressions (bit-identical cross-engine —
    no data-sized float sum, no order dependence). The N-term
    N(N−1)(2N+5) is a cast-once double product. Tie sums s2t/s3t/s4t
    stay exact BIGINT: t is pigeonholed by the ~1e7-value cents
    lattice (t³ crosses int64 only if one price level holds > 2.1e6
    orders). z and the rounded-|z| reject flag follow the q404
    literal-critical-value rule.

    Scale: the pair tagging replicates each order ×4 (each group sits
    in 4 of the 10 pairs — bounded by the group-count lattice, never
    by rows²); per-pair windows partition by PAIR over the
    distinct-value histogram (the documented q211 quantize-first
    caveat inherited); everything downstream is a ≤10-row frame on
    bounded nested-loop joins.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderpriority", "o_totalprice"]
    )
    obs = orders.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("value"),
    )
    types = obs.select("grp").distinct()
    pairs = types.select(F.col("grp").alias("ta")).join(
        types.select(F.col("grp").alias("tb")), F.col("ta") < F.col("tb")
    )
    tagged = obs.join(
        F.broadcast(pairs),
        (F.col("grp") == F.col("ta")) | (F.col("grp") == F.col("tb")),
    ).select(
        "ta",
        "tb",
        "value",
        F.when(F.col("grp") == F.col("ta"), 1).otherwise(0).alias("is_a"),
    )
    mw = mann_whitney_z(tagged)
    n_a, n_b = F.col("n_a"), F.col("n_b")
    jt = mw.agg(
        F.sum(n_a * n_b - F.col("u_a")).alias("jt_stat")
    )
    g = obs.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    n = F.col("n")
    # hi/lo split of n² keeps Σn³ = 2^26·Σ(hi·n) + Σ(lo·n) EXACT in
    # BIGINT with no overflowable product (n³ itself crosses int64 at
    # per-group n ≈ 2.1e6, measured live at the 100x probe)
    g2 = g.select(
        "n",
        (n * n).alias("n2"),
        F.expr("(n * n) div 67108864").alias("hi"),
        ((n * n) % 67108864).alias("lo"),
    )
    ga = g2.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n2").cast("bigint").alias("sn2"),
        F.sum(F.col("hi") * n).cast("bigint").alias("s1"),
        F.sum(F.col("lo") * n).cast("bigint").alias("s2lo"),
    )
    gb = ga.select(
        "n_total",
        "n_groups",
        "sn2",
        (F.col("s1").cast("double") * 67108864.0 + F.col("s2lo")).alias(
            "sn3"
        ),
        (F.col("sn2") - F.col("n_total")).alias("s4g"),
    )
    gc = gb.select(
        "n_total",
        "n_groups",
        "sn2",
        "s4g",
        (
            2.0 * F.col("sn3")
            + 3.0 * F.col("sn2")
            - 5.0 * F.col("n_total")
        ).alias("s2g"),
        (
            F.col("sn3")
            - 3.0 * F.col("sn2")
            + 2.0 * F.col("n_total")
        ).alias("s3g"),
    )
    vh = obs.groupBy("value").agg(
        F.count(F.lit(1)).cast("bigint").alias("t")
    )
    t = F.col("t")
    va = vh.agg(
        F.sum(t * (t - 1) * (2 * t + 5)).cast("bigint").alias("s2t"),
        F.sum(t * (t - 1) * (t - 2)).cast("bigint").alias("s3t"),
        F.sum(t * (t - 1)).cast("bigint").alias("s4t"),
    )
    n_t = F.col("n_total")
    fin = (
        jt.crossJoin(F.broadcast(gc))
        .crossJoin(F.broadcast(va))
        .select(
            "jt_stat",
            "n_total",
            "n_groups",
            ((n_t * n_t - F.col("sn2")) / 4.0).alias("mean_jt"),
            (
                (
                    n_t.cast("double") * (n_t - 1) * (2 * n_t + 5)
                    - F.col("s2g")
                    - F.col("s2t")
                )
                / 72.0
                + F.col("s3g")
                * F.col("s3t")
                / (36.0 * n_t * (n_t - 1) * (n_t - 2))
                + F.col("s4g").cast("double")
                * F.col("s4t")
                / (8.0 * n_t * (n_t - 1))
            ).alias("var_jt"),
        )
    )
    z = F.when(
        F.col("var_jt") > 0,
        (F.col("jt_stat") - F.col("mean_jt")) / F.sqrt(F.col("var_jt")),
    )
    return fin.select(
        "n_total",
        "n_groups",
        fround(F.col("jt_stat"), 1).alias("jt_stat"),
        fround(F.col("mean_jt"), 2).alias("mean_jt"),
        fround(F.sqrt(F.col("var_jt")), 4).alias("sd_jt"),
        (fround(z, 6) + F.lit(0.0)).alias("z_jt"),
        (fround(F.abs(z), 6) > 1.959964).alias("reject_5pct"),
    )


@query(
    "q411_runs_test_randomness",
    tags=("statistics", "hypothesis-test", "time-series"),
    oracle="""
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_orderdate
), med AS (
  SELECT cents AS mcents FROM (
    SELECT cents, row_number() OVER (ORDER BY cents, day) AS rn,
           count(*) OVER () AS n
    FROM daily
  ) WHERE rn = (n + 1) // 2
), signs AS (
  SELECT d.day, CASE WHEN d.cents > m.mcents THEN 1 ELSE 0 END AS s
  FROM daily d CROSS JOIN med m
  WHERE d.cents <> m.mcents
), brk AS (
  SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                   OR lag(s) OVER (ORDER BY day) <> s
                 THEN 1 ELSE 0 END AS is_break
  FROM signs
), agg AS (
  SELECT CAST(sum(s) AS BIGINT) AS n1,
         CAST(sum(1 - s) AS BIGINT) AS n2,
         CAST(sum(is_break) AS BIGINT) AS r
  FROM brk
)
SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
       round(1.0 + 2.0 * n1 * n2 / (n1 + n2) + 1e-9, 4) AS expected_runs,
       round(CASE WHEN n1 > 0 AND n2 > 0
                   AND 2.0 * n1 * n2 - n1 - n2 > 0
                  THEN (r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                       / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                              / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                                 * (n1 + n2 - 1)))
             END + 1e-9, 6) + 0 AS z_runs,
       CASE WHEN n1 > 0 AND n2 > 0 AND 2.0 * n1 * n2 - n1 - n2 > 0
            THEN abs(round((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                       / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                              / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                                 * (n1 + n2 - 1))) + 1e-9, 6)) > 1.959964
       END AS reject_5pct
FROM agg
""",
)
def q411_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily revenue series: is the
    sequence of above/below-median days RANDOM, or does it carry
    momentum (long runs -> fewer runs than expected) or oscillation
    (alternation -> more runs)? The distribution-free serial-
    dependence test next to q203's parametric ACF and q229's
    Mann-Kendall TREND test — runs detect clustering that has no
    monotone drift, which MK misses by construction.

    Exactness: the median is an EXACT rank selection on integer cents
    (never an interpolated quantile, the q184 rule) with a unique
    (cents, day) tie-break; days equal to the median drop on both
    sides (the classical treatment); n1/n2/R are exact BIGINTs; the
    z closed form is a fixed expression tree over those three ints
    (products bounded by the ~2.4k-day calendar — no overflow) with
    the fround pair and the sign-of-zero '+ 0' guard (a near-null z is
    exactly what a random series produces); reject compares the
    ROUNDED |z| (q348 rule). Degenerate splits (a one-sided series or
    n1 = n2 = 1, where the variance is 0) yield NULL z, never a
    divide error.

    Scale: the series lives on the DAY grain — bounded by the
    calendar, not by order count — so the rank/lag windows are
    bounded funnels; everything before them is one map-side groupBy.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"]
    )
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    daily = daily.localCheckpoint()  # median branch + signs branch
    n_days = daily.agg(F.count(F.lit(1)).alias("n"))
    ranked = daily.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "day"))
        .alias("rn"),
    )
    med = (
        ranked.crossJoin(F.broadcast(n_days))
        .where(F.col("rn") == ((F.col("n") + 1) / 2).cast("bigint"))
        .select(F.col("cents").alias("mcents"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("cents") != F.col("mcents"))
        .select(
            "day",
            F.when(F.col("cents") > F.col("mcents"), 1).otherwise(0).alias("s"),
        )
    )
    prev = F.lag("s").over(Window.orderBy("day"))
    brk = signs.select(
        "s",
        F.when(prev.isNull() | (prev != F.col("s")), 1)
        .otherwise(0)
        .alias("is_break"),
    )
    agg = brk.agg(
        F.sum("s").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("s")).cast("bigint").alias("n2"),
        F.sum("is_break").cast("bigint").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = F.lit(1.0) + F.lit(2.0) * n1 * n2 / (n1 + n2)
    var_num = F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
    var_den = (n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1)
    ok = (n1 > 0) & (n2 > 0) & (F.lit(2.0) * n1 * n2 - n1 - n2 > 0)
    z = F.when(ok, (r - mu) / F.sqrt(var_num / var_den))
    return agg.select(
        n1.alias("n_above"),
        n2.alias("n_below"),
        r.alias("n_runs"),
        fround(mu, 4).alias("expected_runs"),
        (fround(z, 6) + F.lit(0.0)).alias("z_runs"),
        F.when(ok, F.abs(fround(z, 6)) > 1.959964).alias("reject_5pct"),
    )


@query(
    "q413_km_greenwood_bands",
    tags=("statistics", "survival", "window"),
    oracle=f"""
WITH {_CHURN_RISK_CTES}, km AS (
  SELECT t, n_events, n_risk,
         exp(sum(CASE WHEN n_events = n_risk THEN CAST('-inf' AS DOUBLE)
                      ELSE ln(1 - n_events * 1.0 / n_risk) END) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )) AS s,
         CAST(sum(CASE WHEN n_events < n_risk
                       THEN (1000000000000 * n_events)
                            // (n_risk * (n_risk - n_events))
                       ELSE 0 END) OVER (
           ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS g
  FROM risk
)
SELECT t AS t_days, n_risk, n_events,
       round(s + 1e-9, 6) AS survival,
       g AS greenwood_e12,
       round(s * sqrt(g / 1000000000000.0) + 1e-9, 6) AS std_err,
       round(greatest(0.0, s - 1.959964 * (s * sqrt(g / 1000000000000.0)))
             + 1e-9, 6) AS ci_lower,
       round(least(1.0, s + 1.959964 * (s * sqrt(g / 1000000000000.0)))
             + 1e-9, 6) AS ci_upper
FROM km WHERE n_events > 0
""",
)
def q413_km_greenwood_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwood 95% confidence bands around q201's Kaplan-Meier
    customer-survival curve — the uncertainty layer the survival
    family was missing: q201 gives the point curve, q384 the hazard,
    q378 the RMST summary, q325 a two-curve test; this one says how
    far the estimated S(t) can be trusted at each duration (bands
    widen exactly where risk sets thin out — the tail a retention
    readout most wants to over-interpret).

    Exactness: risk sets/event counts are the exact integer
    histogram-window machinery of q201; the Greenwood accumulator
    G(t) = Σ d/(n(n-d)) runs on a fixed-point 1e-12 lattice (the q384
    ppm discipline, finer because increments shrink like d/n² —
    operators/survival.py::kaplan_meier_greenwood documents the < 1
    unit/event-time truncation bound and the d < 9.2e6 overflow
    bound), so the accumulated variance is pure BIGINT on both
    engines. S(t) itself is the q110-class exp-of-log-sum float
    window, absorbed by the fround pair; the band expressions are one
    fixed tree over (s, g) with identical association, clamped to
    [0, 1] with greatest/least before rounding. An all-churn time
    pins S = 0 exactly, and both bands collapse to [0, 0] through the
    same expressions — no special case on either engine.

    Scale: subjects reduce to the duration histogram before the one
    calendar-bounded ordered window (q201's 100 TB property).
    """
    from ...operators.survival import kaplan_meier_greenwood

    orders = read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderdate"])
    per_cust = _customer_spans(orders).localCheckpoint(
        eager=False
    )  # horizon branch + life branch
    life = _churn_lifetimes(per_cust)
    km = kaplan_meier_greenwood(life)
    s = F.col("survival")
    se = s * F.sqrt(F.col("greenwood_e12") / F.lit(1000000000000.0))
    return km.select(
        F.col("t").alias("t_days"),
        "n_risk",
        "n_events",
        fround(s, 6).alias("survival"),
        "greenwood_e12",
        fround(se, 6).alias("std_err"),
        fround(F.greatest(F.lit(0.0), s - F.lit(1.959964) * se), 6).alias(
            "ci_lower"
        ),
        fround(F.least(F.lit(1.0), s + F.lit(1.959964) * se), 6).alias(
            "ci_upper"
        ),
    )


@query(
    "q414_cliffs_delta",
    tags=("statistics", "effect-size"),
    oracle=f"""
WITH {_MW_CTES.strip()}, cd AS (
  SELECT type_a, type_b, n_a, n_b, u_a,
         CAST(2 * u_a AS BIGINT) - n_a * n_b AS dnum,
         n_a * n_b AS nn
  FROM mw
)
SELECT type_a, type_b, n_a, n_b,
       round(u_a + 1e-9, 6) AS u_stat,
       round((2.0 * u_a - nn) / nn + 1e-9, 6) + 0 AS cliffs_delta,
       CASE WHEN 1000 * abs(dnum) < 147 * nn THEN 'negligible'
            WHEN 1000 * abs(dnum) < 330 * nn THEN 'small'
            WHEN 1000 * abs(dnum) < 474 * nn THEN 'medium'
            ELSE 'large' END AS magnitude
FROM cd
""",
)
def q414_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size for every event-type pair —
    the companion q211's hypothesis test needs at scale: with 100k+
    observations per group the Mann-Whitney z rejects for effects far
    too small to matter, so the decision column is δ = P(a > b) −
    P(a < b) = 2U/(n_a·n_b) − 1, which is sample-size-FREE. Banded
    with the standard Romano et al. thresholds (0.147 / 0.33 / 0.474).

    Exactness: U from the shared q211 rank algebra is an exact
    half-integer, so 2U is an exact-integer double and casts to
    BIGINT losslessly on both engines (DuckDB's rounding cast and
    Spark's truncating cast agree on exact integers — the q143 class,
    sidestepped); δ's numerator 2U − n_a·n_b and the three magnitude
    bands are EXACT BIGINT cross-multiplications (1000·|2U − nn| vs
    147/330/474·nn — never a float threshold, the q357 rule); the
    reported δ is one double division with the sign-of-zero guard (a
    null effect rounds to ±0.0 — footgun 9, guarded at authoring time
    per the round-11 rule).

    Scale: everything reduces on the (pair, distinct-value) histogram
    grain exactly as q211 — no new passes over events.
    """
    mw = _mw_frame(spark, sf_dir)
    nn = F.col("n_a") * F.col("n_b")
    dnum = (F.lit(2) * F.col("u_a")).cast("bigint") - nn
    return mw.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        fround(F.col("u_a"), 6).alias("u_stat"),
        (
            fround((F.lit(2.0) * F.col("u_a") - nn) / nn, 6) + F.lit(0.0)
        ).alias("cliffs_delta"),
        F.when(F.lit(1000) * F.abs(dnum) < F.lit(147) * nn, "negligible")
        .when(F.lit(1000) * F.abs(dnum) < F.lit(330) * nn, "small")
        .when(F.lit(1000) * F.abs(dnum) < F.lit(474) * nn, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


@query(
    "q415_seasonal_mann_kendall",
    tags=("statistics", "timeseries", "hypothesis-test"),
    oracle="""
WITH monthly AS (
  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
         CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS season,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT a.season,
         CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END)
              AS BIGINT) AS s_season
  FROM monthly a JOIN monthly b
    ON b.season = a.season AND a.yr < b.yr
  GROUP BY a.season
), counts AS (
  SELECT season, CAST(count(*) AS BIGINT) AS n_years
  FROM monthly GROUP BY season
), ties AS (
  SELECT season,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT season, CAST(count(*) AS BIGINT) AS t
        FROM monthly GROUP BY season, cents)
  WHERE t > 1 GROUP BY season
), per AS (
  SELECT c.season, c.n_years,
         CAST(coalesce(s.s_season, 0) AS BIGINT) AS s_season,
         CAST(c.n_years * (c.n_years - 1) * (2 * c.n_years + 5)
              - coalesce(t.tie_term, 0) AS BIGINT) AS var18_season
  FROM counts c
  LEFT JOIN s ON s.season = c.season
  LEFT JOIN ties t ON t.season = c.season
), tot AS (
  SELECT CAST(sum(s_season) AS BIGINT) AS s_total,
         CAST(sum(var18_season) AS BIGINT) AS var18_total
  FROM per
)
SELECT p.season, p.n_years, p.s_season, p.var18_season,
       t.s_total,
       round(CASE WHEN t.var18_total > 0 THEN
               (CASE WHEN t.s_total > 0 THEN t.s_total - 1
                     WHEN t.s_total < 0 THEN t.s_total + 1
                     ELSE 0 END) / sqrt(t.var18_total / 18.0)
             END + 1e-9, 6) + 0 AS z_smk,
       CASE WHEN t.var18_total > 0 THEN
         abs(round((CASE WHEN t.s_total > 0 THEN t.s_total - 1
                         WHEN t.s_total < 0 THEN t.s_total + 1
                         ELSE 0 END) / sqrt(t.var18_total / 18.0)
                   + 1e-9, 6)) > 1.959964
       END AS reject_5pct
FROM per p CROSS JOIN tot t
""",
)
def q415_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall trend test (Hirsch-Slack) on monthly
    revenue: q229's MK statistic computed WITHIN each calendar month
    across years (Jan-vs-Jan, Feb-vs-Feb, ...), then summed — the
    trend test that is immune to seasonality, where plain MK reads a
    strong seasonal cycle as thousands of spurious concordant/
    discordant pairs. One row per season with its own S and variance
    contribution (which months carry the trend), plus the pooled
    continuity-corrected z.

    Exactness: every per-season S and tie-corrected variance
    NUMERATOR (the x18 form n(n-1)(2n+5) - Σt(t-1)(2t+5)) is an exact
    BIGINT on the year-pair grain, and the pooled statistic sums those
    integers — the single /18.0 and sqrt happen once in a fixed tree;
    z carries the fround pair + sign-of-zero guard (a de-seasonalized
    null is exactly where z ≈ 0 lands); reject compares the ROUNDED
    |z| (q348 rule) and is NULL-gated on a positive pooled variance.
    Seasons with one year contribute S = 0 and variance 0 via the
    same expressions (left joins, never dropped rows).

    Scale: the fact pass is one (year, month) groupBy; all pair joins
    run on the calendar-bounded monthly frame (≤ 12 x C(years, 2)
    pairs).
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"]
    )
    d = F.col("o_orderdate").cast("date")
    monthly = (
        orders.select(
            F.year(d).cast("bigint").alias("yr"),
            F.month(d).cast("bigint").alias("season"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c1"),
        )
        .groupBy("yr", "season")
        .agg(F.sum("c1").alias("cents"))
        .localCheckpoint(eager=False)  # s / counts / ties branches
    )
    a = monthly.select(
        F.col("season").alias("sa"), F.col("yr").alias("ya"),
        F.col("cents").alias("ca"),
    )
    b = monthly.select(
        F.col("season").alias("sb"), F.col("yr").alias("yb"),
        F.col("cents").alias("cb"),
    )
    s = (
        a.join(b, (F.col("sb") == F.col("sa")) & (F.col("ya") < F.col("yb")))
        .groupBy(F.col("sa").alias("season"))
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            ).cast("bigint").alias("s_season")
        )
    )
    counts = monthly.groupBy("season").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_years")
    )
    ties = (
        monthly.groupBy("season", "cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("season")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("bigint").alias("tie_term")
        )
    )
    ny = F.col("n_years")
    per = (
        counts.join(s, "season", "left")
        .join(ties, "season", "left")
        .select(
            "season",
            "n_years",
            F.coalesce(F.col("s_season"), F.lit(0))
            .cast("bigint")
            .alias("s_season"),
            (
                ny * (ny - 1) * (2 * ny + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            ).cast("bigint").alias("var18_season"),
        )
        .localCheckpoint(eager=False)  # row branch + total branch
    )
    tot = per.agg(
        F.sum("s_season").cast("bigint").alias("s_total"),
        F.sum("var18_season").cast("bigint").alias("var18_total"),
    )
    st = F.col("s_total")
    s_cc = (
        F.when(st > 0, st - 1).when(st < 0, st + 1).otherwise(0)
    )
    z = F.when(
        F.col("var18_total") > 0,
        s_cc / F.sqrt(F.col("var18_total") / F.lit(18.0)),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "season",
        "n_years",
        "s_season",
        "var18_season",
        "s_total",
        (fround(z, 6) + F.lit(0.0)).alias("z_smk"),
        F.when(
            F.col("var18_total") > 0, F.abs(fround(z, 6)) > 1.959964
        ).alias("reject_5pct"),
    )


@query(
    "q417_siegel_repeated_medians",
    tags=("statistics", "timeseries", "regression"),
    oracle=f"""
WITH {_MONTHLY_CENTS_CTE}, pairs AS (
  SELECT a.m_idx AS xi, b.m_idx AS xj,
         (b.cents - a.cents) * 1.0 / (b.m_idx - a.m_idx) AS slope
  FROM monthly a JOIN monthly b ON a.m_idx <> b.m_idx
), ranked AS (
  SELECT xi, slope,
         CAST(row_number() OVER (PARTITION BY xi ORDER BY slope, xj)
              AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY xi) AS BIGINT) AS m
  FROM pairs
), permed AS (
  SELECT xi, m,
         CASE WHEN m % 2 = 1
              THEN min(CASE WHEN r = CAST(floor((m + 1) / 2) AS BIGINT)
                            THEN slope END)
              ELSE (min(CASE WHEN r = CAST(floor(m / 2) AS BIGINT)
                             THEN slope END)
                    + min(CASE WHEN r = CAST(floor(m / 2) AS BIGINT) + 1
                               THEN slope END)) / 2
         END AS med_i
  FROM ranked GROUP BY xi, m
), ranked2 AS (
  SELECT xi, med_i,
         CAST(row_number() OVER (ORDER BY med_i, xi) AS BIGINT) AS r,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM permed
), sstar AS (
  SELECT n,
         CASE WHEN n % 2 = 1
              THEN min(CASE WHEN r = CAST(floor((n + 1) / 2) AS BIGINT)
                            THEN med_i END)
              ELSE (min(CASE WHEN r = CAST(floor(n / 2) AS BIGINT)
                             THEN med_i END)
                    + min(CASE WHEN r = CAST(floor(n / 2) AS BIGINT) + 1
                               THEN med_i END)) / 2
         END AS sslope
  FROM ranked2 GROUP BY n
), resid AS (
  SELECT m.m_idx, m.cents - s.sslope * m.m_idx AS e
  FROM monthly m CROSS JOIN sstar s
), ranked3 AS (
  SELECT e,
         CAST(row_number() OVER (ORDER BY e, m_idx) AS BIGINT) AS r,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM resid
), icept AS (
  SELECT CASE WHEN n % 2 = 1
              THEN min(CASE WHEN r = CAST(floor((n + 1) / 2) AS BIGINT)
                            THEN e END)
              ELSE (min(CASE WHEN r = CAST(floor(n / 2) AS BIGINT)
                             THEN e END)
                    + min(CASE WHEN r = CAST(floor(n / 2) AS BIGINT) + 1
                               THEN e END)) / 2
         END AS sicept
  FROM ranked3 GROUP BY n
)
SELECT s.n AS n_months,
       round(s.sslope + 1e-9, 6) + 0 AS siegel_slope_cents,
       round(i.sicept + 1e-9, 2) + 0 AS siegel_intercept_cents
FROM sstar s CROSS JOIN icept i
""",
)
def q417_siegel_repeated_medians(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Siegel repeated-medians trend of monthly revenue — the
    maximum-breakdown (50%) robust regression next to q214's Theil-Sen
    (29%): slope* = median over points i of (median over j≠i of the
    pairwise slope), intercept* = median of y_i − slope*·x_i. Half the
    MONTHS can be corrupt before the estimate moves, which is the
    regime quarterly-restated or backfilled revenue actually lives in.

    Exactness: every median is the EXACT rank selection (q184/q214
    rule — never an interpolated quantile) with a unique tie-break
    (slope, xj) / (med_i, xi) / (e, m_idx); pairwise slopes are single
    divisions of exact integer cents by integer month gaps (identical
    doubles both engines — sorting doubles is bit-deterministic);
    med_i is either one selected slope or the mean of two (one add,
    one halving — exact dyadic operations on identical doubles);
    residuals are one multiply + subtract of the selected slope*.
    Both outputs carry fround + the sign-of-zero guard (a detrended
    series medians to ~0). The intercept rounds at 2 dp — it is
    revenue-sized, and a fixed-decimal lattice must stay inside
    double's exact-integer range (the q409 big-magnitude rule).

    Scale: the pair join, per-point median windows (PARTITION BY
    point), and both global median funnels all live on the
    calendar-bounded month grain — months² pairs, the q214 contract;
    the fact pass is one groupBy.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"]
    )
    monthly = _monthly_cents(orders).localCheckpoint(
        eager=False
    )  # pair sides + residual branch
    a = monthly.select(F.col("m_idx").alias("xi"), F.col("cents").alias("yi"))
    b = monthly.select(F.col("m_idx").alias("xj"), F.col("cents").alias("yj"))
    pairs = a.join(b, F.col("xi") != F.col("xj")).select(
        "xi",
        "xj",
        (
            (F.col("yj") - F.col("yi")) * 1.0 / (F.col("xj") - F.col("xi"))
        ).alias("slope"),
    )
    wp = Window.partitionBy("xi")
    ranked = pairs.select(
        "xi",
        "slope",
        F.row_number().over(wp.orderBy("slope", "xj")).cast("bigint").alias(
            "r"
        ),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("m"),
    )

    def _median(df, val, grp, half_col, tie_n):
        h_odd = F.floor((F.col(half_col) + 1) / 2).cast("bigint")
        h_even = F.floor(F.col(half_col) / 2).cast("bigint")
        return df.groupBy(*grp).agg(
            F.when(
                F.col(half_col) % 2 == 1,
                F.min(F.when(F.col("r") == h_odd, F.col(val))),
            )
            .otherwise(
                (
                    F.min(F.when(F.col("r") == h_even, F.col(val)))
                    + F.min(F.when(F.col("r") == h_even + 1, F.col(val)))
                )
                / 2
            )
            .alias(tie_n)
        )

    permed = _median(ranked, "slope", ["xi", "m"], "m", "med_i")
    ranked2 = permed.select(
        "med_i",
        F.row_number()
        .over(Window.orderBy("med_i", "xi"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    sstar = _median(ranked2, "med_i", ["n"], "n", "sslope").localCheckpoint(
        eager=False
    )  # residual branch + output branch
    resid = monthly.crossJoin(F.broadcast(sstar)).select(
        "m_idx",
        (F.col("cents") - F.col("sslope") * F.col("m_idx")).alias("e"),
    )
    ranked3 = resid.select(
        "e",
        F.row_number()
        .over(Window.orderBy("e", "m_idx"))
        .cast("bigint")
        .alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    icept = _median(ranked3, "e", ["n"], "n", "sicept")
    return sstar.crossJoin(F.broadcast(icept.drop("n"))).select(
        F.col("n").alias("n_months"),
        (fround(F.col("sslope"), 6) + F.lit(0.0)).alias("siegel_slope_cents"),
        (fround(F.col("sicept"), 2) + F.lit(0.0)).alias(
            "siegel_intercept_cents"
        ),
    )


@query(
    "q418_ljung_box",
    tags=("statistics", "timeseries", "hypothesis-test"),
    oracle="""
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_num,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), bounds AS (
  SELECT min(day_num) AS mn, max(day_num) AS mx FROM daily
), dense AS MATERIALIZED (
  SELECT d.day_num, CAST(coalesce(dd.x, 0) AS BIGINT) AS x
  FROM (SELECT unnest(generate_series(mn, mx)) AS day_num FROM bounds) d
  LEFT JOIN daily dd ON dd.day_num = d.day_num
), tots AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
  FROM dense
), c0 AS (
  SELECT CAST(sum((t.n * d.x - t.s) * (t.n * d.x - t.s)) AS BIGINT) AS a0
  FROM dense d CROSS JOIN tots t
), lags AS (
  SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS k
), ck AS (
  SELECT l.k,
         CAST(sum((t.n * a.x - t.s) * (t.n * b.x - t.s)) AS BIGINT) AS ak
  FROM dense a CROSS JOIN lags l
  JOIN dense b ON b.day_num = a.day_num + l.k
  CROSS JOIN tots t
  GROUP BY l.k
), piv AS (
  SELECT max(CASE WHEN k = 1 THEN ak END) AS a1,
         max(CASE WHEN k = 2 THEN ak END) AS a2,
         max(CASE WHEN k = 3 THEN ak END) AS a3,
         max(CASE WHEN k = 4 THEN ak END) AS a4,
         max(CASE WHEN k = 5 THEN ak END) AS a5,
         max(CASE WHEN k = 6 THEN ak END) AS a6,
         max(CASE WHEN k = 7 THEN ak END) AS a7
  FROM ck
), stat AS (
  SELECT t.n, c.a0, p.a1, p.a7,
         CASE WHEN c.a0 > 0 THEN
           (t.n * (t.n + 2))
           * ((CAST(p.a1 AS DOUBLE) / CAST(c.a0 AS DOUBLE))
              * (CAST(p.a1 AS DOUBLE) / CAST(c.a0 AS DOUBLE)) / (t.n - 1)
              + (CAST(p.a2 AS DOUBLE) / CAST(c.a0 AS DOUBLE))
                * (CAST(p.a2 AS DOUBLE) / CAST(c.a0 AS DOUBLE)) / (t.n - 2)
              + (CAST(p.a3 AS DOUBLE) / CAST(c.a0 AS DOUBLE))
                * (CAST(p.a3 AS DOUBLE) / CAST(c.a0 AS DOUBLE)) / (t.n - 3)
              + (CAST(p.a4 AS DOUBLE) / CAST(c.a0 AS DOUBLE))
                * (CAST(p.a4 AS DOUBLE) / CAST(c.a0 AS DOUBLE)) / (t.n - 4)
              + (CAST(p.a5 AS DOUBLE) / CAST(c.a0 AS DOUBLE))
                * (CAST(p.a5 AS DOUBLE) / CAST(c.a0 AS DOUBLE)) / (t.n - 5)
              + (CAST(p.a6 AS DOUBLE) / CAST(c.a0 AS DOUBLE))
                * (CAST(p.a6 AS DOUBLE) / CAST(c.a0 AS DOUBLE)) / (t.n - 6)
              + (CAST(p.a7 AS DOUBLE) / CAST(c.a0 AS DOUBLE))
                * (CAST(p.a7 AS DOUBLE) / CAST(c.a0 AS DOUBLE)) / (t.n - 7))
         END AS q
  FROM tots t CROSS JOIN c0 c CROSS JOIN piv p
)
SELECT n AS n_days,
       round(CASE WHEN a0 > 0
                  THEN CAST(a1 AS DOUBLE) / CAST(a0 AS DOUBLE) END
             + 1e-9, 6) + 0 AS r1,
       round(CASE WHEN a0 > 0
                  THEN CAST(a7 AS DOUBLE) / CAST(a0 AS DOUBLE) END
             + 1e-9, 6) + 0 AS r7,
       round(q + 1e-9, 4) AS lb_q,
       CASE WHEN q IS NOT NULL
            THEN round(q + 1e-9, 4) > 14.067140 END AS reject_5pct
FROM stat
""",
)
def q418_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test pooling lags 1-7 of the
    daily order-count series into ONE statistic
    Q = n(n+2)·Σ r_k²/(n−k) — the test q203's per-lag ACF readout
    needs before anyone eyeballs seven correlations (each r_k alone
    invites seven chances at a false positive; Q is chi²(7) under the
    white-noise null). Runs on the DENSE day spine (missing days are
    true zero-order days — the q246 rule; Ljung-Box assumes a regular
    series, so gaps must be zeros, not skips).

    Exactness: autocovariances are scaled through by n² so every
    A_k = Σ(n·x_t − S)(n·x_{t+k} − S) is an exact BIGINT on the
    day-pair grain (products bounded: needs day volumes beyond ~3e5/d
    on a ~2.4k-day calendar before Σ nears int64 — the q216 class,
    document-checked); r_k = A_k/A_0 is one double division, and Q is
    a FIXED-ORDER seven-term literal chain (the q404 rule — never a
    grouped float sum whose order the engine picks). r columns carry
    the sign-of-zero guard (white noise is exactly where r ≈ 0);
    a constant series (A_0 = 0) yields NULL Q, never a divide error;
    reject compares the ROUNDED Q against the chi²(7) 5% point.

    Scale: one fact pass to the day grain; the lag join and all
    algebra live on the calendar-bounded dense spine.
    """
    orders = read_table(spark, sf_dir, "orders", ["o_orderdate"])
    daily = (
        _daily_orders(orders)
        .select("day_num", F.col("cnt").cast("bigint").alias("x"))
        .localCheckpoint(eager=False)  # bounds + dense branches
    )
    bounds = daily.agg(F.min("day_num").alias("mn"), F.max("day_num").alias("mx"))
    dense = (
        bounds.select(
            F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("day_num")
        )
        .join(daily, "day_num", "left")
        .select(
            "day_num",
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
        .localCheckpoint(eager=False)  # tots / c0 / both lag-join sides
    )
    tots = dense.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    n, s = F.col("n"), F.col("s")
    c0 = (
        dense.crossJoin(F.broadcast(tots))
        .agg(
            F.sum((n * F.col("x") - s) * (n * F.col("x") - s))
            .cast("bigint")
            .alias("a0")
        )
    )
    lags = spark.range(1, 8).select(F.col("id").alias("k"))
    a = dense.select("day_num", F.col("x").alias("xa"))
    b = dense.select(F.col("day_num").alias("bd"), F.col("x").alias("xb"))
    ck = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bd") == F.col("day_num") + F.col("k"))
        .crossJoin(F.broadcast(tots))
        .groupBy("k")
        .agg(
            F.sum((n * F.col("xa") - s) * (n * F.col("xb") - s))
            .cast("bigint")
            .alias("ak")
        )
    )
    piv = ck.agg(
        *[
            F.max(F.when(F.col("k") == i, F.col("ak"))).alias(f"a{i}")
            for i in range(1, 8)
        ]
    )
    one = (
        tots.crossJoin(F.broadcast(c0))
        .crossJoin(F.broadcast(piv))
    )
    a0d = F.col("a0").cast("double")

    def rk(i: int):
        return F.col(f"a{i}").cast("double") / a0d

    chain = rk(1) * rk(1) / (n - 1)
    for i in range(2, 8):
        chain = chain + rk(i) * rk(i) / (n - i)
    q = F.when(F.col("a0") > 0, (n * (n + 2)) * chain)
    return one.select(
        n.alias("n_days"),
        (fround(F.when(F.col("a0") > 0, rk(1)), 6) + F.lit(0.0)).alias("r1"),
        (fround(F.when(F.col("a0") > 0, rk(7)), 6) + F.lit(0.0)).alias("r7"),
        fround(q, 4).alias("lb_q"),
        F.when(q.isNotNull(), fround(q, 4) > 14.067140).alias("reject_5pct"),
    )


@query(
    "q419_theil_decomposition",
    tags=("statistics", "inequality", "concentration"),
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS x
  FROM orders GROUP BY o_custkey
), rows0 AS MATERIALIZED (
  SELECT n.n_name AS nation, cu.x
  FROM cust cu
  JOIN customer c ON c.c_custkey = cu.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS ntot, CAST(sum(x) AS BIGINT) AS stot
  FROM rows0
), g AS MATERIALIZED (
  SELECT nation, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(x) AS BIGINT) AS sg
  FROM rows0 GROUP BY nation
), pg AS (
  SELECT r.nation,
         sum((CAST(r.x AS DOUBLE) / CAST(g.sg AS DOUBLE))
             * ln((CAST(r.x AS DOUBLE) * g.ng) / CAST(g.sg AS DOUBLE)))
           AS tg,
         sum((CAST(r.x AS DOUBLE) / CAST(t.stot AS DOUBLE))
             * ln((CAST(r.x AS DOUBLE) * t.ntot) / CAST(t.stot AS DOUBLE)))
           AS ttg
  FROM rows0 r JOIN g ON g.nation = r.nation CROSS JOIN tot t
  GROUP BY r.nation
), per AS MATERIALIZED (
  SELECT g.nation, g.ng, g.sg, p.tg, p.ttg, t.stot,
         (CAST(g.sg AS DOUBLE) / CAST(t.stot AS DOUBLE))
           * ln((CAST(g.sg AS DOUBLE) * t.ntot)
                / (CAST(g.ng AS DOUBLE) * t.stot)) AS bt,
         (CAST(g.sg AS DOUBLE) / CAST(t.stot AS DOUBLE)) * p.tg AS wt
  FROM g JOIN pg p ON p.nation = g.nation CROSS JOIN tot t
), gsum AS (
  SELECT sum(bt) AS tb, sum(wt) AS tw, sum(ttg) AS tt FROM per
)
SELECT p.nation, p.ng AS n_cust, p.sg AS spend_cents,
       round(CAST(p.sg AS DOUBLE) / CAST(p.stot AS DOUBLE) + 1e-9, 6)
         AS spend_share,
       round(p.tg + 1e-9, 6) + 0 AS theil_nation,
       round(p.bt + 1e-9, 6) + 0 AS between_term,
       round(p.wt + 1e-9, 6) + 0 AS within_term,
       round(gl.tt + 1e-9, 6) + 0 AS theil_total,
       round(gl.tb + 1e-9, 6) + 0 AS theil_between,
       round(gl.tw + 1e-9, 6) + 0 AS theil_within
FROM per p CROSS JOIN gsum gl
""",
)
def q419_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer spend, DECOMPOSED into
    between-nation and within-nation components — the additive
    property that makes Theil the inequality measure for segmented
    audits where q119's Gini cannot say WHERE the concentration lives:
    T = Σ_g (S_g/S)·ln((S_g·N)/(N_g·S)) + Σ_g (S_g/S)·T_g (between +
    within, an exact identity in real arithmetic). One row per nation
    with its own index, both contribution terms, and the pooled
    totals; a data-mixing pipeline reads it as "is spend inequality a
    nation-mix artifact or universal?".

    Exactness: all counts/sums are exact BIGINTs; every ratio inside
    ln() is a product/quotient of doubles cast once from those ints
    (products as doubles, NOT BIGINT — S_g·N crosses int64 near the
    10x corpus; doubles stay exact to 2^53 and identically rounded
    beyond); ln is the q158 cross-engine precedent; the per-nation
    and pooled accumulations are q24-class float sums (well-
    conditioned: terms bounded by |ln(x·N/S)| with a positive-share
    weight), absorbed by the fround pair; every rounded statistic
    carries the sign-of-zero guard (a perfectly equal segment has
    T_g = -0.0 risk by construction). Customers enter with x > 0 by
    definition (they have orders).

    Scale: one fact pass to the customer grain, keyed joins to the
    nation dim, then everything reduces per nation; the 25-row per
    frame feeds three global sums and the output, so it truncates
    lineage once.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice"]
    )
    customer = read_table(
        spark, sf_dir, "customer", ["c_custkey", "c_nationkey"]
    )
    nation = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    rows0 = (
        cust.join(
            customer, F.col("c_custkey") == F.col("o_custkey")
        )
        .join(
            F.broadcast(nation),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(F.col("n_name").alias("nation"), "x")
        .localCheckpoint(eager=False)  # tot / g / pg branches
    )
    tot = rows0.agg(
        F.count(F.lit(1)).cast("bigint").alias("ntot"),
        F.sum("x").cast("bigint").alias("stot"),
    )
    g = (
        rows0.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ng"),
            F.sum("x").cast("bigint").alias("sg"),
        )
        .localCheckpoint(eager=False)  # pg join + per join
    )
    x_d = F.col("x").cast("double")
    sg_d = F.col("sg").cast("double")
    stot_d = F.col("stot").cast("double")
    pg = (
        rows0.join(g, "nation")
        .crossJoin(F.broadcast(tot))
        .groupBy("nation")
        .agg(
            F.sum(
                (x_d / sg_d) * F.log((x_d * F.col("ng")) / sg_d)
            ).alias("tg"),
            F.sum(
                (x_d / stot_d)
                * F.log((x_d * F.col("ntot")) / stot_d)
            ).alias("ttg"),
        )
    )
    per = (
        g.join(pg, "nation")
        .crossJoin(F.broadcast(tot))
        .select(
            "nation",
            "ng",
            "sg",
            "tg",
            "ttg",
            "stot",
            (
                (sg_d / stot_d)
                * F.log(
                    (sg_d * F.col("ntot"))
                    / (F.col("ng").cast("double") * F.col("stot"))
                )
            ).alias("bt"),
            ((sg_d / stot_d) * F.col("tg")).alias("wt"),
        )
        .localCheckpoint(eager=False)  # glob branch + output branch
    )
    glob = per.agg(
        F.sum("bt").alias("tb"),
        F.sum("wt").alias("tw"),
        F.sum("ttg").alias("tt"),
    )
    return per.crossJoin(F.broadcast(glob)).select(
        "nation",
        F.col("ng").alias("n_cust"),
        F.col("sg").alias("spend_cents"),
        fround(sg_d / stot_d, 6).alias("spend_share"),
        (fround(F.col("tg"), 6) + F.lit(0.0)).alias("theil_nation"),
        (fround(F.col("bt"), 6) + F.lit(0.0)).alias("between_term"),
        (fround(F.col("wt"), 6) + F.lit(0.0)).alias("within_term"),
        (fround(F.col("tt"), 6) + F.lit(0.0)).alias("theil_total"),
        (fround(F.col("tb"), 6) + F.lit(0.0)).alias("theil_between"),
        (fround(F.col("tw"), 6) + F.lit(0.0)).alias("theil_within"),
    )


@query(
    "q420_kendalls_w_concordance",
    tags=("statistics", "nonparametric", "agreement"),
    oracle="""
WITH rev AS (
  SELECT n.n_regionkey AS rkey, p.p_brand AS brand,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS rev4
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
), grid AS MATERIALIZED (
  SELECT r.r_regionkey AS rkey, b.brand,
         CAST(coalesce(v.rev4, 0) AS BIGINT) AS rev4
  FROM region r
  CROSS JOIN (SELECT DISTINCT p_brand AS brand FROM part) b
  LEFT JOIN rev v ON v.rkey = r.r_regionkey AND v.brand = b.brand
), ranked AS MATERIALIZED (
  SELECT rkey, brand,
         2 * rank() OVER (PARTITION BY rkey ORDER BY rev4)
           + count(*) OVER (PARTITION BY rkey, rev4) - 1 AS two_r
  FROM grid
), dims AS (
  SELECT CAST(count(DISTINCT rkey) AS BIGINT) AS m,
         CAST(count(DISTINCT brand) AS BIGINT) AS n
  FROM grid
), ties AS (
  SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tt
  FROM (SELECT CAST(count(*) AS BIGINT) AS t
        FROM grid GROUP BY rkey, rev4)
), rsums AS MATERIALIZED (
  SELECT brand, CAST(sum(two_r) AS BIGINT) AS rank_sum2
  FROM ranked GROUP BY brand
), s4 AS (
  SELECT CAST(sum((rank_sum2 - d.m * (d.n + 1))
               * (rank_sum2 - d.m * (d.n + 1))) AS BIGINT) AS s4
  FROM rsums CROSS JOIN dims d
), stat AS (
  SELECT d.m, d.n,
         3.0 * s4.s4
           / (d.m * d.m * (d.n * d.n * d.n - d.n) - d.m * ties.tt) AS w
  FROM dims d CROSS JOIN s4 CROSS JOIN ties
)
SELECT r.brand, r.rank_sum2,
       round(r.rank_sum2 / (2.0 * st.m) + 1e-9, 6) AS mean_rank,
       st.m AS n_raters,
       round(st.w + 1e-9, 6) + 0 AS kendalls_w,
       round(st.m * (st.n - 1) * st.w + 1e-9, 4) + 0 AS chi2,
       CASE WHEN st.n = 25
            THEN round(st.m * (st.n - 1) * st.w + 1e-9, 4) > 36.415029
       END AS reject_5pct
FROM rsums r CROSS JOIN stat st
""",
)
def q420_kendalls_w_concordance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall's W coefficient of concordance: do the five regions
    rank the 25 part brands CONSISTENTLY by supplier-side revenue?
    The m-rater agreement statistic the labeling/evaluation stack was
    missing — q323's tau-b compares exactly TWO rankings pairwise and
    q268's Friedman tests whether treatments DIFFER; W measures how
    strongly m independent raters agree on one ordering (W = 1 total
    agreement, W = 0 no association; Friedman's statistic is the
    monotone transform m(n−1)W).

    Exactness: per-region revenue is the exact 1e-4-dollar lattice
    (cents x (100 − discount_pct), both BIGINT); the brand grid is
    DENSE (missing cells are true zero revenue) so every rater ranks
    the same n items; within-region average ranks are exact halves
    (2R = 2·rank + ties − 1, the q268 trick), so every rank sum, the
    squared deviation sum S4 = Σ(2R_j − m(n+1))², and the tie term
    ΣT = Σ(t³−t) are pure BIGINTs — W = 3·S4/(m²(n³−n) − m·ΣT) is a
    single exact-integer ratio cast to double once. The reject flag
    compares the ROUNDED chi-square transform to the literal
    χ²(24, .05) critical value, df-gated (the q377 rule); rounded
    stats carry the footgun-9 `+ 0` guard.

    Scale: one fact-table aggregation to the (region x brand) grain;
    the grid, rank windows (25 rows per region), and every statistic
    live on the bounded 125-cell frame. Dims broadcast.
    """
    li = read_table(
        spark,
        sf_dir,
        "lineitem",
        ["l_suppkey", "l_partkey", "l_extendedprice", "l_discount"],
    )
    sup = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    nat = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_regionkey"])
    reg = read_table(spark, sf_dir, "region", ["r_regionkey"])
    part = read_table(spark, sf_dir, "part", ["p_partkey", "p_brand"])
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(part.select("p_partkey", "p_brand"), li.l_partkey == F.col("p_partkey"))
        .groupBy(
            F.col("n_regionkey").alias("rkey"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (
                    100
                    - F.round(F.col("l_discount") * 100).cast("bigint")
                )
            )
            .cast("bigint")
            .alias("rev4")
        )
    )
    brands = part.select(F.col("p_brand").alias("brand")).distinct()
    grid = (
        reg.select(F.col("r_regionkey").alias("rkey"))
        .crossJoin(brands)
        .join(rev, ["rkey", "brand"], "left")
        .select(
            "rkey",
            "brand",
            F.coalesce(F.col("rev4"), F.lit(0)).cast("bigint").alias("rev4"),
        )
        .localCheckpoint(eager=False)  # ranks + dims + ties branches
    )
    wr = Window.partitionBy("rkey").orderBy("rev4")
    wt = Window.partitionBy("rkey", "rev4")
    ranked = grid.select(
        "rkey",
        "brand",
        (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        ).cast("bigint").alias("two_r"),
    )
    dims = grid.agg(
        F.countDistinct("rkey").cast("bigint").alias("m"),
        F.countDistinct("brand").cast("bigint").alias("n"),
    )
    ties = (
        grid.groupBy("rkey", "rev4")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    rsums = (
        ranked.groupBy("brand")
        .agg(F.sum("two_r").cast("bigint").alias("rank_sum2"))
        .localCheckpoint(eager=False)  # S4 reduce + output branches
    )
    s4 = rsums.crossJoin(F.broadcast(dims)).agg(
        F.sum(
            (F.col("rank_sum2") - F.col("m") * (F.col("n") + 1))
            * (F.col("rank_sum2") - F.col("m") * (F.col("n") + 1))
        )
        .cast("bigint")
        .alias("s4"),
        F.any_value("m").alias("m"),
        F.any_value("n").alias("n"),
    )
    stat = s4.crossJoin(F.broadcast(ties)).select(
        "m",
        "n",
        (
            F.lit(3.0)
            * F.col("s4")
            / (
                F.col("m") * F.col("m")
                * (F.col("n") * F.col("n") * F.col("n") - F.col("n"))
                - F.col("m") * F.col("tt")
            )
        ).alias("w"),
    )
    chi2 = fround(F.col("m") * (F.col("n") - 1) * F.col("w"), 4) + F.lit(0.0)
    return rsums.crossJoin(F.broadcast(stat)).select(
        "brand",
        "rank_sum2",
        fround(F.col("rank_sum2") / (2.0 * F.col("m")), 6).alias("mean_rank"),
        F.col("m").alias("n_raters"),
        (fround(F.col("w"), 6) + F.lit(0.0)).alias("kendalls_w"),
        chi2.alias("chi2"),
        F.when(F.col("n") == 25, chi2 > 36.415029).alias("reject_5pct"),
    )


@query(
    "q421_pages_l_trend",
    tags=("statistics", "nonparametric", "trend"),
    oracle="""
WITH cells AS (
  SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
              + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mi,
         o_orderpriority AS priority,
         CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS j,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2, 3
), full_blocks AS MATERIALIZED (
  SELECT * FROM cells
  WHERE mi IN (SELECT mi FROM cells GROUP BY mi HAVING count(*) = 5)
), ranked AS MATERIALIZED (
  SELECT a.mi, a.priority, a.j,
         2 * CAST(sum(CASE WHEN b.s * a.c < a.s * b.c THEN 1 ELSE 0 END)
                  AS BIGINT)
           + CAST(sum(CASE WHEN b.s * a.c = a.s * b.c THEN 1 ELSE 0 END)
                  AS BIGINT) + 1 AS two_r
  FROM full_blocks a
  JOIN full_blocks b ON b.mi = a.mi
  GROUP BY a.mi, a.priority, a.j
), per_j AS MATERIALIZED (
  SELECT priority, j,
         CAST(sum(two_r) AS BIGINT) AS rank_sum2,
         CAST(count(*) AS BIGINT) AS n_blocks
  FROM ranked GROUP BY priority, j
), stat AS (
  SELECT CAST(sum(j * rank_sum2) AS BIGINT) AS l2,
         CAST(any_value(n_blocks) AS BIGINT) AS b
  FROM per_j
)
SELECT p.priority, p.j, p.rank_sum2,
       round(p.rank_sum2 / (2.0 * st.b) + 1e-9, 6) AS mean_rank,
       st.b AS n_blocks,
       st.l2 AS l_doubled,
       round((st.l2 - 90.0 * st.b) / (10.0 * sqrt(CAST(st.b AS DOUBLE)))
             + 1e-9, 4) + 0 AS z_page,
       round((st.l2 - 90.0 * st.b) / (10.0 * sqrt(CAST(st.b AS DOUBLE)))
             + 1e-9, 4) > 1.644854 AS reject_5pct
FROM per_j p CROSS JOIN stat st
""",
)
def q421_pages_l_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for an ORDERED alternative across blocks: does
    mean order value rise monotonically with priority urgency, month
    by month? q268's Friedman only asks whether treatments differ;
    Page's L = Σ j·R_j is the trend-sensitive version when the
    treatment order is known a priori (here the priority dose order,
    the q408 convention) — the blocked sibling of q409's
    Jonckheere-Terpstra (which has no blocking).

    Exactness: blocks are calendar months with ALL five priorities
    present (exact count = 5 filter); within a block the five cells
    rank by mean order value compared as EXACT integer cross-products
    (s_b·c_a vs s_a·c_b — never a float average, the q359 WHERE
    lesson applied to ranking; Σcents·count stays inside int64
    through sf100), ties as exact-half average ranks via the doubled
    2R = 2·less + ties + 1. The doubled statistic 2L = Σ j·2R is pure
    BIGINT; with k = 5, E(L) = 45b and Var(L) = 25b collapse the
    z-score to (2L − 90b)/(10·√b) — one fixed float expression.
    One-sided reject on the ROUNDED z (footgun 3/9 guards).

    Scale: one fact aggregation to the (month x priority) grain;
    the rank pair-join (25 rows per block) and every statistic live
    on the bounded calendar frame.
    """
    o = read_table(
        spark, sf_dir, "orders",
        ["o_orderdate", "o_orderpriority", "o_totalprice"],
    )
    d = F.to_date("o_orderdate")
    cells = o.groupBy(
        (F.year(d) * 12 + F.month(d)).cast("bigint").alias("mi"),
        F.col("o_orderpriority").alias("priority"),
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("j"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    cells = cells.localCheckpoint(eager=False)  # block filter + pair join
    full = cells.join(
        cells.groupBy("mi")
        .agg(F.count(F.lit(1)).alias("nc"))
        .where(F.col("nc") == 5)
        .select("mi"),
        "mi",
        "left_semi",
    ).localCheckpoint(eager=False)  # both sides of the pair join
    b_side = full.select(
        F.col("mi").alias("mi_b"), F.col("s").alias("sb"),
        F.col("c").alias("cb"),
    )
    ranked = (
        full.join(b_side, F.col("mi_b") == F.col("mi"))
        .groupBy("mi", "priority", "j")
        .agg(
            (
                2
                * F.sum(
                    F.when(
                        F.col("sb") * F.col("c") < F.col("s") * F.col("cb"),
                        1,
                    ).otherwise(0)
                ).cast("bigint")
                + F.sum(
                    F.when(
                        F.col("sb") * F.col("c") == F.col("s") * F.col("cb"),
                        1,
                    ).otherwise(0)
                ).cast("bigint")
                + 1
            ).alias("two_r")
        )
    )
    per_j = (
        ranked.groupBy("priority", "j")
        .agg(
            F.sum("two_r").cast("bigint").alias("rank_sum2"),
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        )
        .localCheckpoint(eager=False)  # stat reduce + output branches
    )
    stat = per_j.agg(
        F.sum(F.col("j") * F.col("rank_sum2")).cast("bigint").alias("l2"),
        F.any_value("n_blocks").cast("bigint").alias("b"),
    )
    z = fround(
        (F.col("l2") - 90.0 * F.col("b"))
        / (F.lit(10.0) * F.sqrt(F.col("b").cast("double"))),
        4,
    ) + F.lit(0.0)
    return per_j.crossJoin(F.broadcast(stat)).select(
        "priority",
        "j",
        "rank_sum2",
        fround(F.col("rank_sum2") / (2.0 * F.col("b")), 6).alias("mean_rank"),
        F.col("b").alias("n_blocks"),
        F.col("l2").alias("l_doubled"),
        z.alias("z_page"),
        (z > 1.644854).alias("reject_5pct"),
    )


# chi2(df, 0.05) critical values in millionths for df = 1..10 — the
# Bowker test's df is the count of populated off-diagonal pairs
# (<= 10 with five event types), so the reject rule stays an exact
# integer comparison at every possible df.
_CHI2_5PCT_PPM = {
    1: 3841459,
    2: 5991465,
    3: 7814728,
    4: 9487729,
    5: 11070498,
    6: 12591587,
    7: 14067140,
    8: 15507313,
    9: 16918978,
    10: 18307038,
}


@query(
    "q422_bowker_symmetry",
    tags=("statistics", "hypothesis-test", "markov"),
    oracle=f"""
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), pairs AS MATERIALIZED (
  SELECT event_type AS prev_type, next_type,
         CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE next_type IS NOT NULL AND next_type <> event_type
  GROUP BY 1, 2
), sym AS MATERIALIZED (
  SELECT coalesce(f.a, r.a) AS type_a, coalesce(f.b, r.b) AS type_b,
         CAST(coalesce(f.c, 0) AS BIGINT) AS n_fwd,
         CAST(coalesce(r.c, 0) AS BIGINT) AS n_rev
  FROM (SELECT prev_type AS a, next_type AS b, c FROM pairs
        WHERE prev_type < next_type) f
  FULL OUTER JOIN
       (SELECT next_type AS a, prev_type AS b, c FROM pairs
        WHERE prev_type > next_type) r
    ON f.a = r.a AND f.b = r.b
), contrib AS MATERIALIZED (
  SELECT type_a, type_b, n_fwd, n_rev,
         1000000 * ((n_fwd - n_rev) * (n_fwd - n_rev) // (n_fwd + n_rev))
           + (1000000 * ((n_fwd - n_rev) * (n_fwd - n_rev)
                         % (n_fwd + n_rev))) // (n_fwd + n_rev)
           AS contrib_ppm
  FROM sym
), stat AS (
  SELECT CAST(sum(contrib_ppm) AS BIGINT) AS chi2_ppm,
         CAST(count(*) AS BIGINT) AS df
  FROM contrib
)
SELECT c.type_a, c.type_b, c.n_fwd, c.n_rev,
       CAST(c.contrib_ppm AS BIGINT) AS contrib_ppm,
       st.chi2_ppm, st.df,
       st.chi2_ppm > CASE st.df
         {" ".join(f"WHEN {k} THEN {v}" for k, v in _CHI2_5PCT_PPM.items())}
       END AS reject_5pct
FROM contrib c CROSS JOIN stat st
""",
)
def q422_bowker_symmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker test of symmetry on q138's event-type transition matrix:
    is flow between types time-reversible (n_ij ≈ n_ji for every
    unordered pair), or does traffic systematically drain one way
    (e.g. view→purchase ≫ purchase→view)? The multi-category
    generalization of McNemar; rejects when the chain has a preferred
    direction — exactly what q362's stationary analysis assumes away.

    Exactness: a ZERO-float query. Transition counts are exact;
    each pair's χ² contribution (n_ij − n_ji)²/(n_ij + n_ji) is
    quantized to millionths by the SPLIT integer division
    1e6·(d² DIV s) + (1e6·(d² MOD s)) DIV s — exactly equal to
    (1e6·d²) DIV s but overflow-safe past sf1000 (d² ≤ s² with the
    1e6 factor applied only to the sub-s remainder; every operand
    non-negative, so Spark's truncating div == DuckDB's floor //).
    Quantization error is < 1 ppm per pair, ≤ 10 ppm total — the
    q384 fixed-point discipline; χ² and the df-gated reject (CASE
    over the ten χ²(df) critical values in ppm) are pure BIGINT
    comparisons. Pairs with n_ij + n_rev = 0 carry no row on either
    side (the full-outer join only sees populated directions), so df
    counts populated pairs identically.

    Scale: q353's user-partitioned lead is the only fact-table pass;
    the symmetric pair frame is bounded by |types|²/2 (= 10 rows).
    """
    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_type", "ts", "event_id"]
    )
    seq = event_transitions(ev).where(F.col("next_type") != F.col("event_type"))
    pairs = transition_counts(seq).localCheckpoint(
        eager=False
    )  # forward + reverse halves
    fwd = pairs.where(F.col("prev_type") < F.col("next_type")).select(
        F.col("prev_type").alias("fa"),
        F.col("next_type").alias("fb"),
        F.col("c").alias("cf"),
    )
    rev = pairs.where(F.col("prev_type") > F.col("next_type")).select(
        F.col("next_type").alias("ra"),
        F.col("prev_type").alias("rb"),
        F.col("c").alias("cr"),
    )
    sym = fwd.join(
        rev, (F.col("fa") == F.col("ra")) & (F.col("fb") == F.col("rb")),
        "full_outer",
    ).select(
        F.coalesce(F.col("fa"), F.col("ra")).alias("type_a"),
        F.coalesce(F.col("fb"), F.col("rb")).alias("type_b"),
        F.coalesce(F.col("cf"), F.lit(0)).cast("bigint").alias("n_fwd"),
        F.coalesce(F.col("cr"), F.lit(0)).cast("bigint").alias("n_rev"),
    )
    d2 = (F.col("n_fwd") - F.col("n_rev")) * (F.col("n_fwd") - F.col("n_rev"))
    s = F.col("n_fwd") + F.col("n_rev")
    contrib = sym.select(
        "type_a",
        "type_b",
        "n_fwd",
        "n_rev",
        (
            F.lit(1000000).cast("bigint") * F.expr(
                "((n_fwd - n_rev) * (n_fwd - n_rev)) div (n_fwd + n_rev)"
            )
            + F.expr(
                "(1000000 * (((n_fwd - n_rev) * (n_fwd - n_rev))"
                " % (n_fwd + n_rev))) div (n_fwd + n_rev)"
            )
        )
        .cast("bigint")
        .alias("contrib_ppm"),
    ).localCheckpoint(eager=False)  # stat reduce + output branches
    crit = F.lit(None).cast("bigint")
    case = None
    for k, v in _CHI2_5PCT_PPM.items():
        cond = F.col("df") == k
        case = F.when(cond, v) if case is None else case.when(cond, v)
    stat = contrib.agg(
        F.sum("contrib_ppm").cast("bigint").alias("chi2_ppm"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    return contrib.crossJoin(F.broadcast(stat)).select(
        "type_a",
        "type_b",
        "n_fwd",
        "n_rev",
        "contrib_ppm",
        "chi2_ppm",
        "df",
        (F.col("chi2_ppm") > case.otherwise(crit)).alias("reject_5pct"),
    )


@query(
    "q423_cramer_von_mises",
    tags=("statistics", "hypothesis-test", "distribution"),
    oracle="""
WITH obs AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS ga
  FROM orders JOIN customer ON c_custkey = o_custkey
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
), hv AS MATERIALIZED (
  SELECT v, CAST(sum(ga) AS BIGINT) AS a,
         CAST(sum(1 - ga) AS BIGINT) AS b
  FROM obs GROUP BY v
), cums AS (
  SELECT a, b,
         CAST(sum(a) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS ca,
         CAST(sum(b) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cb
  FROM hv
), tot AS (
  SELECT CAST(sum(a) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS n_values
  FROM hv
), tsum AS (
  SELECT sum((a + b) * CAST(t.m * ca - t.n * cb AS DOUBLE)
             * CAST(t.m * ca - t.n * cb AS DOUBLE)) AS s
  FROM cums CROSS JOIN tot t
)
SELECT t.n AS n_building, t.m AS n_machinery, t.n_values,
       round(ts.s
             / ((CAST(t.n + t.m AS DOUBLE) * (t.n + t.m) * t.n) * t.m)
             + 1e-9, 6) + 0 AS cvm_t,
       round(ts.s
             / ((CAST(t.n + t.m AS DOUBLE) * (t.n + t.m) * t.n) * t.m)
             + 1e-9, 6) > 0.461 AS reject_5pct
FROM tot t CROSS JOIN tsum ts
""",
)
def q423_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises test: do BUILDING and MACHINERY
    customers draw order totals from the same distribution? The
    INTEGRATED-ECDF-distance test on q227's CDF machinery — q227's KS
    takes the single worst gap (sensitive to one local shift), CvM
    integrates the squared gap over the whole support, which is the
    stronger test against diffuse alternatives (scale/shape changes
    that never produce one big gap): T = nm/N² · Σ_k (F(x_k)−G(x_k))².

    Exactness: ECDF gaps on the distinct-cents histogram grain are
    exact integer cross-products d_v = m·A_v − n·B_v (inside int64
    past sf1000); d² crosses 2^63 so each term (a_v+b_v)·d·d is
    cast-once double — a SAME-SIGN well-conditioned sum (the q372
    class: worst-case order noise ~1e-10 relative vs the 5e-7
    half-gap at 6 dp), with the oracle spelling the identical
    left-associated product. The final normalization is one fixed
    expression; reject compares the ROUNDED T to the asymptotic 5%
    critical value 0.461 (footgun 9 `+ 0` guard).

    Scale: the prefix sums run on operators/rankops.py's two-level
    bucketed machinery (chained once per sample — no data-sized
    single-partition window); everything else is reductions. The
    histogram is bounded by distinct 2-decimal order totals.
    """
    from ...operators.rankops import bucketed_rank_cumsum

    o = read_table(spark, sf_dir, "orders", ["o_custkey", "o_totalprice"])
    c = read_table(spark, sf_dir, "customer", ["c_custkey", "c_mktsegment"])
    obs = (
        o.join(
            c.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")),
            o.o_custkey == c.c_custkey,
        )
        .select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("ga"),
        )
    )
    hv = obs.groupBy("v").agg(
        F.sum("ga").cast("bigint").alias("a"),
        F.sum(1 - F.col("ga")).cast("bigint").alias("b"),
    )
    cums = bucketed_rank_cumsum(
        hv, "v", (), "a", rank_out="_r1", cum_out="_ca"
    )
    cums = bucketed_rank_cumsum(
        cums, "v", (), "b", rank_out="_r2", cum_out="_cb"
    ).select(
        "a",
        "b",
        F.col("_ca").cast("bigint").alias("ca"),
        F.col("_cb").cast("bigint").alias("cb"),
    )
    cums = cums.localCheckpoint(eager=False)  # totals + term branches
    tot = cums.agg(
        F.sum("a").cast("bigint").alias("n"),
        F.sum("b").cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
    )
    d = (F.col("m") * F.col("ca") - F.col("n") * F.col("cb")).cast("double")
    tsum = cums.crossJoin(F.broadcast(tot)).agg(
        F.sum((F.col("a") + F.col("b")) * d * d).alias("s"),
        F.any_value("n").alias("n"),
        F.any_value("m").alias("m"),
        F.any_value("n_values").alias("n_values"),
    )
    t_stat = fround(
        F.col("s")
        / (
            (
                (F.col("n") + F.col("m")).cast("double")
                * (F.col("n") + F.col("m"))
                * F.col("n")
            )
            * F.col("m")
        ),
        6,
    ) + F.lit(0.0)
    return tsum.select(
        F.col("n").alias("n_building"),
        F.col("m").alias("n_machinery"),
        "n_values",
        t_stat.alias("cvm_t"),
        (t_stat > 0.461).alias("reject_5pct"),
    )


@query(
    "q425_fleiss_kappa",
    tags=("statistics", "labeling", "agreement"),
    oracle=f"""
WITH ratings AS (
  SELECT d.doc_id,
         CASE WHEN d.n_chars
                   + ({_hash16_sql("fleiss|", "(CAST(r.r AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR))")} % 121)
                   - 60 < 225 THEN 'short'
              WHEN d.n_chars
                   + ({_hash16_sql("fleiss|", "(CAST(r.r AS VARCHAR) || '|' || CAST(d.doc_id AS VARCHAR))")} % 121)
                   - 60 >= 390 THEN 'long'
              ELSE 'medium' END AS cat
  FROM documents d
  CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS r) r
), cells AS MATERIALIZED (
  SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS n_ic
  FROM ratings GROUP BY doc_id, cat
), agree AS (
  SELECT CAST(sum(n_ic * n_ic) AS BIGINT)
           - 5 * CAST(count(DISTINCT doc_id) AS BIGINT) AS a,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n
  FROM cells
), bycat AS MATERIALIZED (
  SELECT cat, CAST(sum(n_ic) AS BIGINT) AS b_c
  FROM cells GROUP BY cat
), ecat AS (
  SELECT CAST(sum(b_c * b_c) AS BIGINT) AS e FROM bycat
), stat AS (
  SELECT ag.n, ag.a, ec.e,
         CAST(ag.a AS DOUBLE) / (ag.n * 5 * 4) AS p_obs,
         CAST(ec.e AS DOUBLE) / ((ag.n * 5.0) * (ag.n * 5.0)) AS p_exp,
         CAST(ag.a * ag.n * 5 - 4 * ec.e AS DOUBLE)
           / (4.0 * ((ag.n * 5) * (ag.n * 5) - ec.e)) AS kappa
  FROM agree ag CROSS JOIN ecat ec
)
SELECT b.cat AS category, b.b_c AS n_assignments,
       round(b.b_c / (st.n * 5.0) + 1e-9, 6) AS p_category,
       st.n AS n_docs,
       round(st.p_obs + 1e-9, 6) AS p_observed,
       round(st.p_exp + 1e-9, 6) AS p_expected,
       round(st.kappa + 1e-9, 6) + 0 AS fleiss_kappa
FROM bycat b CROSS JOIN stat st
""",
)
def q425_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across five deterministic document-length raters
    — q183's Cohen kappa generalized from 2 raters to m (the
    crowdsourced-labeling agreement audit: each document is
    independently bucketed short/medium/long by five raters whose
    perceived length carries rater-specific +/-60-char keyed-hash
    jitter, the q127/q149 seeded-md5 verification convention; a
    production pipeline swaps in real annotator labels on the same
    (item, rater, category) contract).

    Exactness: with A = Σ n_ic² − n·m and E = Σ_c B_c² (both pure
    BIGINT; (nm)² stays inside int64 past sf1000), P̄ = A/(nm(m−1)),
    P̄e = E/(nm)², and kappa collapses to the single exact-integer
    ratio (A·nm − (m−1)E) / ((m−1)((nm)² − E)) — cast to double
    once, rounded with the footgun-9 `+ 0` guard (no-agreement
    kappa is exactly the near-zero case).

    Scale: the rater fan-out is a 5x literal explode map-side; the
    only shuffles are the (doc, category) count and two bounded
    reductions. Category marginals are a 3-row frame.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "n_chars"])
    rated = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.array(*[F.lit(r) for r in (1, 2, 3, 4, 5)])).alias("r"),
    )
    perceived = (
        F.col("n_chars")
        + _hash16(
            "fleiss|",
            F.concat(
                F.col("r").cast("string"),
                F.lit("|"),
                F.col("doc_id").cast("string"),
            ),
        )
        % 121
        - 60
    )
    ratings = rated.select(
        "doc_id",
        F.when(perceived < 225, "short")
        .when(perceived >= 390, "long")
        .otherwise("medium")
        .alias("cat"),
    )
    cells = (
        ratings.groupBy("doc_id", "cat")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ic"))
        .localCheckpoint(eager=False)  # agreement + marginal branches
    )
    agree = cells.agg(
        (
            F.sum(F.col("n_ic") * F.col("n_ic"))
            - 5 * F.countDistinct("doc_id")
        )
        .cast("bigint")
        .alias("a"),
        F.countDistinct("doc_id").cast("bigint").alias("n"),
    )
    bycat = (
        cells.groupBy("cat")
        .agg(F.sum("n_ic").cast("bigint").alias("b_c"))
        .localCheckpoint(eager=False)  # E reduce + output branches
    )
    ecat = bycat.agg(
        F.sum(F.col("b_c") * F.col("b_c")).cast("bigint").alias("e")
    )
    stat = agree.crossJoin(F.broadcast(ecat)).select(
        "n",
        "a",
        "e",
        (F.col("a").cast("double") / (F.col("n") * 5 * 4)).alias("p_obs"),
        (
            F.col("e").cast("double")
            / ((F.col("n") * 5.0) * (F.col("n") * 5.0))
        ).alias("p_exp"),
        (
            (F.col("a") * F.col("n") * 5 - 4 * F.col("e")).cast("double")
            / (
                F.lit(4.0)
                * ((F.col("n") * 5) * (F.col("n") * 5) - F.col("e"))
            )
        ).alias("kappa"),
    )
    return bycat.crossJoin(F.broadcast(stat)).select(
        F.col("cat").alias("category"),
        F.col("b_c").alias("n_assignments"),
        fround(F.col("b_c") / (F.col("n") * 5.0), 6).alias("p_category"),
        F.col("n").alias("n_docs"),
        fround(F.col("p_obs"), 6).alias("p_observed"),
        fround(F.col("p_exp"), 6).alias("p_expected"),
        (fround(F.col("kappa"), 6) + F.lit(0.0)).alias("fleiss_kappa"),
    )


@query(
    "q428_moods_median_test",
    tags=("statistics", "hypothesis-test", "nonparametric"),
    oracle=f"""
WITH {_PRIORITY_TIES_CTES}, rk AS MATERIALIZED (
  SELECT *, CAST(sum(tot) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum
  FROM hv
), tots AS (
  SELECT CAST(sum(tot) AS BIGINT) AS n_all FROM hv
), med AS (
  SELECT CAST(min(v) AS BIGINT) AS m
  FROM rk CROSS JOIN tots WHERE cum >= (n_all + 1) // 2
), sides AS MATERIALIZED (
  SELECT CASE WHEN v > med.m THEN 1 ELSE 0 END AS above,
         c1, c2, c3, c4, c5
  FROM rk CROSS JOIN med WHERE v <> med.m
), gr AS MATERIALIZED (
  SELECT g.grp AS priority,
         CAST(sum((CASE g.idx WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3
                              WHEN 4 THEN c4 ELSE c5 END) * above)
              AS BIGINT) AS n_above,
         CAST(sum((CASE g.idx WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3
                              WHEN 4 THEN c4 ELSE c5 END) * (1 - above))
              AS BIGINT) AS n_below
  FROM sides CROSS JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2),
                                ('3-MEDIUM', 3), ('4-NOT SPECIFIED', 4),
                                ('5-LOW', 5)) g(grp, idx)
  GROUP BY g.grp
), st AS (
  SELECT CAST(coalesce(sum(CASE WHEN priority = '1-URGENT' THEN n_above END), 0) AS BIGINT) AS a1,
         CAST(coalesce(sum(CASE WHEN priority = '2-HIGH' THEN n_above END), 0) AS BIGINT) AS a2,
         CAST(coalesce(sum(CASE WHEN priority = '3-MEDIUM' THEN n_above END), 0) AS BIGINT) AS a3,
         CAST(coalesce(sum(CASE WHEN priority = '4-NOT SPECIFIED' THEN n_above END), 0) AS BIGINT) AS a4,
         CAST(coalesce(sum(CASE WHEN priority = '5-LOW' THEN n_above END), 0) AS BIGINT) AS a5,
         CAST(coalesce(sum(CASE WHEN priority = '1-URGENT' THEN n_above + n_below END), 0) AS BIGINT) AS g1,
         CAST(coalesce(sum(CASE WHEN priority = '2-HIGH' THEN n_above + n_below END), 0) AS BIGINT) AS g2,
         CAST(coalesce(sum(CASE WHEN priority = '3-MEDIUM' THEN n_above + n_below END), 0) AS BIGINT) AS g3,
         CAST(coalesce(sum(CASE WHEN priority = '4-NOT SPECIFIED' THEN n_above + n_below END), 0) AS BIGINT) AS g4,
         CAST(coalesce(sum(CASE WHEN priority = '5-LOW' THEN n_above + n_below END), 0) AS BIGINT) AS g5,
         CAST(sum(n_above) AS BIGINT) AS a_tot,
         CAST(sum(n_below) AS BIGINT) AS b_tot
  FROM gr
), chi AS (
  SELECT a_tot, b_tot,
         (CASE WHEN g1 > 0 THEN CAST((a_tot + b_tot) * a1 - g1 * a_tot AS DOUBLE)
                                * CAST((a_tot + b_tot) * a1 - g1 * a_tot AS DOUBLE) / g1
               ELSE 0.0 END
          + CASE WHEN g2 > 0 THEN CAST((a_tot + b_tot) * a2 - g2 * a_tot AS DOUBLE)
                                  * CAST((a_tot + b_tot) * a2 - g2 * a_tot AS DOUBLE) / g2
                 ELSE 0.0 END
          + CASE WHEN g3 > 0 THEN CAST((a_tot + b_tot) * a3 - g3 * a_tot AS DOUBLE)
                                  * CAST((a_tot + b_tot) * a3 - g3 * a_tot AS DOUBLE) / g3
                 ELSE 0.0 END
          + CASE WHEN g4 > 0 THEN CAST((a_tot + b_tot) * a4 - g4 * a_tot AS DOUBLE)
                                  * CAST((a_tot + b_tot) * a4 - g4 * a_tot AS DOUBLE) / g4
                 ELSE 0.0 END
          + CASE WHEN g5 > 0 THEN CAST((a_tot + b_tot) * a5 - g5 * a_tot AS DOUBLE)
                                  * CAST((a_tot + b_tot) * a5 - g5 * a_tot AS DOUBLE) / g5
                 ELSE 0.0 END) AS s,
         CAST((CASE WHEN g1 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN g2 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN g3 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN g4 > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN g5 > 0 THEN 1 ELSE 0 END) - 1 AS BIGINT) AS df
  FROM st
), fin AS (
  SELECT df,
         CASE WHEN a_tot > 0 AND b_tot > 0
              THEN s / ((CAST(a_tot AS DOUBLE) * b_tot)
                        / CAST(a_tot + b_tot AS DOUBLE))
                   / CAST(a_tot + b_tot AS DOUBLE)
         END AS chi2
  FROM chi
)
SELECT g.priority, g.n_above, g.n_below,
       CAST(g.n_above + g.n_below AS BIGINT) AS n_group,
       med.m AS median_cents,
       round(fin.chi2 + 1e-9, 4) + 0 AS chi2,
       fin.df,
       CASE WHEN fin.df = 4
            THEN round(fin.chi2 + 1e-9, 4) > 9.487729
       END AS reject_5pct
FROM gr g CROSS JOIN fin CROSS JOIN med
""",
)
def q428_moods_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do the five order priorities differ in
    MEDIAN order value? The counts-only robust sibling of q407's
    Kruskal-Wallis — where KW ranks every observation (power against
    any distributional shift), Mood's test reduces each value to one
    bit (above/below the pooled median), which is the test of choice
    when the tails are untrustworthy (gross outliers, clipped or
    winsorized money) because no observation can contribute more than
    one count however extreme it is.

    Exactness: the pooled median is an EXACT rank selection (position
    (N+1)//2) on the distinct-CENTS histogram (the q184 rule — never
    an interpolated quantile); observations equal to the median drop
    on both sides (the classical treatment, the q411 convention), so
    every cell of the 2x5 table is an exact BIGINT. The chi-square
    collapses to chi2 = sum_g dd_g^2 / n_g / (A*B/N) / N with
    dd_g = N*a_g - n_g*A exact BIGINT per group (|dd| <= N^2/4,
    inside int64 through N ~ 6e9 rows); each square is cast-once
    double math in a FIXED five-literal-group expression tree (the
    q404 chain rule). The reject flag compares the ROUNDED chi2 to
    the literal chi^2(4, .05) critical value, df-gated (q377 rule),
    with the footgun-9 '+ 0' guard.

    Scale: the histogram grain is bounded by the distinct price
    lattice, not the row count; the cumsum uses the two-level
    operators/rankops.py::bucketed_rank_cumsum (no data-sized
    single-partition window); everything downstream is a <=5-row
    frame. Oracle uses the plain global window (single-node DuckDB),
    equivalence pinned by the q199 property tests.
    """
    from ...operators.rankops import bucketed_rank_cumsum

    orders = read_table(
        spark, sf_dir, "orders", ["o_orderpriority", "o_totalprice"]
    )
    hv = _priority_ties(orders)
    rk = bucketed_rank_cumsum(
        hv, "v", (), "tot", rank_out="_rk", cum_out="_cum"
    ).select(
        "v",
        "tot",
        "c1",
        "c2",
        "c3",
        "c4",
        "c5",
        F.col("_cum").cast("bigint").alias("cum"),
    )
    # three downstream branches (total, median selection, side counts)
    rk = rk.localCheckpoint()
    tots = rk.agg(F.sum("tot").cast("bigint").alias("n_all"))
    med = (
        rk.crossJoin(F.broadcast(tots))
        .where(F.col("cum") >= ((F.col("n_all") + 1) / 2).cast("bigint"))
        .agg(F.min("v").cast("bigint").alias("m"))
    )
    sides = (
        rk.crossJoin(F.broadcast(med))
        .where(F.col("v") != F.col("m"))
        .select(
            F.when(F.col("v") > F.col("m"), 1).otherwise(0).alias("above"),
            "c1",
            "c2",
            "c3",
            "c4",
            "c5",
        )
    )
    stack_expr = "stack(5, " + ", ".join(
        f"'{g}', c{i}" for i, g in enumerate(_PRIORITIES, 1)
    ) + ") as (priority, cnt)"
    gr = (
        sides.select("above", F.expr(stack_expr))
        .groupBy("priority")
        .agg(
            F.sum(F.col("cnt") * F.col("above"))
            .cast("bigint")
            .alias("n_above"),
            F.sum(F.col("cnt") * (1 - F.col("above")))
            .cast("bigint")
            .alias("n_below"),
        )
        .localCheckpoint()  # feeds both the output rows and the chi2 row
    )
    st = gr.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("priority") == g, F.col("n_above"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"a{i}")
            for i, g in enumerate(_PRIORITIES, 1)
        ],
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("priority") == g,
                        F.col("n_above") + F.col("n_below"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"g{i}")
            for i, g in enumerate(_PRIORITIES, 1)
        ],
        F.sum("n_above").cast("bigint").alias("a_tot"),
        F.sum("n_below").cast("bigint").alias("b_tot"),
    )
    a_tot, b_tot = F.col("a_tot"), F.col("b_tot")
    n_tot = a_tot + b_tot
    term = None
    df_expr = None
    for i in range(1, 6):
        a_i, g_i = F.col(f"a{i}"), F.col(f"g{i}")
        dd = (n_tot * a_i - g_i * a_tot).cast("double")
        t_i = F.when(g_i > 0, dd * dd / g_i).otherwise(F.lit(0.0))
        d_i = F.when(g_i > 0, 1).otherwise(0)
        term = t_i if term is None else term + t_i
        df_expr = d_i if df_expr is None else df_expr + d_i
    chi2 = F.when(
        (a_tot > 0) & (b_tot > 0),
        term
        / ((a_tot.cast("double") * b_tot) / n_tot.cast("double"))
        / n_tot.cast("double"),
    )
    fin = st.select(
        (df_expr - 1).cast("bigint").alias("df"),
        chi2.alias("chi2"),
    )
    chi2_r = fround(F.col("chi2"), 4)
    return gr.crossJoin(F.broadcast(fin)).crossJoin(F.broadcast(med)).select(
        "priority",
        "n_above",
        "n_below",
        (F.col("n_above") + F.col("n_below")).cast("bigint").alias("n_group"),
        F.col("m").alias("median_cents"),
        (chi2_r + F.lit(0.0)).alias("chi2"),
        "df",
        F.when(F.col("df") == 4, chi2_r > 9.487729).alias("reject_5pct"),
    )


@query(
    "q429_pettitt_change_point",
    tags=("statistics", "change-point", "time-series"),
    oracle="""
WITH daily AS (
  SELECT o_orderdate AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_orderdate
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM daily
), rk AS MATERIALIZED (
  SELECT day,
         2 * CAST(rank() OVER (ORDER BY cents) AS BIGINT)
           + CAST(count(*) OVER (PARTITION BY cents) AS BIGINT) - 1 AS two_r
  FROM daily
), pre AS MATERIALIZED (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(sum(two_r) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s2
  FROM rk
), uu AS MATERIALIZED (
  SELECT day, t, CAST(s2 - t * (nn.n + 1) AS BIGINT) AS u
  FROM pre CROSS JOIN nn WHERE t < nn.n
), kk AS (
  SELECT CAST(max(abs(u)) AS BIGINT) AS k FROM uu
), att AS (
  SELECT min(day) AS change_day FROM uu CROSS JOIN kk WHERE abs(u) = kk.k
), uat AS (
  SELECT u FROM uu CROSS JOIN att WHERE day = att.change_day
), pv AS (
  SELECT least(1.0, 2.0 * exp(-6.0 * (CAST(kk.k AS DOUBLE) * kk.k)
               / (CAST(nn.n AS DOUBLE) * nn.n * nn.n
                  + CAST(nn.n AS DOUBLE) * nn.n))) AS p
  FROM kk CROSS JOIN nn
)
SELECT nn.n AS n_days, kk.k AS k_stat, att.change_day AS change_day,
       uat.u AS u_at_change,
       round(pv.p + 1e-9, 6) + 0 AS p_approx,
       round(pv.p + 1e-9, 6) < 0.05 AS reject_5pct
FROM nn CROSS JOIN kk CROSS JOIN att CROSS JOIN uat CROSS JOIN pv
""",
)
def q429_pettitt_change_point(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pettitt's nonparametric change-point test on the daily revenue
    series: is there a single abrupt level shift, and on what day?
    The rank-based member of the change-detection family — q28's PELT
    is cost-model-based, q191's CUSUM and q401's Page-Hinkley are
    parametric drift monitors with a configured reference; Pettitt
    assumes NOTHING about the distribution and needs no reference
    level, which is what an audit runs first on an unfamiliar series.

    Exactness: U_t collapses to pure rank algebra — with doubled
    midranks 2R (= 2*rank + ties - 1, the q268/q407 trick, exact
    BIGINT), U_t = sum_{i<=t} 2R_i - t*(n+1) exactly (the i,j<=t sign
    double-sum is antisymmetric and cancels), so every U_t, the
    statistic K = max|U_t| over t < n, and the argmax day (earliest
    on ties) are exact integers. The approximate p-value
    2*exp(-6K^2/(n^3+n^2)) is a fixed expression over exact inputs
    (K^2 <= n^4/16 stays float-exact through the calendar-bounded n;
    exp at 6-dp rounding is the q413/q158 cross-engine precedent),
    clamped at 1, and the reject flag compares the ROUNDED p (q348
    rule) so the decision can never straddle engines.

    Scale: the series lives on the DAY grain — bounded by the
    calendar, not by order count (the q411 contract) — so the rank /
    prefix-sum windows are bounded funnels; everything before them is
    one map-side groupBy of the fact table.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_orderdate", "o_totalprice"]
    )
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    daily = daily.localCheckpoint()  # n branch + rank branch
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    rk = daily.select(
        "day",
        (
            2 * F.rank().over(Window.orderBy("cents")).cast("bigint")
            + F.count(F.lit(1))
            .over(Window.partitionBy("cents"))
            .cast("bigint")
            - 1
        ).alias("two_r"),
    )
    pre = rk.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        F.sum("two_r")
        .over(
            Window.orderBy("day").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("bigint")
        .alias("s2"),
    )
    uu = (
        pre.crossJoin(F.broadcast(nn))
        .where(F.col("t") < F.col("n"))
        .select(
            "day",
            "t",
            (F.col("s2") - F.col("t") * (F.col("n") + 1))
            .cast("bigint")
            .alias("u"),
        )
        .localCheckpoint()  # K reduce + argmax + u-at-change branches
    )
    kk = uu.agg(F.max(F.abs(F.col("u"))).cast("bigint").alias("k"))
    att = (
        uu.crossJoin(F.broadcast(kk))
        .where(F.abs(F.col("u")) == F.col("k"))
        .agg(F.min("day").alias("change_day"))
    )
    uat = (
        uu.crossJoin(F.broadcast(att))
        .where(F.col("day") == F.col("change_day"))
        .select("u")
    )
    k_d = F.col("k").cast("double")
    n_d = F.col("n").cast("double")
    pv = (
        kk.crossJoin(F.broadcast(nn))
        .select(
            F.least(
                F.lit(1.0),
                F.lit(2.0)
                * F.exp(
                    F.lit(-6.0)
                    * (k_d * F.col("k"))
                    / (n_d * F.col("n") * F.col("n") + n_d * F.col("n"))
                ),
            ).alias("p"),
            "n",
            "k",
        )
    )
    p_r = fround(F.col("p"), 6)
    return (
        pv.crossJoin(F.broadcast(att))
        .crossJoin(F.broadcast(uat))
        .select(
            F.col("n").alias("n_days"),
            F.col("k").alias("k_stat"),
            "change_day",
            F.col("u").alias("u_at_change"),
            (p_r + F.lit(0.0)).alias("p_approx"),
            (p_r < 0.05).alias("reject_5pct"),
        )
    )
