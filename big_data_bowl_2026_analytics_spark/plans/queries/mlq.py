"""Distributed model scoring + evaluation queries (SURVEY §2.9 U7/U8).

A fixed-weight logistic model (the deterministic stand-in for the
reference's XGBoost artifact) scores lineitem-derived features through
the Arrow-batched pandas UDF in ``ml/inference.py``; evaluation runs
as DataFrame aggregates. The oracles recompute the sigmoid in SQL —
cross-engine agreement holds because both sides use the host libm and
results are rounded with the stable nudge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves postponed hints here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ...functions.scalar import fround
from ...ml.evaluate import binary_metrics, calibration_bins
from ...ml.inference import score_dataframe
from ...ml.model import LogisticModel
from ...sources.readers import read_table
from ..registry import query
from ...core.session import local_frame
from .splits import _hash16, _hash16_sql

#: The fixed demo model used by the oracle-checked queries.
DEMO_MODEL = LogisticModel(
    weights=np.array([1.2, -0.8, 0.3]),
    bias=-0.5,
    feature_cols=("f_qty", "f_disc", "f_tax"),
)

_SIGMOID_SQL = (
    "1.0 / (1.0 + exp(-((-0.5 + 1.2 * (l_quantity / 50)) "
    "- 0.8 * (l_discount * 10) + 0.3 * (l_tax * 12.5))))"
)

_SCORED_CTE = f"""
scored AS (
  SELECT l_orderkey, l_linenumber,
         round({_SIGMOID_SQL} + 1e-9, 6) AS p,
         CASE WHEN l_quantity > 30 THEN 1.0 ELSE 0.0 END AS y
  FROM lineitem
  WHERE l_linenumber = 1
)
"""


def _scored(
    spark: SparkSession, sf_dir: str, native: bool = False
) -> DataFrame:
    """Feature frame + model probability. ``native=True`` scores with
    JVM column math (linear model; no Python stage) — used by the
    metric queries, while q50 keeps the Arrow path it exists to
    demonstrate. Both agree after the 6-decimal round (verified
    bitwise in ml/inference.py::score_column_native)."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"],
    )
    feats = li.where(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") / 50).alias("f_qty"),
        (F.col("l_discount") * 10).alias("f_disc"),
        (F.col("l_tax") * 12.5).alias("f_tax"),
        F.when(F.col("l_quantity") > 30, 1.0).otherwise(0.0).alias("target"),
    )
    return score_dataframe(feats, DEMO_MODEL, native=native)


@query(
    "q50_model_scoring_udf",
    tags=("ml", "pandas-udf"),
    oracle=f"""
WITH {_SCORED_CTE.strip()}
SELECT l_orderkey, l_linenumber, p AS probability
FROM scored
""",
)
def q50_model_scoring_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed scoring through an Arrow-batched pandas UDF — the
    reference's model.predict_proba batch inference
    (src/inference.py:34-51) running executor-side with the model in
    the closure. Vectorized numpy per Arrow batch, never per-row."""
    return _scored(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("probability") + 1e-9, 6).alias("probability"),
    )


@query(
    "q51_calibration_bins",
    tags=("ml", "evaluation"),
    oracle=f"""
WITH {_SCORED_CTE.strip()}
SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
       count(*) AS n,
       round(avg(p) + 1e-9, 6) AS mean_predicted,
       round(avg(y) + 1e-9, 6) AS observed_rate
FROM scored
GROUP BY CAST(least(floor(p * 10), 9) AS BIGINT)
""",
)
def q51_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile calibration curve (reference
    src/training/evaluate.py:29-70): predicted-probability bins vs
    observed positive rate, as a single groupBy."""
    return calibration_bins(_scored(spark, sf_dir, native=True))


@query(
    "q52_binary_metrics",
    tags=("ml", "evaluation"),
    oracle=f"""
WITH {_SCORED_CTE.strip()},
by_p AS (
  SELECT p, count(*) AS n, sum(y) AS n_pos_p FROM scored GROUP BY p
), terms AS (
  SELECT p, n, n_pos_p,
         n_pos_p * -ln(greatest(p, 1e-12))
           + (n - n_pos_p) * -ln(greatest(1 - p, 1e-12)) AS loss_sum,
         n_pos_p * pow(1 - p, 2) + (n - n_pos_p) * pow(p, 2) AS brier_sum
  FROM by_p
), ranked AS (
  SELECT p, n, n_pos_p, loss_sum, brier_sum,
         coalesce(sum(n) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM terms
), agg AS (
  SELECT sum((cum_before + (n + 1) / 2.0) * n_pos_p) AS sum_rank_pos,
         sum(n_pos_p) AS n_pos,
         sum(n - n_pos_p) AS n_neg,
         sum(loss_sum) AS loss_total,
         sum(brier_sum) AS brier_total,
         sum(n) AS n_rows
  FROM ranked
)
SELECT round((sum_rank_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg) + 1e-9, 6) AS auc,
       round(loss_total / n_rows + 1e-9, 6) AS log_loss,
       round(brier_total / n_rows + 1e-9, 6) AS brier,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg
FROM agg
""",
)
def q52_binary_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC (rank-sum over distinct rounded probabilities — no
    global sort of the scored set), log loss and Brier score as
    DataFrame aggregates (reference src/training/evaluate.py:29-70).
    Loss/Brier fold into the same groupBy(p) the rank-sum uses (y is
    binary, so the row-wise terms are exact functions of the group
    counts) — the scored input, which contains the Arrow scoring UDF
    stage, is scanned exactly once."""
    return binary_metrics(_scored(spark, sf_dir, native=True))


@query(
    "q145_weighted_median_grouped_agg",
    tags=("udf", "grouped-agg", "arrow"),
    oracle="""
WITH ordered AS (
  SELECT l_returnflag, l_extendedprice AS v,
         sum(l_quantity) OVER (
           PARTITION BY l_returnflag ORDER BY l_extendedprice
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cumw,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS total
  FROM lineitem
)
SELECT l_returnflag, min(v) AS weighted_median
FROM ordered WHERE cumw * 2 >= total
GROUP BY l_returnflag
""",
)
def q145_weighted_median_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag via a
    GROUPED-AGGREGATE pandas UDF — the one Arrow boundary flavor the
    taxonomy did not yet exercise (arrow-eval q50, grouped-map q28,
    map-iter q55): the whole group's
    (value, weight) arrays arrive as pandas Series, one scalar leaves.

    Engine-exactness: quantities are integer-valued doubles, so every
    cumulative weight is exact (< 2^53) regardless of summation order,
    and the smallest value whose cumulative weight reaches half the
    total is tie-order-independent (any ordering of equal values
    yields the same boundary value — argued row-group-wise). The
    output is a raw price passthrough, no rounding needed.

    Scale: Spark runs partial aggregation of the Arrow batches per
    partition? No — grouped-agg UDFs buffer each GROUP on one
    executor, so group size must be bounded (here: rows per return
    flag; for unbounded groups use the SQL window form the oracle
    demonstrates). That trade-off is the documented reason the engine
    prefers built-ins; this query exists to prove the boundary works,
    not to recommend it."""
    @F.pandas_udf("double")
    def weighted_median(v: pd.Series, w: pd.Series) -> float:
        df = pd.DataFrame({"v": v, "w": w}).sort_values("v", kind="mergesort")
        cum = df["w"].cumsum()
        total = float(cum.iloc[-1])
        return float(df["v"][(cum * 2 >= total)].iloc[0])

    li = read_table(
        spark, sf_dir, "lineitem", ["l_returnflag", "l_extendedprice", "l_quantity"]
    )
    return li.groupBy("l_returnflag").agg(
        weighted_median("l_extendedprice", "l_quantity").alias("weighted_median")
    )


def _line_features(li: DataFrame) -> DataFrame:
    """The demo model's features and label on each order's first line:
    ``(l_returnflag, f_qty, f_disc, f_tax, target)``."""
    return li.where(F.col("l_linenumber") == 1).select(
        "l_returnflag",
        (F.col("l_quantity") / 50).alias("f_qty"),
        (F.col("l_discount") * 10).alias("f_disc"),
        (F.col("l_tax") * 12.5).alias("f_tax"),
        F.when(F.col("l_quantity") > 30, 1.0).otherwise(0.0).alias("target"),
    )


@query(
    "q150_per_slice_metrics",
    tags=("ml", "evaluation", "monitoring"),
    oracle=f"""
WITH scored AS (
  SELECT l_returnflag AS slice,
         round({_SIGMOID_SQL} + 1e-9, 6) AS p,
         CASE WHEN l_quantity > 30 THEN 1.0 ELSE 0.0 END AS y
  FROM lineitem
  WHERE l_linenumber = 1
), by_p AS (
  SELECT slice, p, count(*) AS n, sum(y) AS n_pos_p
  FROM scored GROUP BY slice, p
), ranked AS (
  SELECT slice, p, n, n_pos_p,
         n - n_pos_p AS n_neg_p,
         coalesce(sum(n) OVER (
           PARTITION BY slice ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS before
  FROM by_p
), agg AS (
  SELECT slice,
         sum((before + (n + 1) / 2.0) * n_pos_p) AS sum_rank_pos,
         sum(n_pos_p) AS n_pos,
         sum(n_neg_p) AS n_neg,
         sum(n_pos_p * -ln(greatest(p, 1e-12))
             + n_neg_p * -ln(greatest(1 - p, 1e-12))) AS loss_total,
         sum(n_pos_p * (1 - p) * (1 - p) + n_neg_p * p * p) AS brier_total,
         sum(n) AS n_rows
  FROM ranked GROUP BY slice
)
SELECT slice,
       round((sum_rank_pos - n_pos * (n_pos + 1) / 2.0)
             / (n_pos * n_neg) + 1e-9, 6) AS auc,
       round(loss_total / n_rows + 1e-9, 6) AS log_loss,
       round(brier_total / n_rows + 1e-9, 6) AS brier,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg
FROM agg
""",
)
def q150_per_slice_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice model metrics (AUC / log-loss / Brier by return
    flag) — the monitoring cut that catches a model degrading on ONE
    segment while the global q52 numbers stay healthy. The rank window
    partitions by the slice (bounded by distinct rounded
    probabilities per slice — no q52-style two-level machinery
    needed), scoring is the native JVM path, and every rank summand is
    an exact half so the Mann-Whitney sum is association-order-exact
    on both engines."""
    from ...ml.evaluate import binary_metrics_by_group
    from ...ml.inference import score_column_native

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax",
         "l_returnflag"],
    )
    feats = _line_features(li)
    scored = feats.withColumn(
        "probability",
        score_column_native(
            DEMO_MODEL, F.col("f_qty"), F.col("f_disc"), F.col("f_tax")
        ),
    )
    return binary_metrics_by_group(scored, "l_returnflag")


@query(
    "q174_psi_score_stability",
    tags=("ml", "monitoring", "audit"),
    oracle=f"""
WITH {_SCORED_CTE.strip()},
halves AS (
  SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
         {{hash_expr}} % 2 AS half
  FROM scored
), cells AS (
  SELECT bin,
         CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS na,
         CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS nb
  FROM halves GROUP BY bin
), tot AS (
  SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
  FROM cells
)
SELECT bin, na, nb,
       round((na + 0.5) / (ta + 5.0) + 1e-9, 6) AS pa,
       round((nb + 0.5) / (tb + 5.0) + 1e-9, 6) AS pb,
       round(((na + 0.5) / (ta + 5.0) - (nb + 0.5) / (tb + 5.0))
             * ln(((na + 0.5) / (ta + 5.0)) / ((nb + 0.5) / (tb + 5.0)))
             + 1e-9, 6) + 0 AS psi_term
FROM cells, tot
""".replace("{hash_expr}", _hash16_sql("psi|", "l_orderkey")),
)
def q174_psi_score_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index of the model-score distribution
    between two content-hash halves of the scored population — the
    standard model-monitoring statistic (PSI < 0.1 stable, > 0.25
    investigate). Sum ``psi_term`` for the scalar PSI; per-bin rows
    localize WHICH deciles moved. On the hash split the halves are
    exchangeable, so PSI ≈ 0 — the null calibration a live
    deployment compares production batches against.

    Engine-exactness: bins come from the q51 decile expression over
    6-decimal-rounded probabilities; the +0.5/+5 Laplace smoothing
    keeps empty bins finite DETERMINISTICALLY (no epsilon tuning);
    every term is integer counts through fixed-order IEEE arithmetic,
    with the q110 ``+ 0`` sign-of-zero guard since near-null PSI
    terms round to ±0.

    Scale: scoring is pure JVM column math (q51's native path); one
    shuffle on the bin key; the totals frame is 10 rows.
    """
    from .splits import _hash16

    scored = _scored(spark, sf_dir, native=True).select(
        F.round(F.col("probability") + 1e-9, 6).alias("p"), "l_orderkey"
    )
    halves = scored.select(
        F.least(F.floor(F.col("p") * 10), F.lit(9))
        .cast("bigint")
        .alias("bin"),
        (_hash16("psi|", F.col("l_orderkey")) % 2).alias("half"),
    )
    cells = halves.groupBy("bin").agg(
        F.count_if(F.col("half") == 0).alias("na"),
        F.count_if(F.col("half") == 1).alias("nb"),
    )
    tot = cells.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    pa = (F.col("na") + 0.5) / (F.col("ta") + 5.0)
    pb = (F.col("nb") + 0.5) / (F.col("tb") + 5.0)
    return cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "na",
        "nb",
        fround(pa, 6).alias("pa"),
        fround(pb, 6).alias("pb"),
        (fround((pa - pb) * F.log(pa / pb), 6) + F.lit(0)).alias("psi_term"),
    )


@query(
    "q183_labeler_agreement_kappa",
    tags=("ml", "labeling", "audit"),
    oracle=f"""
WITH {{scored}},
lab AS (
  SELECT CASE WHEN y = 1.0 THEN 1 ELSE 0 END AS la,
         CASE WHEN p > 0.5 THEN 1 ELSE 0 END AS lb
  FROM scored
), conf AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE la = 1 AND lb = 1) AS BIGINT) AS n11,
         CAST(count(*) FILTER (WHERE la = 1 AND lb = 0) AS BIGINT) AS n10,
         CAST(count(*) FILTER (WHERE la = 0 AND lb = 1) AS BIGINT) AS n01,
         CAST(count(*) FILTER (WHERE la = 0 AND lb = 0) AS BIGINT) AS n00
  FROM lab
)
SELECT n, n11, n10, n01, n00,
       round((n11 + n00) * 1.0 / n + 1e-9, 6) AS p_observed,
       round(((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
             + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)
             + 1e-9, 6) AS p_expected,
       round(((n11 + n00) * 1.0 / n
              - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                 + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))
             / (1 - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                     + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n)))
             + 1e-9, 6) + 0 AS kappa
FROM conf
""".replace("{scored}", _SCORED_CTE.strip()),
)
def q183_labeler_agreement_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's kappa between two labeling functions — the rule label
    (quantity threshold) and the model's 0.5-threshold prediction —
    i.e. chance-corrected inter-labeler agreement, the weak-
    supervision audit that decides whether a new labeling function
    adds signal or noise (raw accuracy flatters imbalanced labels;
    kappa does not).

    One pass to the 2×2 confusion counts; everything after is
    integer-ratio arithmetic in a fixed order (rounded defensively,
    with the q110 ``+ 0`` guard since kappa near zero is exactly the
    interesting case). Both labelers compare on the 6-decimal-rounded
    probability, so the threshold decision is engine-identical.

    Scale: scoring is native JVM column math; the confusion matrix is
    a single map-side-combined aggregate — no shuffle wider than four
    counters.
    """
    scored = _scored(spark, sf_dir, native=True).select(
        F.round(F.col("probability") + 1e-9, 6).alias("p"),
        F.col("target").alias("y"),
    )
    lab = scored.select(
        F.when(F.col("y") == 1.0, 1).otherwise(0).alias("la"),
        F.when(F.col("p") > 0.5, 1).otherwise(0).alias("lb"),
    )
    conf = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if((F.col("la") == 1) & (F.col("lb") == 1)).alias("n11"),
        F.count_if((F.col("la") == 1) & (F.col("lb") == 0)).alias("n10"),
        F.count_if((F.col("la") == 0) & (F.col("lb") == 1)).alias("n01"),
        F.count_if((F.col("la") == 0) & (F.col("lb") == 0)).alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")) * 1.0 / F.col("n")
    pe = ((F.col("n11") + F.col("n10")) * 1.0 / F.col("n")) * (
        (F.col("n11") + F.col("n01")) * 1.0 / F.col("n")
    ) + ((F.col("n01") + F.col("n00")) * 1.0 / F.col("n")) * (
        (F.col("n10") + F.col("n00")) * 1.0 / F.col("n")
    )
    return conf.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        fround(po, 6).alias("p_observed"),
        fround(pe, 6).alias("p_expected"),
        (fround((po - pe) / (1 - pe), 6) + F.lit(0)).alias("kappa"),
    )


@query(
    "q184_conformal_calibration",
    tags=("ml", "uncertainty", "audit"),
    oracle=f"""
WITH {{scored}},
halved AS (
  SELECT p, y, __HASH__ % 2 AS half,
         l_orderkey, l_linenumber
  FROM scored
), cal AS (
  SELECT round(1 - p + 1e-9, 6) AS s, l_orderkey, l_linenumber
  FROM halved WHERE half = 0 AND y = 1.0
), n_cal AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM cal
), k AS (
  SELECT CAST(ceil((n + 1) * 0.9) AS BIGINT) AS k, n FROM n_cal
), ranked AS (
  SELECT s, row_number() OVER (ORDER BY s, l_orderkey, l_linenumber) AS r
  FROM cal
), qhat AS (
  SELECT s AS q_hat FROM ranked, k WHERE r = least(k.k, (SELECT n FROM n_cal))
), test AS (
  SELECT round(1 - p + 1e-9, 6) AS s
  FROM halved WHERE half = 1 AND y = 1.0
)
SELECT (SELECT n FROM n_cal) AS n_calibration,
       (SELECT k FROM k) AS k_order_stat,
       (SELECT q_hat FROM qhat) AS q_hat,
       CAST(count(*) AS BIGINT) AS n_test,
       round(count(*) FILTER (WHERE s <= (SELECT q_hat FROM qhat)) * 1.0
             / count(*) + 1e-9, 6) AS test_coverage
FROM test
""".replace("{scored}", _SCORED_CTE.strip()).replace(
        "__HASH__", _hash16_sql("conf|", "l_orderkey || '|' || l_linenumber")
    ),
)
def q184_conformal_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration: the ceil((n+1)·0.9)-th order
    statistic of the calibration half's nonconformity scores (1 − p
    on positives) is the distribution-free threshold q̂; measured
    coverage on the held-out half should land near 90% — the
    finite-sample uncertainty guarantee a scoring pipeline attaches
    to its predictions without any model retraining.

    Engine-exactness: scores derive from the 6-decimal-rounded
    probability, the order statistic is an exact rank selection with
    a unique tie-break (never an interpolated quantile), and coverage
    compares identical rounded values — every output is either an
    integer or an integer-indexed score.

    Scale: the rank selection runs on the CALIBRATION half of
    positives only (a bounded slice); at 100 TB it swaps to
    operators/rankops.py::bucketed_rank, same contract. One scan,
    one exchange per half.
    """
    from .splits import _hash16
    from pyspark.sql import Window

    scored = _scored(spark, sf_dir, native=True).select(
        F.round(F.col("probability") + 1e-9, 6).alias("p"),
        F.col("target").alias("y"),
        "l_orderkey",
        "l_linenumber",
        (
            _hash16(
                "conf|",
                F.concat_ws("|", "l_orderkey", "l_linenumber"),
            )
            % 2
        ).alias("half"),
    )
    cal = scored.where((F.col("half") == 0) & (F.col("y") == 1.0)).select(
        fround(1 - F.col("p"), 6).alias("s"), "l_orderkey", "l_linenumber"
    )
    n_cal = cal.agg(F.count(F.lit(1)).alias("n"))
    ranked = cal.withColumn(
        "r",
        F.row_number().over(
            Window.orderBy("s", "l_orderkey", "l_linenumber")
        ),
    )
    qhat = (
        ranked.crossJoin(F.broadcast(n_cal))
        .where(
            F.col("r")
            == F.least(
                F.ceil((F.col("n") + 1) * 0.9).cast("bigint"), F.col("n")
            )
        )
        .select(
            F.col("s").alias("q_hat"),
            F.col("n").alias("n_calibration"),
            F.ceil((F.col("n") + 1) * 0.9).cast("bigint").alias("k_order_stat"),
        )
    )
    test = scored.where((F.col("half") == 1) & (F.col("y") == 1.0)).select(
        fround(1 - F.col("p"), 6).alias("s")
    )
    return test.crossJoin(F.broadcast(qhat)).agg(
        F.any_value("n_calibration").alias("n_calibration"),
        F.any_value("k_order_stat").alias("k_order_stat"),
        F.any_value("q_hat").alias("q_hat"),
        F.count(F.lit(1)).alias("n_test"),
        fround(
            F.count_if(F.col("s") <= F.col("q_hat")) * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("test_coverage"),
    )


@query(
    "q186_woe_information_value",
    tags=("ml", "features", "audit"),
    oracle=f"""
WITH {{scored}},
binned AS (
  SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
         CASE WHEN y = 1.0 THEN 1 ELSE 0 END AS pos
  FROM scored
), cells AS (
  SELECT bin,
         CAST(count(*) FILTER (WHERE pos = 1) AS BIGINT) AS n_pos,
         CAST(count(*) FILTER (WHERE pos = 0) AS BIGINT) AS n_neg
  FROM binned GROUP BY bin
), tot AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS tp, CAST(sum(n_neg) AS BIGINT) AS tn,
         CAST(count(*) AS BIGINT) AS b
  FROM cells
)
SELECT bin, n_pos, n_neg,
       round(ln(((n_pos + 0.5) / (tp + 0.5 * b))
                / ((n_neg + 0.5) / (tn + 0.5 * b))) + 1e-9, 6) + 0 AS woe,
       round(((n_pos + 0.5) / (tp + 0.5 * b)
              - (n_neg + 0.5) / (tn + 0.5 * b))
             * ln(((n_pos + 0.5) / (tp + 0.5 * b))
                  / ((n_neg + 0.5) / (tn + 0.5 * b))) + 1e-9, 6) + 0
         AS iv_term
FROM cells, tot
""".replace("{scored}", _SCORED_CTE.strip()),
)
def q186_woe_information_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weight-of-evidence / information-value profile of the score
    deciles against the binary target — the credit-scoring standard
    for judging a feature's separating power (IV < 0.02 useless,
    > 0.5 suspiciously strong); sum ``iv_term`` for the scalar IV.

    Same engine-exactness posture as q174: decile bins over the
    rounded probability, +0.5-per-cell Laplace smoothing so empty
    cells stay finite deterministically, integer counts through
    fixed-order IEEE arithmetic, and the ``+ 0`` sign-of-zero guard
    (WOE crosses zero by construction).

    Scale: one scan to ≤10 cells; the totals frame is one row.
    """
    scored = _scored(spark, sf_dir, native=True).select(
        F.round(F.col("probability") + 1e-9, 6).alias("p"),
        F.col("target").alias("y"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("p") * 10), F.lit(9))
        .cast("bigint")
        .alias("bin"),
        F.when(F.col("y") == 1.0, 1).otherwise(0).alias("pos"),
    )
    cells = binned.groupBy("bin").agg(
        F.count_if(F.col("pos") == 1).alias("n_pos"),
        F.count_if(F.col("pos") == 0).alias("n_neg"),
    )
    tot = cells.agg(
        F.sum("n_pos").alias("tp"),
        F.sum("n_neg").alias("tn"),
        F.count(F.lit(1)).alias("b"),
    )
    dp = (F.col("n_pos") + 0.5) / (F.col("tp") + 0.5 * F.col("b"))
    dn = (F.col("n_neg") + 0.5) / (F.col("tn") + 0.5 * F.col("b"))
    woe = F.log(dp / dn)
    return cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_pos",
        "n_neg",
        (fround(woe, 6) + F.lit(0)).alias("woe"),
        (fround((dp - dn) * woe, 6) + F.lit(0)).alias("iv_term"),
    )


def _h_sql(p: str) -> str:
    """Binary entropy term in nats with explicit 0·ln0 = 0."""
    return (
        f"(CASE WHEN {p} <= 0 OR {p} >= 1 THEN 0.0 "
        f"ELSE -({p} * ln({p}) + (1 - {p}) * ln(1 - {p})) END)"
    )


@query(
    "q188_decision_stump",
    tags=("ml", "features", "mining"),
    oracle=f"""
WITH feat AS (
  SELECT l_discount * 10 AS f,
         CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END AS pos
  FROM lineitem WHERE l_linenumber = 1
), grid AS (
  SELECT unnest(generate_series(1, 9)) / 10.0 AS t
), split AS (
  SELECT g.t,
         CAST(count(*) FILTER (WHERE f.f < g.t) AS BIGINT) AS n_l,
         CAST(count(*) FILTER (WHERE f.f < g.t AND f.pos = 1) AS BIGINT)
           AS pos_l,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE f.pos = 1) AS BIGINT) AS pos
  FROM feat f CROSS JOIN grid g
  GROUP BY g.t
), gains AS (
  SELECT t, n_l, n - n_l AS n_r,
         round({_h_sql('(pos * 1.0 / n)')}
               - (n_l * 1.0 / n)
                 * {_h_sql('(CASE WHEN n_l = 0 THEN 0.0 ELSE pos_l * 1.0 / n_l END)')}
               - ((n - n_l) * 1.0 / n)
                 * {_h_sql('(CASE WHEN n = n_l THEN 0.0 ELSE (pos - pos_l) * 1.0 / (n - n_l) END)')}
               + 1e-9, 6) + 0 AS info_gain
  FROM split
)
SELECT t AS threshold, n_l AS n_left, n_r AS n_right, info_gain,
       row_number() OVER (ORDER BY info_gain DESC, t) = 1 AS is_best
FROM gains
""",
)
def q188_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D decision stump search: information gain of splitting the
    binary target on each candidate threshold of the discount
    feature, with the best split flagged — the inner loop of every
    tree learner, run as one grouped scan (the distributed
    "find-best-split" primitive a tree library fans out per feature).

    The CASE WHEN y = 1.0 label matches the q50 model target, so the
    stump's gain curve is directly comparable to the model's IV
    profile (q186): a stump that beats the model's top decile flags
    an interaction the linear model misses.

    Engine-exactness: split counts are integers from one conditional
    aggregation; entropies are fixed-order arithmetic on integer
    ratios with explicit 0·ln0 = 0 (no smoothing needed); the argmax
    ranks by the ROUNDED gain with the threshold as tie-break, and
    gains carry the sign-of-zero guard.

    Scale: the grid cross join multiplies rows by 9 candidate
    thresholds map-side and immediately collapses to 9 rows — at
    100 TB the same shape runs per (feature, threshold) pair, which
    is exactly how distributed GBDT split-finding works.
    """
    from pyspark.sql import Window

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_discount", "l_quantity", "l_linenumber"],
    )
    feat = li.where(F.col("l_linenumber") == 1).select(
        (F.col("l_discount") * 10).alias("f"),
        F.when(F.col("l_quantity") > 30, 1).otherwise(0).alias("pos"),
    )
    grid = local_frame(feat.sparkSession, 
        [(k / 10.0,) for k in range(1, 10)], "t double"
    )
    split = (
        feat.crossJoin(F.broadcast(grid))
        .groupBy("t")
        .agg(
            F.count_if(F.col("f") < F.col("t")).alias("n_l"),
            F.count_if(
                (F.col("f") < F.col("t")) & (F.col("pos") == 1)
            ).alias("pos_l"),
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("pos") == 1).alias("pos"),
        )
    )

    def h(p):
        return F.when((p <= 0) | (p >= 1), 0.0).otherwise(
            -(p * F.log(p) + (1 - p) * F.log(1 - p))
        )

    p_parent = F.col("pos") * 1.0 / F.col("n")
    p_l = F.when(F.col("n_l") == 0, 0.0).otherwise(
        F.col("pos_l") * 1.0 / F.col("n_l")
    )
    p_r = F.when(F.col("n") == F.col("n_l"), 0.0).otherwise(
        (F.col("pos") - F.col("pos_l")) * 1.0 / (F.col("n") - F.col("n_l"))
    )
    gain = (
        h(p_parent)
        - (F.col("n_l") * 1.0 / F.col("n")) * h(p_l)
        - ((F.col("n") - F.col("n_l")) * 1.0 / F.col("n")) * h(p_r)
    )
    gains = split.select(
        F.col("t").alias("threshold"),
        F.col("n_l").alias("n_left"),
        (F.col("n") - F.col("n_l")).alias("n_right"),
        (fround(gain, 6) + F.lit(0)).alias("info_gain"),
    )
    return gains.withColumn(
        "is_best",
        F.row_number().over(
            Window.orderBy(F.desc("info_gain"), "threshold")
        )
        == 1,
    )


@query(
    "q225_capture_recapture",
    tags=("statistics", "sampling", "audit"),
    oracle=f"""
WITH marks AS (
  SELECT doc_id,
         CASE WHEN {_hash16_sql('cap1|', 'doc_id')} % 100 < 20
              THEN 1 ELSE 0 END AS in_a,
         CASE WHEN {_hash16_sql('cap2|', 'doc_id')} % 100 < 20
              THEN 1 ELSE 0 END AS in_b
  FROM documents
), counts AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(sum(in_b) AS BIGINT) AS n_b,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
         CAST(count(*) AS BIGINT) AS true_n
  FROM marks
)
SELECT n_a, n_b, n_both, true_n,
       round((n_a + 1.0) * (n_b + 1.0) / (n_both + 1.0) - 1 + 1e-9, 4)
         AS chapman_estimate,
       round(((n_a + 1.0) * (n_b + 1.0) / (n_both + 1.0) - 1 - true_n)
             / true_n + 1e-9, 6) AS rel_error
FROM counts
""",
)
def q225_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture population estimate from two
    independent 20% hash samples: N ≈ (n_a+1)(n_b+1)/(n_both+1) − 1.
    The estimator every scale pipeline needs when the true population
    is too expensive to enumerate (distinct URLs behind a crawl
    frontier, dedup clusters behind a sampled LSH pass) — two cheap
    marked samples bound it, and on this closed corpus the known true
    count pins the estimator's realized error.

    Independence holds because the two membership hashes use
    different seeds; counts are map-side integer sums and the
    estimate is one fixed expression.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id"])
    marks = docs.select(
        F.when(_hash16("cap1|", F.col("doc_id")) % 100 < 20, 1)
        .otherwise(0)
        .alias("in_a"),
        F.when(_hash16("cap2|", F.col("doc_id")) % 100 < 20, 1)
        .otherwise(0)
        .alias("in_b"),
    )
    counts = marks.agg(
        F.sum("in_a").alias("n_a"),
        F.sum("in_b").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        F.count(F.lit(1)).alias("true_n"),
    )
    chapman = (
        (F.col("n_a") + 1.0) * (F.col("n_b") + 1.0) / (F.col("n_both") + 1.0)
        - 1
    )
    return counts.select(
        "n_a",
        "n_b",
        "n_both",
        "true_n",
        fround(chapman, 4).alias("chapman_estimate"),
        fround((chapman - F.col("true_n")) / F.col("true_n"), 6).alias(
            "rel_error"
        ),
    )


@query(
    "q226_lift_gains_table",
    tags=("ml", "evaluation", "report"),
    oracle=f"""
WITH {_SCORED_CTE.strip()},
ranked AS (
  SELECT y,
         CAST(row_number() OVER (ORDER BY p DESC, l_orderkey)
              AS BIGINT) AS r
  FROM scored
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS nr,
         CAST(sum(y) AS BIGINT) AS total_pos
  FROM ranked
), deciles AS (
  SELECT CAST(floor((r - 1) * 10.0 / nr) + 1 AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(y) AS BIGINT) AS n_pos
  FROM ranked, n GROUP BY 1
), cum AS (
  SELECT decile, n_rows, n_pos,
         CAST(sum(n_rows) OVER w AS BIGINT) AS cum_rows,
         CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos
  FROM deciles
  WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT decile, n_rows, n_pos,
       round(cum_pos * 1.0 / total_pos + 1e-9, 6) AS cum_gain,
       round((cum_pos * 1.0 / cum_rows) / (total_pos * 1.0 / nr) + 1e-9, 6)
         AS cum_lift
FROM cum, n
""",
)
def q226_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by score decile — the campaign-
    targeting report next to q51's calibration and q52's AUC: "mailing
    the top 2 deciles captures X% of responders at Y× random". Deciles
    are RANK-based (equal population, the marketing convention), not
    score-value bins: the global rank runs through the two-level
    bucketed rank with the descending flip's reversed tie-break
    (the q218 rule), so no row-grain single-partition window exists;
    the cumulative windows run on the 10-row decile frame.

    All counts are integers; gains/lifts are exact-integer ratios in
    one fixed expression each.
    """
    from ...operators.rankops import bucketed_rank

    scored = _scored(spark, sf_dir, native=True).select(
        "l_orderkey",
        F.round(F.col("probability") + 1e-9, 6).alias("p"),
        F.col("target").alias("y"),
    )
    p_int = F.round(F.col("p") * 1e6).cast("bigint")
    base = scored.select(
        "y",
        (p_int + 1).alias("p_key"),
        (-F.col("l_orderkey")).alias("neg_key"),
    )
    asc = bucketed_rank(base, "p_key", ["neg_key"], "r_asc")
    n = asc.agg(
        F.count(F.lit(1)).alias("nr"), F.sum("y").cast("bigint").alias(
            "total_pos"
        )
    )
    ranked = asc.crossJoin(F.broadcast(n)).select(
        "y",
        "nr",
        "total_pos",
        (F.col("nr") + 1 - F.col("r_asc")).alias("r"),
    )
    deciles = (
        ranked.withColumn(
            "decile",
            (F.floor((F.col("r") - 1) * 10.0 / F.col("nr")) + 1).cast(
                "bigint"
            ),
        )
        .groupBy("decile", "nr", "total_pos")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("y").cast("bigint").alias("n_pos"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = deciles.select(
        "decile",
        "n_rows",
        "n_pos",
        "nr",
        "total_pos",
        F.sum("n_rows").over(w).cast("bigint").alias("cum_rows"),
        F.sum("n_pos").over(w).cast("bigint").alias("cum_pos"),
    )
    return cum.select(
        "decile",
        "n_rows",
        "n_pos",
        fround(F.col("cum_pos") * 1.0 / F.col("total_pos"), 6).alias(
            "cum_gain"
        ),
        fround(
            (F.col("cum_pos") * 1.0 / F.col("cum_rows"))
            / (F.col("total_pos") * 1.0 / F.col("nr")),
            6,
        ).alias("cum_lift"),
    )


@query(
    "q227_model_ks_separation",
    tags=("ml", "evaluation"),
    oracle=f"""
WITH {_SCORED_CTE.strip()},
by_p AS (
  SELECT p,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos_p
  FROM scored GROUP BY p
), tot AS (
  SELECT CAST(sum(n_pos_p) AS BIGINT) AS n_pos,
         CAST(sum(n - n_pos_p) AS BIGINT) AS n_neg
  FROM by_p
), cdf AS (
  SELECT p,
         CAST(sum(n_pos_p) OVER w AS BIGINT) AS cum_pos,
         CAST(sum(n - n_pos_p) OVER w AS BIGINT) AS cum_neg
  FROM by_p
  WINDOW w AS (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), d AS (
  SELECT p,
         abs(cum_pos * 1.0 / n_pos - cum_neg * 1.0 / n_neg) AS dist
  FROM cdf, tot
), mx AS (
  SELECT max(dist) AS ks FROM d
)
SELECT round(min(mx.ks) + 1e-9, 6) AS ks,
       round(min(d.p) + 1e-9, 6) AS ks_threshold,
       min(n_pos) AS n_pos,
       min(n_neg) AS n_neg
FROM d, mx, tot
WHERE d.dist = mx.ks
""",
)
def q227_model_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation of the model's score
    distributions for positives vs negatives — the credit-scoring
    twin of AUC (q52): KS is the largest CDF gap, and its argmax is
    the natural operating threshold. CDFs are cumulative exact-
    integer counts over the DISTINCT-SCORE grain: probabilities are
    6-decimal-rounded, so the ordered window is bounded by ≤ 1e6 + 1
    distinct values at any data scale (the q121/q165 bounded-domain
    contract). The threshold is selected by the exact max-then-min-p
    rule, never an order-sensitive argmax (footgun 6).
    """
    scored = _scored(spark, sf_dir, native=True).select(
        F.round(F.col("probability") + 1e-9, 6).alias("p"),
        F.col("target").alias("y"),
    )
    by_p = scored.groupBy("p").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("bigint").alias(
            "n_pos_p"
        )
    )
    tot = by_p.agg(
        F.sum("n_pos_p").cast("bigint").alias("n_pos"),
        F.sum(F.col("n") - F.col("n_pos_p")).cast("bigint").alias("n_neg"),
    )
    w = Window.orderBy("p").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = by_p.select(
        "p",
        F.sum("n_pos_p").over(w).cast("bigint").alias("cum_pos"),
        F.sum(F.col("n") - F.col("n_pos_p")).over(w).cast("bigint").alias(
            "cum_neg"
        ),
    )
    d = cdf.crossJoin(F.broadcast(tot)).select(
        "p",
        "n_pos",
        "n_neg",
        F.abs(
            F.col("cum_pos") * 1.0 / F.col("n_pos")
            - F.col("cum_neg") * 1.0 / F.col("n_neg")
        ).alias("dist"),
    ).localCheckpoint(eager=False)
    mx = d.agg(F.max("dist").alias("ks"))
    return (
        d.crossJoin(F.broadcast(mx))
        .where(F.col("dist") == F.col("ks"))
        .agg(
            fround(F.min("ks"), 6).alias("ks"),
            fround(F.min("p"), 6).alias("ks_threshold"),
            F.min("n_pos").alias("n_pos"),
            F.min("n_neg").alias("n_neg"),
        )
    )


@query(
    "q230_isotonic_calibration",
    tags=("ml", "calibration", "applyInPandas"),
    oracle=None,  # PAV's sequential pooling is not SQL-expressible;
    # rows-only check, but every row carries the KKT invariants
    # (block_mean_ok, monotone_ok) — the q28 self-validation pattern —
    # and tests cross-check PAV against the independent greatest-
    # convex-minorant construction.
)
def q230_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of the demo model per return
    flag: the nonparametric recalibration step that maps raw scores to
    empirically monotone probabilities — the production alternative to
    q51's fixed decile bins when the calibration curve is not
    piecewise-constant-in-deciles. Runs PAV per slice via the grouped
    Arrow operator (operators/isotonic.py): sequential within a
    slice's distinct-score series (bounded by 1e6+1 rounded scores),
    parallel across slices.

    Self-validating output: ``block_mean_ok`` and ``monotone_ok`` are
    the necessary-and-sufficient optimality conditions of the
    monotone least-squares program, so the weak rows-only gate still
    pins correctness.
    """
    from ...ml.inference import score_column_native
    from ...operators.isotonic import isotonic_calibration

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_linenumber", "l_quantity", "l_discount", "l_tax", "l_returnflag"],
    )
    feats = _line_features(li)
    scored = feats.select(
        "l_returnflag",
        "target",
        F.round(
            score_column_native(
                DEMO_MODEL, F.col("f_qty"), F.col("f_disc"), F.col("f_tax")
            )
            + 1e-9,
            6,
        ).alias("p"),
    )
    return isotonic_calibration(scored, "l_returnflag", "p", "target")


@query(
    "q240_brier_decomposition",
    tags=("ml", "evaluation", "calibration"),
    oracle=f"""
WITH {_SCORED_CTE.strip()},
bins AS (
  SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         sum(p) AS sum_p,
         CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS n_pos,
         sum((p - y) * (p - y)) AS brier_sum
  FROM scored
  GROUP BY CAST(least(floor(p * 10), 9) AS BIGINT)
), gtot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(sum(n_pos) AS DOUBLE) AS pos
  FROM bins
), pre AS (
  SELECT b.n, g.n_rows,
         (g.pos * 1.0) / g.n_rows AS obar,
         b.brier_sum / g.n_rows AS brier_c,
         (b.n * (((b.sum_p / b.n) - (b.n_pos / b.n))
               * ((b.sum_p / b.n) - (b.n_pos / b.n)))) / g.n_rows AS rel_c,
         (b.n * (((b.n_pos / b.n) - ((g.pos * 1.0) / g.n_rows))
               * ((b.n_pos / b.n) - ((g.pos * 1.0) / g.n_rows)))) / g.n_rows
           AS res_c
  FROM bins b CROSS JOIN gtot g
)
SELECT max(n_rows) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_bins,
       round(sum(brier_c) + 1e-9, 6) AS brier,
       round(sum(rel_c) + 1e-9, 6) AS reliability,
       round(sum(res_c) + 1e-9, 6) AS resolution,
       round(max(obar) * (1 - max(obar)) + 1e-9, 6) AS uncertainty,
       round(sum(brier_c)
             - ((sum(rel_c) - sum(res_c)) + (max(obar) * (1 - max(obar))))
             + 1e-9, 6) AS decomp_gap
FROM pre
""",
)
def q240_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score over q51's decile bins:
    brier = reliability - resolution + uncertainty (+ a within-bin
    variance gap, reported honestly as ``decomp_gap`` since forecasts
    inside a decile are not constant) — the diagnostic that says
    WHETHER a bad Brier score comes from miscalibration (reliability)
    or from the model simply not separating classes (resolution), which
    q52's scalar metrics cannot distinguish.

    Two-level aggregate: bin partials (one shuffle on the 10-value bin
    key), a 10-row global reduce broadcast back, and a single-row
    output — no global windows, no per-row second pass. The bin frame
    feeds two branches, so it truncates lineage (q187 rule). Counts
    are exact integers; float contributions are the q24 sum class,
    fround-absorbed, with every division/association order written
    identically in both engines (q143 rule).
    """
    from ...ml.inference import score_column_native

    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_linenumber", "l_quantity", "l_discount", "l_tax"],
    )
    scored = li.where(F.col("l_linenumber") == 1).select(
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
        F.when(F.col("l_quantity") > 30, 1.0).otherwise(0.0).alias("y"),
    )
    bins = (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 10), F.lit(9))
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p").alias("sum_p"),
            F.sum("y").cast("bigint").cast("double").alias("n_pos"),
            F.sum(
                (F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))
            ).alias("brier_sum"),
        )
        .localCheckpoint(eager=False)  # global reduce + final agg branches
    )
    glob = bins.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum("n_pos").cast("double").alias("pos"),
    )
    obar = (F.col("pos") * 1.0) / F.col("n_rows")
    fbar = F.col("sum_p") / F.col("n")
    obar_k = F.col("n_pos") / F.col("n")
    pre = bins.crossJoin(F.broadcast(glob)).select(
        "n",
        "n_rows",
        obar.alias("obar"),
        (F.col("brier_sum") / F.col("n_rows")).alias("brier_c"),
        (
            (F.col("n") * ((fbar - obar_k) * (fbar - obar_k)))
            / F.col("n_rows")
        ).alias("rel_c"),
        (
            (F.col("n") * ((obar_k - obar) * (obar_k - obar)))
            / F.col("n_rows")
        ).alias("res_c"),
    )
    unc = F.max("obar") * (1 - F.max("obar"))
    return pre.agg(
        F.max("n_rows").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        fround(F.sum("brier_c"), 6).alias("brier"),
        fround(F.sum("rel_c"), 6).alias("reliability"),
        fround(F.sum("res_c"), 6).alias("resolution"),
        fround(unc, 6).alias("uncertainty"),
        fround(
            F.sum("brier_c")
            - ((F.sum("rel_c") - F.sum("res_c")) + unc),
            6,
        ).alias("decomp_gap"),
    )


@query(
    "q245_target_encoding_loo",
    tags=("ml", "feature-engineering"),
    oracle="""
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_suppkey,
         CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END AS y
  FROM lineitem
), cat AS (
  SELECT l_suppkey,
         CAST(count(*) AS BIGINT) AS n_cat,
         CAST(CAST(sum(y) AS BIGINT) AS BIGINT) AS n_pos
  FROM base GROUP BY l_suppkey
), prior AS (
  SELECT CAST(CAST(sum(y) AS BIGINT) AS DOUBLE)
           / count(*) AS p_global
  FROM base
)
SELECT b.l_orderkey, b.l_linenumber, b.l_suppkey, CAST(b.y AS BIGINT) AS y,
       CASE WHEN c.n_cat > 1
            THEN round((c.n_pos - b.y) * 1.0 / (c.n_cat - 1) + 1e-9, 6)
            ELSE NULL END AS loo_rate,
       round(((c.n_pos - b.y) + 10.0 * p.p_global)
             / ((c.n_cat - 1) + 10.0) + 1e-9, 6) AS loo_smoothed
FROM base b
JOIN cat c ON b.l_suppkey = c.l_suppkey
CROSS JOIN prior p
""",
)
def q245_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of supplier against the q50
    label: each row's category rate EXCLUDES its own label —
    (n_pos − y)/(n − 1) raw, plus the m-estimate smoothing
    ((n_pos − y) + m·prior)/((n − 1) + m) at m=10 — the leakage-free
    categorical feature every tabular training pipeline derives, and
    the reason naive per-category means overfit singleton categories
    (raw LOO is NULL there; the smoothed variant falls back to the
    global prior, both sides identically).

    Scale: one category aggregate shuffled on the key, joined back to
    the fact rows (the category frame is |categories|-sized — a
    shuffle join by default, broadcast only when the optimizer proves
    it small); the one-row global prior broadcasts. LOO rates are
    exact integer ratios (rule 5); the smoothed rate's float algebra
    is written in the identical association on both sides (q143).
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_linenumber", "l_suppkey", "l_quantity"],
    )
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        F.when(F.col("l_quantity") > 30, 1).otherwise(0).alias("y"),
    ).localCheckpoint(eager=False)  # category agg + prior + fact branches
    cat = base.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_cat"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    prior = base.agg(
        (F.sum("y").cast("bigint").cast("double") / F.count(F.lit(1))).alias(
            "p_global"
        )
    )
    return (
        base.join(cat, "l_suppkey")
        .crossJoin(F.broadcast(prior))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            F.col("y").cast("bigint").alias("y"),
            F.when(
                F.col("n_cat") > 1,
                fround(
                    (F.col("n_pos") - F.col("y"))
                    * 1.0
                    / (F.col("n_cat") - 1),
                    6,
                ),
            ).otherwise(F.lit(None).cast("double")).alias("loo_rate"),
            fround(
                ((F.col("n_pos") - F.col("y")) + 10.0 * F.col("p_global"))
                / ((F.col("n_cat") - 1) + 10.0),
                6,
            ).alias("loo_smoothed"),
        )
    )


@query(
    "q331_boosted_stumps",
    tags=("ml", "training", "boosting"),
    oracle="""
WITH cust AS MATERIALIZED (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS x1,
         CAST(max(CAST(o_orderdate AS DATE))
              - min(CAST(o_orderdate AS DATE)) AS BIGINT) AS x2,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS y
  FROM orders GROUP BY o_custkey
), gt AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syyd
  FROM cust
), c1 AS (
  SELECT CAST(unnest([2, 4, 6, 8, 10, 12, 15, 20]) AS BIGINT) AS t1
), s1 AS (
  SELECT t1,
         CAST(sum(CASE WHEN x1 <= t1 THEN 1 ELSE 0 END) AS BIGINT) AS nl,
         CAST(sum(CASE WHEN x1 <= t1 THEN y ELSE 0 END) AS BIGINT) AS syl
  FROM cust, c1 GROUP BY t1
), g1 AS (
  SELECT t1, nl, syl,
         CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE) / nl
           + (CAST(sy AS DOUBLE) - CAST(syl AS DOUBLE))
             * (CAST(sy AS DOUBLE) - CAST(syl AS DOUBLE)) / (n - nl)
           AS gain1
  FROM s1, gt WHERE nl > 0 AND nl < n
), b1 AS (
  SELECT t1, nl, syl, gain1 FROM (
    SELECT *, row_number() OVER (ORDER BY gain1 DESC, t1) AS rn FROM g1
  ) WHERE rn = 1
), m1 AS (
  SELECT t1, nl, syl, gain1,
         CAST(syl AS DOUBLE) / nl AS mul,
         (CAST(sy AS DOUBLE) - CAST(syl AS DOUBLE)) / (n - nl) AS mur
  FROM b1, gt
), c2 AS (
  SELECT CAST(unnest([300, 600, 900, 1200, 1500, 1800, 2100]) AS BIGINT)
           AS t2
), s2 AS (
  SELECT t2,
         CAST(sum(CASE WHEN x2 <= t2 THEN 1 ELSE 0 END) AS BIGINT) AS n2l,
         CAST(sum(CASE WHEN x2 <= t2 THEN y ELSE 0 END) AS BIGINT) AS sy2l,
         CAST(sum(CASE WHEN x2 <= t2 AND x1 <= t1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c11
  FROM cust, c2, m1 GROUP BY t2
), g2 AS (
  SELECT t2, n2l, sy2l, c11,
         CAST(sy AS DOUBLE) - (CAST(nl AS DOUBLE) * mul
                               + CAST(n - nl AS DOUBLE) * mur) AS rtot,
         CAST(sy2l AS DOUBLE) - (CAST(c11 AS DOUBLE) * mul
                                 + CAST(n2l - c11 AS DOUBLE) * mur) AS rl
  FROM s2, m1, gt WHERE n2l > 0 AND n2l < n
), g3 AS (
  SELECT t2, n2l, rl, rtot,
         rl * rl / n2l
           + (rtot - rl) * (rtot - rl) / (n - n2l) AS gain2
  FROM g2, gt
), b2 AS (
  SELECT t2, n2l, rl, rtot, gain2 FROM (
    SELECT *, row_number() OVER (ORDER BY gain2 DESC, t2) AS rn FROM g3
  ) WHERE rn = 1
)
SELECT m1.t1,
       round(mul / 100.0 + 1e-9, 2) AS left_mean,
       round(mur / 100.0 + 1e-9, 2) AS right_mean,
       b2.t2,
       round(rl / n2l / 100.0 + 1e-9, 2) AS g_left,
       round((rtot - rl) / (n - n2l) / 100.0 + 1e-9, 2) AS g_right,
       n,
       round(1.0 - (syyd - gain1)
             / (syyd - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             + 1e-9, 6) AS r2_round1,
       round(1.0 - (syyd - gain1 - gain2)
             / (syyd - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             + 1e-9, 6) AS r2_round2
FROM m1, b2, gt
""",
)
def q331_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two unrolled rounds of gradient boosting with decision stumps
    (Friedman 2001, squared loss): round 1 fits a stump on order
    count, round 2 fits a stump on tenure to the RESIDUALS — without
    ever materializing a residual column. The key identity: a sum of
    residuals over any cell is pure algebra on integer sums
    (Σr = Σy − n∩L·μL − n∩R·μR), so the round-2 split search needs
    only per-candidate counts and y-sums from one aggregation pass —
    the residual pass that makes naive boosting sequential is gone,
    and each extra round is one more groupBy (the q125/q299 unrolled-
    iteration family, applied to model fitting). Both split searches
    use fixed candidate grids (probed to the corpus: order counts
    2-20, tenure 300-2100 days) and square-sum gain, selected by
    gain with a threshold tie-break; variance explained after each
    round comes from the q322 HUGEINT/decimal(38,0) Σy² path.

    Every gain is arithmetic on exact BIGINT sums with mirrored
    expression trees, so even the argmax compares bit-identical
    doubles; rounding only formats the report.
    """
    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_totalprice", "o_orderdate"]
    )
    cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("x1"),
        F.datediff(
            F.max(F.to_date("o_orderdate")), F.min(F.to_date("o_orderdate"))
        )
        .cast("bigint")
        .alias("x2"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y"),
    )
    cust = cust.localCheckpoint(eager=False)  # glob + two split passes
    glob = cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("syyd"),
    )
    c1 = local_frame(spark, 
        [(t,) for t in (2, 4, 6, 8, 10, 12, 15, 20)], "t1 BIGINT"
    )
    s1 = (
        cust.crossJoin(F.broadcast(c1))
        .groupBy("t1")
        .agg(
            F.sum(F.when(F.col("x1") <= F.col("t1"), 1).otherwise(0))
            .cast("bigint")
            .alias("nl"),
            F.sum(F.when(F.col("x1") <= F.col("t1"), F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("syl"),
        )
    )
    syd = F.col("sy").cast("double")
    syld = F.col("syl").cast("double")
    g1 = (
        s1.crossJoin(F.broadcast(glob))
        .where((F.col("nl") > 0) & (F.col("nl") < F.col("n")))
        .withColumn(
            "gain1",
            syld * syld / F.col("nl")
            + (syd - syld) * (syd - syld) / (F.col("n") - F.col("nl")),
        )
    )
    b1 = (
        g1.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("gain1"), "t1")),
        )
        .where(F.col("rn") == 1)
        .select("t1", "nl", "syl", "gain1")
    )
    m1 = b1.crossJoin(F.broadcast(glob.select("n", "sy"))).select(
        "t1",
        "nl",
        "syl",
        "gain1",
        (syld / F.col("nl")).alias("mul"),
        ((syd - syld) / (F.col("n") - F.col("nl"))).alias("mur"),
    )
    m1 = m1.localCheckpoint(eager=False)  # round-2 agg + report branches
    c2 = local_frame(spark, 
        [(t,) for t in (300, 600, 900, 1200, 1500, 1800, 2100)], "t2 BIGINT"
    )
    s2 = (
        cust.crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(m1.select("t1")))
        .groupBy("t2")
        .agg(
            F.sum(F.when(F.col("x2") <= F.col("t2"), 1).otherwise(0))
            .cast("bigint")
            .alias("n2l"),
            F.sum(F.when(F.col("x2") <= F.col("t2"), F.col("y")).otherwise(0))
            .cast("bigint")
            .alias("sy2l"),
            F.sum(
                F.when(
                    (F.col("x2") <= F.col("t2"))
                    & (F.col("x1") <= F.col("t1")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("c11"),
        )
    )
    g2 = (
        s2.crossJoin(F.broadcast(m1.select("nl", "mul", "mur")))
        .crossJoin(F.broadcast(glob.select("n", "sy")))
        .where((F.col("n2l") > 0) & (F.col("n2l") < F.col("n")))
        .select(
            "t2",
            "n2l",
            (
                syd
                - (
                    F.col("nl").cast("double") * F.col("mul")
                    + (F.col("n") - F.col("nl")).cast("double")
                    * F.col("mur")
                )
            ).alias("rtot"),
            (
                F.col("sy2l").cast("double")
                - (
                    F.col("c11").cast("double") * F.col("mul")
                    + (F.col("n2l") - F.col("c11")).cast("double")
                    * F.col("mur")
                )
            ).alias("rl"),
        )
    )
    g3 = g2.crossJoin(F.broadcast(glob.select(F.col("n").alias("ng")))).select(
        "t2",
        "n2l",
        "rl",
        "rtot",
        (
            F.col("rl") * F.col("rl") / F.col("n2l")
            + (F.col("rtot") - F.col("rl"))
            * (F.col("rtot") - F.col("rl"))
            / (F.col("ng") - F.col("n2l"))
        ).alias("gain2"),
    )
    b2 = (
        g3.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("gain2"), "t2")),
        )
        .where(F.col("rn") == 1)
        .select("t2", "n2l", "rl", "rtot", "gain2")
    )
    sse0 = F.col("syyd") - syd * syd / F.col("n")
    return (
        m1.crossJoin(F.broadcast(b2))
        .crossJoin(F.broadcast(glob))
        .select(
            "t1",
            fround(F.col("mul") / 100.0, 2).alias("left_mean"),
            fround(F.col("mur") / 100.0, 2).alias("right_mean"),
            "t2",
            fround(F.col("rl") / F.col("n2l") / 100.0, 2).alias("g_left"),
            fround(
                (F.col("rtot") - F.col("rl"))
                / (F.col("n") - F.col("n2l"))
                / 100.0,
                2,
            ).alias("g_right"),
            "n",
            fround(
                F.lit(1.0) - (F.col("syyd") - F.col("gain1")) / sse0, 6
            ).alias("r2_round1"),
            fround(
                F.lit(1.0)
                - (F.col("syyd") - F.col("gain1") - F.col("gain2")) / sse0,
                6,
            ).alias("r2_round2"),
        )
    )


@query(
    "q374_hosmer_lemeshow",
    tags=("ml", "evaluation", "calibration"),
    oracle=f"""
WITH {_SCORED_CTE.strip()},
ranked AS (
  SELECT y, p,
         CAST(row_number() OVER (ORDER BY p DESC, l_orderkey)
              AS BIGINT) AS r
  FROM scored
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS nr FROM ranked
), cells AS (
  SELECT CAST(floor((r - 1) * 10.0 / nr) + 1 AS BIGINT) AS decile,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pos,
         CAST(sum(CAST(round(p * 1000000) AS BIGINT)) AS BIGINT) AS sp6
  FROM ranked, n GROUP BY 1
), contrib AS (
  SELECT decile, n_rows, n_pos, sp6,
         CAST(sp6 AS DOUBLE) / 1000000.0 AS e1,
         CAST(n_pos * 1000000 - sp6 AS DOUBLE) / 1000000.0 AS d,
         (CAST(n_pos * 1000000 - sp6 AS DOUBLE) / 1000000.0)
           * (CAST(n_pos * 1000000 - sp6 AS DOUBLE) / 1000000.0)
           * (1.0 / (CAST(sp6 AS DOUBLE) / 1000000.0)
              + 1.0 / (n_rows - CAST(sp6 AS DOUBLE) / 1000000.0)) AS hc
  FROM cells
), scaled AS (
  SELECT decile, n_rows, n_pos, sp6, e1, hc,
         CAST(round(hc * 1000000) AS BIGINT) AS hc6
  FROM contrib
), tot AS (
  SELECT CAST(sum(hc6) AS BIGINT) AS t6 FROM scaled
)
SELECT decile, n_rows, n_pos,
       round(e1 + 1e-9, 6) AS expected_pos,
       round(n_pos * 1.0 / n_rows + 1e-9, 6) AS obs_rate,
       round(e1 / n_rows + 1e-9, 6) AS exp_rate,
       round(hc + 1e-9, 6) AS hl_contrib,
       CAST(t6 AS DOUBLE) / 1000000.0 AS hl_total,
       t6 > 15507000 AS calibration_reject
FROM scaled, tot
""",
)
def q374_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit for the q50 model's calibration
    — the grouped chi-square the q51 reliability diagram eyeballs:
    rank-based score deciles (the q226 machinery — bucketed rank with
    the descending flip, never ntile/score bins), and per decile
    HL_g = (O-E)^2 * (1/E1 + 1/E0) with E the sum of predicted
    probabilities; HL = sum over deciles is chi-square(8) under good
    calibration, rejected above the 0.05 critical value 15.507. The
    decision-grade complement to q51 (which reports the gaps but no
    test) and q183/q240 (agreement/decomposition, not calibration).

    Exactness: predictions are 6-dp-rounded, so each decile's expected
    sum is an EXACT BIGINT in millionths (sp6 = sum of round(p*1e6)) —
    the O-E difference is an exact integer in the same scale (no
    float-sum cancellation, the q363 lesson built in from the start);
    each contribution is a fixed chain of correctly-rounded ops on
    exact inputs, and the TOTAL re-enters integers (sum of 6-dp-scaled
    contributions), so the reject flag is the exact integer compare
    t6 > 15507000 (chi2_{{8,0.95}} = 15.507 cross-multiplied).

    Scale: scoring is native JVM column math; the global rank runs
    through the two-level bucketed rank (no row-grain single-partition
    window); everything after is a 10-row funnel.
    """
    from ...operators.rankops import bucketed_rank

    scored = _scored(spark, sf_dir, native=True).select(
        "l_orderkey",
        F.round(F.col("probability") + 1e-9, 6).alias("p"),
        F.col("target").alias("y"),
    )
    p_int = F.round(F.col("p") * 1e6).cast("bigint")
    base = scored.select(
        "y",
        p_int.alias("p6"),
        (p_int + 1).alias("p_key"),
        (-F.col("l_orderkey")).alias("neg_key"),
    )
    asc = bucketed_rank(base, "p_key", ["neg_key"], "r_asc")
    n = asc.agg(F.count(F.lit(1)).alias("nr"))
    ranked = asc.crossJoin(F.broadcast(n)).select(
        "y", "p6", "nr", (F.col("nr") + 1 - F.col("r_asc")).alias("r")
    )
    cells = (
        ranked.withColumn(
            "decile",
            (F.floor((F.col("r") - 1) * 10.0 / F.col("nr")) + 1).cast(
                "bigint"
            ),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("y").cast("bigint")).cast("bigint").alias("n_pos"),
            F.sum("p6").cast("bigint").alias("sp6"),
        )
    )
    e1 = F.col("sp6").cast("double") / F.lit(1000000.0)
    d = (F.col("n_pos") * 1000000 - F.col("sp6")).cast("double") / F.lit(
        1000000.0
    )
    hc = (d * d) * (
        F.lit(1.0) / e1 + F.lit(1.0) / (F.col("n_rows") - e1)
    )
    scaled = cells.select(
        "decile",
        "n_rows",
        "n_pos",
        e1.alias("e1"),
        hc.alias("hc"),
        F.round(hc * 1e6).cast("bigint").alias("hc6"),
    ).localCheckpoint(eager=False)  # total + per-decile branches
    tot = scaled.agg(F.sum("hc6").cast("bigint").alias("t6"))
    return scaled.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_rows",
        "n_pos",
        fround(F.col("e1"), 6).alias("expected_pos"),
        fround(F.col("n_pos") * 1.0 / F.col("n_rows"), 6).alias("obs_rate"),
        fround(F.col("e1") / F.col("n_rows"), 6).alias("exp_rate"),
        fround(F.col("hc"), 6).alias("hl_contrib"),
        (F.col("t6").cast("double") / F.lit(1000000.0)).alias("hl_total"),
        (F.col("t6") > 15507000).alias("calibration_reject"),
    )


_RIDGE_LAMS = (0.0, 1.0, 4.0, 16.0, 64.0, 256.0, 1024.0, 4096.0)

#: Shared observation CTE for the ridge-sweep family (q390/q391/q396):
#: one row per order with x = line-item count, y = whole-dollar total,
#: plus the content-stable hash bucket both splits derive from.
_RIDGE_OBS_SQL = f"""
obs AS (
  SELECT o_orderkey AS k,
         CAST(cnt AS BIGINT) AS x,
         CAST(round(o_totalprice) AS BIGINT) AS y
  FROM orders JOIN (
    SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey
  ) li ON li.l_orderkey = o_orderkey
)
"""

_RIDGE_GRID_SQL = (
    "grid AS (SELECT CAST(lam AS DOUBLE) AS lam FROM (VALUES "
    + ", ".join(f"({int(l)})" for l in _RIDGE_LAMS)
    + ") t(lam))"
)


def _ridge_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_RIDGE_OBS_SQL``."""
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_totalprice"])
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey"])
    cnt = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    return orders.join(cnt, orders.o_orderkey == cnt.l_orderkey).select(
        F.col("o_orderkey").alias("k"),
        F.col("cnt").cast("bigint").alias("x"),
        F.round(F.col("o_totalprice")).cast("bigint").alias("y"),
    )


#: Shared one-pass reduction for the rung family (q396/q399): the
#: validation split rides along as quarter -1, so train-quarter AND
#: validation sufficient statistics come out of a SINGLE scan of the
#: observation frame (5 groups) instead of one pass per split.
_RIDGE_ALLSUMS_SQL = f"""
allsums AS MATERIALIZED (
  SELECT CASE WHEN ({_hash16_sql('ridge|', 'k')} % 10) < 7
              THEN ({_hash16_sql('sh|', 'k')} % 4) ELSE -1 END AS quarter,
         CAST(count(*) AS BIGINT) AS n_q,
         CAST(CAST(sum(x) AS BIGINT) AS BIGINT) AS sx_q,
         CAST(CAST(sum(y) AS BIGINT) AS BIGINT) AS sy_q,
         CAST(CAST(sum(x * x) AS BIGINT) AS BIGINT) AS sxx_q,
         CAST(CAST(sum(x * y) AS BIGINT) AS BIGINT) AS sxy_q,
         CAST(CAST(sum(y * y) AS BIGINT) AS BIGINT) AS syy_q
  FROM obs GROUP BY 1
), qsums AS (
  SELECT quarter, n_q, sx_q, sy_q, sxx_q, sxy_q
  FROM allsums WHERE quarter >= 0
), vsums AS (
  SELECT CAST(n_q AS DOUBLE) AS n_v, CAST(sx_q AS DOUBLE) AS sx_v,
         CAST(sy_q AS DOUBLE) AS sy_v, CAST(sxx_q AS DOUBLE) AS sxx_v,
         CAST(sxy_q AS DOUBLE) AS sxy_v, CAST(syy_q AS DOUBLE) AS syy_v
  FROM allsums WHERE quarter = -1
)
"""


def _ridge_quarter_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_RIDGE_ALLSUMS_SQL``: one conditional-group
    pass over the observations; checkpointed because the quarter and
    validation branches both read it."""
    obs = _ridge_obs(spark, sf_dir)
    quarter = F.when(
        (_hash16("ridge|", F.col("k")) % 10) < 7,
        _hash16("sh|", F.col("k")) % 4,
    ).otherwise(F.lit(-1))
    return (
        obs.groupBy(quarter.alias("quarter"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_q"),
            F.sum("x").cast("bigint").alias("sx_q"),
            F.sum("y").cast("bigint").alias("sy_q"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx_q"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy_q"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy_q"),
        )
        .localCheckpoint(eager=False)
    )


def _ridge_val_sums(allsums: DataFrame) -> DataFrame:
    return allsums.where(F.col("quarter") == -1).select(
        F.col("n_q").cast("double").alias("n_v"),
        F.col("sx_q").cast("double").alias("sx_v"),
        F.col("sy_q").cast("double").alias("sy_v"),
        F.col("sxx_q").cast("double").alias("sxx_v"),
        F.col("sxy_q").cast("double").alias("sxy_v"),
        F.col("syy_q").cast("double").alias("syy_v"),
    )


def _holdout_sse():
    """Validation SSE of the fitted line ``alpha + beta * x`` from the
    held-out moment sums ``n_v, sx_v, sy_v, sxx_v, sxy_v, syy_v``:
    one fixed expression, so both engines add in the same order."""
    b, a = F.col("beta"), F.col("alpha")
    n_v, sx_v, sy_v = F.col("n_v"), F.col("sx_v"), F.col("sy_v")
    sxx_v, sxy_v, syy_v = F.col("sxx_v"), F.col("sxy_v"), F.col("syy_v")
    return (
        syy_v - 2 * a * sy_v - 2 * b * sxy_v
        + a * a * n_v + 2 * a * b * sx_v
        + b * b * sxx_v
    )


@query(
    "q390_ridge_lambda_sweep",
    tags=("ml", "gridsearch", "regression"),
    oracle=f"""
WITH {_RIDGE_OBS_SQL.strip()},
split AS (
  SELECT *, ({_hash16_sql('ridge|', 'k')} % 10) < 7 AS is_train FROM obs
), sums AS (
  SELECT
    CAST(count(*) FILTER (is_train) AS DOUBLE) AS n_t,
    CAST(CAST(sum(x) FILTER (is_train) AS BIGINT) AS DOUBLE) AS sx_t,
    CAST(CAST(sum(y) FILTER (is_train) AS BIGINT) AS DOUBLE) AS sy_t,
    CAST(CAST(sum(x * x) FILTER (is_train) AS BIGINT) AS DOUBLE) AS sxx_t,
    CAST(CAST(sum(x * y) FILTER (is_train) AS BIGINT) AS DOUBLE) AS sxy_t,
    CAST(count(*) FILTER (NOT is_train) AS DOUBLE) AS n_v,
    CAST(CAST(sum(x) FILTER (NOT is_train) AS BIGINT) AS DOUBLE) AS sx_v,
    CAST(CAST(sum(y) FILTER (NOT is_train) AS BIGINT) AS DOUBLE) AS sy_v,
    CAST(CAST(sum(x * x) FILTER (NOT is_train) AS BIGINT) AS DOUBLE) AS sxx_v,
    CAST(CAST(sum(x * y) FILTER (NOT is_train) AS BIGINT) AS DOUBLE) AS sxy_v,
    CAST(CAST(sum(y * y) FILTER (NOT is_train) AS BIGINT) AS DOUBLE) AS syy_v
  FROM split
), {_RIDGE_GRID_SQL},
scored AS (
  SELECT lam, n_t, n_v, sx_v, sy_v, sxx_v, sxy_v, syy_v,
         (sxy_t - sx_t * sy_t / n_t) / ((sxx_t - sx_t * sx_t / n_t) + lam) AS beta,
         sy_t / n_t - (sxy_t - sx_t * sy_t / n_t) / ((sxx_t - sx_t * sx_t / n_t) + lam) * (sx_t / n_t) AS alpha
  FROM sums CROSS JOIN grid
), evaled AS (
  SELECT lam, n_t, n_v, beta, alpha,
         round(sqrt((syy_v - 2 * alpha * sy_v - 2 * beta * sxy_v
                     + alpha * alpha * n_v + 2 * alpha * beta * sx_v
                     + beta * beta * sxx_v) / n_v) + 1e-9, 4) AS val_rmse
  FROM scored
)
SELECT lam,
       CAST(n_t AS BIGINT) AS n_train,
       CAST(n_v AS BIGINT) AS n_val,
       round(beta + 1e-9, 6) AS beta,
       round(alpha + 1e-9, 4) AS intercept,
       val_rmse,
       row_number() OVER (ORDER BY val_rmse, lam) = 1 AS is_best
FROM evaled
""",
)
def q390_ridge_lambda_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperparameter grid search as ONE data pass, not N fits: the
    reference loops ``itertools.product`` over 64 XGBoost combos and
    fits each serially (src/training/train.py:125-181); the Spark-
    native re-expression for a closed-form model family is to reduce
    the training data ONCE to exact sufficient statistics, broadcast
    that single row against the hyperparameter grid, and score every
    combo in a vectorized projection. Model: centered ridge regression
    of whole-dollar order totals on line-item count, slope
    beta(lam) = Sxy_c / (Sxx_c + lam) — the fit AND the validation
    RMSE are both closed forms over the same ten sums, so adding
    combos adds rows to an 8-row frame, never passes over the data.

    Engine-exactness: x, y and the 70/30 hash split are integers, so
    every sufficient statistic is an exact BIGINT (largest, the
    validation Σy² in dollars², is ~5.4e17 at sf1 — inside int64 up
    to sf~10); each is cast to double once (q204 rule) and every
    derived expression is spelled with identical left-associated
    arithmetic on both sides. best-combo selection ranks by the
    ROUNDED rmse with lam as tie-break (q348 rule).

    Scale: at 100 TB the sufficient-statistics pass is a map-side-
    combined aggregate; the sweep itself stays an 8-row projection —
    grid size and data size are decoupled, which is the whole point.
    """
    obs = _ridge_obs(spark, sf_dir)
    is_train = (_hash16("ridge|", F.col("k")) % 10) < 7

    def _filt(c, cond):
        return F.sum(F.when(cond, c)).cast("bigint").cast("double")

    split = obs.select("x", "y", is_train.alias("is_train"))
    tr, va = F.col("is_train"), ~F.col("is_train")
    sums = split.agg(
        F.count_if(tr).cast("double").alias("n_t"),
        _filt(F.col("x"), tr).alias("sx_t"),
        _filt(F.col("y"), tr).alias("sy_t"),
        _filt(F.col("x") * F.col("x"), tr).alias("sxx_t"),
        _filt(F.col("x") * F.col("y"), tr).alias("sxy_t"),
        F.count_if(va).cast("double").alias("n_v"),
        _filt(F.col("x"), va).alias("sx_v"),
        _filt(F.col("y"), va).alias("sy_v"),
        _filt(F.col("x") * F.col("x"), va).alias("sxx_v"),
        _filt(F.col("x") * F.col("y"), va).alias("sxy_v"),
        _filt(F.col("y") * F.col("y"), va).alias("syy_v"),
    )
    grid = local_frame(spark, [(l,) for l in _RIDGE_LAMS], "lam double")
    n_t, sx_t, sy_t = F.col("n_t"), F.col("sx_t"), F.col("sy_t")
    sxx_t, sxy_t, lam = F.col("sxx_t"), F.col("sxy_t"), F.col("lam")
    n_v, sx_v, sy_v = F.col("n_v"), F.col("sx_v"), F.col("sy_v")
    sxx_v, sxy_v, syy_v = F.col("sxx_v"), F.col("sxy_v"), F.col("syy_v")
    beta = (sxy_t - sx_t * sy_t / n_t) / ((sxx_t - sx_t * sx_t / n_t) + lam)
    alpha = sy_t / n_t - beta * (sx_t / n_t)
    scored = sums.crossJoin(F.broadcast(grid)).select(
        lam, n_t, n_v, sx_v, sy_v, sxx_v, sxy_v, syy_v,
        beta.alias("beta"), alpha.alias("alpha"),
    )
    b, a = F.col("beta"), F.col("alpha")
    sse = _holdout_sse()
    evaled = scored.select(
        "lam",
        F.col("n_t").cast("bigint").alias("n_train"),
        F.col("n_v").cast("bigint").alias("n_val"),
        fround(b, 6).alias("beta"),
        fround(a, 4).alias("intercept"),
        fround(F.sqrt(sse / n_v), 4).alias("val_rmse"),
    )
    return evaled.withColumn(
        "is_best",
        F.row_number().over(Window.orderBy("val_rmse", "lam")) == 1,
    )


@query(
    "q391_kfold_cv_ridge",
    tags=("ml", "gridsearch", "cross-validation"),
    oracle=f"""
WITH {_RIDGE_OBS_SQL.strip()},
folded AS (
  SELECT x, y, ({_hash16_sql('cv|', 'k')} % 5) AS fold FROM obs
), fsums AS MATERIALIZED (
  SELECT fold,
         CAST(count(*) AS BIGINT) AS n_f,
         CAST(CAST(sum(x) AS BIGINT) AS BIGINT) AS sx_f,
         CAST(CAST(sum(y) AS BIGINT) AS BIGINT) AS sy_f,
         CAST(CAST(sum(x * x) AS BIGINT) AS BIGINT) AS sxx_f,
         CAST(CAST(sum(x * y) AS BIGINT) AS BIGINT) AS sxy_f,
         CAST(CAST(sum(y * y) AS BIGINT) AS BIGINT) AS syy_f
  FROM folded GROUP BY fold
), tot AS (
  SELECT CAST(sum(n_f) AS BIGINT) AS n_g,
         CAST(sum(sx_f) AS BIGINT) AS sx_g,
         CAST(sum(sy_f) AS BIGINT) AS sy_g,
         CAST(sum(sxx_f) AS BIGINT) AS sxx_g,
         CAST(sum(sxy_f) AS BIGINT) AS sxy_g
  FROM fsums
), lofo AS (
  SELECT fold, n_f,
         CAST(n_g - n_f AS DOUBLE) AS n_t,
         CAST(sx_g - sx_f AS DOUBLE) AS sx_t,
         CAST(sy_g - sy_f AS DOUBLE) AS sy_t,
         CAST(sxx_g - sxx_f AS DOUBLE) AS sxx_t,
         CAST(sxy_g - sxy_f AS DOUBLE) AS sxy_t,
         CAST(n_f AS DOUBLE) AS n_v,
         CAST(sx_f AS DOUBLE) AS sx_v,
         CAST(sy_f AS DOUBLE) AS sy_v,
         CAST(sxx_f AS DOUBLE) AS sxx_v,
         CAST(sxy_f AS DOUBLE) AS sxy_v,
         CAST(syy_f AS DOUBLE) AS syy_v
  FROM fsums CROSS JOIN tot
), {_RIDGE_GRID_SQL},
perfold AS (
  SELECT lam, fold, n_f, n_v, sx_v, sy_v, sxx_v, sxy_v, syy_v,
         (sxy_t - sx_t * sy_t / n_t) / ((sxx_t - sx_t * sx_t / n_t) + lam) AS beta,
         sy_t / n_t - (sxy_t - sx_t * sy_t / n_t) / ((sxx_t - sx_t * sx_t / n_t) + lam) * (sx_t / n_t) AS alpha
  FROM lofo CROSS JOIN grid
), folderr AS (
  SELECT lam, fold, n_f,
         round(beta + 1e-9, 6) AS beta_r,
         CAST(round(syy_v - 2 * alpha * sy_v - 2 * beta * sxy_v
                    + alpha * alpha * n_v + 2 * alpha * beta * sx_v
                    + beta * beta * sxx_v) AS BIGINT) AS sse_i
  FROM perfold
)
SELECT lam,
       CAST(count(*) AS BIGINT) AS n_folds,
       CAST(sum(n_f) AS BIGINT) AS n_obs,
       CAST(sum(sse_i) AS BIGINT) AS cv_sse,
       round(sqrt(CAST(CAST(sum(sse_i) AS BIGINT) AS DOUBLE)
                  / CAST(sum(n_f) AS BIGINT)) + 1e-9, 4) AS cv_rmse,
       max(beta_r) - min(beta_r) AS beta_spread,
       row_number() OVER (
         ORDER BY round(sqrt(CAST(CAST(sum(sse_i) AS BIGINT) AS DOUBLE)
                             / CAST(sum(n_f) AS BIGINT)) + 1e-9, 4), lam
       ) = 1 AS is_best
FROM folderr GROUP BY lam
""",
)
def q391_kfold_cv_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated ridge sweep WITHOUT five training
    passes: one aggregation reduces the data to per-fold sufficient
    statistics, and each fold's leave-one-fold-out training sums are
    the GLOBAL sums minus that fold's — the subtraction algebra that
    turns k-fold CV into k arithmetic rows instead of k scans. Every
    (fold, lam) cell then fits and scores in closed form exactly as
    q390 does for its single split.

    Engine-exactness: fold sums and their global totals are exact
    BIGINTs; each held-out SSE is a deterministic double rounded to
    an integer (dollars², ~1e15 max — inside int64) so the CV total
    is an exact BIGINT sum — the per-lam aggregation never sums raw
    floats across folds. beta_spread subtracts ROUNDED betas (both
    engines round the same deterministic double, so max/min/subtract
    agree bitwise; the spread is >= 0 by construction, no
    sign-of-zero risk). Best-lam ranks by ROUNDED cv_rmse with lam
    tie-break.

    Scale: one shuffle to the 5-row fold grain, then everything is
    bounded-frame arithmetic; fold count and grid size multiply a
    40-row frame, never the data.
    """
    obs = _ridge_obs(spark, sf_dir)
    folded = obs.select(
        "x", "y", (_hash16("cv|", F.col("k")) % 5).alias("fold")
    )
    fsums = (
        folded.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_f"),
            F.sum("x").cast("bigint").alias("sx_f"),
            F.sum("y").cast("bigint").alias("sy_f"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx_f"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy_f"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy_f"),
        )
        .localCheckpoint(eager=False)  # feeds tot AND the lofo join
    )
    tot = fsums.agg(
        F.sum("n_f").cast("bigint").alias("n_g"),
        F.sum("sx_f").cast("bigint").alias("sx_g"),
        F.sum("sy_f").cast("bigint").alias("sy_g"),
        F.sum("sxx_f").cast("bigint").alias("sxx_g"),
        F.sum("sxy_f").cast("bigint").alias("sxy_g"),
    )
    lofo = fsums.crossJoin(F.broadcast(tot)).select(
        "fold",
        "n_f",
        (F.col("n_g") - F.col("n_f")).cast("double").alias("n_t"),
        (F.col("sx_g") - F.col("sx_f")).cast("double").alias("sx_t"),
        (F.col("sy_g") - F.col("sy_f")).cast("double").alias("sy_t"),
        (F.col("sxx_g") - F.col("sxx_f")).cast("double").alias("sxx_t"),
        (F.col("sxy_g") - F.col("sxy_f")).cast("double").alias("sxy_t"),
        F.col("n_f").cast("double").alias("n_v"),
        F.col("sx_f").cast("double").alias("sx_v"),
        F.col("sy_f").cast("double").alias("sy_v"),
        F.col("sxx_f").cast("double").alias("sxx_v"),
        F.col("sxy_f").cast("double").alias("sxy_v"),
        F.col("syy_f").cast("double").alias("syy_v"),
    )
    grid = local_frame(spark, [(l,) for l in _RIDGE_LAMS], "lam double")
    n_t, sx_t, sy_t = F.col("n_t"), F.col("sx_t"), F.col("sy_t")
    sxx_t, sxy_t, lam = F.col("sxx_t"), F.col("sxy_t"), F.col("lam")
    beta = (sxy_t - sx_t * sy_t / n_t) / ((sxx_t - sx_t * sx_t / n_t) + lam)
    alpha = sy_t / n_t - beta * (sx_t / n_t)
    perfold = lofo.crossJoin(F.broadcast(grid)).select(
        lam, "fold", "n_f", "n_v", "sx_v", "sy_v", "sxx_v", "sxy_v", "syy_v",
        beta.alias("beta"), alpha.alias("alpha"),
    )
    sse = _holdout_sse()
    folderr = perfold.select(
        "lam",
        "n_f",
        fround(F.col("beta"), 6).alias("beta_r"),
        F.round(sse).cast("bigint").alias("sse_i"),
    )
    grouped = folderr.groupBy("lam").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_folds"),
        F.sum("n_f").cast("bigint").alias("n_obs"),
        F.sum("sse_i").cast("bigint").alias("cv_sse"),
        (F.max("beta_r") - F.min("beta_r")).alias("beta_spread"),
    )
    out = grouped.select(
        "lam",
        "n_folds",
        "n_obs",
        "cv_sse",
        fround(
            F.sqrt(F.col("cv_sse").cast("double") / F.col("n_obs")), 4
        ).alias("cv_rmse"),
        "beta_spread",
    )
    return out.withColumn(
        "is_best",
        F.row_number().over(Window.orderBy("cv_rmse", "lam")) == 1,
    )


#: Oracle CTEs of ``_rung_sums``: the ridge observation sums plus the
#: per-rung training sums.
_RUNG_SUMS_CTES = f"""{_RIDGE_OBS_SQL.strip()},
{_RIDGE_ALLSUMS_SQL.strip()},
rungs AS (
  SELECT CAST(rung AS BIGINT) AS rung, CAST(budget AS BIGINT) AS budget
  FROM (VALUES (0, 1), (1, 2), (2, 4)) t(rung, budget)
), rsums AS (
  SELECT r.rung,
         CAST(sum(q.n_q) AS BIGINT) AS n_r,
         CAST(CAST(sum(q.sx_q) AS BIGINT) AS DOUBLE) AS sx_t,
         CAST(CAST(sum(q.sy_q) AS BIGINT) AS DOUBLE) AS sy_t,
         CAST(CAST(sum(q.sxx_q) AS BIGINT) AS DOUBLE) AS sxx_t,
         CAST(CAST(sum(q.sxy_q) AS BIGINT) AS DOUBLE) AS sxy_t
  FROM rungs r JOIN qsums q ON q.quarter < r.budget
  GROUP BY r.rung
)"""


def _rung_sums(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(rsums, vsums)``: training sums per successive-halving rung
    (rungs 0/1/2 train on the first 1/2/4 quarters) and the held-out
    validation sums."""
    allsums = _ridge_quarter_sums(spark, sf_dir)
    qsums = allsums.where(F.col("quarter") >= 0).select(
        "quarter", "n_q", "sx_q", "sy_q", "sxx_q", "sxy_q"
    )
    rungs = local_frame(
        spark, [(0, 1), (1, 2), (2, 4)], "rung bigint, budget bigint"
    )
    rsums = (
        rungs.join(F.broadcast(qsums), F.col("quarter") < F.col("budget"))
        .groupBy("rung")
        .agg(
            F.sum("n_q").cast("bigint").alias("n_r"),
            F.sum("sx_q").cast("bigint").cast("double").alias("sx_t"),
            F.sum("sy_q").cast("bigint").cast("double").alias("sy_t"),
            F.sum("sxx_q").cast("bigint").cast("double").alias("sxx_t"),
            F.sum("sxy_q").cast("bigint").cast("double").alias("sxy_t"),
        )
    )
    return rsums, _ridge_val_sums(allsums)


@query(
    "q396_successive_halving_sweep",
    tags=("ml", "gridsearch", "hyperband"),
    oracle=f"""
WITH {_RUNG_SUMS_CTES}, {_RIDGE_GRID_SQL},
fitted AS (
  SELECT rung, lam, n_r, CAST(n_r AS DOUBLE) AS n_t,
         sx_t, sy_t, sxx_t, sxy_t, n_v, sx_v, sy_v, sxx_v, sxy_v, syy_v
  FROM rsums CROSS JOIN grid CROSS JOIN vsums
), scored AS MATERIALIZED (
  SELECT rung, lam, n_r,
         round(sqrt((syy_v - 2 * alpha * sy_v - 2 * beta * sxy_v
                     + alpha * alpha * n_v + 2 * alpha * beta * sx_v
                     + beta * beta * sxx_v) / n_v) + 1e-9, 4) AS val_rmse
  FROM (
    SELECT *,
           (sxy_t - sx_t * sy_t / n_t) / ((sxx_t - sx_t * sx_t / n_t) + lam) AS beta,
           sy_t / n_t - (sxy_t - sx_t * sy_t / n_t) / ((sxx_t - sx_t * sx_t / n_t) + lam) * (sx_t / n_t) AS alpha
    FROM fitted
  )
), s0 AS MATERIALIZED (
  SELECT rung, lam, n_r, val_rmse,
         row_number() OVER (ORDER BY val_rmse, lam) AS rk
  FROM scored WHERE rung = 0
), s1 AS MATERIALIZED (
  SELECT s.rung, s.lam, s.n_r, s.val_rmse,
         row_number() OVER (ORDER BY s.val_rmse, s.lam) AS rk
  FROM scored s JOIN s0 ON s0.lam = s.lam AND s0.rk <= 4
  WHERE s.rung = 1
), s2 AS (
  SELECT s.rung, s.lam, s.n_r, s.val_rmse,
         row_number() OVER (ORDER BY s.val_rmse, s.lam) AS rk
  FROM scored s JOIN s1 ON s1.lam = s.lam AND s1.rk <= 2
  WHERE s.rung = 2
)
SELECT rung, lam, n_r AS n_train, val_rmse, rk <= 4 AS kept FROM s0
UNION ALL
SELECT rung, lam, n_r AS n_train, val_rmse, rk <= 2 AS kept FROM s1
UNION ALL
SELECT rung, lam, n_r AS n_train, val_rmse, rk <= 1 AS kept FROM s2
""",
)
def q396_successive_halving_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successive halving (the deterministic core of Hyperband/ASHA):
    all 8 lambda combos are scored on a quarter of the training data,
    the best 4 graduate to half, the best 2 to the full set, and one
    champion survives — the budget-doubling tournament that makes
    wide hyperparameter sweeps affordable. Rung training sets are
    NESTED hash-quarter unions (quarter < 1, < 2, < 4 — the q385/q388
    nesting trick), so the three rungs are three filters over ONE
    4-row sufficient-statistics frame; no rung re-scans the data.

    Engine-exactness: quarter sums are exact BIGINTs; rung sums are
    exact BIGINT sums of ≤4 of them; fits and validation RMSE are the
    q390 closed forms; every promotion rank orders by the ROUNDED
    rmse with lam tie-break, so survivor sets are engine-exact.
    Output: one row per (rung, combo that entered it) with its score
    and kept flag — 8 + 4 + 2 rows.

    Scale: the data is touched by exactly one aggregation; rung count
    and grid size shape a 24-row frame. The promotion cascade is
    three bounded windows over ≤8 rows each (explicit broadcasts —
    each rung frame's size estimate is that of the data-sized
    aggregation it came from, the q360 lesson).
    """
    rsums, vsums = _rung_sums(spark, sf_dir)
    grid = local_frame(spark, [(l,) for l in _RIDGE_LAMS], "lam double")
    fitted = (
        rsums.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(vsums))
        .withColumn("n_t", F.col("n_r").cast("double"))
    )
    n_t, sx_t, sy_t = F.col("n_t"), F.col("sx_t"), F.col("sy_t")
    sxx_t, sxy_t, lam = F.col("sxx_t"), F.col("sxy_t"), F.col("lam")
    beta = (sxy_t - sx_t * sy_t / n_t) / ((sxx_t - sx_t * sx_t / n_t) + lam)
    alpha = sy_t / n_t - beta * (sx_t / n_t)
    withfit = fitted.select(
        "rung", "lam", "n_r",
        "n_v", "sx_v", "sy_v", "sxx_v", "sxy_v", "syy_v",
        beta.alias("beta"), alpha.alias("alpha"),
    )
    sse = _holdout_sse()
    scored = withfit.select(
        "rung", "lam", "n_r",
        fround(F.sqrt(sse / F.col("n_v")), 4).alias("val_rmse"),
    ).localCheckpoint(eager=False)  # three rung branches below
    w = Window.orderBy("val_rmse", "lam")
    s0 = scored.where(F.col("rung") == 0).withColumn("rk", F.row_number().over(w))
    s1 = (
        scored.where(F.col("rung") == 1)
        .join(F.broadcast(s0.where(F.col("rk") <= 4).select("lam")), "lam")
        .withColumn("rk", F.row_number().over(w))
    )
    s2 = (
        scored.where(F.col("rung") == 2)
        .join(F.broadcast(s1.where(F.col("rk") <= 2).select("lam")), "lam")
        .withColumn("rk", F.row_number().over(w))
    )

    def _out(s, keep_n):
        return s.select(
            "rung", "lam", F.col("n_r").alias("n_train"), "val_rmse",
            (F.col("rk") <= keep_n).alias("kept"),
        )

    return _out(s0, 4).unionByName(_out(s1, 2)).unionByName(_out(s2, 1))


@query(
    "q399_learning_curve_extrapolation",
    tags=("ml", "planning", "scaling-laws"),
    oracle=f"""
WITH {_RUNG_SUMS_CTES}, rscored AS (
  SELECT rung, n_r,
         round(sqrt((syy_v - 2 * alpha * sy_v - 2 * beta * sxy_v
                     + alpha * alpha * n_v + 2 * alpha * beta * sx_v
                     + beta * beta * sxx_v) / n_v) + 1e-9, 4) AS val_rmse
  FROM (
    SELECT rung, n_r, CAST(n_r AS DOUBLE) AS n_t,
           sx_t, sy_t, sxx_t, sxy_t, n_v, sx_v, sy_v, sxx_v, sxy_v, syy_v,
           (sxy_t - sx_t * sy_t / CAST(n_r AS DOUBLE))
             / (sxx_t - sx_t * sx_t / CAST(n_r AS DOUBLE)) AS beta,
           sy_t / CAST(n_r AS DOUBLE)
             - (sxy_t - sx_t * sy_t / CAST(n_r AS DOUBLE))
               / (sxx_t - sx_t * sx_t / CAST(n_r AS DOUBLE))
               * (sx_t / CAST(n_r AS DOUBLE)) AS alpha
    FROM rsums CROSS JOIN vsums
  )
), pivoted AS (
  SELECT max(CASE WHEN rung = 0 THEN n_r END) AS n0,
         max(CASE WHEN rung = 1 THEN n_r END) AS n1,
         max(CASE WHEN rung = 2 THEN n_r END) AS n2,
         max(CASE WHEN rung = 0 THEN val_rmse END) AS e0,
         max(CASE WHEN rung = 1 THEN val_rmse END) AS e1,
         max(CASE WHEN rung = 2 THEN val_rmse END) AS e2
  FROM rscored
), fitted AS (
  SELECT n0, n1, n2, e0, e1, e2,
         (((ln(CAST(n0 AS DOUBLE)) - (ln(CAST(n0 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))) / 3.0) * (ln(e0) - (ln(e0) + ln(e1) + ln(e2)) / 3.0)
           + (ln(CAST(n1 AS DOUBLE)) - (ln(CAST(n0 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))) / 3.0) * (ln(e1) - (ln(e0) + ln(e1) + ln(e2)) / 3.0))
           + (ln(CAST(n2 AS DOUBLE)) - (ln(CAST(n0 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))) / 3.0) * (ln(e2) - (ln(e0) + ln(e1) + ln(e2)) / 3.0))
         / (((ln(CAST(n0 AS DOUBLE)) - (ln(CAST(n0 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))) / 3.0) * (ln(CAST(n0 AS DOUBLE)) - (ln(CAST(n0 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))) / 3.0)
             + (ln(CAST(n1 AS DOUBLE)) - (ln(CAST(n0 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))) / 3.0) * (ln(CAST(n1 AS DOUBLE)) - (ln(CAST(n0 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))) / 3.0))
             + (ln(CAST(n2 AS DOUBLE)) - (ln(CAST(n0 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))) / 3.0) * (ln(CAST(n2 AS DOUBLE)) - (ln(CAST(n0 AS DOUBLE)) + ln(CAST(n1 AS DOUBLE)) + ln(CAST(n2 AS DOUBLE))) / 3.0))
           AS slope
  FROM pivoted
)
SELECT n0 AS n_quarter, n1 AS n_half, n2 AS n_full,
       e0 AS rmse_quarter, e1 AS rmse_half, e2 AS rmse_full,
       round(slope + 1e-9, 4) + 0 AS power_exponent,
       round(exp(ln(e2) + slope * ln(8.0)) + 1e-9, 4) AS pred_rmse_8x,
       round(slope + 1e-9, 4) > -0.05 AS diminishing_returns
FROM fitted
""",
)
def q399_learning_curve_extrapolation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Learning-curve (scaling-law) extrapolation on q396's nested
    rungs: fit validation RMSE at 25 % / 50 % / 100 % of the training
    data, regress ln(rmse) on ln(n) through the three points, and
    report the power-law exponent plus the predicted RMSE at 8x the
    data — the 'is more data still buying accuracy' planner that
    decides between collecting data and changing the model (the
    Hestness/Kaplan scaling-law recipe at audit scale).

    Engine-exactness: rung RMSEs are the q390 closed forms ROUNDED to
    4 dp, so both engines feed IDENTICAL doubles into ln(); the
    3-point slope is a fully spelled-out fixed expression tree over
    six scalar columns (pivoted by conditional max — never a float
    sum across rows, the q246 pivot rule); ln/exp are cross-engine
    per the q158/q347 precedent. The flag compares the ROUNDED slope.

    Scale: the data is touched by exactly one aggregation (the same
    sufficient-statistics pass as q390/q396); everything downstream
    is arithmetic on a 3-row frame pivoted to one row.
    """
    rsums, vsums = _rung_sums(spark, sf_dir)
    n_t = F.col("n_r").cast("double")
    sx_t, sy_t = F.col("sx_t"), F.col("sy_t")
    sxx_t, sxy_t = F.col("sxx_t"), F.col("sxy_t")
    beta = (sxy_t - sx_t * sy_t / n_t) / (sxx_t - sx_t * sx_t / n_t)
    alpha = sy_t / n_t - beta * (sx_t / n_t)
    fitted = rsums.crossJoin(F.broadcast(vsums)).select(
        "rung", "n_r",
        "n_v", "sx_v", "sy_v", "sxx_v", "sxy_v", "syy_v",
        beta.alias("beta"), alpha.alias("alpha"),
    )
    sse = _holdout_sse()
    rscored = fitted.select(
        "rung", "n_r", fround(F.sqrt(sse / F.col("n_v")), 4).alias("val_rmse")
    )
    pivoted = rscored.agg(
        F.max(F.when(F.col("rung") == 0, F.col("n_r"))).alias("n0"),
        F.max(F.when(F.col("rung") == 1, F.col("n_r"))).alias("n1"),
        F.max(F.when(F.col("rung") == 2, F.col("n_r"))).alias("n2"),
        F.max(F.when(F.col("rung") == 0, F.col("val_rmse"))).alias("e0"),
        F.max(F.when(F.col("rung") == 1, F.col("val_rmse"))).alias("e1"),
        F.max(F.when(F.col("rung") == 2, F.col("val_rmse"))).alias("e2"),
    )
    u0 = F.log(F.col("n0").cast("double"))
    u1 = F.log(F.col("n1").cast("double"))
    u2 = F.log(F.col("n2").cast("double"))
    v0, v1, v2 = F.log(F.col("e0")), F.log(F.col("e1")), F.log(F.col("e2"))
    ubar = (u0 + u1 + u2) / 3.0
    vbar = (v0 + v1 + v2) / 3.0
    slope = (
        ((u0 - ubar) * (v0 - vbar) + (u1 - ubar) * (v1 - vbar))
        + (u2 - ubar) * (v2 - vbar)
    ) / (
        ((u0 - ubar) * (u0 - ubar) + (u1 - ubar) * (u1 - ubar))
        + (u2 - ubar) * (u2 - ubar)
    )
    withslope = pivoted.select(
        "n0", "n1", "n2", "e0", "e1", "e2", slope.alias("slope")
    )
    return withslope.select(
        F.col("n0").alias("n_quarter"),
        F.col("n1").alias("n_half"),
        F.col("n2").alias("n_full"),
        F.col("e0").alias("rmse_quarter"),
        F.col("e1").alias("rmse_half"),
        F.col("e2").alias("rmse_full"),
        (fround(F.col("slope"), 4) + F.lit(0.0)).alias("power_exponent"),
        fround(
            F.exp(F.log(F.col("e2")) + F.col("slope") * F.log(F.lit(8.0))), 4
        ).alias("pred_rmse_8x"),
        (fround(F.col("slope"), 4) > -0.05).alias("diminishing_returns"),
    )
