"""Kaplan-Meier product-limit survival estimation, histogram-grain.

The estimator S(t) = Π_{t_j ≤ t} (1 - d_j / n_j) is a running product
over ordered event times. Distributed form: reduce subjects to the
duration HISTOGRAM first (so every window is bounded by the number of
distinct durations — calendar-sized, never subject-sized), derive
risk sets from the complementary cumulative count (exact integer
window sums), and compute the product as exp of a running sum of
logs. The float surface is the ln/exp pair plus a windowed float sum
— the documented q110 class, absorbed by the caller's fround.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _duration_histogram(life: DataFrame) -> DataFrame:
    """``(t, n_at, n_events)``: subjects and observed events per
    duration — the calendar-bounded grain every estimator runs on."""
    return life.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_at"),
        F.sum("churned").alias("n_events"),
    )


def _risk_sets(hist: DataFrame) -> DataFrame:
    """``(t, n_events, n_risk)``: the subjects still at risk just before
    each duration — the total less the exact cumulative count of
    earlier durations."""
    tot = hist.agg(F.sum("n_at").alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    return hist.crossJoin(F.broadcast(tot)).select(
        "t",
        F.col("n_events").cast("bigint").alias("n_events"),
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_at").over(w_prev), F.lit(0))
        ).cast("bigint").alias("n_risk"),
    )


def kaplan_meier(life: DataFrame) -> DataFrame:
    """Survival curve for a subject-grain frame with columns
    ``t`` (non-negative integer duration) and ``churned`` (1 = the
    terminal event was observed at t, 0 = right-censored at t).

    Returns one row per duration with at least one event:
    ``(t, n_risk, n_events, survival)`` — ``survival`` UNROUNDED
    (callers apply the fround pair before any cross-engine compare).
    """
    risk = _risk_sets(_duration_histogram(life))
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # When every at-risk subject churns at one time, the factor is 0:
    # Spark's log(0) is NULL and DuckDB's ln(0) raises, so the term is
    # pinned to -inf explicitly on both sides (exp(-inf) = 0.0, and 0
    # correctly absorbs every later factor).
    term = F.when(
        F.col("n_events") == F.col("n_risk"), F.lit(float("-inf"))
    ).otherwise(F.log(1 - F.col("n_events") * 1.0 / F.col("n_risk")))
    km = risk.withColumn("survival", F.exp(F.sum(term).over(w_cum)))
    return km.where(F.col("n_events") > 0).select(
        "t", "n_risk", "n_events", "survival"
    )


def nelson_aalen(life: DataFrame) -> DataFrame:
    """Nelson-Aalen cumulative hazard for the same subject-grain frame
    ``kaplan_meier`` takes: H(t) = Σ_{t_j ≤ t} d_j / n_j over ordered
    event times, accumulated in EXACT fixed-point millionths — each
    increment is the integer division (1e6 * d_j) DIV n_j, so the
    running sum is an order-insensitive BIGINT cumsum with zero float
    accumulation (unlike the KM exp-of-log-sum, which carries the
    q110 windowed-float-sum caveat). The truncating division loses
    strictly less than 1 ppm per event time (so H after k event times
    is within k ppm of the real-valued estimator — the bound the
    session-9 property test pins); this quantization is part of the
    estimator's DEFINITION here (a documented fixed-point variant),
    not an approximation of a float reference.

    Returns ``(t, n_risk, n_events, cum_hazard_ppm)`` for every
    duration with at least one event; callers derive H = ppm / 1e6
    and the Breslow survival exp(-H).
    """
    risk = _risk_sets(_duration_histogram(life))
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    na = risk.withColumn(
        "cum_hazard_ppm",
        F.sum(F.expr("(1000000 * n_events) div n_risk"))
        .over(w_cum)
        .cast("bigint"),
    )
    return na.where(F.col("n_events") > 0).select(
        "t", "n_risk", "n_events", "cum_hazard_ppm"
    )


def kaplan_meier_greenwood(life: DataFrame) -> DataFrame:
    """Kaplan-Meier curve PLUS the Greenwood variance accumulator for
    the same subject-grain frame ``kaplan_meier`` takes.

    Greenwood's formula Var(S(t)) = S(t)^2 * G(t) with
    G(t) = Σ_{t_j ≤ t} d_j / (n_j * (n_j - d_j)) is accumulated in
    EXACT fixed-point trillionths (1e-12 units): each increment is the
    integer division (1e12 * d) DIV (n * (n - d)), so the running sum
    is a pure-BIGINT order-insensitive cumsum (the nelson_aalen
    contract, finer lattice because Greenwood increments shrink like
    d/n² — at 1e6 subjects a ppm lattice would truncate every
    increment to 0). Quantization loses < 1e-12 per event time — k
    event times keep G within k·1e-12 of the real-valued sum, far
    inside the 5e-7 rounding half-gap of any 6-dp output. Bounds:
    1e12·d needs d < 9.2e6 events at a single duration before int64
    overflows (document-checked at every test SF). An all-churn time
    (d = n) pins S = 0 exactly on both engines (the kaplan_meier -inf
    convention); its Greenwood increment is moot (bands collapse to
    [0, 0] because they scale by S) and is pinned to 0 rather than
    dividing by zero.

    Returns ``(t, n_risk, n_events, survival, greenwood_e12)`` for
    every duration with at least one event; survival UNROUNDED.
    """
    hist = _duration_histogram(life).localCheckpoint(
        eager=False
    )  # total branch + risk branch
    risk = _risk_sets(hist)
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    term = F.when(
        F.col("n_events") == F.col("n_risk"), F.lit(float("-inf"))
    ).otherwise(F.log(1 - F.col("n_events") * 1.0 / F.col("n_risk")))
    ginc = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.expr(
            "(1000000000000 * n_events) div (n_risk * (n_risk - n_events))"
        ),
    ).otherwise(F.lit(0))
    km = risk.select(
        "t",
        "n_risk",
        "n_events",
        F.exp(F.sum(term).over(w_cum)).alias("survival"),
        F.sum(ginc).over(w_cum).cast("bigint").alias("greenwood_e12"),
    )
    return km.where(F.col("n_events") > 0)
