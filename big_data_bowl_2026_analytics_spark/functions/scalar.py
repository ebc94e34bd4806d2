"""Scalar Column function library (SURVEY §2.8, F1-F16).

Every function is a pure ``Column -> Column`` expression — JVM-side,
inside whole-stage codegen, no Python boundary. This is the engine's
replacement for the reference's row-wise numpy/pandas math
(/root/reference/src/data_processing/training/features.py:11-60,
/root/reference/src/data_processing/cleaning/tracking.py:168-201).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Field geometry (reference src/core/settings.py:72-75).
FIELD_LENGTH = 120.0
FIELD_WIDTH = 53.3

#: Epsilon added before rounding doubles that are compared against a
#: DuckDB oracle. Spark rounds doubles on their exact binary decimal
#: expansion (java.math.BigDecimal(double)) while DuckDB rounds the
#: shortest round-trip decimal representation; values that are
#: mathematically on a round-half boundary (x.xxx5) therefore round
#: differently per engine. Nudging by 1e-9 — far above accumulated
#: float noise (<1e-12 rel), far below any data resolution — moves
#: every such value off the boundary identically on both engines.
ROUND_EPS = 1e-9


def fround(col: Column | str, scale: int = 2) -> Column:
    """Cross-engine-stable rounding for doubles (see ROUND_EPS).

    The DuckDB oracle side must mirror it as ``round(x + 1e-9, n)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c + F.lit(ROUND_EPS), scale)


def flip_coordinate(coord: Column, extent: float, flip_when: Column) -> Column:
    """F1 — mirror a field coordinate (x' = L - x) when ``flip_when``
    (e.g. play_direction == 'left'); reference tracking.py:168-201."""
    return F.when(flip_when, F.lit(extent) - coord).otherwise(coord)


def flip_angle(angle: Column, flip_when: Column) -> Column:
    """F2 — rotate a degree angle by 180 into [0, 360) when flipping
    direction; reference tracking.py:196-199."""
    return F.when(flip_when, F.pmod(angle + 180.0, F.lit(360.0))).otherwise(angle)


def euclidean_distance(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """F3 — planar euclidean distance; reference tracking.py:368-375."""
    return F.sqrt(F.pow(x1 - x2, 2) + F.pow(y1 - y2, 2))


def angle_diff(a: Column, b: Column) -> Column:
    """F4 — smallest absolute angular difference in degrees;
    reference features.py:11-23."""
    d = F.pmod(a - b, F.lit(360.0))
    return F.least(d, 360.0 - d)


def unit_vector(angle_deg: Column) -> tuple[Column, Column]:
    """F5 — (cos, sin) unit vector from a degree angle;
    reference features.py:26-37."""
    rad = F.radians(angle_deg)
    return F.cos(rad), F.sin(rad)


def boundary_distance(
    x: Column, y: Column, length: float = FIELD_LENGTH, width: float = FIELD_WIDTH
) -> Column:
    """F6 — distance to the nearest field boundary;
    reference features.py:40-60."""
    return F.least(y, F.lit(width) - y, x, F.lit(length) - x)


def closing_speed(
    def_x: Column,
    def_y: Column,
    def_speed: Column,
    def_dir_deg: Column,
    rec_x: Column,
    rec_y: Column,
) -> Column:
    """F7 — closing speed: minus the defender velocity projected onto
    the defender->receiver vector, distance-clipped at 0.01. Sign
    convention follows the reference exactly (negative of the dot
    product; reference features.py:105-108).
    """
    dx, dy = rec_x - def_x, rec_y - def_y
    dist = F.greatest(F.sqrt(dx * dx + dy * dy), F.lit(0.01))
    vx, vy = unit_vector(def_dir_deg)
    return -(def_speed * vx * dx + def_speed * vy * dy) / dist


def piecewise_recovery_score(pass_result: Column, prob: Column) -> Column:
    """F15 — piecewise recovery scoring. C -> -p, I -> 1-p,
    IN -> 1.2*(1-p). The interception multiplier is 1.2 as in the
    reference *code* (src/metrics/recovery.py:49-57), not the 2x its
    docstring claims.
    """
    return (
        F.when(pass_result == "C", -prob)
        .when(pass_result == "I", 1.0 - prob)
        .when(pass_result == "IN", 1.2 * (1.0 - prob))
    )


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low ``bits`` bits of two
    non-negative integer columns — a space-filling-curve layout key.

    Sorting or range-partitioning files by this key co-locates rows
    that are close in BOTH dimensions, so parquet min/max statistics
    prune scans for 2-D predicates (the technique behind Delta/Iceberg
    Z-ordering; the reference's analogue is its per-week file layout,
    reference src/core/settings.py:57-58, which clusters on one
    dimension only). Pure integer bit math — exact and engine-portable
    (same expression in ANSI SQL bit operators).
    """
    z: Column = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def zorder_sql(a: str, b: str, bits: int = 16) -> str:
    """The exact SQL mirror of :func:`zorder_key` (for oracles/DDL)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)
