"""Layout operator tests: Morton interleave vs a Python bit-twiddling
reference, exact quantization bounds, and the locality property the
whole scheme exists for (z-adjacent rows are close in both source
dimensions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_bowl_2026_analytics_spark.operators.layout import (
    quantize,
    zorder_value,
)


def _py_morton(x: int, y: int, bits: int = 8) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_matches_python_reference(spark):
    rows = [(x, y) for x in range(0, 256, 17) for y in range(0, 256, 23)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", zorder_value(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == _py_morton(x, y)


def test_zorder_is_bijective_on_domain(spark):
    df = spark.createDataFrame(
        [(x, y) for x in range(32) for y in range(32)], "x long, y long"
    )
    zs = [
        r.z
        for r in df.select(
            zorder_value(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    assert len(set(zs)) == 32 * 32
    assert min(zs) == 0 and max(zs) == _py_morton(31, 31)


def test_quantize_exact_bounds_and_degenerate_span(spark):
    df = spark.createDataFrame([(v,) for v in range(1000, 2001)], "v long")
    bound = df.crossJoin(
        df.agg(F.min("v").alias("lo"), (F.max("v") - F.min("v")).alias("sp"))
    )
    q = bound.select(
        "v", quantize(F.col("v"), F.col("lo"), F.col("sp")).alias("q")
    )
    got = {r.v: r.q for r in q.collect()}
    for v, qv in got.items():
        assert qv == ((v - 1000) * 255) // 1000  # exact floor division
    assert got[1000] == 0 and got[2000] == 255
    # span 0 (constant column) maps everything to 0, no div-by-zero
    const = spark.createDataFrame([(7,), (7,)], "v long")
    z = const.select(
        quantize(F.col("v"), F.lit(7), F.lit(0)).alias("q")
    ).collect()
    assert [r.q for r in z] == [0, 0]


def test_z_adjacency_implies_dimension_locality(spark):
    # Sorting by z-value, any 64-row chunk of the full 8-bit grid
    # covers at most a small sub-rectangle — the pruning property.
    df = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x long, y long"
    )
    z = df.select("x", "y", zorder_value(F.col("x"), F.col("y")).alias("z"))
    chunks = (
        z.select("x", "y", F.shiftright(F.col("z"), 6).alias("chunk"))
        .groupBy("chunk")
        .agg(
            (F.max("x") - F.min("x") + 1).alias("sx"),
            (F.max("y") - F.min("y") + 1).alias("sy"),
        )
        .collect()
    )
    # a perfect morton curve over a 64x64 grid: every 64-point chunk
    # is an exact 8x8 tile
    assert all(r.sx == 8 and r.sy == 8 for r in chunks)


def _hilbert_model(n, x, y):
    """Canonical Wikipedia xy2d (rot-n variant) — the pinned model."""
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_value_bijective_and_unit_adjacent(spark):
    """The defining Hilbert properties on the full 16x16 grid: the
    index is a bijection and consecutive indices are unit neighbors
    (|dx|+|dy| = 1 — the locality Z-order's diagonal jumps lack)."""
    import pyspark.sql.functions as F

    from big_data_bowl_2026_analytics_spark.operators.layout import (
        with_hilbert_value,
    )

    grid = spark.range(256).select(
        (F.col("id") % 16).alias("qx"),
        (F.col("id") / 16).cast("bigint").alias("qy"),
    )
    got = {
        (r.qx, r.qy): r.hv
        for r in with_hilbert_value(grid, bits=4).collect()
    }
    assert all(
        got[(x, y)] == _hilbert_model(16, x, y)
        for x in range(16)
        for y in range(16)
    )
    inv = {d: xy for xy, d in got.items()}
    assert len(inv) == 256  # bijective
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(255)
    )


def test_hilbert_sql_matches_spark(spark):
    """hilbert_steps_sql is the exact DuckDB mirror of
    with_hilbert_value — engine-exact integers, per cell."""
    import duckdb

    from big_data_bowl_2026_analytics_spark.operators.layout import (
        hilbert_steps_sql,
    )

    steps = hilbert_steps_sql("g", "qx, qy", bits=4)
    sql = f"""
    WITH g AS (
      SELECT CAST(i % 16 AS BIGINT) AS qx, CAST(i // 16 AS BIGINT) AS qy
      FROM (SELECT unnest(range(0, 256)) AS i)
    ),
    {steps}
    SELECT qx, qy, hd FROM hstep4
    """
    got = {
        (r[0], r[1]): r[2] for r in duckdb.connect().execute(sql).fetchall()
    }
    assert all(
        got[(x, y)] == _hilbert_model(16, x, y)
        for x in range(16)
        for y in range(16)
    )
