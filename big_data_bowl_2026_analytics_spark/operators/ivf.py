"""IVF (inverted-file) approximate nearest neighbor search.

The second similarity scale path next to sign-random-projection LSH
(``operators/similarity.py``): partition the corpus into ``k`` Voronoi
cells around centroids, then answer queries by scanning only the
``nprobe`` nearest cells — an equi-join on ``cluster_id`` instead of a
cross join, exactly like a vector database's IVF-Flat index.

Two centroid sources:

- ``seed_centroids``: the embeddings of the ``k`` smallest ids.
  Deterministic and SQL-expressible, so the registry queries built on
  it hash-match a DuckDB oracle (the correctness gate).
- ``kmeans_fit``: distributed Lloyd's iterations refining those seeds.
  Assignment is pure column math against a broadcast centroid array
  (zero shuffle); the update step is one map-side-combined shuffle of
  at most ``k x dim`` rows per upstream partition. Only the ``k x dim``
  centroid matrix itself is collected per iteration — model state, not
  data.

All distance math is the same sequential fold in float64 used by the
cosine operators, so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sq_l2(a: Column, b: Column, dim: int | None = None) -> Column:
    """Squared L2 distance as a sequential fold in double.

    Inputs are float32 arrays; each ``(x - y)``, product, and running
    sum is exact or correctly rounded in float64 in a fixed order, so
    any engine folding sequentially produces identical bits. With
    ``dim`` known statically the fold unrolls into codegen arithmetic
    (same order, same bits — see similarity.py::dot).
    """
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            d = F.element_at(a, i).cast("double") - F.element_at(b, i).cast(
                "double"
            )
            acc = acc + d * d
        return acc
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d * d)


def seed_centroids(
    vectors: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid seed: the ``k`` lowest-id vectors.

    Returns (cluster_id, centroid). cluster_id is the rank of the seed
    vector's id, so the mapping is stable across engines and runs.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.asc(id_col))
    return (
        vectors.orderBy(F.asc(id_col))
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).alias("cluster_id"),
            F.col(vec_col).alias("centroid"),
        )
    )


def centroid_literal(rows) -> Column:
    """The ``_cents`` array-of-structs as a pure LITERAL column from
    pre-collected ``(cluster_id, centroid)`` rows — bounded model
    state (k x dim floats), the same values :func:`centroid_array`
    aggregates, with ZERO plan machinery: no aggregate, no exchange,
    no broadcast, no cross join. A deployment holds its trained
    centroid matrix as index metadata exactly like this (the
    ``kmeans_fit`` return-value contract); the element order is pinned
    by an explicit sort on cluster_id, matching centroid_array's
    array_sort. Float32 centroid components round-trip exactly through
    the Python float (r14 optimization round): the double literal is
    the float64 embedding of the float32 value and the cast back to
    float recovers identical bits, so every downstream sq_l2 fold sees
    the same numbers as the aggregated form.

    The expression is built as ONE parsed SQL string: the k x dim
    literal spelled through python-side constructors costs ~500 py4j
    round trips per plan build (~0.2 s measured — the r13 §1.2
    plan-construction lesson). ``repr(float)`` is the shortest
    round-tripping decimal and the ``D`` suffix makes Spark parse it
    as DOUBLE (bare decimals parse as DECIMAL); finite values only —
    the synthetic embeddings contract.
    """
    ordered = sorted(rows, key=lambda r: r["cluster_id"])
    structs = ", ".join(
        "named_struct('cluster_id', {cid}, 'centroid',"
        " CAST(array({xs}) AS ARRAY<FLOAT>))".format(
            cid=int(r["cluster_id"]),
            xs=", ".join(f"{float(x)!r}D" for x in r["centroid"]),
        )
        for r in ordered
    )
    return F.expr(f"array({structs})")


def _with_cents(frame: DataFrame, centroids) -> DataFrame:
    """Bind the ``_cents`` column: broadcast-cross-join the aggregated
    one-row array for a DataFrame input, or a literal projection for
    pre-collected rows (list/tuple input — no join at all)."""
    if isinstance(centroids, DataFrame):
        return frame.join(F.broadcast(centroid_array(centroids)), how="cross")
    return frame.select("*", centroid_literal(centroids).alias("_cents"))


def centroid_array(centroids: DataFrame) -> DataFrame:
    """Collapse a (cluster_id, centroid) frame to ONE row holding the
    cluster_id-ordered array of centroid structs — bounded model state
    (k x dim floats), the broadcastable form every per-row argmin
    below consumes. ``array_sort`` pins the element order (collect_list
    is otherwise partition-order dependent): structs sort by their
    first field, cluster_id."""
    return centroids.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cluster_id"), F.col("centroid")))
        ).alias("_cents")
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as a PURE PER-ROW PROJECTION: the k
    centroids collapse to one array-of-structs row (broadcast cross
    join, 1 row), each vector computes its k distances into a bound
    ``_dists`` array (one sq_l2 fold per centroid — the same total
    fold work as the old k-rows-per-vector form), and the assignment
    is ``array_position(dists, array_min(dists))`` — the FIRST minimum
    in cluster_id order, identical to the previous
    ``min_by(cluster_id, struct(dist, cluster_id))`` tie-break.

    ``centroids`` may be a (cluster_id, centroid) DataFrame (the
    aggregated one-row array broadcast-cross-joins in) or a list of
    pre-collected rows (r14: the array binds as a LITERAL projection —
    no aggregate, no exchange, no broadcast build; identical values,
    see :func:`centroid_literal`).

    No aggregation of the corpus, no shuffle: the previous form
    exploded k rows per vector and funneled them back through a
    SortAggregate KEYED BY THE EMBEDDING ARRAY (array group keys
    disable hash aggregation) plus a full-corpus exchange carrying
    every vector — at 100 TB that shuffle is the index-build wall; at
    sf0.1 removing it measured ivf_index build 3.2 s -> ~1 s and the
    self-contained q62 plan lost its corpus exchange (r13 optimization
    round). The distance array is bound in a projection first so the
    interpreted HOF fold runs once, not once per downstream reference
    (CSE does not reach higher-order lambdas).
    """
    dists = F.transform(
        F.col("_cents"), lambda c: sq_l2(F.col(vec_col), c["centroid"], dim=dim)
    )
    scored = _with_cents(vectors.select(id_col, vec_col), centroids).select(
        id_col, vec_col, "_cents", dists.alias("_dists")
    )
    return scored.select(
        id_col,
        vec_col,
        F.element_at(
            F.col("_cents"),
            F.array_position(F.col("_dists"), F.array_min(F.col("_dists"))).cast(
                "int"
            ),
        )["cluster_id"].alias("cluster_id"),
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    n_iters: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd's k-means; returns the learned centroid matrix
    (k x dim, cluster_id order). Deterministic: seed-init from the k
    lowest ids, fixed iteration count, tie-breaks on cluster_id.

    Per iteration: (1) assignment is a single projection against the
    centroid ARRAY LITERAL — no join, no shuffle; (2) the centroid
    update posexplodes assigned vectors to (cluster, dim_idx, value)
    and means them — partial aggregation reduces each upstream
    partition to <= k*dim rows before the one shuffle; (3) only the
    k x dim centroid matrix (a few KB) comes back to the driver, the
    same footprint as broadcasting any trained model.
    """
    seeds = seed_centroids(vectors, k, id_col, vec_col).collect()
    centroids = [
        [float(x) for x in row["centroid"]]
        for row in sorted(seeds, key=lambda r: r["cluster_id"])
    ]
    # The iteration body re-reads the vectors n_iters times and its
    # per-row cost is the interpreted k x dim distance folds — spread
    # it across the session's parallelism regardless of how few files
    # the source has (a single parquet file otherwise pins the whole
    # fit to ONE task), and pin the materialized frame for the loop.
    sc = vectors.sparkSession.sparkContext
    vectors = vectors.select(id_col, vec_col).repartition(
        sc.defaultParallelism, F.col(id_col)
    )
    vectors.persist()
    try:
        for _ in range(n_iters):
            assigned = vectors.select(
                F.col(vec_col).alias("v"),
                nearest_centroid_expr(F.col(vec_col), centroids).alias("cluster_id"),
            )
            # decimal sums are exact, so the mean is independent of
            # partial-aggregate merge order — parallel fits stay
            # bit-deterministic run to run (float64 sums would pick up
            # merge-order ulp jitter).
            new_rows = (
                assigned.select(
                    "cluster_id", F.posexplode(F.col("v")).alias("dim_idx", "x")
                )
                .groupBy("cluster_id", "dim_idx")
                .agg(
                    F.avg(
                        F.col("x").cast("double").cast("decimal(27,12)")
                    ).alias("mean_x")
                )
                .collect()
            )
            by_cluster: dict[int, list[float]] = {}
            for row in new_rows:
                by_cluster.setdefault(row["cluster_id"], [0.0] * dim)[
                    row["dim_idx"]
                ] = float(row["mean_x"])
            # Empty clusters keep their previous centroid.
            centroids = [by_cluster.get(c, centroids[c]) for c in range(k)]
    finally:
        vectors.unpersist()
    return centroids


def nearest_centroid_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """cluster_id of the nearest centroid, as pure column math against
    the centroid literal (no join, no shuffle, whole-stage codegen).

    Ties break toward the lower cluster_id via strict '<' comparison.
    """
    dists = F.array(
        *[
            sq_l2(vec, F.array(*[F.lit(x) for x in c]).cast("array<double>"))
            for c in centroids
        ]
    )
    # array_position returns the FIRST index holding the minimum, so
    # ties resolve to the lower cluster_id. A when-chain argmin would
    # duplicate sub-expressions 2^k times; this stays linear in k.
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def quantization_error(
    vectors: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> float:
    """Mean squared distance to the assigned centroid — the quantity
    Lloyd's iterations monotonically decrease."""
    dists = [
        sq_l2(F.col(vec_col), F.array(*[F.lit(x) for x in c]).cast("array<double>"))
        for c in centroids
    ]
    row = vectors.select(F.least(*dists).alias("d")).agg(F.avg("d").alias("mse")).head()
    return float(row["mse"])


def ivf_index(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """The IVF-Flat index frame: (id, vector, squared norm,
    cluster_id) — the corpus-side cell assignment, which is the
    dominant cost of a self-contained search. Build once at ingest,
    persist bucketed by ``cluster_id`` (write_bucketed), and every
    subsequent :func:`ivf_topk_indexed` call touches only the probed
    cells."""
    from ..operators.similarity import squared_norm

    return assign_clusters(vectors, centroids, id_col, vec_col, dim=dim).select(
        F.col(id_col),
        F.col(vec_col),
        squared_norm(F.col(vec_col)).alias("sqnorm"),
        "cluster_id",
    )


def ivf_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Search a prebuilt :func:`ivf_index`: rank the ``nprobe``
    nearest cells per query (a per-row sorted-array slice — tiny)
    and scan only those cells via a cluster_id equi-join. Corpus-side
    assignment never runs at query time. If ``queries`` already
    carries ``sqnorm`` (a filtered slice of the index), the norm is
    reused rather than recomputed.

    The probe set is a sorted-array slice per query row: distances to
    the k cells sort as (dist, cluster_id) structs and the first
    ``nprobe`` explode out — the same selection as the previous
    row_number window over queries x k rows, WITHOUT the window's
    exchange, so the probes broadcast build no longer schedules a
    2-stage shuffle job per search (r13 optimization round). An
    earlier, measured-SLOWER variant inlined k x dim UNROLLED literal
    folds into one expression — the codegen cliff at
    similarity.py::dot; this form keeps each per-centroid fold as the
    small interpreted HOF it already was."""
    from ..operators.similarity import (
        COSINE_SQL,
        cosine,
        squared_norm,
        top_k_per_query,
    )

    corpus = index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("sqnorm").alias("c_norm"),
        "cluster_id",
    )

    q_norm = (
        F.col("sqnorm")
        if "sqnorm" in queries.columns
        else squared_norm(F.col(vec_col))
    )
    # The probe slice and the cosine are built as SINGLE parsed SQL
    # expressions rather than nested python-lambda HOF constructors:
    # the trees (and therefore the results) are identical, but each
    # python-side lambda costs a dozen py4j round trips plus an eager
    # re-analysis at ~1 ms each — measured at ~0.2 s of pure builder
    # time per search call (r13 optimization round, guide §1.2 "don't
    # compute things you throw away" applied to plan construction).
    if dim is not None:
        probe_structs = F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    sq_l2(F.col("q_vec"), c["centroid"], dim=dim).alias("dist"),
                    c["cluster_id"].alias("cluster_id"),
                ),
            )
        )
    else:
        probe_structs = F.expr(
            "array_sort(transform(_cents, c -> named_struct("
            " 'dist', aggregate(zip_with(q_vec, c.centroid,"
            "   (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
            "   CAST(0.0 AS DOUBLE), (acc, d) -> acc + d * d),"
            " 'cluster_id', c.cluster_id)))"
        )
    probes = (
        _with_cents(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"),
                q_norm.alias("q_norm"),
            ),
            centroids,
        )
        .select(
            "query_id",
            "q_vec",
            "q_norm",
            F.explode(F.slice(probe_structs, 1, nprobe)).alias("_pr"),
        )
        .select(
            "query_id",
            "q_vec",
            "q_norm",
            F.col("_pr")["cluster_id"].alias("cluster_id"),
        )
    )

    scored = (
        corpus.join(F.broadcast(probes), "cluster_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.expr(COSINE_SQL))
    )
    return top_k_per_query(scored, k)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """IVF-Flat search: each query probes its ``nprobe`` nearest cells
    and ranks candidates by exact cosine within them.

    Scale shape: corpus-side assignment is a broadcast argmin (one
    map-side-combined shuffle keyed by vector id), the probe list is
    queries x k rows, and the candidate scan is an equi-join on
    cluster_id — the corpus is never cross-joined. Recall rises with
    nprobe (= k recovers exact search).

    Self-contained form (assignment recomputed per call); a deployment
    issuing many searches builds :func:`ivf_index` once and calls
    :func:`ivf_topk_indexed`.
    """
    return ivf_topk_indexed(
        ivf_index(vectors, centroids, id_col, vec_col, dim=dim),
        queries,
        centroids,
        k,
        nprobe,
        id_col,
        vec_col,
        dim=dim,
    )
