"""Embedding similarity search: brute-force cosine top-k and an
LSH-bucketed (random-hyperplane) approximate variant.

Vector math stays JVM-side as higher-order array functions
(``zip_with`` + ``aggregate`` = a sequential fold, bit-identical to
DuckDB's ``list_sum(list_transform(...))``) — no explode into 64x rows,
no Python. The ANN variant buckets vectors by sign-pattern against
deterministic integer hyperplanes, turning top-k into a per-bucket
equi-join: the scale path when the corpus no longer fits a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential-fold dot product of two float arrays in double.

    With ``dim`` given, the fold unrolls to plain column arithmetic
    in the SAME association order — bit-identical results. Measured
    caveat that keeps the default a fold: a 64-dim unrolled dot is a
    ~128-node expression, and inside a multi-column join projection
    the generated code exceeds the JVM's 8KB JIT method limit — the
    whole stage drops to the bytecode interpreter and runs 2-6x
    SLOWER (q63: 2.9s -> 16.6s at sf1). Unrolling only wins for SMALL
    static expressions (see residue_sums: 7 sums of ~10 adds, ~30%
    faster); pass ``dim`` only in narrow projections, never inside
    join scoring.
    """
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + F.element_at(a, i).cast("double") * F.element_at(
                b, i
            ).cast("double")
        return acc
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def squared_norm(a: Column, dim: int | None = None) -> Column:
    return dot(a, a, dim=dim)


def cosine(
    a: Column,
    b: Column,
    norm_a: Column,
    norm_b: Column,
    dim: int | None = None,
) -> Column:
    """Cosine from a precomputed squared norm per side (avoids
    recomputing norms inside an N x M join)."""
    return dot(a, b, dim=dim) / (F.sqrt(norm_a) * F.sqrt(norm_b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank by rounded cosine with an id tie-break.

    Scale: the corpus side streams — each partition scores its vectors
    against the broadcast queries and keeps a local heap via the
    row_number window on (query_id); only #queries x k rows survive.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        squared_norm(F.col(vec_col)).alias("q_norm"),
    )
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        squared_norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                cosine(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                )
                + 1e-9,
                6,
            ),
        )
    )
    return top_k_per_query(scored, k)


#: Rounded cosine of ``q_vec`` and ``c_vec`` from their squared norms
#: ``q_norm``/``c_norm``, as one parsed SQL expression.
COSINE_SQL = (
    "round(aggregate(zip_with(q_vec, c_vec,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    " / (sqrt(q_norm) * sqrt(c_norm)) + 1e-9, 6)"
)


def top_k_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best ``(query_id, neighbor_id, rank, cosine)``
    rows: cosine descending, neighbor_id ascending as the total-order
    tie-break (one window partitioned by query_id)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


#: the hyperplane coefficient formula ((plane*131 + k*17) % 7) - 3 is
#: periodic in k with period 7, which is what makes the residue-sum
#: factorization below exact (not an approximation).
_LSH_PERIOD = 7


def hyperplane_coef(plane: int, k: int) -> float:
    """Deterministic pseudo-random hyperplane component in {-3..3}:
    ((plane*131 + k*17) % 7) - 3. Integer-valued on purpose — the
    sign test then involves no transcendental math, so bucket
    assignment is engine-exact.
    """
    return float(((plane * 131 + k * 17) % _LSH_PERIOD) - 3)


def residue_sums(vec: Column, dim: int = 64) -> list[Column]:
    """The 7 residue-class partial sums S_r = Σ_{k ≡ r (mod 7)} vec[k]
    (k 0-based), each a small sequential fold in double.

    Because the hyperplane coefficients repeat with period 7 in k,
    EVERY plane's projection is an exact linear combination of these
    seven sums: proj_p = Σ_r coef(p, r)·S_r. Computing S_r once and
    combining (64 adds + 7 mul-adds/plane) replaces 8 independent
    64-element folds (512 mul-adds) — bind these in a projection so
    they are evaluated once, not re-expanded per plane (higher-order
    functions are interpreted, outside codegen CSE).
    """
    # dim is static, so the folds unroll to plain codegen arithmetic
    # ((0.0 + x_r) + x_{r+7}) + … — same association order as the
    # interpreted fold and DuckDB's list_sum, bit-identical (verified
    # over the full embeddings table), ~30% faster.
    out: list[Column] = []
    for r in range(_LSH_PERIOD):
        acc = F.lit(0.0)
        for k in range(r, dim, _LSH_PERIOD):
            acc = acc + F.element_at(vec, k + 1).cast("double")
        out.append(acc)
    return out


def bucket_from_sums(
    sums: list[Column], n_planes: int = 8, plane_offset: int = 0
) -> Column:
    """Sign-random-projection bucket id from bound residue sums:
    bit j set iff Σ_r coef(j + plane_offset, r)·S_r >= 0
    (left-associated in r order on both engines — the float op
    sequence is part of the contract). ``plane_offset`` selects an
    independent hyperplane family, giving each hash TABLE of a
    multi-table ANN its own bucketing from the same seven sums."""
    bucket = F.lit(0)
    for j in range(n_planes):
        proj = None
        for r, s in enumerate(sums):
            term = F.lit(hyperplane_coef(j + plane_offset, r)) * s
            proj = term if proj is None else proj + term
        bucket = bucket + F.when(proj >= 0, F.lit(2**j)).otherwise(F.lit(0))
    return bucket.cast("bigint")


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    out_col: str = "bucket",
) -> DataFrame:
    """``df`` plus the LSH bucket column, with the residue sums bound
    in an intermediate projection so the 7 folds run once per row.
    (CollapseProject keeps the split: the folds are non-cheap, so the
    optimizer does not re-inline them into their 8 uses.)"""
    sums = residue_sums(F.col(vec_col), dim)
    names = [f"_lsh_s{r}" for r in range(len(sums))]
    bound = df.select("*", *[s.alias(n) for s, n in zip(sums, names)])
    bucket = bucket_from_sums([F.col(n) for n in names], n_planes)
    return bound.withColumn(out_col, bucket).drop(*names)


def ann_index(
    vectors: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The LSH index frame: (id, vector, squared norm, bucket).

    Build ONCE, persist (ideally bucketed by ``bucket`` via
    operators/bucketing.py::write_bucketed), and amortize across every
    subsequent search — at corpus scale the signature computation is
    the dominant cost of a single self-contained ``ann_topk`` call,
    and a deployment pays it at ingest time, not per query.
    """
    return with_lsh_bucket(
        vectors.select(F.col(id_col), F.col(vec_col)), vec_col, n_planes, dim
    ).select(
        F.col(id_col),
        F.col(vec_col),
        squared_norm(F.col(vec_col)).alias("sqnorm"),
        "bucket",
    )


def ann_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a prebuilt :func:`ann_index` frame: semi-join the query
    ids against the index (their buckets and norms are already there),
    broadcast the tiny query side into each bucket, score exactly,
    keep top-k. No signature math runs at query time.

    If ``queries`` already carries the index columns (e.g. it IS a
    filtered slice of the index), it is used directly — no semi-join,
    one scan fewer."""
    if {"sqnorm", "bucket", vec_col, id_col} <= set(queries.columns):
        q_src = queries
    else:
        q_src = index.join(queries.select(id_col), id_col, "left_semi")
    q = q_src.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("sqnorm").alias("q_norm"),
        "bucket",
    )
    c = index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("sqnorm").alias("c_norm"),
        "bucket",
    )
    # Single parsed expression instead of the python-lambda HOF
    # constructors: identical tree and results, a fraction of the
    # py4j round trips at plan-construction time (r13 optimization
    # round; see ivf.py::ivf_topk_indexed).
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.expr(COSINE_SQL))
    )
    return top_k_per_query(scored, k)


def brute_force_topk_matmul(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy MATMUL — the
    throughput path when the query set is large enough that the
    per-pair JVM fold (:func:`brute_force_topk`) turns into m×n
    scalar expression evaluations: each corpus batch scores against
    ALL queries in one BLAS ``C @ Q.T`` call and emits only its local
    top-(k+1) per query, so the shuffle carries ~batches×m×k rows,
    never m×n.

    The query matrix is collected to the driver and closure-broadcast
    — bounded by the query set (the same contract as IVF's centroid
    collect), which is exactly the regime this operator targets
    (thousands of queries, not a second corpus; for corpus×corpus use
    the LSH/IVF paths). BLAS reassociates additions, so cosines can
    differ from the fold in the last ulp: this is the throughput
    variant, NOT an oracle-hashable one — fold-parity within 1e-9 is
    asserted in tests instead.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            C = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            c_norm = np.sqrt((C * C).sum(axis=1))
            S = (C @ Q.T) / (c_norm[:, None] * q_norm[None, :])
            kk = min(k + 1, S.shape[0])
            out_q, out_n, out_c = [], [], []
            for j in range(S.shape[1]):
                idx = np.argpartition(-S[:, j], kk - 1)[:kk]
                out_q.extend([qids[j]] * len(idx))
                out_n.extend(ids[idx])
                out_c.extend(S[idx, j])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    scored = vectors.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    return top_k_per_query(
        scored.where(F.col("neighbor_id") != F.col("query_id")), k
    )


def int8_quantize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x|/127``,
    ``q_i = trunc(x_i / scale)`` (so ``|q_i| <= 127``) — the 4×
    storage/bandwidth
    compression a 100 TB vector corpus ships to its search tier
    (full-precision vectors stay in cold storage; the hot index holds
    int8 + one float scale per vector).

    Engine-exactness: truncation is spelled ``floor`` for positives /
    ``ceil`` for negatives because Spark's int cast truncates while
    DuckDB's CAST rounds — the explicit form is identical on both.
    Dequantization is ``q_i * scale / 127`` (IEEE-identical), so any
    downstream fold over dequantized values stays bit-identical
    cross-engine. Zero vectors get scale 0 and all-zero codes.
    """
    x = F.col(vec_col)
    amax = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    scale = amax / F.lit(127.0)
    scaled = F.transform(
        x,
        lambda v: F.when(F.col("_scale") == 0, F.lit(0.0)).otherwise(
            v.cast("double") / F.col("_scale")
        ),
    )
    trunc = F.transform(
        F.col("_scaled"),
        lambda v: F.when(v >= 0, F.floor(v)).otherwise(F.ceil(v)).cast("int"),
    )
    return (
        df.select(F.col(id_col), x, scale.alias("_scale"))
        .select(F.col(id_col), F.col("_scale"), scaled.alias("_scaled"))
        .select(
            F.col(id_col),
            F.col("_scale").alias("scale"),
            trunc.alias("qvec"),
        )
    )


def dequantized(qvec: Column, scale: Column) -> Column:
    """Reconstruct doubles from int8 codes: ``q_i * scale`` (the
    quantizer already folded the /127 into the scale direction —
    codes are x/scale with scale = max|x|/127, so x ≈ q * scale)."""
    return F.transform(qvec, lambda q: q.cast("double") * scale)


def ann_topk_multitable(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_tables: int = 2,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with ``n_tables`` independent LSH hash tables
    — the union-of-tables recall upgrade the single-table docstring
    promises: a true neighbor is missed only if it disagrees with the
    query in EVERY table, so miss probability decays geometrically in
    the table count while compute grows linearly.

    All tables derive from the SAME seven residue sums (one bound
    projection per row; each table is an independent 8-plane family
    via ``plane_offset``), so the index costs one extra bucket column
    per table, not a second signature pass. Candidates are scored
    inside each table's bucket equi-join (JVM fold), unioned, then
    deduped by (query, neighbor) — identical scores across tables, so
    ``max`` is a no-op dedup — and ranked once. At 100 TB each bucket
    column is an ingest-time index column (ann_index pattern) and the
    union is a union of per-table probes, never a rescan."""
    sums = residue_sums(F.col(vec_col), dim)
    names = [f"_lsh_s{r}" for r in range(len(sums))]
    bound = vectors.select(
        F.col(id_col), F.col(vec_col), *[s.alias(n) for s, n in zip(sums, names)]
    )
    cols = [
        F.col(id_col),
        F.col(vec_col),
        squared_norm(F.col(vec_col)).alias("sqnorm"),
    ]
    for t in range(n_tables):
        cols.append(
            bucket_from_sums(
                [F.col(n) for n in names], n_planes, plane_offset=t * n_planes
            ).alias(f"bucket{t}")
        )
    index = bound.select(*cols).localCheckpoint(eager=False)
    q_src = index.join(queries.select(id_col), id_col, "left_semi")
    scored_tables = []
    for t in range(n_tables):
        q = q_src.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("sqnorm").alias("q_norm"),
            f"bucket{t}",
        )
        c = index.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            F.col("sqnorm").alias("c_norm"),
            f"bucket{t}",
        )
        scored_tables.append(
            c.join(F.broadcast(q), f"bucket{t}")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine(
                        F.col("q_vec"),
                        F.col("c_vec"),
                        F.col("q_norm"),
                        F.col("c_norm"),
                    )
                    + 1e-9,
                    6,
                ).alias("cosine"),
            )
        )
    union = scored_tables[0]
    for s in scored_tables[1:]:
        union = union.unionByName(s)
    dedup = union.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine")
    )
    return top_k_per_query(dedup, k)


def ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only vectors in the query's LSH
    bucket. Recall < 1 by design; at scale, probe neighboring buckets
    or union multiple hash tables to trade compute for recall.

    Self-contained form: builds the index inline (localCheckpoint so
    both join sides share one signature computation) and searches it.
    A deployment issuing many searches builds the index once with
    :func:`ann_index` + write_bucketed and calls
    :func:`ann_topk_indexed` — signature math then never runs at
    query time.
    """
    bucketed = ann_index(vectors, n_planes, dim, id_col, vec_col).localCheckpoint(
        eager=False
    )
    return ann_topk_indexed(bucketed, queries, k, id_col, vec_col)


def pq_subspace_frames(
    emb: DataFrame, n_codes: int = 8, n_sub: int = 4, sub_dim: int = 16
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization building blocks: ``(subseeds, subvecs)``.

    ``subseeds`` is the per-subspace codebook — the first ``n_codes``
    vectors by id (the q61 deterministic seed convention; production
    refines with ivf.py's distributed Lloyd's), sliced into ``n_sub``
    sub-vectors of ``sub_dim``; ``subvecs`` is every input vector
    sliced the same way. The codebook is ``n_codes × n_sub`` rows —
    broadcast-sized at any corpus scale.
    """
    from pyspark.sql import Window

    seeds = (
        emb.orderBy("vec_id")
        .limit(n_codes)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias(
                "cid"
            ),
            "embedding",
        )
    )
    subs = F.explode(F.array(*[F.lit(i) for i in range(n_sub)])).alias("sub")
    subseeds = seeds.select("cid", subs, "embedding").select(
        "cid",
        "sub",
        F.slice(
            F.col("embedding"), 1 + sub_dim * F.col("sub"), sub_dim
        ).alias("cvec"),
    )
    subvecs = emb.select("vec_id", subs, "embedding").select(
        "vec_id",
        "sub",
        F.slice(
            F.col("embedding"), 1 + sub_dim * F.col("sub"), sub_dim
        ).alias("v"),
    )
    return subseeds, subvecs


def pq_sub_sq_l2(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 between two sub-vectors — the same
    association order as the oracle's list_sum(list_transform(...))."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def pq_best_codes(subvecs: DataFrame, subseeds: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace): returns
    ``(vec_id, sub, cid, dist)`` with argmin ties broken by code id
    (footgun 3).

    The per-sub codebook collapses to a cid-ordered array of structs
    (bounded model state: n_codes entries per subspace), broadcast
    equi-joined on ``sub``; the argmin is then a PURE PER-ROW
    PROJECTION — ``array_position(dists, array_min(dists))`` picks the
    FIRST minimum in cid order, identical to the previous
    ``min(struct(dist, cid))``, with the same pq_sub_sq_l2 fold per
    distance. The old form exploded n_codes rows per (vector,
    subspace) and shuffled them back through a groupBy; this one
    shuffles nothing (r13 optimization round)."""
    codes = subseeds.groupBy("sub").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cid"), F.col("cvec")))
        ).alias("_codes")
    )
    dists = F.transform(
        F.col("_codes"), lambda c: pq_sub_sq_l2(F.col("v"), c["cvec"])
    )
    scored = subvecs.join(F.broadcast(codes), "sub").select(
        "vec_id", "sub", "_codes", dists.alias("_dists")
    )
    return scored.select(
        "vec_id",
        "sub",
        F.element_at(
            F.col("_codes"),
            F.array_position(F.col("_dists"), F.array_min(F.col("_dists"))).cast(
                "int"
            ),
        )["cid"].alias("cid"),
        F.array_min(F.col("_dists")).alias("dist"),
    )
