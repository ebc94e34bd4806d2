"""Graph, spatial, and entity-resolution queries — relationship-shaped
analytics over the same fact tables, each built on a bounding device
that keeps the quadratic-looking step an equi-join:

- q205: Fellegi-Sunter record-linkage scoring over blocked candidate
  pairs, with u-probabilities estimated from corpus marginals as
  exact integer ratios
- q206: grid-bucketed nearest-neighbor join between hash-placed
  customers and suppliers (the geohash-cell pattern: 3x3 neighborhood
  equi-join, never a cross join)
- q209: U-shaped (position-based) multi-touch attribution over
  gap-sessionized event journeys — the graded companion to q180's
  last-touch; reported at the (event_type, role, touches) grain so
  every credit is a single deterministic multiply, never a float sum
- q210: 2-D skyline (Pareto front) via prefix-max over the price
  order — dominance needs ONE ordered pass, not an all-pairs anti
  join; the Spark side uses the two-level bucketed prefix max
  (operators/rankops.py::bucketed_cummax_prev) so no data-sized
  single-partition window exists at any scale
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ...functions.scalar import fround
from ...operators.rankops import bucketed_cummax_prev
from ...operators.temporal import sessionize
from ...sources.readers import read_table
from ..oracle_sql import BULK_LINES, EVENT_SESSIONS, SUPPLIER_PAIRS
from ..registry import query
from ...core.session import local_frame
from .splits import _hash16, _hash16_sql


@query(
    "q205_record_linkage_scores",
    tags=("linkage", "dedup", "llm-pipeline"),
    oracle="""
WITH fields AS (
  SELECT doc_id, lang, source,
         n_chars // 64 AS lb,
         string_split(text, ' ')[1] AS ft,
         list_extract(string_split(text, ' '), -1) AS lt
  FROM documents
), n_tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM fields
), u_src AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS num FROM (
    SELECT count(*) AS c FROM fields GROUP BY source)
), u_ft AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS num FROM (
    SELECT count(*) AS c FROM fields GROUP BY ft)
), u_lt AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS num FROM (
    SELECT count(*) AS c FROM fields GROUP BY lt)
), u AS (
  SELECT u_src.num * 1.0 / (n * n) AS us,
         u_ft.num * 1.0 / (n * n) AS uf,
         u_lt.num * 1.0 / (n * n) AS ul
  FROM n_tot, u_src, u_ft, u_lt
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS agree_source,
         CASE WHEN a.ft = b.ft THEN 1 ELSE 0 END AS agree_first,
         CASE WHEN a.lt = b.lt THEN 1 ELSE 0 END AS agree_last
  FROM fields a JOIN fields b
    ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, agree_source, agree_first, agree_last,
       round((CASE WHEN agree_source = 1 THEN log2(0.95 / us)
                   ELSE log2(0.05 / (1 - us)) END)
             + (CASE WHEN agree_first = 1 THEN log2(0.95 / uf)
                     ELSE log2(0.05 / (1 - uf)) END)
             + (CASE WHEN agree_last = 1 THEN log2(0.95 / ul)
                     ELSE log2(0.05 / (1 - ul)) END) + 1e-9, 6) AS fs_score
FROM cand, u
""",
)
def q205_record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over blocked
    candidate pairs: documents blocked on (lang, 64-char length
    bucket), scored by log-likelihood weights on three field
    agreements (source, first token, last token). u-probabilities —
    the chance two RANDOM records agree — come from the corpus
    marginals as Σ n_v² / N² (exact integer numerators, one division);
    m is the standard 0.95 reviewer prior. The score is the sum each
    field contributes: log2(m/u) on agreement, log2((1-m)/(1-u)) on
    disagreement — a fixed three-term expression, so the only float
    surfaces are the log2 calls on identical doubles.

    This is the scoring half of entity resolution at scale: blocking
    bounds the candidate set (q32/q116 supply LSH/edit-distance
    blocks for fuzzier keys), and the weights need ONE pass over the
    corpus marginals, never labeled pairs.
    """
    docs = read_table(
        spark, sf_dir, "documents", ["doc_id", "text", "lang", "source", "n_chars"]
    )
    toks = F.split(F.col("text"), " ")
    fields = docs.select(
        "doc_id",
        "lang",
        "source",
        F.floor(F.col("n_chars") / 64).cast("bigint").alias("lb"),
        toks.getItem(0).alias("ft"),
        F.element_at(toks, -1).alias("lt"),
    ).localCheckpoint(eager=False)
    n_tot = fields.agg(F.count(F.lit(1)).alias("n"))

    def u_num(col: str, alias: str) -> DataFrame:
        return (
            fields.groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")).alias(alias))
        )

    u = (
        n_tot.crossJoin(F.broadcast(u_num("source", "num_s")))
        .crossJoin(F.broadcast(u_num("ft", "num_f")))
        .crossJoin(F.broadcast(u_num("lt", "num_l")))
        .select(
            (F.col("num_s") * 1.0 / (F.col("n") * F.col("n"))).alias("us"),
            (F.col("num_f") * 1.0 / (F.col("n") * F.col("n"))).alias("uf"),
            (F.col("num_l") * 1.0 / (F.col("n") * F.col("n"))).alias("ul"),
        )
    )
    a = fields.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "lb",
        F.col("source").alias("src_a"),
        F.col("ft").alias("ft_a"),
        F.col("lt").alias("lt_a"),
    )
    b = fields.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "lb",
        F.col("source").alias("src_b"),
        F.col("ft").alias("ft_b"),
        F.col("lt").alias("lt_b"),
    )
    cand = (
        a.join(b, ["lang", "lb"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("src_a") == F.col("src_b"), 1).otherwise(0).alias(
                "agree_source"
            ),
            F.when(F.col("ft_a") == F.col("ft_b"), 1).otherwise(0).alias(
                "agree_first"
            ),
            F.when(F.col("lt_a") == F.col("lt_b"), 1).otherwise(0).alias(
                "agree_last"
            ),
        )
    )

    def w(agree: str, u_col: str) -> F.Column:
        return F.when(
            F.col(agree) == 1, F.log2(0.95 / F.col(u_col))
        ).otherwise(F.log2(0.05 / (1 - F.col(u_col))))

    return cand.crossJoin(F.broadcast(u)).select(
        "doc_a",
        "doc_b",
        "agree_source",
        "agree_first",
        "agree_last",
        fround(
            w("agree_source", "us")
            + w("agree_first", "uf")
            + w("agree_last", "ul"),
            6,
        ).alias("fs_score"),
    )


_OFFSETS = [(dlat, dlon) for dlat in (-1, 0, 1) for dlon in (-1, 0, 1)]


def _coord_sql(seed: str, key: str, span: int, shift: int) -> str:
    return (
        f"(CAST({_hash16_sql(seed, key)} AS DOUBLE) / 65536) * {span} - {shift}"
    )


def _coord_col(key) -> tuple:
    lat = (_hash16("lat|", key).cast("double") / 65536) * 180 - 90
    lon = (_hash16("lon|", key).cast("double") / 65536) * 360 - 180
    return lat, lon


@query(
    "q206_grid_nearest_neighbor",
    tags=("spatial", "join"),
    oracle=f"""
WITH cust AS (
  SELECT c_custkey,
         {_coord_sql("lat|", "c_custkey", 180, 90)} AS clat,
         {_coord_sql("lon|", "c_custkey", 360, 180)} AS clon
  FROM customer
), supp AS (
  SELECT s_suppkey,
         {_coord_sql("lat|", "s_suppkey", 180, 90)} AS slat,
         {_coord_sql("lon|", "s_suppkey", 360, 180)} AS slon
  FROM supplier
), supp_cells AS (
  SELECT s_suppkey, slat, slon,
         CAST(floor((slat + 90) / 30) AS BIGINT) AS cell_lat,
         CAST(floor((slon + 180) / 30) AS BIGINT) AS cell_lon
  FROM supp
), cust_probes AS (
  SELECT c_custkey, clat, clon,
         CAST(floor((clat + 90) / 30) AS BIGINT) + o.dlat AS cell_lat,
         CAST(floor((clon + 180) / 30) AS BIGINT) + o.dlon AS cell_lon
  FROM cust CROSS JOIN (VALUES {", ".join(f"({a}, {b})" for a, b in _OFFSETS)})
       o(dlat, dlon)
), scored AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.clat - s.slat) * (c.clat - s.slat)
         + (c.clon - s.slon) * (c.clon - s.slon) AS dist2,
         row_number() OVER (
           PARTITION BY c.c_custkey
           ORDER BY (c.clat - s.slat) * (c.clat - s.slat)
                    + (c.clon - s.slon) * (c.clon - s.slon), s.s_suppkey
         ) AS rn
  FROM cust_probes c
  JOIN supp_cells s
    ON c.cell_lat = s.cell_lat AND c.cell_lon = s.cell_lon
)
SELECT c_custkey, s_suppkey, round(dist2 + 1e-9, 6) AS dist2_deg
FROM scored WHERE rn = 1
""",
)
def q206_grid_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest supplier per customer over hash-placed coordinates,
    via 30-degree grid cells: each customer probes its own cell plus
    the 8 neighbors (an exploded 9-row offset dimension), suppliers
    are bucketed once, and the candidate set is a plain two-column
    equi-join — the geohash-cell pattern that turns spatial
    nearest-neighbor into the same bucketed-equi-join shape as LSH
    (q42) and IVF (q62). Customers whose 3x3 neighborhood holds no
    supplier drop out (bounded-radius semantics, documented).

    Distance is planar squared degrees — a fixed multiply/add tree on
    identical doubles (haversine's sin/cos are NOT cross-engine
    reproducible at the last ulp; the grid logic is identical either
    way). Coordinates reuse the q127 keyed-md5 lattice, so placement
    is engine-exact.
    """
    cust = read_table(spark, sf_dir, "customer", ["c_custkey"])
    supp = read_table(spark, sf_dir, "supplier", ["s_suppkey"])
    clat, clon = _coord_col(F.col("c_custkey"))
    slat, slon = _coord_col(F.col("s_suppkey"))
    supp_cells = supp.select(
        "s_suppkey",
        slat.alias("slat"),
        slon.alias("slon"),
    ).select(
        "s_suppkey",
        "slat",
        "slon",
        F.floor((F.col("slat") + 90) / 30).cast("bigint").alias("cell_lat"),
        F.floor((F.col("slon") + 180) / 30).cast("bigint").alias("cell_lon"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(a).alias("dlat"), F.lit(b).alias("dlon"))
            for a, b in _OFFSETS
        ]
    )
    cust_probes = (
        cust.select(
            "c_custkey", clat.alias("clat"), clon.alias("clon"),
            F.explode(offsets).alias("o"),
        )
        .select(
            "c_custkey",
            "clat",
            "clon",
            (
                F.floor((F.col("clat") + 90) / 30).cast("bigint")
                + F.col("o.dlat")
            ).alias("cell_lat"),
            (
                F.floor((F.col("clon") + 180) / 30).cast("bigint")
                + F.col("o.dlon")
            ).alias("cell_lon"),
        )
    )
    dist2 = (F.col("clat") - F.col("slat")) * (
        F.col("clat") - F.col("slat")
    ) + (F.col("clon") - F.col("slon")) * (F.col("clon") - F.col("slon"))
    scored = cust_probes.join(
        F.broadcast(supp_cells), ["cell_lat", "cell_lon"]
    ).withColumn("dist2", dist2)
    rn = F.row_number().over(
        Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    )
    return (
        scored.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "c_custkey",
            "s_suppkey",
            fround(F.col("dist2"), 6).alias("dist2_deg"),
        )
    )


@query(
    "q209_position_attribution",
    tags=("attribution", "session", "window"),
    oracle=f"""
WITH {EVENT_SESSIONS}, placed AS (
  SELECT event_type,
         CAST(count(*) OVER (PARTITION BY user_id, session_id) AS BIGINT)
           AS n_touches,
         row_number() OVER (
           PARTITION BY user_id, session_id ORDER BY ts, event_id
         ) AS rn
  FROM sessions
), roles AS (
  SELECT event_type, n_touches,
         CASE WHEN n_touches = 1 THEN 'only'
              WHEN rn = 1 THEN 'first'
              WHEN rn = n_touches THEN 'last'
              ELSE 'middle' END AS role
  FROM placed
)
SELECT event_type, role, n_touches,
       CAST(count(*) AS BIGINT) AS n_events,
       round(count(*) * (CASE WHEN role = 'only' THEN 1.0
                              WHEN n_touches = 2 THEN 0.5
                              WHEN role = 'middle' THEN 0.2 / (n_touches - 2)
                              ELSE 0.4 END) + 1e-9, 6) AS credit
FROM roles
GROUP BY event_type, role, n_touches
""",
)
def q209_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: within each
    30-minute-gap session (q24's sessionization), the first and last
    touches carry 40% each and the middles split the remaining 20% —
    the industry-standard graded refinement of q180's last-touch.

    Results are reported at the (event_type, role, session-length)
    grain, so every credit value is count × a single CASE expression —
    one multiply and at most one divide on identical doubles — never a
    float sum across sessions of different lengths (whose association
    order would differ between engines). Downstream roll-ups that want
    one row per channel sum the exact integer counts first and apply
    the same algebra.

    Scale: both session windows and the role window share the user_id
    shuffle family; the final aggregate is at the tiny report grain.
    """
    ev = read_table(
        spark, sf_dir, "events", ["user_id", "event_id", "ts", "event_type"]
    )
    sessions = sessionize(ev)
    ws = Window.partitionBy("user_id", "session_id")
    placed = sessions.select(
        "event_type",
        F.count(F.lit(1)).over(ws).alias("n_touches"),
        F.row_number().over(ws.orderBy(F.asc("ts"), F.asc("event_id"))).alias(
            "rn"
        ),
    )
    role = (
        F.when(F.col("n_touches") == 1, "only")
        .when(F.col("rn") == 1, "first")
        .when(F.col("rn") == F.col("n_touches"), "last")
        .otherwise("middle")
    )
    credit_per = (
        F.when(F.col("role") == "only", F.lit(1.0))
        .when(F.col("n_touches") == 2, F.lit(0.5))
        .when(F.col("role") == "middle", 0.2 / (F.col("n_touches") - 2))
        .otherwise(F.lit(0.4))
    )
    return (
        placed.select("event_type", "n_touches", role.alias("role"))
        .groupBy("event_type", "role", "n_touches")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            "role",
            "n_touches",
            "n_events",
            fround(F.col("n_events") * credit_per, 6).alias("credit"),
        )
    )


@query(
    "q210_skyline_pareto_front",
    tags=("skyline", "ranking"),
    oracle="""
WITH cents_tbl AS (
  SELECT p_partkey, p_retailprice, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS cents
  FROM part
), grp AS (
  SELECT cents, max(p_size) AS pmax FROM cents_tbl GROUP BY cents
), cm AS (
  SELECT cents, pmax,
         max(pmax) OVER (
           ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_max
  FROM grp
)
SELECT t.p_partkey, t.p_retailprice, t.p_size
FROM cents_tbl t JOIN cm ON t.cents = cm.cents
WHERE t.p_size = cm.pmax
  AND (cm.prev_max IS NULL OR cm.prev_max < t.p_size)
""",
)
def q210_skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) of parts: minimize retail price,
    maximize size — keep every part no other part beats on both axes
    (ties kept: equal price AND equal size dominate neither way).
    Dominance over an ordered dimension is a PREFIX MAX, so the
    skyline needs one ordered pass instead of the textbook all-pairs
    NOT-EXISTS anti join; the Spark side computes that prefix max
    with the two-level bucketed operator
    (operators/rankops.py::bucketed_cummax_prev), so the only
    unpartitioned window is the ≤64-row log2-bucket summary — the
    same funnel contract as every global rank in this repo. MAX is
    order-insensitive, making the prefix exactly the global window's
    on both engines (no float caveat).
    """
    part = read_table(
        spark, sf_dir, "part", ["p_partkey", "p_retailprice", "p_size"]
    )
    cents_tbl = part.withColumn(
        "cents", F.round(F.col("p_retailprice") * 100).cast("bigint")
    )
    grp = cents_tbl.groupBy("cents").agg(F.max("p_size").alias("pmax"))
    cm = bucketed_cummax_prev(grp, "cents", [], "pmax", "prev_max")
    return (
        cents_tbl.join(cm, "cents")
        .where(
            (F.col("p_size") == F.col("pmax"))
            & (
                F.col("prev_max").isNull()
                | (F.col("prev_max") < F.col("p_size"))
            )
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


@query(
    "q215_degree_assortativity",
    tags=("graph", "statistics"),
    oracle=f"""
WITH {BULK_LINES}, e AS (
{SUPPLIER_PAIRS}
), deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY v
), directed AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
  UNION ALL
  SELECT db.deg AS dx, da.deg AS dy
  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
), sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS m,
         CAST(CAST(sum(dx) AS BIGINT) AS DOUBLE) AS sx,
         CAST(CAST(sum(dy) AS BIGINT) AS DOUBLE) AS sy,
         CAST(CAST(sum(dx * dx) AS BIGINT) AS DOUBLE) AS sxx,
         CAST(CAST(sum(dy * dy) AS BIGINT) AS DOUBLE) AS syy,
         CAST(CAST(sum(dx * dy) AS BIGINT) AS DOUBLE) AS sxy
  FROM directed
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       round((m * sxy - sx * sy)
             / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)) + 1e-9, 6)
         AS assortativity
FROM sums
""",
)
def q215_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the high-volume co-supply graph (same
    edge set as q123): the Pearson correlation of endpoint degrees
    over all directed edge instances. Positive = hubs link to hubs
    (core-periphery), negative = hubs link to leaves (star-like) —
    the one-number summary that predicts whether the wedge joins in
    q123 and the salted shuffles in q45/q99 will meet hub-hub hot
    spots at scale.

    The edge list is symmetrized (each edge counted in both
    directions, the standard estimator), all six sums are exact
    BIGINTs on the edge grain, and the correlation is one fixed
    expression — the q204 pattern.
    """
    from ...operators.graph import bulk_supplier_edges, node_degrees

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    edges = bulk_supplier_edges(li).localCheckpoint(eager=False)
    deg = node_degrees(edges)
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    joined = edges.join(da, "a").join(db, "b")
    directed = joined.select(
        F.col("dega").alias("dx"), F.col("degb").alias("dy")
    ).unionAll(
        joined.select(F.col("degb").alias("dx"), F.col("dega").alias("dy"))
    )
    sums = directed.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("dx").cast("double").alias("sx"),
        F.sum("dy").cast("double").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("double").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("double").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("double").alias("sxy"),
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return sums.select(
        (m / 2).cast("bigint").alias("n_edges"),
        fround(
            (m * sxy - sx * sy)
            / F.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)),
            6,
        ).alias("assortativity"),
    )


def _cf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q236's item-item CF construction (basket-bounded pair join,
    min-support 2, per-item top-3 with the full tie-break) as a
    reusable frame — q303's coverage audit runs on the IDENTICAL
    recommendations (the q234 can-never-disagree discipline)."""
    li = (
        read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"])
        .distinct()
        .localCheckpoint(eager=False)
    )
    item_n = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("item_a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("item_b"))
    pairs = (
        a.join(b, "k")
        .where(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    na = item_n.select(F.col("l_partkey").alias("item_a"), F.col("n").alias("na"))
    nb = item_n.select(F.col("l_partkey").alias("item_b"), F.col("n").alias("nb"))
    cosine = F.col("n_ab") / F.sqrt(F.col("na") * 1.0 * F.col("nb"))
    scored = (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        .withColumn("cosine", cosine)
    )
    w = Window.partitionBy("item_a").orderBy(
        F.desc("cosine"), F.desc("n_ab"), F.asc("item_b")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 3)
        .select(
            "item_a",
            "item_b",
            "n_ab",
            fround(F.col("cosine"), 6).alias("cosine"),
            "rk",
        )
    )


@query(
    "q236_item_item_cf",
    tags=("recommender", "similarity", "graph"),
    oracle="""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), item_n AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  GROUP BY 1, 2
), scored AS (
  SELECT p.item_a, p.item_b, p.n_ab,
         p.n_ab / sqrt(na.n * 1.0 * nb.n) AS cosine,
         row_number() OVER (
           PARTITION BY p.item_a
           ORDER BY p.n_ab / sqrt(na.n * 1.0 * nb.n) DESC,
                    p.n_ab DESC, p.item_b
         ) AS rk
  FROM pairs p
  JOIN item_n na ON na.l_partkey = p.item_a
  JOIN item_n nb ON nb.l_partkey = p.item_b
  WHERE p.n_ab >= 2
)
SELECT item_a, item_b, n_ab,
       round(cosine + 1e-9, 6) AS cosine,
       CAST(rk AS BIGINT) AS rk
FROM scored WHERE rk <= 3
""",
)
def q236_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 "customers also
    bought" neighbors per part by co-occurrence cosine
    n_ab / sqrt(n_a·n_b), with a minimum co-support of 2 baskets —
    the memory-based recommender that needs no training loop and
    remains the production baseline ANN rerankers are judged against.

    The pair frame is the same bounded per-basket self-join as the
    q123 graph family (baskets cap pair fan-out, min-support prunes
    the noise tail), similarity is an exact integer ratio under one
    sqrt, and the per-item top-3 window partitions by item with a
    FULL tie-break (cosine ties broken by support then id — footgun
    3). At catalog scale the item-count frame is a plain shuffle
    join, never a broadcast of per-item state.
    """
    return _cf_top3(spark, sf_dir)


@query(
    "q237_grid_density_clusters",
    tags=("spatial", "clustering", "iterative"),
    oracle=f"""
WITH RECURSIVE cust AS (
  SELECT c_custkey,
         {_coord_sql("lat|", "c_custkey", 180, 90)} AS clat,
         {_coord_sql("lon|", "c_custkey", 360, 180)} AS clon
  FROM customer
), cells AS (
  SELECT CAST(floor((clat + 90) / 10) AS BIGINT) AS cell_lat,
         CAST(floor((clon + 180) / 10) AS BIGINT) AS cell_lon,
         CAST(count(*) AS BIGINT) AS n_points
  FROM cust GROUP BY 1, 2
), dense AS (
  SELECT cell_lat, cell_lon, n_points,
         cell_lat * 36 + cell_lon AS cell_id
  FROM cells WHERE n_points >= 2
), pairs AS (
  SELECT a.cell_id AS ca, b.cell_id AS cb
  FROM dense a JOIN dense b
    ON abs(a.cell_lat - b.cell_lat) <= 1
   AND abs(a.cell_lon - b.cell_lon) <= 1
   AND a.cell_id < b.cell_id
), edges AS (
  SELECT ca AS src, cb AS dst FROM pairs
  UNION ALL SELECT cb, ca FROM pairs
), reach(src, dst) AS (
  SELECT cell_id, cell_id FROM dense
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), comp AS (
  SELECT src AS cell_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT CAST(c.cluster_id AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(d.n_points) AS BIGINT) AS n_points
FROM comp c JOIN dense d USING (cell_id)
GROUP BY c.cluster_id
""",
)
def q237_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density spatial clustering (DBSCAN's grid relaxation):
    bucket hash-placed customers into 10-degree cells, keep cells with
    ≥ 2 points (the density threshold), and merge 8-adjacent dense
    cells into clusters via the large-star/small-star connected-
    components operator (O(log² n) rounds — the percolated giant
    component's diameter at high density defeats plain min-label's
    iteration budget, measured at sf0.01) — density clustering with NO pairwise distance pass,
    which is how density clustering survives 100 TB (DBSCAN's
    epsilon-neighborhood query becomes a cell equi-join; the grid
    resolution is the epsilon).

    The fixpoint is exactly checkable: the oracle computes the same
    components with a recursive CTE (the q60 pattern). On uniform
    synthetic placement the cluster structure percolates as density
    grows — at sf0.1 most dense cells fuse into one giant component,
    the same tripwire q179 watches for dedup graphs; real deployments
    tighten the grid as density rises.
    """
    cust = read_table(spark, sf_dir, "customer", ["c_custkey"])
    clat, clon = _coord_col(F.col("c_custkey"))
    cells = (
        cust.select(
            F.floor((clat + 90) / 10).cast("bigint").alias("cell_lat"),
            F.floor((clon + 180) / 10).cast("bigint").alias("cell_lon"),
        )
        .groupBy("cell_lat", "cell_lon")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    dense = (
        cells.where(F.col("n_points") >= 2)
        .withColumn(
            "cell_id", F.col("cell_lat") * 36 + F.col("cell_lon")
        )
        .localCheckpoint(eager=False)
    )
    a = dense.select(
        F.col("cell_id").alias("doc_a"),
        F.col("cell_lat").alias("la"),
        F.col("cell_lon").alias("lo"),
    )
    b = dense.select(
        F.col("cell_id").alias("doc_b"),
        F.col("cell_lat").alias("lb"),
        F.col("cell_lon").alias("lb2"),
    )
    pairs = (
        a.join(
            b,
            (F.abs(F.col("la") - F.col("lb")) <= 1)
            & (F.abs(F.col("lo") - F.col("lb2")) <= 1)
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
    )
    # r13 optimization: the cell graph is CONFIG-bounded (36 x 18 grid
    # = ≤ 648 cells at ANY data scale — the grid resolution is the
    # epsilon), so the iterative star CC's ~6 shuffles per round buy
    # nothing here; bounded_components union-finds the bounded edge
    # list with the identical min-id labeling (measured 5.6 → 1.3 s
    # at sf0.1, same rows). Data-sized duplicate graphs (q91) keep
    # duplicate_clusters_star.
    from ...operators.graph import bounded_components

    comp = bounded_components(
        pairs, dense.select(F.col("cell_id")), id_col="cell_id",
        max_nodes=648,
    )
    return (
        comp.join(dense, "cell_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_points").alias("n_points"),
        )
    )


def _kcore_oracle(n_rounds: int = 8) -> str:
    """Unrolled synchronous-peeling oracle. Every round's CTE is
    MATERIALIZED: each round references its predecessor three times
    (degree count + two endpoint restrictions), so inlined CTEs would
    expand 3^rounds — the same lattice-unroll discipline as q125's
    pagerank oracle, plus DuckDB's materialization hint."""
    cte = [
        f"""
WITH {BULK_LINES}, e AS MATERIALIZED (
{SUPPLIER_PAIRS}
), d0 AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e
), degv0 AS MATERIALIZED (
  SELECT src, count(*) AS dg FROM d0 GROUP BY src
), kv AS MATERIALIZED (
  SELECT dg AS k FROM (
    SELECT dg, row_number() OVER (ORDER BY dg, src) AS rn FROM degv0
  ), (SELECT count(*) AS n FROM degv0)
  WHERE rn = greatest(1, n // 4)
)"""
    ]
    for i in range(1, n_rounds + 1):
        p = i - 1
        cte.append(
            f""", keep{i} AS MATERIALIZED (
  SELECT src AS v FROM degv{p} WHERE dg >= (SELECT k FROM kv)
), d{i} AS MATERIALIZED (
  SELECT d.src, d.dst FROM d{p} d
  JOIN keep{i} a ON d.src = a.v
  JOIN keep{i} b ON d.dst = b.v
), degv{i} AS MATERIALIZED (
  SELECT src, count(*) AS dg FROM d{i} GROUP BY src
)"""
        )
    stats = "\nUNION ALL ".join(
        f"""SELECT CAST({i} AS BIGINT) AS round, (SELECT k FROM kv) AS k,
       count(*) AS n_nodes,
       coalesce(CAST(sum(dg) / 2 AS BIGINT), 0) AS n_edges,
       min(dg) AS min_deg, max(dg) AS max_deg
FROM degv{i}"""
        for i in range(0, n_rounds + 1)
    )
    cte.append(
        f""", allstats AS ({stats})
SELECT round, k, n_nodes, n_edges, min_deg, max_deg,
       n_nodes = lag(n_nodes) OVER (ORDER BY round) AS converged
FROM allstats"""
    )
    return "".join(cte)


@query(
    "q241_kcore_profile",
    tags=("graph", "iterative"),
    oracle=_kcore_oracle(8),
)
def q241_kcore_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling profile of the co-supply graph: synchronously
    drop nodes with degree below k (k = the lower-quartile initial
    degree, an exact order statistic — rank selection via
    orderBy().limit(), the q184 pattern, never a quantile
    interpolation) for 8 rounds and report the degeneracy ladder —
    node/edge survival and degree range per round, with convergence
    REPORTED per row rather than assumed (the q28/q125 fixed-budget
    contract; dense cores stabilize inside the budget, chain graphs
    may legitimately still be shrinking).

    Scale: per round one degree count plus two co-partitioned
    left-semi joins, lineage truncated every round; the only driver
    value is one bounded count() that parameterizes the rank limit,
    and per-round stats are one-row aggregates unioned into a
    (rounds+1)-row frame — the closing window is a bounded funnel.
    """
    from ...operators.graph import bulk_supplier_edges, kcore_profile

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    edges = bulk_supplier_edges(li).localCheckpoint(eager=False)
    deg0 = (
        edges.select(F.col("a").alias("src"))
        .unionAll(edges.select(F.col("b").alias("src")))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("dg"))
        .localCheckpoint(eager=False)  # rank-limit branch + count branch
    )
    n_nodes = deg0.count()  # bounded scalar: parameterizes the limit
    rank = max(1, n_nodes // 4)
    kv = (
        deg0.orderBy(F.asc("dg"), F.asc("src"))
        .limit(rank)
        .agg(F.max("dg").alias("k"))
    )
    return kcore_profile(edges, kv, n_rounds=8)


@query(
    "q248_local_clustering",
    tags=("graph",),
    oracle=f"""
WITH {BULK_LINES}, e AS MATERIALIZED (
{SUPPLIER_PAIRS}
), deg AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY v
), oriented AS (
  SELECT CASE WHEN (da.deg < db.deg)
                OR (da.deg = db.deg AND e.a < e.b)
              THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.deg < db.deg)
                OR (da.deg = db.deg AND e.a < e.b)
              THEN e.b ELSE e.a END AS dst
  FROM e
  JOIN deg da ON da.v = e.a
  JOIN deg db ON db.v = e.b
), closed AS MATERIALIZED (
  SELECT w.src, w.x, w.y
  FROM (
    SELECT o1.src, o1.dst AS x, o2.dst AS y
    FROM oriented o1 JOIN oriented o2 ON o1.src = o2.src
    WHERE o1.dst < o2.dst
  ) w
  JOIN e ON w.x = e.a AND w.y = e.b
), tri AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT src AS v FROM closed
    UNION ALL SELECT x FROM closed
    UNION ALL SELECT y FROM closed
  ) GROUP BY v
)
SELECT d.v, d.deg,
       coalesce(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN round((2.0 * coalesce(t.n_triangles, 0))
                       / (d.deg * (d.deg - 1)) + 1e-9, 6)
            ELSE NULL END AS lcc
FROM deg d LEFT JOIN tri t ON t.v = d.v
""",
)
def q248_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the co-supply graph —
    which suppliers sit inside tightly-knit cliques (their neighbors
    also co-supply) versus star hubs bridging otherwise-unconnected
    partners — the node-level refinement of q123's single global
    coefficient, and the standard structural feature for fraud rings
    (collusive clusters run lcc ≈ 1) and community seeds.

    Scale: the degree-oriented wedge closure from
    ``operators/graph.py`` (each triangle found once at its
    minimum-(deg, id) corner, fan-out bounded by orientation), then a
    3-way corner union credits each triangle to its three nodes —
    counts are exact integers and lcc an integer ratio (rule 5).
    """
    from ...operators.graph import bulk_supplier_edges, local_clustering

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    edges = bulk_supplier_edges(li).localCheckpoint(eager=False)
    out = local_clustering(edges)
    return out.select(
        "v",
        "deg",
        "n_triangles",
        fround(F.col("lcc"), 6).alias("lcc"),
    )


@query(
    "q292_rich_club_coefficient",
    tags=("graph",),
    oracle=f"""
WITH {BULK_LINES}, e AS MATERIALIZED (
{SUPPLIER_PAIRS}
), deg AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY v
), ks AS (
  SELECT unnest([2, 4, 8, 16]) AS k
), clubn AS (
  SELECT k.k, CAST(count(*) AS BIGINT) AS n_club
  FROM deg d JOIN ks k ON d.deg > k.k
  GROUP BY k.k
), clube AS (
  SELECT k.k, CAST(count(*) AS BIGINT) AS e_club
  FROM e
  JOIN deg da ON da.v = e.a
  JOIN deg db ON db.v = e.b
  JOIN ks k ON da.deg > k.k AND db.deg > k.k
  GROUP BY k.k
)
SELECT CAST(n.k AS BIGINT) AS k, n.n_club,
       CAST(coalesce(c.e_club, 0) AS BIGINT) AS e_club,
       CASE WHEN n.n_club >= 2
            THEN round(2.0 * coalesce(c.e_club, 0)
                       / (n.n_club * (n.n_club - 1)) + 1e-9, 6) END
         AS phi
FROM clubn n LEFT JOIN clube c ON c.k = n.k
""",
)
def q292_rich_club_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rich-club coefficient of the co-supply graph at degree cutoffs
    k ∈ {2, 4, 8, 16}: the edge density φ(k) = 2·E_k / (N_k·(N_k−1))
    among nodes of degree > k — rising φ with k means the hubs form
    their own tight club (supply-chain oligopoly structure; flat φ
    means hubs connect broadly), the global complement to q248's
    per-node clustering. Raw (unnormalized) φ is reported — the
    degree-preserving null model needs rewiring, out of SQL scope and
    stated so.

    Scale: degrees once, then club membership is a broadcast k-grid
    fan-out of the node frame and club edges one endpoints join —
    never a per-k re-scan. Counts exact; φ an exact integer ratio
    with the N_k < 2 guard identical on both sides.
    """
    from ...operators.graph import bulk_supplier_edges, node_degrees

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    edges = bulk_supplier_edges(li).localCheckpoint(eager=False)
    deg = node_degrees(edges).localCheckpoint(
        eager=False
    )  # club-n + club-e branches
    ks = local_frame(spark, [(2,), (4,), (8,), (16,)], "k long")
    clubn = (
        deg.crossJoin(F.broadcast(ks))
        .where(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_club"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    clube = (
        edges.join(da, "a")
        .join(db, "b")
        .crossJoin(F.broadcast(ks))
        .where((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_club"))
    )
    return clubn.join(clube, "k", "left").select(
        F.col("k").cast("bigint").alias("k"),
        "n_club",
        F.coalesce(F.col("e_club"), F.lit(0))
        .cast("bigint")
        .alias("e_club"),
        F.when(
            F.col("n_club") >= 2,
            fround(
                2.0
                * F.coalesce(F.col("e_club"), F.lit(0))
                / (F.col("n_club") * (F.col("n_club") - 1)),
                6,
            ),
        ).alias("phi"),
    )


def _bradley_terry_oracle(n_iter: int = 10) -> str:
    """Unrolled minorize-maximize Bradley-Terry oracle; every
    iteration references the match frame and its predecessor, so all
    round CTEs are MATERIALIZED (the q241/q254 unroll discipline)."""
    cte = [
        """
WITH rev AS (
  SELECT l_orderkey, l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_orderkey, l_suppkey
), duels AS (
  SELECT a.l_suppkey AS w, b.l_suppkey AS l
  FROM rev a JOIN rev b
    ON a.l_orderkey = b.l_orderkey
   AND a.l_suppkey != b.l_suppkey
   AND a.cents > b.cents
), wins AS MATERIALIZED (
  SELECT w AS i, CAST(count(*) AS BIGINT) AS n_wins
  FROM duels GROUP BY w
), matches AS MATERIALIZED (
  SELECT i, j, CAST(sum(n) AS BIGINT) AS n_ij FROM (
    SELECT w AS i, l AS j, count(*) AS n FROM duels GROUP BY w, l
    UNION ALL
    SELECT l, w, count(*) FROM duels GROUP BY l, w
  ) GROUP BY i, j
), players AS MATERIALIZED (
  SELECT m.i, coalesce(w.n_wins, 0) AS n_wins,
         CAST(sum(m.n_ij) AS BIGINT) AS n_matches
  FROM matches m LEFT JOIN wins w ON w.i = m.i
  GROUP BY m.i, w.n_wins
), w0 AS MATERIALIZED (
  SELECT i, 1.0 AS s FROM players
)"""
    ]
    for k in range(1, n_iter + 1):
        p = k - 1
        cte.append(
            f""", raw{k} AS MATERIALIZED (
  SELECT p.i,
         CASE WHEN p.n_wins = 0 THEN 0.0
              ELSE p.n_wins
                   / sum(m.n_ij / (si.s + sj.s)) END AS s
  FROM players p
  JOIN matches m ON m.i = p.i
  JOIN w{p} si ON si.i = m.i
  JOIN w{p} sj ON sj.i = m.j
  GROUP BY p.i, p.n_wins
), norm{k} AS (
  SELECT sum(s) AS z FROM raw{k}
), w{k} AS MATERIALIZED (
  SELECT r.i, r.s * (SELECT count(*) FROM players) / n.z AS s
  FROM raw{k} r CROSS JOIN norm{k} n
)"""
        )
    cte.append(
        f"""
SELECT p.i AS l_suppkey, p.n_wins, p.n_matches,
       round(w.s + 1e-9, 6) AS bt_strength,
       CAST(row_number() OVER (
         ORDER BY round(w.s + 1e-9, 6) DESC, p.i
       ) AS BIGINT) AS rk
FROM players p JOIN w{n_iter} w ON w.i = p.i
QUALIFY rk <= 20"""
    )
    return "".join(cte)


@query(
    "q299_bradley_terry_strength",
    tags=("graph", "ranking", "iterative", "ml"),
    oracle=_bradley_terry_oracle(10),
)
def q299_bradley_terry_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise duels: within
    each order, the supplier with more item revenue "beats" the
    other(s), and ten minorize-maximize iterations
    w_i ← W_i / Σ_j n_ij/(w_i + w_j) (normalized to mean 1 each
    round) turn the win matrix into a maximum-likelihood strength
    leaderboard — the paired-comparison model behind Elo-style
    ratings, LLM arena boards, and search-result preference learning,
    here over the bounded supplier-duel graph.

    Scale: duels reduce to the |suppliers|²-bounded match frame
    before ANY iteration; each round is two equi-joins on that frame
    with lineage truncated (q125/q254 discipline). Win/match counts
    are exact integers; the MM ratio iterates on floats whose
    cross-engine drift stays ulp-scale under the contraction and is
    fround-absorbed (q125's argument); never-winners pin to exactly
    0.0 on both sides. Ranked on the ROUNDED strength (footgun 3).
    """
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"],
    )
    rev = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).alias("cents")
    )
    a = rev.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_suppkey").alias("w"),
        F.col("cents").alias("cw"),
    )
    b = rev.select(
        F.col("l_orderkey").alias("k"),
        F.col("l_suppkey").alias("l"),
        F.col("cents").alias("cl"),
    )
    duels = (
        a.join(b, "k")
        .where((F.col("w") != F.col("l")) & (F.col("cw") > F.col("cl")))
        .select("w", "l")
    )
    duels = duels.localCheckpoint(eager=False)  # wins + matches branches
    wins = duels.groupBy(F.col("w").alias("i")).agg(
        F.count(F.lit(1)).alias("n_wins")
    )
    matches = (
        duels.select(F.col("w").alias("i"), F.col("l").alias("j"))
        .unionAll(duels.select(F.col("l").alias("i"), F.col("w").alias("j")))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("n_ij"))
        .localCheckpoint(eager=False)  # reused every iteration
    )
    players = (
        matches.groupBy("i")
        .agg(F.sum("n_ij").alias("n_matches"))
        .join(wins, "i", "left")
        .select(
            "i",
            F.coalesce(F.col("n_wins"), F.lit(0)).alias("n_wins"),
            "n_matches",
        )
        .localCheckpoint(eager=False)  # reused every iteration
    )
    # r13 optimization (guide §2.4): n_wins is a per-i constant, so it
    # rides INSIDE the checkpointed matches frame (one upfront
    # broadcast join, +8 bytes/row) instead of a per-round players
    # join — the groupBy key (i, n_wins) forms the same groups.
    matches = matches.join(
        F.broadcast(players.select("i", "n_wins")), "i"
    ).localCheckpoint(eager=False)
    w = players.select("i", F.lit(1.0).alias("s"))
    for _ in range(10):
        si = w.select(F.col("i").alias("mi"), F.col("s").alias("si"))
        sj = w.select(F.col("i").alias("mj"), F.col("s").alias("sj"))
        # r13 optimization (guide §3.1): si/sj are PER-PLAYER frames,
        # but each round's estimate is that of an aggregate over the
        # pair-grain matches frame, so the planner falls back to
        # SortMergeJoin — shuffling the pair-grain matches frame twice
        # EVERY round (the q360 class). Broadcasting the player-
        # sized state leaves matches unshuffled all 10 rounds; the
        # groupBy then map-side-combines to |players| rows before its
        # one exchange. At scale this trades a broadcast of the
        # |players| state (bounded by the 512M-row broadcast cap far
        # past sf10000) against two pair-frame shuffles per round.
        raw = (
            matches.join(F.broadcast(si), F.col("i") == F.col("mi"))
            .join(F.broadcast(sj), F.col("j") == F.col("mj"))
            .groupBy("i", "n_wins")
            .agg(
                F.sum(
                    F.col("n_ij") / (F.col("si") + F.col("sj"))
                ).alias("denom")
            )
            .select(
                "i",
                F.when(F.col("n_wins") == 0, F.lit(0.0))
                .otherwise(F.col("n_wins") / F.col("denom"))
                .alias("s"),
            )
        )
        # r13 optimization: without this checkpoint each round's raw
        # frame is computed TWICE — once building the z normalizer
        # broadcast, once when w's checkpoint materializes (guide §1.2
        # "don't compute things you throw away").
        raw = raw.localCheckpoint(eager=False)
        # |players| is count(*) of the SAME aggregate that computes z,
        # so zn is ONE aggregate (not separate z and n builds). NOTE
        # (r13 ADVICE, comment corrected + variant measured): with w
        # un-checkpointed, each consumer of w (the si broadcast, the
        # sj broadcast, the final players join) re-runs the zn job
        # over the checkpointed player-sized raw frame — 2-3 tiny
        # jobs per round. Checkpointing w instead was MEASURED SLOWER
        # (3.40 -> 3.83 s at sf0.1: one more materialization job per
        # round costs more than the duplicate player-sized aggregates
        # it removes), so the re-runs are the deliberate choice.
        zn = raw.agg(
            F.sum("s").alias("z"), F.count(F.lit(1)).alias("np")
        )
        w = raw.crossJoin(F.broadcast(zn)).select(
            "i",
            (F.col("s") * F.col("np") / F.col("z")).alias("s"),
        )
    from pyspark.sql import Window

    out = (
        players.join(F.broadcast(w), "i")
        .select(
            F.col("i").alias("l_suppkey"),
            "n_wins",
            "n_matches",
            fround(F.col("s"), 6).alias("bt_strength"),
        )
        .orderBy(F.desc("bt_strength"), F.asc("l_suppkey"))
        .limit(20)
    )
    return out.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("bt_strength"), F.asc("l_suppkey")))
        .cast("bigint"),
    )


@query(
    "q303_recommender_coverage_audit",
    tags=("recommender", "audit", "report"),
    oracle="""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), item_n AS MATERIALIZED (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM li GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  GROUP BY 1, 2
), recs AS MATERIALIZED (
  SELECT item_b FROM (
    SELECT p.item_a, p.item_b, p.n_ab,
           row_number() OVER (
             PARTITION BY p.item_a
             ORDER BY p.n_ab / sqrt(na.n * 1.0 * nb.n) DESC,
                      p.n_ab DESC, p.item_b
           ) AS rk
    FROM pairs p
    JOIN item_n na ON na.l_partkey = p.item_a
    JOIN item_n nb ON nb.l_partkey = p.item_b
    WHERE p.n_ab >= 2
  ) WHERE rk <= 3
), pop AS MATERIALIZED (
  SELECT l_partkey, n,
         row_number() OVER (ORDER BY n, l_partkey) AS pr,
         count(*) OVER () AS np
  FROM item_n
), catalog AS (
  SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM item_n
), recstats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_recs,
         CAST(count(DISTINCT r.item_b) AS BIGINT) AS n_distinct,
         sum((p.pr - 1) * 1.0 / (p.np - 1)) AS pct_sum,
         CAST(sum(CASE WHEN p.pr * 10 > p.np * 9 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_top_decile
  FROM recs r JOIN pop p ON p.l_partkey = r.item_b
)
SELECT c.n_catalog, r.n_recs, r.n_distinct,
       round(r.n_distinct * 1.0 / c.n_catalog + 1e-9, 6) AS coverage,
       round(r.pct_sum / r.n_recs + 1e-9, 6) AS mean_pop_percentile,
       round(r.n_top_decile * 1.0 / r.n_recs + 1e-9, 6)
         AS top_decile_share
FROM recstats r CROSS JOIN catalog c
""",
)
def q303_recommender_coverage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Coverage and popularity-bias audit of the q236 item-item CF
    recommender (IDENTICAL recommendations via the shared _cf_top3
    frame): what share of the catalog is ever recommended, the mean
    popularity PERCENTILE of recommended items (an unbiased
    recommender sits near the catalog's weighted mean; CF famously
    drifts toward the head), and the share of slots taken by
    top-decile-popular items — the audit that quantifies the
    filter-bubble q260's popularity baseline would score 1.0 on.

    Scale: popularity percentiles come from a rank over the bounded
    item grain (q279's two-level machinery behind a checkpoint on the
    Spark side); the audit is one join of the recommendation slots to
    the item frame. Percentile arithmetic is exact integer ratios,
    float-summed over slots (fround-absorbed); the decile test
    ``pr·10 > np·9`` is a pure integer inequality (q256 discipline).
    """
    from ...operators.rankops import bucketed_rank

    recs = _cf_top3(spark, sf_dir).select("item_b")
    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"]
    ).distinct()
    item_n = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    item_n = item_n.localCheckpoint(eager=False)  # pop + catalog branches
    pop = bucketed_rank(item_n, "n", ["l_partkey"], out_col="pr")
    np_ = item_n.agg(F.count(F.lit(1)).alias("np"))
    pop = pop.crossJoin(F.broadcast(np_))
    catalog = item_n.agg(F.count(F.lit(1)).alias("n_catalog"))
    joined = recs.join(
        pop.select("l_partkey", "pr", "np"),
        recs["item_b"] == pop["l_partkey"],
    )
    recstats = joined.agg(
        F.count(F.lit(1)).alias("n_recs"),
        F.countDistinct("item_b").alias("n_distinct"),
        F.sum(
            (F.col("pr") - 1) * 1.0 / (F.col("np") - 1)
        ).alias("pct_sum"),
        F.sum(
            F.when(F.col("pr") * 10 > F.col("np") * 9, 1).otherwise(0)
        ).cast("bigint").alias("n_top_decile"),
    )
    return recstats.crossJoin(F.broadcast(catalog)).select(
        "n_catalog",
        "n_recs",
        "n_distinct",
        fround(F.col("n_distinct") * 1.0 / F.col("n_catalog"), 6).alias(
            "coverage"
        ),
        fround(F.col("pct_sum") / F.col("n_recs"), 6).alias(
            "mean_pop_percentile"
        ),
        fround(F.col("n_top_decile") * 1.0 / F.col("n_recs"), 6).alias(
            "top_decile_share"
        ),
    )


@query(
    "q324_link_prediction",
    tags=("graph", "recommendation", "similarity"),
    oracle="""
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), edges AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
), und AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL
  SELECT pb AS u, pa AS v FROM edges
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
), paths AS (
  SELECT j1.u AS a, j1.v AS z, j2.v AS b
  FROM und j1
  JOIN deg dz ON dz.u = j1.v AND dz.d <= 200
  JOIN und j2 ON j2.u = j1.v AND j1.u < j2.v
), cand AS (
  SELECT p.a, p.b,
         CAST(count(*) AS BIGINT) AS cn,
         sum(1.0 / ln(dz.d)) AS aa
  FROM paths p JOIN deg dz ON dz.u = p.z
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.pa = p.a AND e.pb = p.b
  )
  GROUP BY p.a, p.b
), scored AS (
  SELECT c.a AS p1, c.b AS p2, c.cn AS common_neighbors,
         round(c.cn * 1.0 / (da.d + db.d - c.cn) + 1e-9, 6) AS jaccard,
         round(c.aa + 1e-9, 6) AS adamic_adar
  FROM cand c
  JOIN deg da ON da.u = c.a
  JOIN deg db ON db.u = c.b
), ranked AS (
  SELECT p1, p2, common_neighbors, jaccard, adamic_adar,
         CAST(row_number() OVER (
           ORDER BY common_neighbors DESC, adamic_adar DESC, p1, p2
         ) AS BIGINT) AS rk
  FROM scored
)
SELECT p1, p2, common_neighbors, jaccard, adamic_adar, rk
FROM ranked WHERE rk <= 30
""",
)
def q324_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-purchase graph (Liben-Nowell
    & Kleinberg 2003): for every non-adjacent part pair reachable in
    two hops, the three classic neighborhood scores — common-neighbor
    count, neighborhood Jaccard, and Adamic-Adar Σ 1/ln(deg(z)) — and
    the 30 strongest predicted links. This is the assortment-gap
    recommender ("parts that should co-sell but never have"), the
    graph sibling of q236's item-item CF.

    Scale: edges come from the per-order grain (order size is
    bounded, so the pair explode is linear); the 2-hop enumeration is
    Σ deg(z)² — bounded by the documented degree cap on the VIA node
    (deg ≤ 200, the q305-style hub block that keeps the frontier from
    going quadratic on a celebrity part at 100 TB). Counts are exact
    integers; Adamic-Adar sums O(1/ln·deg-capped) terms (the q24
    float-sum class) and orders only after the fround pair, with the
    (p1, p2) key as final tie-break.
    """
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"])
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a_side = op.select(F.col("o"), F.col("p").alias("pa"))
    b_side = op.select(F.col("o").alias("o2"), F.col("p").alias("pb"))
    edges = (
        a_side.join(
            b_side,
            (F.col("o") == F.col("o2")) & (F.col("pa") < F.col("pb")),
        )
        .select("pa", "pb")
        .distinct()
    )
    edges = edges.localCheckpoint(eager=False)  # und + anti-join branches
    und = edges.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).unionByName(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    und = und.localCheckpoint(eager=False)  # deg + two path branches
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    deg = deg.localCheckpoint(eager=False)  # via-cap + aa + jaccard joins
    j1 = und.select(F.col("u").alias("a"), F.col("v").alias("z"))
    j2 = und.select(F.col("u").alias("z2"), F.col("v").alias("b"))
    dz = deg.select(F.col("u").alias("zu"), F.col("d").alias("dz"))
    paths = (
        j1.join(dz.where(F.col("dz") <= 200), F.col("z") == F.col("zu"))
        .join(j2, (F.col("z") == F.col("z2")) & (F.col("a") < F.col("b")))
        .select("a", "z", "b", "dz")
    )
    cand = (
        paths.join(
            edges,
            (paths["a"] == edges["pa"]) & (paths["b"] == edges["pb"]),
            "left_anti",
        )
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(F.lit(1.0) / F.log(F.col("dz"))).alias("aa"),
        )
    )
    da = deg.select(F.col("u").alias("au"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("bu"), F.col("d").alias("db"))
    scored = (
        cand.join(da, F.col("a") == F.col("au"))
        .join(db, F.col("b") == F.col("bu"))
        .select(
            F.col("a").alias("p1"),
            F.col("b").alias("p2"),
            F.col("cn").alias("common_neighbors"),
            fround(
                F.col("cn") * 1.0 / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard"),
            fround(F.col("aa"), 6).alias("adamic_adar"),
        )
    )
    top = scored.orderBy(
        F.desc("common_neighbors"), F.desc("adamic_adar"), "p1", "p2"
    ).limit(30)
    return top.withColumn(
        "rk",
        F.row_number()
        .over(
            Window.orderBy(
                F.desc("common_neighbors"), F.desc("adamic_adar"), "p1", "p2"
            )
        )
        .cast("bigint"),
    )


def _bfs_oracle(n_rounds: int = 8) -> str:
    """Unrolled level-synchronous BFS oracle from the minimum node of
    the q215/q241 supplier co-occurrence graph. Every round references
    its predecessor twice (carry + relax), so each CTE is MATERIALIZED
    per the q241 lattice-unroll discipline."""
    parts = [
        f"""
WITH {BULK_LINES}, e AS MATERIALIZED (
{SUPPLIER_PAIRS}
), dsym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e
), dist0 AS MATERIALIZED (
  SELECT min(src) AS v, CAST(0 AS BIGINT) AS d FROM dsym
)"""
    ]
    for i in range(1, n_rounds + 1):
        p = i - 1
        parts.append(
            f""", dist{i} AS MATERIALIZED (
  SELECT v, min(d) AS d FROM (
    SELECT v, d FROM dist{p}
    UNION ALL
    SELECT s.dst AS v, t.d + 1 AS d FROM dist{p} t JOIN dsym s ON s.src = t.v
  ) GROUP BY v
)"""
        )
    parts.append(
        f""", nodes AS MATERIALIZED (
  SELECT DISTINCT src AS v FROM dsym
), hist AS (
  SELECT coalesce(d.d, -1) AS hop, CAST(count(*) AS BIGINT) AS n_nodes
  FROM nodes n LEFT JOIN dist{n_rounds} d ON d.v = n.v
  GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
)
SELECT CAST(hop AS BIGINT) AS hop, n_nodes,
       round(CAST(n_nodes AS DOUBLE) / n + 1e-9, 6) AS share
FROM hist CROSS JOIN tot"""
    )
    return "".join(parts)


@query(
    "q350_bfs_hop_profile",
    tags=("graph", "iterative"),
    oracle=_bfs_oracle(8),
)
def q350_bfs_hop_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop-distance profile of the supplier
    co-occurrence graph (the q215/q241/q248 edge frame) from the
    deterministic minimum-id landmark: how much of the graph is
    reachable in 1, 2, ... 8 hops, with unreached nodes reported as
    hop -1 — the small-world / fragmentation fingerprint that says
    whether multi-hop graph features are even worth computing on this
    corpus (a giant 2-hop ball means 2 message-passing rounds already
    mix everything; a fat -1 row means the q179 component story
    dominates). Completes the iterative family (pagerank/k-core/CC/
    Bradley-Terry) with DISTANCE semantics none of them produce.

    Exactness: hop counts are exact integers (min over exact integer
    relaxations — no float anywhere until the share ratio, rule 5);
    the oracle unrolls the same 8 synchronous rounds with
    MATERIALIZED CTEs (q241 discipline: each round is referenced
    twice per successor).

    Scale: operators/graph.py::bfs_hops — the symmetrized edge frame
    checkpoints ONCE pre-partitioned on src; each round is one
    co-partitioned join + min-groupBy with per-round lineage
    truncation. Frontier size is bounded by the reached set, never
    the edge count.
    """
    from ...operators.graph import bfs_hops, bulk_supplier_edges, edge_endpoints

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    edges = bulk_supplier_edges(li)
    dist = bfs_hops(edges, n_rounds=8)
    nodes = edge_endpoints(edges).distinct()
    hist = (
        nodes.join(dist, "v", "left")
        .select(F.coalesce("d", F.lit(-1).cast("bigint")).alias("hop"))
        .groupBy("hop")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    tot = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "hop", "n_nodes",
        fround(F.col("n_nodes").cast("double") / F.col("n"), 6).alias(
            "share"
        ),
    )


def _q365_oracle(n_rounds: int = 8) -> str:
    """Double-sweep oracle: two unrolled BFS chains; sweep 2 seeds at
    sweep 1's farthest node (max d, tie-broken min v). MATERIALIZED
    per the q350 unroll discipline."""

    def rounds(prefix: str) -> str:
        out = []
        for i in range(1, n_rounds + 1):
            p = i - 1
            out.append(
                f""", {prefix}{i} AS MATERIALIZED (
  SELECT v, min(d) AS d FROM (
    SELECT v, d FROM {prefix}{p}
    UNION ALL
    SELECT s.dst AS v, t.d + 1 AS d
    FROM {prefix}{p} t JOIN dsym s ON s.src = t.v
  ) GROUP BY v
)"""
            )
        return "".join(out)

    last = n_rounds
    return (
        f"""
WITH {BULK_LINES}, e AS MATERIALIZED (
{SUPPLIER_PAIRS}
), dsym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e
), nodes AS MATERIALIZED (
  SELECT DISTINCT src AS v FROM dsym
), s1d0 AS MATERIALIZED (
  SELECT min(src) AS v, CAST(0 AS BIGINT) AS d FROM dsym
)"""
        + rounds("s1d")
        + f""", far AS MATERIALIZED (
  SELECT v, CAST(0 AS BIGINT) AS d FROM (
    SELECT v, row_number() OVER (ORDER BY d DESC, v) AS rn FROM s1d{last}
  ) WHERE rn = 1
), s2d0 AS MATERIALIZED (SELECT * FROM far)"""
        + rounds("s2d")
        + f""", stats AS (
  SELECT CAST(1 AS BIGINT) AS sweep,
         (SELECT v FROM s1d0) AS source_node,
         CAST(max(d) AS BIGINT) AS max_hop,
         CAST(count(*) AS BIGINT) AS n_reached
  FROM s1d{last}
  UNION ALL
  SELECT CAST(2 AS BIGINT),
         (SELECT v FROM s2d0),
         CAST(max(d) AS BIGINT), CAST(count(*) AS BIGINT)
  FROM s2d{last}
)
SELECT sweep, source_node, max_hop, n_reached,
       (SELECT CAST(max(d) AS BIGINT) FROM s2d{last}) AS diameter_lb,
       (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes
FROM stats"""
    )


@query(
    "q365_double_sweep_diameter",
    tags=("graph", "iterative"),
    oracle=_q365_oracle(8),
)
def q365_double_sweep_diameter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Double-sweep diameter lower bound of the supplier co-occurrence
    graph: BFS from the deterministic min-id landmark, re-seed at the
    farthest node found (max hop, min-id tie-break), BFS again — the
    second eccentricity is the classic 2-sweep diameter bound that is
    exact on trees and empirically tight on real graphs (Magnien et
    al.), at the cost of exactly TWO BFS passes instead of the
    all-pairs O(n·m) exact diameter. The answer to "how many
    message-passing rounds could this graph ever need" that q350's
    single profile only bounds from one vantage point.

    Exactness: hop distances and the argmax re-seed are exact
    integers with a total-order tie-break (rule 3); both sweeps
    unroll the same 8 MATERIALIZED rounds in the oracle.

    Scale: two runs of operators/graph.py::bfs_hops over one shared
    checkpointed edge frame; the re-seed is a 1-row argmax reduction
    (never a collect) flowing into sweep 2's init frame.
    """
    from ...operators.graph import bfs_hops, bulk_supplier_edges, edge_endpoints

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    edges = bulk_supplier_edges(li).localCheckpoint(
        eager=False
    )  # two sweeps + node census share it
    s1 = bfs_hops(edges, n_rounds=8)
    src1 = edge_endpoints(edges).agg(F.min("v").alias("v"))
    far = (
        s1.agg(
            F.max(F.struct(F.col("d"), (-F.col("v")).alias("nv"))).alias("m")
        )
        .select((-F.col("m.nv")).alias("v"))
    )
    s2 = bfs_hops(edges, n_rounds=8, source=far)
    nodes = (
        edge_endpoints(edges)
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    diam = s2.agg(F.max("d").cast("bigint").alias("diameter_lb"))

    def stats(sweep_id: int, dist, src):
        return (
            dist.agg(
                F.max("d").cast("bigint").alias("max_hop"),
                F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            )
            .crossJoin(F.broadcast(src.select(F.col("v").alias("source_node"))))
            .select(
                F.lit(sweep_id).cast("bigint").alias("sweep"),
                "source_node", "max_hop", "n_reached",
            )
        )

    return (
        stats(1, s1, src1)
        .unionByName(stats(2, s2, far))
        .crossJoin(F.broadcast(diam))
        .crossJoin(F.broadcast(nodes))
    )


def _q380_oracle(n_iter: int = 4) -> str:
    """Unroll the fixed-iteration HITS recurrence into chained CTEs.
    Every intermediate is MATERIALIZED (the q241 lesson: the max-
    normalizer references its round frame twice, and each round feeds
    the next — un-hinted, the evaluation tree doubles per round)."""
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_quantity >= 48
), a0 AS MATERIALIZED (
  SELECT DISTINCT dst, CAST(1 AS DOUBLE) AS a FROM e
)"""
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f""", h{k}r AS MATERIALIZED (
  SELECT e.src, sum(a.a) AS h
  FROM e JOIN a{k - 1} a ON e.dst = a.dst GROUP BY e.src
), h{k} AS MATERIALIZED (
  SELECT src, h / (SELECT max(h) FROM h{k}r) AS h FROM h{k}r
), a{k}r AS MATERIALIZED (
  SELECT e.dst, sum(h.h) AS a
  FROM e JOIN h{k} h ON e.src = h.src GROUP BY e.dst
), a{k} AS MATERIALIZED (
  SELECT dst, a / (SELECT max(a) FROM a{k}r) AS a FROM a{k}r
)"""
        )
    parts.append(
        f"""
SELECT side, node, score, rank FROM (
  SELECT 'hub' AS side, src AS node, round(h + 1e-9, 6) AS score,
         CAST(row_number() OVER (
           ORDER BY round(h + 1e-9, 6) DESC, src) AS BIGINT) AS rank
  FROM h{n_iter}
  UNION ALL
  SELECT 'authority', dst, round(a + 1e-9, 6),
         CAST(row_number() OVER (
           ORDER BY round(a + 1e-9, 6) DESC, dst) AS BIGINT)
  FROM a{n_iter}
) WHERE rank <= 10
"""
    )
    return "".join(parts)


@query(
    "q380_hits_hub_authority",
    tags=("graph", "iterative", "ranking"),
    oracle=_q380_oracle(4),
)
def q380_hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority ranking of the DIRECTED customer→supplier
    procurement graph (edges = distinct high-quantity order lines):
    hubs are customers whose purchases concentrate on authoritative
    suppliers, authorities are suppliers bought by strong hubs — the
    mutually-recursive centrality q125's PageRank (undirected, single
    score) cannot express. Completes the link-analysis family:
    PageRank (q125), k-core (q241), components (q60/q91), BFS
    profiles (q350/q365), assortativity (q215), rich club (q292).

    Exactness: 4 unrolled rounds on both engines (operators/graph.py::
    hits ↔ MATERIALIZED CTE chain); the ∞-norm normalizer divides by a
    SELECTED max, never a float sum, so only the per-round neighbor
    sums carry sum-order ulp — power-iteration contraction keeps that
    at ulp scale and the FINAL 6-dp fround pair absorbs it. Top-10
    per side ordered by the ROUNDED score with a node-id tie-break
    (the q348 rule), so rank assignment is a total order both engines.

    Scale: edge frame checkpointed once; two co-partitioned
    join+groupBy passes per round; the top-10 funnels through
    orderBy().limit() (TakeOrderedAndProject — never a global
    data-sized window; the rank window runs on the 10-row survivor
    frame).
    """
    from ...operators.graph import hits

    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    ).where(F.col("l_quantity") >= 48)
    edges = orders.join(
        li, orders.o_orderkey == li.l_orderkey
    ).select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
    hubs, auths = hits(edges, n_iter=4)

    def _topk(df: DataFrame, side: str, score_col: str) -> DataFrame:
        scored = df.select(
            F.lit(side).alias("side"),
            F.col("v").alias("node"),
            fround(F.col(score_col), 6).alias("score"),
        )
        top = scored.orderBy(F.desc("score"), F.asc("node")).limit(10)
        w = Window.orderBy(F.desc("score"), F.asc("node"))
        return top.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        )

    return _topk(hubs, "hub", "h").unionByName(_topk(auths, "authority", "a"))
