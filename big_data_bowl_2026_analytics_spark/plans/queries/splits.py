"""Dataset-assembly queries: the deterministic split/sample/audit
steps between a curated corpus and a training run.

- q127: train/valid/test assignment by content-stable hash (survives
  re-ingestion, reshuffling, and re-partitioning — the property random
  splits lack at 100 TB where "the same split next month" matters)
- q128: per-stratum Bernoulli sampling with hash thresholds (exact
  integer comparison — reproducible mixture downsampling)
- q129: chi-square homogeneity audit of the source x lang contingency
  (is the corpus mix independent of source? the inferential sibling of
  q120's TV/KL drift audit)
All hash math is md5 (rule: identical hex on both engines) mapped to a
16-bit integer via the q34 instr-nibble pattern; thresholds and ranks
are integer-exact, so every row membership decision is engine-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ...functions.scalar import fround
from ...sources.readers import read_table
from ..registry import query

_HEX = "0123456789abcdef"


def _hash16(seed: str, key: Column) -> Column:
    """First 16 bits of md5(seed || key) as an integer, decoded one
    hex nibble at a time with instr (the engine-exact q34 pattern);
    ``_hash16_sql`` is the same expression in DuckDB SQL."""
    h = F.md5(F.concat(F.lit(seed), key.cast("string")))
    v = F.lit(0)
    for i in range(4):
        nib = F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - 1
        v = v * 16 + nib
    return v


def _hash16_sql(seed: str, key: str) -> str:
    h = f"md5('{seed}' || CAST({key} AS VARCHAR))"
    terms = []
    for i in range(4):
        terms.append(
            f"(instr('{_HEX}', substr({h}, {i + 1}, 1)) - 1)"
            f" * {16 ** (3 - i)}"
        )
    return "(" + " + ".join(terms) + ")"


@query(
    "q127_hash_split_assignment",
    tags=("split", "sampling", "llm-pipeline"),
    oracle=f"""
WITH assigned AS (
  SELECT lang, n_chars,
         CASE WHEN {_hash16_sql('split|', 'doc_id')} % 1000 < 800
                THEN 'train'
              WHEN {_hash16_sql('split|', 'doc_id')} % 1000 < 900
                THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY split, lang
""",
)
def q127_hash_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/valid/test assignment by content-stable hash of
    the document id, audited per (split, lang). Hash splits are the
    only kind that survive re-ingestion at corpus scale: membership is
    a pure function of the key, never of row order, partitioning, or a
    seed table. Map-side assignment, one aggregation — no shuffle
    beyond the final small groupBy."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "lang", "n_chars"])
    bucket = _hash16("split|", F.col("doc_id")) % 1000
    assigned = docs.select(
        "lang",
        "n_chars",
        F.when(bucket < 800, "train")
        .when(bucket < 900, "valid")
        .otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "q128_stratified_hash_sample",
    tags=("sampling", "llm-pipeline"),
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_hash16_sql('samp|', 'doc_id')} % 1024
      < CASE WHEN lang = 'en' THEN 512 ELSE 256 END
""",
)
def q128_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified downsampling: keep an 'en' document
    with probability 512/1024 and any other language at 256/1024,
    decided by an integer hash threshold — the deterministic twin of
    q104's weighted Bernoulli (there the weight is a float column;
    here the rate is per-stratum and the decision is integer-exact, so
    the SAMPLE ITSELF is the oracle-checked output, not just its
    summary). Map-side filter, zero shuffles, partition-independent."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "lang", "source"])
    rate = F.when(F.col("lang") == "en", F.lit(512)).otherwise(F.lit(256))
    return docs.where(
        _hash16("samp|", F.col("doc_id")) % 1024 < rate
    ).select("doc_id", "lang", "source")


@query(
    "q134_mixture_rebalance",
    tags=("sampling", "mixing", "llm-pipeline"),
    oracle=f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_before
  FROM documents GROUP BY lang
), mn AS (
  SELECT min(n_before) AS keep_target FROM counts
), kept AS (
  SELECT d.lang, count(*) AS n_kept
  FROM documents d JOIN counts c ON d.lang = c.lang CROSS JOIN mn
  WHERE {_hash16_sql('mix|', 'doc_id')} * c.n_before < 65536 * keep_target
  GROUP BY d.lang
), tot AS (
  SELECT CAST(sum(n_kept) AS BIGINT) AS total_kept FROM kept
)
SELECT c.lang, n_before, CAST(keep_target AS BIGINT) AS keep_target,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       round(CAST(coalesce(n_kept, 0) AS DOUBLE) / total_kept + 1e-9, 6)
         AS achieved_share
FROM counts c
LEFT JOIN kept k ON c.lang = k.lang
CROSS JOIN mn CROSS JOIN tot
""",
)
def q134_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every language stratum to the size of the SMALLEST
    one — applying a uniform target mixture deterministically, the
    missing half of q94 (which computes mixture weights but never
    applies them). Membership is the cross-multiplied integer
    comparison ``hash16(doc) * n_stratum < 65536 * keep_target``:
    exact integer arithmetic, no float rate, reproducible under any
    partitioning. The audit row per stratum reports before/target/
    kept/achieved-share; at 100 TB the counts frame is vocabulary-of-
    strata sized (broadcast back), the keep decision is map-side."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "lang"])
    counts = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_before"))
        .localCheckpoint(eager=False)
    )
    mn = counts.agg(F.min("n_before").alias("keep_target"))
    kept = (
        docs.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(mn))
        .where(
            _hash16("mix|", F.col("doc_id")) * F.col("n_before")
            < 65536 * F.col("keep_target")
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    tot = kept.agg(F.sum("n_kept").alias("total_kept"))
    return (
        counts.join(kept, "lang", "left")
        .crossJoin(F.broadcast(mn))
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_before",
            F.col("keep_target").cast("bigint").alias("keep_target"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            fround(
                F.coalesce(F.col("n_kept"), F.lit(0)).cast("double")
                / F.col("total_kept"),
                6,
            ).alias("achieved_share"),
        )
    )


@query(
    "q148_join_preserving_pseudonymization",
    tags=("privacy", "pseudonymization", "audit"),
    oracle="""
WITH raw_join AS (
  SELECT c.c_custkey
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
), pc AS (
  SELECT md5('pseud|' || CAST(c_custkey AS VARCHAR)) AS pk FROM customer
), po AS (
  SELECT md5('pseud|' || CAST(o_custkey AS VARCHAR)) AS pk FROM orders
), pseudo_join AS (
  SELECT pc.pk FROM pc JOIN po ON pc.pk = po.pk
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM raw_join) AS joined_rows_raw,
       (SELECT CAST(count(*) AS BIGINT) FROM pseudo_join)
         AS joined_rows_pseudo,
       (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer)
         AS distinct_keys_raw,
       (SELECT CAST(count(DISTINCT pk) AS BIGINT) FROM pc)
         AS distinct_keys_pseudo,
       (SELECT count(*) FROM raw_join)
         = (SELECT count(*) FROM pseudo_join) AS join_preserved,
       (SELECT count(DISTINCT c_custkey) FROM customer)
         = (SELECT count(DISTINCT pk) FROM pc) AS collision_free
""",
)
def q148_join_preserving_pseudonymization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keyed-hash pseudonymization audit: replace the customer key
    with ``md5(secret || key)`` in BOTH tables and verify the two
    properties a privacy-preserving pipeline needs before shipping
    de-identified data — the join graph is preserved (identical join
    cardinality through the pseudonym) and the mapping is
    collision-free on this keyspace. Pseudonyms are deterministic
    per-row hashes (map-side, no lookup-table state to secure or
    replicate), which is what makes the scheme work across 100 TB of
    independently processed partitions. Counts are exact integers;
    the two booleans re-assert the properties in-row (q44 pattern)."""
    cust = read_table(spark, sf_dir, "customer", ["c_custkey"])
    orders = read_table(spark, sf_dir, "orders", ["o_custkey"])

    def pseud(col):
        return F.md5(F.concat(F.lit("pseud|"), col.cast("string")))

    raw_join = cust.join(
        orders, cust.c_custkey == orders.o_custkey
    ).agg(F.count(F.lit(1)).alias("joined_rows_raw"))
    pc = cust.select(pseud(F.col("c_custkey")).alias("pk"))
    po = orders.select(pseud(F.col("o_custkey")).alias("pk"))
    pseudo_join = pc.join(po, "pk").agg(
        F.count(F.lit(1)).alias("joined_rows_pseudo")
    )
    dk = cust.agg(F.countDistinct("c_custkey").alias("distinct_keys_raw"))
    dp = pc.agg(F.countDistinct("pk").alias("distinct_keys_pseudo"))
    return (
        raw_join.crossJoin(F.broadcast(pseudo_join))
        .crossJoin(F.broadcast(dk))
        .crossJoin(F.broadcast(dp))
        .select(
            "joined_rows_raw",
            "joined_rows_pseudo",
            "distinct_keys_raw",
            "distinct_keys_pseudo",
            (F.col("joined_rows_raw") == F.col("joined_rows_pseudo")).alias(
                "join_preserved"
            ),
            (F.col("distinct_keys_raw") == F.col("distinct_keys_pseudo")).alias(
                "collision_free"
            ),
        )
    )


@query(
    "q149_laplace_noisy_counts",
    tags=("privacy", "dp-mechanism"),
    oracle=f"""
WITH counts AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type
), seeded AS (
  SELECT event_type, n,
         ({_hash16_sql('dp|', 'event_type')} + 0.5) / 65536.0 AS u
  FROM counts
)
SELECT event_type, n,
       round(n + (CASE WHEN u >= 0.5 THEN -1.0 ELSE 1.0 END)
                 * ln(1 - 2 * abs(u - 0.5)) + 1e-9, 6) AS noisy_n
FROM seeded
""",
)
def q149_laplace_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy counts per event type (sensitivity-1
    count query, b = 1/epsilon = 1): uniform-to-Laplace via the
    inverse CDF ``-b * sign(u - 1/2) * ln(1 - 2|u - 1/2|)`` — the
    map-side, state-free way differential-privacy noise is added
    across a 100 TB aggregation (each group derives its own noise; no
    central RNG to coordinate).

    HONESTY NOTE: the uniform here is a keyed hash of the group —
    deterministic ON PURPOSE so both engines compute the identical
    mechanism and the driver can hash-verify the plumbing; a
    production release swaps the hash for a calibrated secure RNG
    (noise must not be re-derivable). u is (k + 0.5)/65536 with
    integer k, so u = 1/2 exactly never occurs and the log argument is
    bounded away from 0; the log is the documented last-ulp class
    absorbed by fround."""
    ev = read_table(spark, sf_dir, "events", ["event_type"])
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    u = (_hash16("dp|", F.col("event_type")) + 0.5) / 65536.0
    noise = (
        F.when(u >= 0.5, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.log(1 - 2 * F.abs(u - 0.5))
    )
    return counts.select(
        "event_type",
        "n",
        fround(F.col("n") + noise, 6).alias("noisy_n"),
    )


@query(
    "q129_chi_square_homogeneity",
    tags=("audit", "drift", "stats"),
    oracle="""
WITH cells AS (
  SELECT source, lang, count(*) AS o FROM documents GROUP BY source, lang
), rows_m AS (
  SELECT source, CAST(sum(o) AS BIGINT) AS ns FROM cells GROUP BY source
), cols_m AS (
  SELECT lang, CAST(sum(o) AS BIGINT) AS nl FROM cells GROUP BY lang
), tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
)
SELECT round(sum((o - CAST(ns * nl AS DOUBLE) / n)
              * (o - CAST(ns * nl AS DOUBLE) / n)
              / (CAST(ns * nl AS DOUBLE) / n)) + 1e-9, 6) AS chi_square,
       CAST((SELECT count(*) FROM rows_m) - 1 AS BIGINT)
         * CAST((SELECT count(*) FROM cols_m) - 1 AS BIGINT) AS dof,
       max(n) AS n_docs
FROM cells JOIN rows_m USING (source)
           JOIN cols_m USING (lang)
           CROSS JOIN tot
""",
)
def q129_chi_square_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for independence of (source, lang)
    — the significance-testing face of corpus-mix auditing (q120
    reports effect sizes; this reports the test statistic + degrees of
    freedom a monitoring system thresholds). Expected counts are exact
    integer products cast to double; per-cell terms are IEEE-identical
    across engines, the final sum's association order is absorbed by
    the fround pair. One scan to cell counts; marginals derive from
    the tiny cell frame (never a second scan)."""
    docs = read_table(spark, sf_dir, "documents", ["source", "lang"])
    cells = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    rows_m = cells.groupBy("source").agg(F.sum("o").alias("ns"))
    cols_m = cells.groupBy("lang").agg(F.sum("o").alias("nl"))
    tot = cells.agg(F.sum("o").alias("n"))
    nr = rows_m.agg(F.count(F.lit(1)).alias("nr"))
    nc = cols_m.agg(F.count(F.lit(1)).alias("nc"))
    e = (F.col("ns") * F.col("nl")).cast("double") / F.col("n")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    return (
        cells.join(F.broadcast(rows_m), "source")
        .join(F.broadcast(cols_m), "lang")
        .crossJoin(F.broadcast(tot))
        .agg(fround(F.sum(term), 6).alias("chi_square"), F.max("n").alias("n_docs"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "chi_square",
            ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
            "n_docs",
        )
    )


@query(
    "q152_k_anonymity_audit",
    tags=("privacy", "audit", "llm-pipeline"),
    oracle="""
WITH grouped AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS group_n,
         CAST(count(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS l_distinct
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total FROM customer
)
SELECT c_nationkey, c_mktsegment, group_n,
       group_n >= 8 AS k_anonymous,
       l_distinct,
       l_distinct >= 2 AS l_diverse,
       round(1.0 / group_n + 1e-9, 6) AS reident_risk,
       round(CAST(group_n AS DOUBLE) / n_total + 1e-9, 6) AS group_share
FROM grouped, total
""",
)
def q152_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the quasi-identifier pair
    (nation, market segment) with "account in debt" as the sensitive
    attribute — the release-readiness check a privacy review runs
    before handing a slice of user-adjacent data to a training
    pipeline (Sweeney 2002; Machanavajjhala 2007).

    A QI group smaller than k re-identifies its members by linkage
    (risk = 1/group_n); a group whose sensitive attribute takes one
    value leaks it to ALL members even when k-anonymous — both
    booleans come out of one grouped scan.

    Scale: one shuffle on the QI columns with partial aggregation;
    the total is a one-row broadcast. Group count is bounded by the
    QI domain, not the row count.
    """
    cust = read_table(
        spark, sf_dir, "customer", ["c_nationkey", "c_mktsegment", "c_acctbal"]
    )
    grouped = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_n"),
        F.countDistinct(
            F.when(F.col("c_acctbal") < 0, 1).otherwise(0)
        ).alias("l_distinct"),
    )
    total = cust.agg(F.count(F.lit(1)).alias("n_total"))
    return grouped.crossJoin(F.broadcast(total)).select(
        "c_nationkey",
        "c_mktsegment",
        "group_n",
        (F.col("group_n") >= 8).alias("k_anonymous"),
        "l_distinct",
        (F.col("l_distinct") >= 2).alias("l_diverse"),
        fround(F.lit(1.0) / F.col("group_n"), 6).alias("reident_risk"),
        fround(
            F.col("group_n").cast("double") / F.col("n_total"), 6
        ).alias("group_share"),
    )


#: Per-stratum inclusion thresholds in 1/65536 units (exact dyadic
#: rationals, so membership is an integer comparison on both engines).
_HT_THRESHOLDS = {"A": 6554, "N": 3277, "R": 13107}


@query(
    "q153_horvitz_thompson_audit",
    tags=("sampling", "estimator", "audit"),
    oracle=f"""
WITH marked AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CASE l_returnflag
           {' '.join(f"WHEN '{s}' THEN {t}" for s, t in sorted(_HT_THRESHOLDS.items()))}
         END AS thresh,
         {_hash16_sql('ht|', "l_orderkey || '|' || l_linenumber || '|' || l_partkey || '|' || l_suppkey")} AS h
  FROM lineitem
), agg AS (
  SELECT l_returnflag,
         any_value(thresh) AS thresh,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(count(*) FILTER (WHERE h < thresh) AS BIGINT) AS n_sampled,
         CAST(sum(cents) AS BIGINT) AS sc,
         CAST(sum(cents) FILTER (WHERE h < thresh) AS BIGINT) AS ssc
  FROM marked GROUP BY l_returnflag
), est AS (
  SELECT l_returnflag, n_total, n_sampled,
         sc / 100.0 AS true_total,
         CAST(ssc AS DOUBLE) * 65536.0 / thresh / 100.0 AS ht_estimate
  FROM agg
)
SELECT l_returnflag, n_total, n_sampled, true_total, ht_estimate,
       round((ht_estimate - true_total) / true_total + 1e-9, 6) + 0
         AS rel_err
FROM est
""",
)
def q153_horvitz_thompson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Poisson sampling with a Horvitz-Thompson total
    estimator, audited against the true stratum totals — the
    reproducible "estimate corpus statistics from a 5-20% hash sample"
    step that makes iterating on 100 TB affordable.

    Inclusion is an exact integer comparison on a content-stable
    16-bit hash (same row -> same decision on re-ingestion); both
    totals are EXACT BIGINT cents sums (rebased round 13 — a
    3-stratum money float sum is the q01 low-grain class the 100x
    probe measured diverging), the HT estimate scales the exact
    sampled sum in one fixed expression (emitted unrounded — its
    value is off-lattice after the threshold division), and rel_err
    derives from the engine-identical doubles with the footgun-9
    sign-of-zero guard.

    Scale: pure map-side marking + one partial-aggregated shuffle on
    the stratum key; no row survives past the aggregate.
    """
    thresh = F.create_map(
        *[F.lit(x) for kv in sorted(_HT_THRESHOLDS.items()) for x in kv]
    )[F.col("l_returnflag")]
    li = read_table(
        spark,
        sf_dir,
        "lineitem",
        [
            "l_returnflag",
            "l_extendedprice",
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            "l_suppkey",
        ],
    )
    marked = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        thresh.alias("thresh"),
        _hash16(
            "ht|",
            F.concat_ws(
                "|", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
            ),
        ).alias("h"),
    )
    sampled = F.col("h") < F.col("thresh")
    agg = marked.groupBy("l_returnflag").agg(
        F.any_value("thresh").alias("thresh"),
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(sampled).alias("n_sampled"),
        F.sum("cents").cast("bigint").alias("sc"),
        F.sum(F.when(sampled, F.col("cents"))).cast("bigint").alias("ssc"),
    )
    est = agg.select(
        "l_returnflag",
        "n_total",
        "n_sampled",
        (F.col("sc") / 100.0).alias("true_total"),
        (
            F.col("ssc").cast("double")
            * 65536.0
            / F.col("thresh")
            / 100.0
        ).alias("ht_estimate"),
    )
    return est.select(
        "l_returnflag",
        "n_total",
        "n_sampled",
        "true_total",
        "ht_estimate",
        (
            fround(
                (F.col("ht_estimate") - F.col("true_total"))
                / F.col("true_total"),
                6,
            )
            + F.lit(0.0)
        ).alias("rel_err"),
    )


@query(
    "q222_class_balance_weights",
    tags=("ml", "sampling", "llm-pipeline"),
    oracle="""
WITH counts AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n
  FROM embeddings GROUP BY label
), k AS (
  SELECT CAST(count(*) AS BIGINT) AS n_classes,
         CAST(sum(n) AS BIGINT) AS n_total
  FROM counts
), weights AS (
  SELECT label, n,
         1.0 / n AS inv_raw,
         (1 - 0.999) / (1 - pow(0.999, n)) AS eff_raw
  FROM counts
), z AS (
  SELECT sum(inv_raw) AS z_inv, sum(eff_raw) AS z_eff FROM weights
)
SELECT label, n,
       round(n * 1.0 / n_total + 1e-9, 6) AS class_share,
       round(inv_raw * n_classes / z_inv + 1e-9, 6) AS inv_freq_weight,
       round(eff_raw * n_classes / z_eff + 1e-9, 6) AS eff_num_weight
FROM weights, k, z
""",
)
def q222_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-imbalance training weights per label, two estimators
    side by side: plain inverse frequency and the effective-number
    reweighting of Cui et al. ((1−β)/(1−β^n), β = 0.999), which
    saturates for large classes instead of exploding for rare ones.
    Both are normalized to sum to the class count, so a balanced
    dataset yields all-1.0 weights under either scheme.

    One label-grain aggregate; β^n is a pow on identical doubles and
    the class-count normalizers are tiny fixed sums — all absorbed by
    the fround pair.
    """
    emb = read_table(spark, sf_dir, "embeddings", ["label"])
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    k = counts.agg(
        F.count(F.lit(1)).alias("n_classes"), F.sum("n").alias("n_total")
    )
    weights = counts.select(
        "label",
        "n",
        (1.0 / F.col("n")).alias("inv_raw"),
        ((1 - 0.999) / (1 - F.pow(0.999, F.col("n")))).alias("eff_raw"),
    )
    z = weights.agg(
        F.sum("inv_raw").alias("z_inv"), F.sum("eff_raw").alias("z_eff")
    )
    return (
        weights.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(z))
        .select(
            "label",
            "n",
            fround(F.col("n") * 1.0 / F.col("n_total"), 6).alias(
                "class_share"
            ),
            fround(
                F.col("inv_raw") * F.col("n_classes") / F.col("z_inv"), 6
            ).alias("inv_freq_weight"),
            fround(
                F.col("eff_raw") * F.col("n_classes") / F.col("z_eff"), 6
            ).alias("eff_num_weight"),
        )
    )


@query(
    "q223_stratified_kfold_plan",
    tags=("split", "ml", "llm-pipeline"),
    oracle=f"""
WITH assigned AS (
  SELECT label, {_hash16_sql('fold|', 'vec_id')} % 5 AS fold
  FROM embeddings
), cells AS (
  SELECT fold, label, CAST(count(*) AS BIGINT) AS n
  FROM assigned GROUP BY fold, label
), margins AS (
  SELECT label, CAST(sum(n) AS BIGINT) AS n_label FROM cells GROUP BY label
), folds AS (
  SELECT fold, CAST(sum(n) AS BIGINT) AS n_fold FROM cells GROUP BY fold
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cells
)
SELECT c.fold, c.label, c.n,
       round(f.n_fold * m.n_label * 1.0 / t.n_total + 1e-9, 4) AS expected,
       round(pow(c.n - f.n_fold * m.n_label * 1.0 / t.n_total, 2)
             / (f.n_fold * m.n_label * 1.0 / t.n_total) + 1e-9, 6)
         AS chi_term
FROM cells c
JOIN margins m ON m.label = c.label
JOIN folds f ON f.fold = c.fold
CROSS JOIN tot t
""",
)
def q223_stratified_kfold_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment by content-stable hash with
    a per-cell chi-square homogeneity audit: is every fold's label
    mix statistically indistinguishable from the corpus mix? Hash
    folds inherit q127's re-ingestion stability; the audit is q129's
    independence machinery applied to the (fold, label) contingency —
    sum ``chi_term`` against χ²((k−1)(L−1)) to reject a broken
    stratification before any training run spends GPUs on it.

    Map-side assignment, one contingency aggregate, label/fold
    margins broadcast back — integer counts everywhere.
    """
    emb = read_table(spark, sf_dir, "embeddings", ["vec_id", "label"])
    assigned = emb.select(
        "label", (_hash16("fold|", F.col("vec_id")) % 5).alias("fold")
    )
    cells = assigned.groupBy("fold", "label").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)
    margins = cells.groupBy("label").agg(F.sum("n").alias("n_label"))
    folds = cells.groupBy("fold").agg(F.sum("n").alias("n_fold"))
    tot = cells.agg(F.sum("n").alias("n_total"))
    expected = (
        F.col("n_fold") * F.col("n_label") * 1.0 / F.col("n_total")
    )
    return (
        cells.join(F.broadcast(margins), "label")
        .join(F.broadcast(folds), "fold")
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "label",
            "n",
            fround(expected, 4).alias("expected"),
            fround(
                F.pow(F.col("n") - expected, 2) / expected, 6
            ).alias("chi_term"),
        )
    )


@query(
    "q224_length_bucketed_batching",
    tags=("llm-pipeline", "batching", "report"),
    oracle="""
WITH toks AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), bucketed AS (
  SELECT doc_id, n_tok, n_tok // 32 AS bucket FROM toks
), per_bucket AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(max(n_tok) AS BIGINT) AS bucket_max,
         CAST(sum(n_tok) AS BIGINT) AS real_tokens
  FROM bucketed GROUP BY bucket
), gstats AS (
  SELECT CAST(max(n_tok) AS BIGINT) AS global_max,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(count(*) AS BIGINT) AS total_docs
  FROM toks
)
SELECT bucket, n_docs, bucket_max, real_tokens,
       CAST(n_docs * bucket_max - real_tokens AS BIGINT)
         AS bucketed_padding,
       CAST(n_docs * global_max - real_tokens AS BIGINT)
         AS unbucketed_padding,
       round((n_docs * bucket_max - real_tokens) * 1.0
             / (n_docs * bucket_max) + 1e-9, 6) AS waste_share
FROM per_bucket, gstats
""",
)
def q224_length_bucketed_batching(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Padding-waste audit for length-bucketed batching: group
    documents into 32-token length buckets and compare the padding a
    per-bucket max incurs against padding to the global max (the
    naive collator). The gap is the GPU-hours length bucketing saves
    — typically the single cheapest throughput win in a training
    pipeline, and this query is the evidence a platform team shows
    for it.

    Pure integer arithmetic on the bucket grain; the one-row global
    frame broadcasts.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    bucketed = toks.withColumn(
        "bucket", F.floor(F.col("n_tok") / 32).cast("bigint")
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tok").alias("bucket_max"),
        F.sum("n_tok").alias("real_tokens"),
    )
    glob = toks.agg(
        F.max("n_tok").alias("global_max"),
        F.sum("n_tok").alias("total_tokens"),
        F.count(F.lit(1)).alias("total_docs"),
    )
    padded = F.col("n_docs") * F.col("bucket_max")
    return per_bucket.crossJoin(F.broadcast(glob)).select(
        "bucket",
        "n_docs",
        "bucket_max",
        "real_tokens",
        (padded - F.col("real_tokens")).cast("bigint").alias(
            "bucketed_padding"
        ),
        (
            F.col("n_docs") * F.col("global_max") - F.col("real_tokens")
        ).cast("bigint").alias("unbucketed_padding"),
        fround(
            (padded - F.col("real_tokens")) * 1.0 / padded, 6
        ).alias("waste_share"),
    )


@query(
    "q370_weighted_reservoir_sample",
    tags=("sampling", "llm-pipeline", "topk"),
    oracle=f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         ln(({_hash16_sql('ares|', 'doc_id')} + 1) / 65537.0) / n_chars AS k
  FROM documents
  WHERE n_chars > 0
), ranked AS (
  SELECT source, doc_id, n_chars, k,
         row_number() OVER (
           PARTITION BY source ORDER BY k DESC, doc_id
         ) AS rn
  FROM keyed
)
SELECT source, CAST(rn AS BIGINT) AS rank, doc_id,
       CAST(n_chars AS BIGINT) AS weight,
       round(k + 1e-9, 6) + 0 AS res_key
FROM ranked WHERE rn <= 5
""",
)
def q370_weighted_reservoir_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement, 5 documents
    per source, inclusion probability proportional to length — the
    Efraimidis-Spirakis A-Res reservoir scheme (Inf. Process. Lett.
    2006): each item draws u ~ U(0,1) and the k items with the largest
    u^(1/w) — equivalently the largest ln(u)/w — ARE a without-
    replacement w-weighted sample. This is the one-pass, shuffle-free
    answer to "give me a length-weighted sample per stratum" that
    q128's Bernoulli thresholds (fixed RATE, binomial size) and q134's
    rebalance (capped counts, unweighted within stratum) cannot give:
    exact sample SIZE and weight-proportional inclusion at once.

    Exactness: u = (hash16+1)/65537 is an exact rational in (0,1), so
    ln(u) is the ln of a bit-identical double (engine-stable per the
    q158/q347 precedent) and the division by the integer weight is one
    correctly-rounded op — keys are bit-identical cross-engine, and
    the top-5 order carries the doc_id total tie-break (rule 3). The
    reported key is fround-6 with the `+ 0` sign-of-zero guard
    (footgun 9: keys scale like -1e-9 for long documents, which rounds
    to -0.0 in DuckDB and +0.0 in Spark).

    Scale: one corpus scan; the rank-<=5 window compiles to
    WindowGroupLimit, so every partition forwards at most 5 rows per
    source to the final per-source sort — the reservoir property,
    executed map-side. No joins, no collects; adding a round's worth
    of new strata changes nothing.
    """
    from pyspark.sql import Window

    docs = read_table(
        spark, sf_dir, "documents", ["doc_id", "source", "n_chars"]
    )
    u = (_hash16("ares|", F.col("doc_id")) + 1) / F.lit(65537.0)
    keyed = docs.where(F.col("n_chars") > 0).select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        (F.log(u) / F.col("n_chars")).alias("k"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("k"), F.asc("doc_id"))
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "source",
            F.col("rank").cast("bigint").alias("rank"),
            "doc_id",
            "weight",
            (fround(F.col("k"), 6) + F.lit(0.0)).alias("res_key"),
        )
    )
