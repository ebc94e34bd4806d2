"""Data-curation queries (round 4): the blocking/collocation/skew/
drift family a large-scale training-data pipeline runs between ingest
and training — each strict against a DuckDB oracle.

- q116: edit-distance near-dup with length-bucket blocking (the
  character-level member of the dedup family: exact q30, MinHash
  q31/q32, SimHash q34, token-Jaccard q33/q114, embedding q63)
- q117: bigram PMI collocations (phrase mining for tokenizer vocab)
- q118: sorted-neighborhood blocking (the classic record-linkage
  alternative to LSH banding)
- q119: key-skew audit — Gini coefficient of the per-key row
  distribution via the bucketed two-level rank (no global window)
- q120: train-serve drift audit between two time slices
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ...functions.scalar import fround
from ...operators.dedup import (
    exact_jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
)
from ...sources.readers import parallelize_scan, read_table
from ..oracle_sql import (
    BULK_LINES,
    DOC_TOKENS,
    LSH_CANDIDATES,
    MINHASH_LSH,
    SUPPLIER_PAIRS,
    TOKEN_OVERLAP,
)
from ..registry import query
from .splits import _hash16_sql

#: q116 knobs: an edit-distance threshold K needs |len(a) - len(b)|
#: <= K, so bucketing n_chars by width >= K and probing (own, next)
#: buckets is RECALL-1 blocking: two docs within K chars differ by at
#: most one bucket boundary.
_EDIT_K = 20
_LEN_BUCKET = 32


@query(
    "q116_levenshtein_neardup",
    tags=("dedup", "text", "blocking"),
    oracle=f"""
WITH b AS (
  SELECT doc_id, text, lang, n_chars,
         unnest([n_chars // {_LEN_BUCKET}, n_chars // {_LEN_BUCKET} + 1]) AS bucket
  FROM documents
)
SELECT doc_a, doc_b, edit_dist FROM (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         levenshtein(a.text, c.text) AS edit_dist
  FROM b a JOIN b c
    ON a.lang = c.lang AND a.bucket = c.bucket AND a.doc_id < c.doc_id
  WHERE abs(a.n_chars - c.n_chars) <= {_EDIT_K}
) WHERE edit_dist <= {_EDIT_K}
""",
)
def q116_levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-duplicate pairs (edit distance <= K) with
    length-bucket blocking: edit distance >= length difference, so
    bucketing n_chars at width >= K and probing (own, next) buckets
    finds EVERY qualifying pair (recall 1) while the quadratic
    comparison runs only inside (lang, bucket) blocks. The distance
    itself is integer dynamic programming — engine-exact.

    Scale: the explode doubles the row count, the join is an equi-join
    on (lang, bucket), and the O(len^2) levenshtein runs on candidate
    pairs only (the length filter prunes first — cheap integer math
    before expensive string DP). Recall vs the unblocked all-pairs
    form is asserted in tests/test_dedup_operators.py."""
    from ...operators.dedup import levenshtein_neardup_pairs

    docs = read_table(
        spark, sf_dir, "documents", ["doc_id", "text", "lang", "n_chars"]
    )
    return levenshtein_neardup_pairs(
        docs, max_dist=_EDIT_K, bucket_width=_LEN_BUCKET
    )


@query(
    "q117_bigram_pmi",
    tags=("text", "tokenizer", "llm-pipeline"),
    oracle="""
WITH toks AS (
  SELECT string_split(text, ' ') AS w FROM documents
), uni AS (
  SELECT unnest(w) AS tok FROM toks
), uni_counts AS (
  SELECT tok, count(*) AS c FROM uni GROUP BY tok
), n1 AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uni_counts
), pairs AS (
  SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
  FROM toks WHERE len(w) >= 2
), pair_counts AS (
  SELECT p[1] AS tok_a, p[2] AS tok_b, count(*) AS c_ab
  FROM pairs GROUP BY 1, 2
), n2 AS (
  SELECT CAST(sum(c_ab) AS BIGINT) AS n_pairs FROM pair_counts
)
SELECT tok_a, tok_b, CAST(c_ab AS BIGINT) AS n_cooc,
       round(ln((c_ab * 1.0 / n_pairs)
                / ((ca.c * 1.0 / n_tokens) * (cb.c * 1.0 / n_tokens)))
             + 1e-9, 6) AS pmi
FROM pair_counts
JOIN uni_counts ca ON tok_a = ca.tok
JOIN uni_counts cb ON tok_b = cb.tok
CROSS JOIN n1 CROSS JOIN n2
WHERE c_ab >= 5
ORDER BY pmi DESC, tok_a, tok_b
LIMIT 25
""",
)
def q117_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information — the phrase
    mining step that seeds multi-word tokenizer entries / stop-phrase
    lists: PMI = ln(P(ab) / (P(a)P(b))) over adjacent word pairs with
    a minimum support of 5.

    The pair stream is the q107 joinless zip; the unigram marginals
    join back on the token (vocab-sized frames — plain shuffle
    equi-joins, NOT broadcasts, per the q114 lesson); the two corpus
    totals are one-row broadcast cross joins. Every input to the log
    is a ratio of exact integers, so cross-engine drift is confined to
    the documented last-ulp ln class (q95/q101-proven), absorbed by
    the 6-decimal fround; top-25 carries a full tie-break."""
    docs = read_table(spark, sf_dir, "documents", ["text"])
    toks = docs.select(F.split("text", " ").alias("w"))
    # uni_counts feeds three branches (total + both marginals) and
    # pair_counts_all two (total + supported pairs): truncate lineage
    # so each reduction runs once instead of re-deriving from the
    # corpus scan per branch (CLAUDE.md reuse convention).
    uni_counts = (
        toks.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    n1 = uni_counts.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    pairs = toks.where(F.size("w") >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1).alias("a"),
                F.slice(F.col("w"), 2, F.size("w") - 1).alias("b"),
            )
        ).alias("p")
    )
    pair_counts_all = (
        pairs.select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    # P(ab) normalizes over ALL pairs (the oracle's n2 CTE), so the
    # total reduces BEFORE the min-support filter prunes the tail.
    n2 = pair_counts_all.agg(F.sum("c_ab").cast("bigint").alias("n_pairs"))
    pair_counts = pair_counts_all.where(F.col("c_ab") >= 5)
    ca = uni_counts.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    cb = uni_counts.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab") / F.col("n_pairs"))
        / ((F.col("c_a") / F.col("n_tokens")) * (F.col("c_b") / F.col("n_tokens")))
    )
    return (
        pair_counts.join(ca, "tok_a")
        .join(cb, "tok_b")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "tok_a",
            "tok_b",
            F.col("c_ab").cast("bigint").alias("n_cooc"),
            fround(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(25)
    )


@query(
    "q118_sorted_neighborhood_pairs",
    tags=("dedup", "blocking", "window"),
    oracle="""
WITH ordered AS (
  SELECT doc_id, lang, n_chars,
         lead(doc_id, 1) OVER w AS d1, lead(n_chars, 1) OVER w AS c1,
         lead(doc_id, 2) OVER w AS d2, lead(n_chars, 2) OVER w AS c2,
         lead(doc_id, 3) OVER w AS d3, lead(n_chars, 3) OVER w AS c3
  FROM documents
  WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
)
SELECT lang, doc_a, doc_b, rank_gap, chars_gap FROM (
  SELECT lang, doc_id AS doc_a, d1 AS doc_b, 1 AS rank_gap,
         c1 - n_chars AS chars_gap FROM ordered
  UNION ALL
  SELECT lang, doc_id, d2, 2, c2 - n_chars FROM ordered
  UNION ALL
  SELECT lang, doc_id, d3, 3, c3 - n_chars FROM ordered
) WHERE doc_b IS NOT NULL
""",
)
def q118_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (the record-linkage classic): sort
    each language block by a cheap proxy key (n_chars, with doc_id as
    the unique tie-break) and emit candidate pairs within a sliding
    window of 3 — O(n·w) candidates instead of O(n²), the sequential
    cousin of LSH banding (q32) and length-bucket blocking (q116).

    The pairs come from ``lead`` over ONE per-block sorted pass — no
    self-join on rank, no inequality join. Every emitted column is an
    integer or raw pass-through: bit-exact across engines.

    Scale: one shuffle on lang; the window never buffers more than w
    rows of lookahead per partition. (A single global sort would be
    the textbook form — partitioning by a block key is how the method
    is actually deployed, and what keeps every partition independent.)
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "lang", "n_chars"])
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    led = docs.select(
        "lang",
        F.col("doc_id").alias("doc_a"),
        "n_chars",
        *[F.lead("doc_id", i).over(w).alias(f"d{i}") for i in (1, 2, 3)],
        *[F.lead("n_chars", i).over(w).alias(f"c{i}") for i in (1, 2, 3)],
    )
    # One window pass, then a map-side explode of the w candidate
    # slots — a UNION ALL of per-gap selects would recompute the sort
    # and scan once per gap (measured: 3 scans / 3 exchanges vs 1 / 1).
    slots = F.array(
        *[
            F.struct(
                F.col(f"d{i}").alias("doc_b"),
                F.lit(i).alias("rank_gap"),
                (F.col(f"c{i}") - F.col("n_chars")).alias("chars_gap"),
            )
            for i in (1, 2, 3)
        ]
    )
    return (
        led.select("lang", "doc_a", F.explode(slots).alias("s"))
        .select(
            "lang",
            "doc_a",
            F.col("s.doc_b").alias("doc_b"),
            F.col("s.rank_gap").alias("rank_gap"),
            F.col("s.chars_gap").alias("chars_gap"),
        )
        .where(F.col("doc_b").isNotNull())
    )


@query(
    "q119_key_skew_gini",
    tags=("quality", "skew", "audit"),
    oracle="""
WITH per_key AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY user_id
), ranked AS (
  SELECT user_id, c,
         row_number() OVER (ORDER BY c, user_id) AS r
  FROM per_key
)
SELECT count(*) AS n_keys,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(min(c) AS BIGINT) AS min_rows,
       CAST(max(c) AS BIGINT) AS max_rows,
       CAST(sum(r * c) AS BIGINT) AS rank_weighted_sum,
       round(2.0 * sum(r * c) / (count(*) * sum(c))
             - (count(*) + 1.0) / count(*) + 1e-9, 6) AS gini
FROM ranked
""",
)
def q119_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit: the Gini coefficient of the per-key row
    distribution (0 = perfectly uniform keys, →1 = one hot key owns
    the table) — the number that says whether a planned shuffle key
    needs salting (q45/q99) BEFORE the job runs, plus the min/max row
    counts that bound task sizes.

    The rank-weighted identity G = 2·Σ(r·c)/(n·Σc) − (n+1)/n needs
    every key ranked by count — done with the bucketed two-level rank
    (bucket = floor(log2(c)), in-bucket window, ≤64-row offset scan),
    the same machinery as q52's AUC rank-sum: no global single-
    partition window over what is a key-cardinality-sized frame at
    100 TB. Rank sums are exact integers (cast bigint); only the final
    ratio is a rounded double."""
    ev = read_table(spark, sf_dir, "events", ["user_id"])
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    bucketed = per_key.withColumn(
        "bucket", F.floor(F.log2(F.col("c"))).cast("int")
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("c", "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = bucketed.withColumn("r_in", F.count(F.lit(1)).over(w_in))
    per_bucket = ranked.groupBy("bucket").agg(
        F.sum(F.col("r_in") * F.col("c")).alias("rank_c_in"),
        F.count(F.lit(1)).alias("bucket_keys"),
        F.sum("c").alias("bucket_rows"),
        F.min("c").alias("bucket_min"),
        F.max("c").alias("bucket_max"),
    )
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offset = per_bucket.withColumn(
        "keys_before", F.coalesce(F.sum("bucket_keys").over(w_b), F.lit(0))
    )
    # global rank r = keys_before + r_in, so
    # Σ r·c = Σ_buckets (rank_c_in + keys_before · bucket_rows)
    agg = offset.agg(
        F.sum("bucket_keys").alias("n_keys"),
        F.sum("bucket_rows").alias("n_rows"),
        F.min("bucket_min").alias("min_rows"),
        F.max("bucket_max").alias("max_rows"),
        F.sum(
            F.col("rank_c_in") + F.col("keys_before") * F.col("bucket_rows")
        ).alias("rank_weighted_sum"),
    )
    gini = (
        2.0 * F.col("rank_weighted_sum") / (F.col("n_keys") * F.col("n_rows"))
        - (F.col("n_keys") + 1.0) / F.col("n_keys")
    )
    return agg.select(
        F.col("n_keys"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("min_rows").cast("bigint").alias("min_rows"),
        F.col("max_rows").cast("bigint").alias("max_rows"),
        F.col("rank_weighted_sum").cast("bigint").alias("rank_weighted_sum"),
        fround(gini, 6).alias("gini"),
    )


@query(
    "q120_drift_audit",
    tags=("quality", "drift", "audit"),
    oracle="""
WITH tagged AS (
  SELECT event_type,
         CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END AS early
  FROM events
), per_type AS (
  SELECT event_type,
         CAST(sum(early) AS BIGINT) AS n_early,
         CAST(sum(1 - early) AS BIGINT) AS n_late
  FROM tagged GROUP BY event_type
), totals AS (
  SELECT sum(n_early) AS tot_early, sum(n_late) AS tot_late FROM per_type
)
SELECT event_type, n_early, n_late,
       round(n_early * 1.0 / nullif(tot_early, 0) + 1e-9, 6) AS share_early,
       round(n_late * 1.0 / nullif(tot_late, 0) + 1e-9, 6) AS share_late,
       round(abs(n_late * 1.0 / nullif(tot_late, 0)
                 - n_early * 1.0 / nullif(tot_early, 0)) + 1e-9, 6)
         AS share_abs_delta,
       round(CASE WHEN n_early = 0 OR n_late = 0 THEN NULL
                  ELSE (n_late * 1.0 / tot_late)
                       * ln((n_late * 1.0 / tot_late)
                            / (n_early * 1.0 / tot_early)) END
             + 1e-9, 6) AS kl_term
FROM per_type CROSS JOIN totals
""",
)
def q120_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between two time slices of the event
    stream (first vs second half of the month): per-type counts and
    shares, the absolute share delta (whose half-sum over types is
    total-variation distance), and the per-type KL(late‖early) term —
    the monitoring pass that catches a category mix shifting between
    a training snapshot and serving traffic.

    One scan: the slice tag is a map-side expression, both slices
    aggregate in the SAME conditional-sum pass (no second scan, no
    join of two period aggregates), and the two totals broadcast back
    as a one-row cross join. Counts are exact integers; shares/KL are
    ratios of integers under the documented ln parity class.

    A type absent from one slice is guarded to NULL on BOTH sides
    (Spark's x/0 is NULL while DuckDB's is ±inf — the q113 divergence
    class); shares divide by nullif(total, 0) for the same reason."""
    ev = read_table(spark, sf_dir, "events", ["event_type", "ts"])
    tagged = ev.select(
        "event_type",
        F.when(F.dayofmonth("ts") <= 15, 1).otherwise(0).alias("early"),
    )
    # per_type feeds both the totals row and the output projection —
    # truncate so the events scan + aggregate run once, not per branch.
    per_type = tagged.groupBy("event_type").agg(
        F.sum("early").cast("bigint").alias("n_early"),
        F.sum(1 - F.col("early")).cast("bigint").alias("n_late"),
    ).localCheckpoint(eager=False)
    totals = per_type.agg(
        F.sum("n_early").alias("tot_early"), F.sum("n_late").alias("tot_late")
    )
    p_late = F.col("n_late") / F.nullif(F.col("tot_late"), F.lit(0))
    p_early = F.col("n_early") / F.nullif(F.col("tot_early"), F.lit(0))
    kl = F.when(
        (F.col("n_early") == 0) | (F.col("n_late") == 0), F.lit(None)
    ).otherwise(p_late * F.log(p_late / p_early))
    return per_type.crossJoin(F.broadcast(totals)).select(
        "event_type",
        "n_early",
        "n_late",
        fround(p_early, 6).alias("share_early"),
        fround(p_late, 6).alias("share_late"),
        fround(F.abs(p_late - p_early), 6).alias("share_abs_delta"),
        fround(kl, 6).alias("kl_term"),
    )


#: q121: approx_percentile's accuracy parameter — the sketch
#: guarantees rank error <= n/accuracy.
_APPROX_ACC = 10000


@query(
    "q121_approx_percentile_audit",
    tags=("sketch", "approx", "percentile"),
    oracle="""
SELECT l_returnflag,
       count(*) AS n_rows,
       round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 6) AS exact_p50,
       round(quantile_cont(l_extendedprice, 0.95) + 1e-9, 6) AS exact_p95,
       TRUE AS p50_within_rank_bound,
       TRUE AS p95_within_rank_bound
FROM lineitem GROUP BY l_returnflag
""",
)
def q121_approx_percentile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-quantile-sketch path (approx_percentile — what
    replaces exact percentiles at 100 TB, q112's documented swap)
    held to its contract: the sketch guarantees RANK error
    <= n/accuracy, so the audit counts rows at or below each returned
    element and checks that rank against the target, exactly the q44
    HLL pattern — the raw sketch value could never hash-match another
    engine, the exact percentiles and the pinned-TRUE bound booleans
    can. A sketch regression flips a boolean and fails the hash gate.

    Scale: pass 1 computes both sketches AND the exact percentiles per
    group (exact only to anchor the oracle — a pure-production run
    keeps just the sketch); pass 2 broadcasts the tiny per-group frame
    back and counts ranks map-side. Two scans, no window, no sort."""
    li = read_table(spark, sf_dir, "lineitem", ["l_returnflag", "l_extendedprice"])
    eps = 1.0 / _APPROX_ACC
    # r13 optimization: array forms share one sketch / one sorted
    # buffer per group instead of two of each — identical values.
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            f"approx_percentile(l_extendedprice, array(0.5, 0.95),"
            f" {_APPROX_ACC})"
        ).alias("_apcts"),
        F.expr(
            "percentile(l_extendedprice, array(0.5, 0.95))"
        ).alias("_epcts"),
    ).select(
        "l_returnflag",
        "n_rows",
        F.col("_apcts")[0].alias("a50"),
        F.col("_apcts")[1].alias("a95"),
        F.col("_epcts")[0].alias("exact_p50"),
        F.col("_epcts")[1].alias("exact_p95"),
    )
    ranked = li.join(F.broadcast(stats), "l_returnflag").groupBy(
        "l_returnflag"
    ).agg(
        F.sum(
            F.when(F.col("l_extendedprice") <= F.col("a50"), 1).otherwise(0)
        ).alias("le50"),
        F.sum(
            F.when(F.col("l_extendedprice") < F.col("a50"), 1).otherwise(0)
        ).alias("lt50"),
        F.sum(
            F.when(F.col("l_extendedprice") <= F.col("a95"), 1).otherwise(0)
        ).alias("le95"),
        F.sum(
            F.when(F.col("l_extendedprice") < F.col("a95"), 1).otherwise(0)
        ).alias("lt95"),
    )

    def within(le, lt, q):
        lo = (F.lit(q) - eps) * F.col("n_rows") - 1
        hi = (F.lit(q) + eps) * F.col("n_rows") + 1
        return (F.col(le) >= lo) & (F.col(lt) <= hi)

    return stats.join(ranked, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        fround(F.col("exact_p50"), 6).alias("exact_p50"),
        fround(F.col("exact_p95"), 6).alias("exact_p95"),
        within("le50", "lt50", 0.5).alias("p50_within_rank_bound"),
        within("le95", "lt95", 0.95).alias("p95_within_rank_bound"),
    )


@query(
    "q122_correlation_matrix",
    tags=("statistics", "agg"),
    oracle="""
WITH pairs AS (
  SELECT 'quantity_price' AS pair, corr(l_quantity, l_extendedprice) AS r,
         covar_samp(l_quantity, l_extendedprice) AS cov FROM lineitem
  UNION ALL
  SELECT 'quantity_discount', corr(l_quantity, l_discount),
         covar_samp(l_quantity, l_discount) FROM lineitem
  UNION ALL
  SELECT 'quantity_tax', corr(l_quantity, l_tax),
         covar_samp(l_quantity, l_tax) FROM lineitem
  UNION ALL
  SELECT 'price_discount', corr(l_extendedprice, l_discount),
         covar_samp(l_extendedprice, l_discount) FROM lineitem
  UNION ALL
  SELECT 'price_tax', corr(l_extendedprice, l_tax),
         covar_samp(l_extendedprice, l_tax) FROM lineitem
  UNION ALL
  SELECT 'discount_tax', corr(l_discount, l_tax),
         covar_samp(l_discount, l_tax) FROM lineitem
)
SELECT pair, round(r + 1e-9, 6) AS corr_r, round(cov + 1e-9, 6) AS covariance
FROM pairs
""",
)
def q122_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation + sample covariance over the four
    lineitem measures — the feature-redundancy screen run before
    training (drop one of any near-collinear pair).

    ONE scan computes all six pairs (every corr/covar is a map-side
    co-moment partial folded into the same aggregate row); the
    row-per-pair shape comes from unpivoting the 1-row aggregate, so
    the fact table is never re-read per pair (the oracle's UNION ALL
    of six scans is the readable-but-wasteful form this query exists
    to replace). Co-moment merge order differs between engines —
    absorbed by the documented 6-decimal fround."""
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    cols = {
        "quantity": "l_quantity",
        "price": "l_extendedprice",
        "discount": "l_discount",
        "tax": "l_tax",
    }
    pair_names = [
        ("quantity", "price"),
        ("quantity", "discount"),
        ("quantity", "tax"),
        ("price", "discount"),
        ("price", "tax"),
        ("discount", "tax"),
    ]
    aggs = []
    for a, b in pair_names:
        aggs.append(F.corr(cols[a], cols[b]).alias(f"r_{a}_{b}"))
        aggs.append(F.covar_samp(cols[a], cols[b]).alias(f"c_{a}_{b}"))
    one_row = li.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(f"{a}_{b}").alias("pair"),
                F.col(f"r_{a}_{b}").alias("r"),
                F.col(f"c_{a}_{b}").alias("cov"),
            )
            for a, b in pair_names
        ]
    )
    return (
        one_row.select(F.explode(rows).alias("s"))
        .select(
            F.col("s.pair").alias("pair"),
            fround(F.col("s.r"), 6).alias("corr_r"),
            fround(F.col("s.cov"), 6).alias("covariance"),
        )
    )


@query(
    "q124_lsh_blocked_levenshtein",
    tags=("dedup", "text", "blocking", "lsh"),
    oracle=f"""
WITH {MINHASH_LSH}, b AS (
  SELECT d.doc_id, d.text, d.n_chars, bd.band_id, bd.bucket,
         unnest([d.n_chars // {_LEN_BUCKET}, n_chars // {_LEN_BUCKET} + 1])
           AS lbucket
  FROM documents d JOIN bands bd ON d.doc_id = bd.doc_id
)
SELECT doc_a, doc_b, edit_dist FROM (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         levenshtein(a.text, c.text) AS edit_dist
  FROM b a JOIN b c
    ON a.band_id = c.band_id AND a.bucket = c.bucket
   AND a.lbucket = c.lbucket AND a.doc_id < c.doc_id
  WHERE abs(a.n_chars - c.n_chars) <= {_EDIT_K}
) WHERE edit_dist <= {_EDIT_K}
""",
)
def q124_lsh_blocked_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs with CONTENT blocking (MinHash LSH
    bands, q32's 8-hash/4-band scheme over word-3-gram shingles)
    composed with q116's recall-1 length-bucket blocking — the
    corpus-scale form the q116 docstring promises: length buckets have
    bounded cardinality, so at 100 TB the quadratic comparison inside a
    pure length cell grows linearly with the corpus; intersecting with
    an LSH band key keeps cells bounded by local content collisions
    instead. Candidates must share (band_id, bucket, length_bucket);
    the O(len^2) levenshtein DP runs only on those survivors.

    Recall semantics: length blocking alone is recall-1 (proven in
    tests/test_dedup_operators.py); the band intersection inherits
    MinHash-LSH's probabilistic recall — exactly the q31/q32 collision
    structure, deterministic given the seeded md5 scheme, so both
    engines compute the identical pair set. Docs under 3 tokens have
    no shingles and drop on both sides (inner join to bands)."""
    from ...operators.dedup import (
        levenshtein_neardup_pairs,
        lsh_bands,
        minhash_signatures,
    )

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text", "n_chars"])
    sig = minhash_signatures(docs, n_hashes=8, shingle_n=3)
    bands = lsh_bands(sig, n_hashes=8, band_size=2)
    blocked = docs.join(bands, "doc_id").select(
        "doc_id",
        "text",
        "n_chars",
        F.concat_ws("|", F.col("band_id").cast("string"), "bucket").alias(
            "_block"
        ),
    )
    return levenshtein_neardup_pairs(
        blocked,
        max_dist=_EDIT_K,
        bucket_width=_LEN_BUCKET,
        block_col="_block",
    )


def _pagerank_oracle(n_iter: int = 5) -> str:
    """Unroll the fixed-iteration PageRank recurrence into chained
    CTEs (DuckDB has no iterative primitive; a fixed K unrolls
    exactly). All float literals are CAST to DOUBLE so both engines
    run the identical IEEE expression — DuckDB would otherwise parse
    0.85 as DECIMAL and diverge."""
    cte = [
        f"""
WITH {BULK_LINES}, e AS (
{SUPPLIER_PAIRS}
), d AS (
  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e
), deg AS (
  SELECT src, count(*) AS deg FROM d GROUP BY src
), n AS (
  SELECT count(*) AS n FROM deg
), p0 AS (
  SELECT src AS v, CAST(1 AS DOUBLE) / n.n AS pr FROM deg CROSS JOIN n
)"""
    ]
    for k in range(1, n_iter + 1):
        cte.append(
            f""", p{k} AS (
  SELECT d.dst AS v,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
         + CAST(0.85 AS DOUBLE) * sum(p.pr / deg.deg) AS pr
  FROM d JOIN p{k - 1} p ON d.src = p.v
         JOIN deg ON deg.src = d.src
         CROSS JOIN n
  GROUP BY d.dst, n.n
)"""
        )
    cte.append(
        f"\nSELECT v, round(pr + 1e-9, 6) AS pagerank FROM p{n_iter}"
    )
    return "".join(cte)


@query(
    "q125_pagerank",
    tags=("graph", "iterative"),
    oracle=_pagerank_oracle(5),
)
def q125_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-iteration PageRank over the q123 co-supply network —
    link-analysis centrality next to the cohesion (q123 triangles) and
    connectivity (q60/q91 components) families; in a curation pipeline
    this ranks duplicate-cluster representatives / source domains by
    graph importance.

    The Spark side is the iterative operator (operators/graph.py::
    pagerank: edge+degree frame checkpointed once, one co-partitioned
    join + one groupBy per iteration, per-iteration lineage
    truncation); the oracle unrolls the same recurrence into five
    chained CTEs. The damping contraction keeps cross-engine float
    divergence at ulp scale (no amplification), absorbed by the final
    fround pair — intermediates are never rounded on either side."""
    from ...operators.graph import bulk_supplier_edges, pagerank

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    edges = bulk_supplier_edges(li)
    ranks = pagerank(edges, damping=0.85, n_iter=5)
    return ranks.select("v", fround(F.col("pr"), 6).alias("pagerank"))


def _layout_keys_sql() -> str:
    """Oracle CTEs ``s``, ``q`` and ``z``: (partkey, suppkey) quantized
    to 8-bit ranks, the natural-order chunk, and the 16-term Morton key
    ``zv`` as literal SQL bit arithmetic."""
    terms = []
    for i in range(8):
        terms.append(f"((qx >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((qy >> {i}) & 1) * {1 << (2 * i + 1)}")
    zv = " + ".join(terms)
    return f"""
WITH s AS (
  SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
         min(l_suppkey) AS mins, max(l_suppkey) AS maxs,
         min(l_orderkey) AS mino, max(l_orderkey) AS maxo
  FROM lineitem
), q AS (
  SELECT CASE WHEN maxp = minp THEN 0
              ELSE ((l_partkey - minp) * 255) // (maxp - minp) END AS qx,
         CASE WHEN maxs = mins THEN 0
              ELSE ((l_suppkey - mins) * 255) // (maxs - mins) END AS qy,
         CASE WHEN maxo = mino THEN 0
              ELSE ((l_orderkey - mino) * 1023) // (maxo - mino) END
           AS natchunk
  FROM lineitem CROSS JOIN s
), z AS (
  SELECT qx, qy, natchunk, ({zv}) AS zv FROM q
)"""


#: Oracle tail of the layout audits: per-chunk spans of ``chunks``,
#: averaged per layout.
_LAYOUT_SPANS_SQL = """per AS (
  SELECT layout, chunk, count(*) AS cnt,
         max(qx) - min(qx) + 1 AS span_x,
         max(qy) - min(qy) + 1 AS span_y
  FROM chunks GROUP BY layout, chunk
)
SELECT layout, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       round(avg(CAST(span_x AS DOUBLE) / 256) + 1e-9, 6) AS avg_span_part,
       round(avg(CAST(span_y AS DOUBLE) / 256) + 1e-9, 6) AS avg_span_supp
FROM per GROUP BY layout
"""


def _layout_keys(li: DataFrame, rows: DataFrame) -> DataFrame:
    """``(qx, qy, natchunk, zv)`` per row of ``rows``: partkey and
    suppkey quantized to 8-bit ranks over ``li``'s key ranges, the
    natural-order chunk (orderkey in 1024 levels) and the Morton key
    (oracle side: ``_layout_keys_sql``)."""
    from ...operators.layout import quantize, zorder_value

    stats = li.agg(
        F.min("l_partkey").alias("minp"),
        F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"),
        F.max("l_suppkey").alias("maxs"),
        F.min("l_orderkey").alias("mino"),
        F.max("l_orderkey").alias("maxo"),
    )
    q = rows.crossJoin(F.broadcast(stats)).select(
        quantize(
            F.col("l_partkey"), F.col("minp"), F.col("maxp") - F.col("minp")
        ).alias("qx"),
        quantize(
            F.col("l_suppkey"), F.col("mins"), F.col("maxs") - F.col("mins")
        ).alias("qy"),
        quantize(
            F.col("l_orderkey"),
            F.col("mino"),
            F.col("maxo") - F.col("mino"),
            levels=1024,
        ).alias("natchunk"),
    )
    return q.select(
        "qx", "qy", "natchunk", zorder_value(F.col("qx"), F.col("qy")).alias("zv")
    )


def _layout_spans(chunks: DataFrame) -> DataFrame:
    """Per layout: chunk count, rows, and mean normalized per-chunk span
    of each key (oracle side: ``_LAYOUT_SPANS_SQL``)."""
    per = chunks.groupBy("layout", "chunk").agg(
        F.count(F.lit(1)).alias("cnt"),
        (F.max("qx") - F.min("qx") + 1).alias("span_x"),
        (F.max("qy") - F.min("qy") + 1).alias("span_y"),
    )
    return per.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        fround(F.avg(F.col("span_x").cast("double") / 256), 6).alias(
            "avg_span_part"
        ),
        fround(F.avg(F.col("span_y").cast("double") / 256), 6).alias(
            "avg_span_supp"
        ),
    )


def _zorder_oracle() -> str:
    return f"""{_layout_keys_sql()}, chunks AS (
  SELECT 'zorder' AS layout, zv >> 6 AS chunk, qx, qy FROM z
  UNION ALL
  SELECT 'natural', natchunk, qx, qy FROM z
), {_LAYOUT_SPANS_SQL}"""


@query(
    "q126_zorder_layout_audit",
    tags=("layout", "lakehouse", "pruning"),
    oracle=_zorder_oracle(),
)
def q126_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering layout audit — the measurement behind
    Delta/Iceberg ``OPTIMIZE ZORDER BY``: quantize (l_partkey,
    l_suppkey) to 8-bit ranks, Morton-interleave them
    (operators/layout.py), carve the z-axis into 1024 fixed-width
    chunks (stand-ins for files/row-groups written in z order), and
    report the mean normalized per-chunk min/max span of EACH
    dimension vs the same chunks carved from natural ingestion order
    (l_orderkey ranges). Tight spans = min/max stats prune chunks for
    predicates on either dimension; the two output rows quantify the
    win.

    Engine-exact by construction: integer quantization (exact-multiple
    division, layout.py docstring), integer bit interleave, per-chunk
    integer min/max, and span fractions that are dyadic rationals
    (k/256) whose sums carry no rounding on either engine. One fact
    scan; the global min/max frame is a one-row broadcast; the
    layout tag doubles rows map-side (stack) before the two
    aggregations."""
    li = read_table(
        spark, sf_dir, "lineitem", ["l_partkey", "l_suppkey", "l_orderkey"]
    )
    z = _layout_keys(li, li)
    chunks = z.select(
        "qx",
        "qy",
        F.expr(
            "stack(2, 'zorder', zv >> 6, 'natural', natchunk)"
            " as (layout, chunk)"
        ),
    )
    return _layout_spans(chunks)


@query(
    "q131_join_cardinality_forecast",
    tags=("planning", "skew", "audit"),
    oracle="""
WITH c AS (
  SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cnt * cnt) AS BIGINT) AS predicted_rows,
         CAST(max(cnt * cnt) AS BIGINT) AS max_key_rows
  FROM c
)
SELECT n_keys, predicted_rows, max_key_rows,
       round(CAST(max_key_rows AS DOUBLE) * n_keys / predicted_rows + 1e-9, 6)
         AS skew_ratio
FROM s
""",
)
def q131_join_cardinality_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast the output size of the lineitem self-join on
    l_partkey WITHOUT running it: Σ c(k)² from one per-key count pass
    — the estimate a planner (or an engineer deciding whether a join
    needs salting) reads before committing a 100 TB shuffle. Reports
    the hottest key's share vs a uniform key (skew_ratio ≫ 1 = the
    q45/q99 salting patterns apply). One scan, one aggregation; the
    join itself is never materialized — THAT is the point."""
    li = read_table(spark, sf_dir, "lineitem", ["l_partkey"])
    c = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    s = c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("predicted_rows"),
        F.max(F.col("cnt") * F.col("cnt")).alias("max_key_rows"),
    )
    return s.select(
        "n_keys",
        "predicted_rows",
        "max_key_rows",
        fround(
            F.col("max_key_rows").cast("double")
            * F.col("n_keys")
            / F.col("predicted_rows"),
            6,
        ).alias("skew_ratio"),
    )


@query(
    "q132_bloom_filter_audit",
    tags=("sketch", "audit"),
    oracle=f"""
WITH members AS (
  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_nationkey < 5
), bloom AS (
  SELECT DISTINCT pos FROM (
    SELECT {{h0}} % 4096 AS pos FROM members
    UNION ALL
    SELECT {{h1}} % 4096 FROM members
  )
), probes AS (
  SELECT c_custkey AS k, c_nationkey < 5 AS is_member FROM customer
), tested AS (
  SELECT k, is_member,
         ({{h0p}} % 4096) IN (SELECT pos FROM bloom)
         AND ({{h1p}} % 4096) IN (SELECT pos FROM bloom) AS passes
  FROM probes
)
SELECT CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_members,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN passes AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       round(CAST(sum(CASE WHEN passes AND NOT is_member THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / sum(CASE WHEN NOT is_member THEN 1 ELSE 0 END) + 1e-9, 6)
         AS fp_rate,
       CAST(sum(CASE WHEN is_member AND NOT passes THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_neg
FROM tested
""".format(
        h0=_hash16_sql("b0|", "k"),
        h1=_hash16_sql("b1|", "k"),
        h0p=_hash16_sql("b0|", "k"),
        h1p=_hash16_sql("b1|", "k"),
    ),
)
def q132_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4096-bit, 2-hash Bloom filter over one partition's keys
    and measure it against ground truth: false-positive rate on
    non-member probes and — the invariant that must ALWAYS hold —
    zero false negatives. This is the observable twin of the runtime
    bloom pruning the optimizer injects (tests/test_plans bloom
    assertion): sketches at 100 TB need their error measured, not
    assumed (q44/q111/q121 pattern, now for membership).

    Bit positions come from the engine-exact md5 nibble decode
    (splits.py::_hash16), so both engines build the identical filter.
    The bit set is a ≤4096-row broadcast; both membership probes are
    broadcast semi-joins; everything else is conditional counting in
    one pass."""
    from .splits import _hash16

    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    members = (
        cust.where(F.col("c_nationkey") < 5).select(F.col("c_custkey").alias("k")).distinct()
    )
    bloom = (
        members.select(
            F.explode(
                F.array(
                    _hash16("b0|", F.col("k")) % 4096,
                    _hash16("b1|", F.col("k")) % 4096,
                )
            ).alias("pos")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    probes = cust.select(
        F.col("c_custkey").alias("k"),
        (F.col("c_nationkey") < 5).alias("is_member"),
        (_hash16("b0|", F.col("c_custkey")) % 4096).alias("p0"),
        (_hash16("b1|", F.col("c_custkey")) % 4096).alias("p1"),
    )
    b0 = bloom.select(F.col("pos").alias("p0")).withColumn("hit0", F.lit(True))
    b1 = bloom.select(F.col("pos").alias("p1")).withColumn("hit1", F.lit(True))
    tested = (
        probes.join(F.broadcast(b0), "p0", "left")
        .join(F.broadcast(b1), "p1", "left")
        .select(
            "is_member",
            (
                F.coalesce(F.col("hit0"), F.lit(False))
                & F.coalesce(F.col("hit1"), F.lit(False))
            ).alias("passes"),
        )
    )
    member_i = F.when(F.col("is_member"), 1).otherwise(0)
    passes_i = F.when(F.col("passes"), 1).otherwise(0)
    fp_i = F.when(F.col("passes") & ~F.col("is_member"), 1).otherwise(0)
    fn_i = F.when(F.col("is_member") & ~F.col("passes"), 1).otherwise(0)
    return tested.agg(
        F.sum(member_i).alias("n_members"),
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(passes_i).alias("n_pass"),
        F.sum(fp_i).alias("n_false_pos"),
        fround(
            F.sum(fp_i).cast("double") / F.sum(1 - member_i), 6
        ).alias("fp_rate"),
        F.sum(fn_i).alias("n_false_neg"),
    )


@query(
    "q133_containment_pairs",
    tags=("dedup", "text", "containment"),
    oracle=f"""
WITH {TOKEN_OVERLAP}
SELECT doc_a, doc_b, inter,
       inter / sa.n_toks AS containment_ab,
       inter / sb.n_toks AS containment_ba
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / sa.n_toks >= 0.6 OR inter / sb.n_toks >= 0.6
""",
)
def q133_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (either direction >= 0.6) within
    language blocks — the quote/excerpt detector the symmetric dedup
    family (q33 Jaccard, q114 prefix-filter) cannot express: a short
    document living verbatim inside a long one scores containment ≈ 1
    but Jaccard ≈ |A|/|B| ≈ 0. Contamination checks (q69) care about
    exactly this asymmetry at benchmark-vs-corpus granularity; this is
    the doc-vs-doc form. Integer-count ratios, engine-exact unrounded
    (CLAUDE.md rule 5 family)."""
    from ...operators.dedup import containment_pairs

    return containment_pairs(
        read_table(spark, sf_dir, "documents"), threshold=0.6, block_col="lang"
    )


@query(
    "q136_partition_size_planner",
    tags=("planning", "layout"),
    oracle="""
WITH est AS (
  SELECT strlen(text) + strlen(lang) + strlen(source) + 16 AS row_bytes
  FROM documents
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS total_rows,
         CAST(sum(row_bytes) AS BIGINT) AS est_total_bytes
  FROM est
)
SELECT total_rows, est_total_bytes,
       CAST((est_total_bytes + 65535 - ((est_total_bytes + 65535) % 65536))
            // 65536 AS BIGINT) AS recommended_partitions,
       round(CAST(est_total_bytes AS DOUBLE) / total_rows + 1e-9, 6)
         AS avg_row_bytes
FROM s
""",
)
def q136_partition_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle/file-partition planning from data statistics: estimate
    per-row bytes (UTF-8 octet lengths + fixed numeric widths), total
    bytes, and the partition count that hits a target partition size
    (here 64 KiB to exercise the math at toy scale; a 100 TB
    deployment passes 128 MiB) — the sizing pass behind
    ``spark.sql.shuffle.partitions`` / ``files.maxPartitionBytes``
    that CLAUDE.md's scale conventions demand be computed, not
    guessed. Ceil division is the exact-multiple form (subtract the
    mod first), so both engines produce the identical integer."""
    docs = read_table(spark, sf_dir, "documents", ["text", "lang", "source"])
    est = docs.select(
        (
            F.octet_length("text")
            + F.octet_length("lang")
            + F.octet_length("source")
            + F.lit(16)
        ).alias("row_bytes")
    )
    s = est.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum("row_bytes").alias("est_total_bytes"),
    )
    target = F.lit(65536)
    padded = F.col("est_total_bytes") + 65535
    return s.select(
        "total_rows",
        "est_total_bytes",
        ((padded - F.pmod(padded, target)) / target)
        .cast("bigint")
        .alias("recommended_partitions"),
        fround(
            F.col("est_total_bytes").cast("double") / F.col("total_rows"), 6
        ).alias("avg_row_bytes"),
    )


@query(
    "q137_idf_weighted_jaccard",
    tags=("dedup", "text", "tfidf"),
    oracle=f"""
WITH {DOC_TOKENS}, df AS (
  SELECT tok, count(*) AS dft FROM tok GROUP BY tok
), n AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok
), w AS (
  SELECT tok, ln(CAST(n_docs AS DOUBLE) / dft) AS wt FROM df CROSS JOIN n
), doc_w AS (
  SELECT doc_id, sum(wt) AS w_total
  FROM tok JOIN w USING (tok) GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(w.wt) AS w_inter
  FROM tok a
  JOIN tok b ON a.tok = b.tok AND a.lang = b.lang
  JOIN w ON w.tok = a.tok
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(w_inter / (wa.w_total + wb.w_total - w_inter) + 1e-9, 6)
         AS weighted_jaccard
FROM inter
JOIN doc_w wa ON wa.doc_id = doc_a
JOIN doc_w wb ON wb.doc_id = doc_b
WHERE w_inter / (wa.w_total + wb.w_total - w_inter) >= 0.33
""",
)
def q137_idf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard pairs: rare shared tokens count for more
    than stopwords, so two documents sharing 'the a of' no longer look
    similar while two sharing a rare phrase do — the discriminative
    upgrade of q33's unweighted verifier (same blocking posture:
    verify LSH candidates at corpus scale, lang blocks here).

    ``WJ = Σ_{t∈A∩B} idf(t) / (Σ_A idf + Σ_B idf - Σ_∩ idf)``. The
    token-weight frame is vocabulary-sized (shuffle join, q114
    lesson); per-doc weight sums join back on the pair frame. The log
    is the documented q95/q101 last-ulp class and the float sums are
    order-dependent — absorbed by the output fround; the 0.33
    threshold sits far from any achievable score boundary on both
    engines (ratio of identical IEEE sums)."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"])
    from ...operators.dedup import tokens

    # Hash-partition the token stream ONCE: the df groupBy, the w
    # join, and both self-join sides all key on tok, so they reuse
    # this exchange instead of paying four.
    tok = (
        docs.select(
            "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .repartition("tok")
        .localCheckpoint(eager=False)
    )
    df_counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("dft"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    w = df_counts.crossJoin(F.broadcast(n)).select(
        "tok",
        F.log(F.col("n_docs").cast("double") / F.col("dft")).alias("wt"),
    )
    # Bind the weight to the token stream BEFORE the pair self-join:
    # the weight join then runs on the |stream|-sized frame instead of
    # the exploded |pairs|-sized one, and the same frame feeds both
    # the per-doc totals and the intersection sums (checkpointed —
    # two downstream branches).
    tok_w = tok.join(w, "tok").localCheckpoint(eager=False)
    doc_w = tok_w.groupBy("doc_id").agg(F.sum("wt").alias("w_total"))
    a = tok_w.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("block_a"),
        "tok",
        "wt",
    )
    b = tok.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("block_b"), "tok"
    )
    inter = (
        a.join(b, ["tok"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("block_a") == F.col("block_b"))
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("wt").alias("w_inter"))
    )
    wa = doc_w.select(F.col("doc_id").alias("doc_a"), F.col("w_total").alias("wa"))
    wb = doc_w.select(F.col("doc_id").alias("doc_b"), F.col("w_total").alias("wb"))
    score = F.col("w_inter") / (F.col("wa") + F.col("wb") - F.col("w_inter"))
    return (
        inter.join(wa, "doc_a")
        .join(wb, "doc_b")
        .where(score >= 0.33)
        .select("doc_a", "doc_b", fround(score, 6).alias("weighted_jaccard"))
    )


@query(
    "q139_community_modularity",
    tags=("graph", "audit"),
    oracle=f"""
WITH {BULK_LINES}, e AS (
{SUPPLIER_PAIRS}
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e
), deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY v
), com AS (
  SELECT d.v, d.deg, s.s_nationkey AS community
  FROM deg d JOIN supplier s ON d.v = s.s_suppkey
), internal AS (
  SELECT ca.community, count(*) AS l_c
  FROM e JOIN com ca ON e.a = ca.v JOIN com cb ON e.b = cb.v
  WHERE ca.community = cb.community
  GROUP BY ca.community
)
SELECT c.community,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(coalesce(max(l_c), 0) AS BIGINT) AS internal_edges,
       CAST(sum(deg) AS BIGINT) AS degree_sum,
       round(CAST(coalesce(max(l_c), 0) AS DOUBLE) / max(m_edges)
             - (CAST(sum(deg) AS DOUBLE) / (2 * max(m_edges)))
               * (CAST(sum(deg) AS DOUBLE) / (2 * max(m_edges)))
             + 1e-9, 6) AS modularity_term
FROM com c
LEFT JOIN internal i ON c.community = i.community
CROSS JOIN m
GROUP BY c.community
""",
)
def q139_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity terms of the q123 co-supply graph under the
    supplier-nation partition: per community c, ``L_c/m -
    (D_c/2m)²`` — the quality score community detection maximizes,
    here used as an AUDIT of a given grouping (do nations actually
    co-supply internally, or is the network cross-national?). Sum the
    column for global Q.

    Scale: the edge list joins the node→community map twice
    (node-sized frames, plain shuffle equi-joins); the per-community
    frame is |communities|-sized. All inputs to the float algebra are
    exact integers, one fround at the end."""
    from ...operators.graph import bulk_supplier_edges, node_degrees

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    sup = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    edges = bulk_supplier_edges(li).localCheckpoint(eager=False)
    m = edges.agg(F.count(F.lit(1)).alias("m_edges"))
    deg = node_degrees(edges)
    com = deg.join(
        sup.select(
            F.col("s_suppkey").alias("v"), F.col("s_nationkey").alias("community")
        ),
        "v",
    ).localCheckpoint(eager=False)
    ca = com.select(F.col("v").alias("a"), F.col("community").alias("com_a"))
    cb = com.select(F.col("v").alias("b"), F.col("community").alias("com_b"))
    internal = (
        edges.join(ca, "a")
        .join(cb, "b")
        .where(F.col("com_a") == F.col("com_b"))
        .groupBy(F.col("com_a").alias("community"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    lc = F.coalesce(F.max("l_c"), F.lit(0)).cast("double")
    dsum = F.sum("deg").cast("double")
    me = F.max("m_edges")
    return (
        com.join(internal, "community", "left")
        .crossJoin(F.broadcast(m))
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(F.max("l_c"), F.lit(0)).cast("bigint").alias("internal_edges"),
            F.sum("deg").cast("bigint").alias("degree_sum"),
            fround(
                lc / me - (dsum / (2 * me)) * (dsum / (2 * me)),
                6,
            ).alias("modularity_term"),
        )
    )


@query(
    "q144_spend_quintile_mobility",
    tags=("ranking", "analytics", "two-level-rank"),
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CASE WHEN o_orderdate < DATE '1996-01-01'
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN o_orderdate >= DATE '1996-01-01'
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS s2
  FROM orders
  GROUP BY o_custkey
  HAVING s1 > 0 AND s2 > 0
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cust FROM spend
), ranked AS (
  SELECT o_custkey,
         row_number() OVER (ORDER BY s1, o_custkey) AS r1,
         row_number() OVER (ORDER BY s2, o_custkey) AS r2
  FROM spend
)
SELECT CAST((r1 - 1) * 5 // n_cust AS BIGINT) AS quintile_before,
       CAST((r2 - 1) * 5 // n_cust AS BIGINT) AS quintile_after,
       CAST(count(*) AS BIGINT) AS n_customers
FROM ranked CROSS JOIN n
GROUP BY 1, 2
""",
)
def q144_spend_quintile_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-quintile mobility matrix across two periods
    (pre/post 1996): which revenue quintile each customer lands in
    before vs after, counted per (from, to) cell — the rank-transition
    analytics behind churn/upsell dashboards.

    Spark ranks each period with operators/rankops.py::bucketed_rank
    (the extracted q119/q52 two-level machinery: in-bucket windows +
    a ≤64-row offset scan — never a customer-cardinality global
    window); the oracle uses the global window DuckDB can afford.
    Spend is summed in integer CENTS so the rank order is engine-exact
    (float sums are order-dependent at the last ulp — ranking by them
    could flip neighbors across engines); quintile assignment is exact
    integer arithmetic."""
    from ...operators.rankops import bucketed_rank

    orders = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderdate", "o_totalprice"]
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    early = F.col("o_orderdate") < F.lit("1996-01-01").cast("date")
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.when(early, cents).otherwise(0)).alias("s1"),
            F.sum(F.when(~early, cents).otherwise(0)).alias("s2"),
        )
        .where((F.col("s1") > 0) & (F.col("s2") > 0))
        .localCheckpoint(eager=False)
    )
    n = spend.agg(F.count(F.lit(1)).alias("n_cust"))
    r1 = bucketed_rank(spend, "s1", ["o_custkey"], out_col="r1").select(
        "o_custkey", "r1"
    )
    r2 = bucketed_rank(spend, "s2", ["o_custkey"], out_col="r2").select(
        "o_custkey", "r2"
    )
    both = r1.join(r2, "o_custkey").crossJoin(F.broadcast(n))

    def quintile(rank_col: str):
        a = (F.col(rank_col) - 1) * 5
        return ((a - F.pmod(a, F.col("n_cust"))) / F.col("n_cust")).cast(
            "bigint"
        )

    return (
        both.select(
            quintile("r1").alias("quintile_before"),
            quintile("r2").alias("quintile_after"),
        )
        .groupBy("quintile_before", "quintile_after")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "q123_triangle_count",
    tags=("graph", "agg"),
    oracle=f"""
WITH {BULK_LINES}, e AS (
{SUPPLIER_PAIRS}
), deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY v
), tri AS (
  SELECT count(*) AS n_triangles
  FROM e e1 JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), agg AS (
  SELECT count(*) AS n_nodes,
         CAST(max(deg) AS BIGINT) AS max_degree,
         CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       max_degree, n_wedges,
       CAST(n_triangles AS BIGINT) AS n_triangles,
       round(CASE WHEN n_wedges > 0
                  THEN 3.0 * n_triangles / n_wedges END + 1e-9, 6)
         AS global_clustering
FROM agg CROSS JOIN tri
""",
)
def q123_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the high-volume co-supply network (suppliers
    co-occurring on large lineitems of the same order): node/edge/
    wedge/triangle counts and the global clustering coefficient — the
    graph-cohesion family (how clique-like is a pair graph) next to
    the connectivity family (q60/q91 connected components).

    Spark side runs the degree-ORIENTED algorithm (operators/graph.py:
    every triangle counted once at its minimum-(degree, id) vertex;
    wedge work per node bounded by out-degree, O(sqrt(m)) on any
    graph) — the oracle's naive three-way edge join is the
    readable-but-hub-explosive form the orientation exists to replace.
    All counts are integers; only the coefficient is a rounded
    double."""
    from ...operators.graph import bulk_supplier_edges, triangle_stats

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    edges = bulk_supplier_edges(li).localCheckpoint(eager=False)
    return triangle_stats(edges)


@query(
    "q165_ks_drift_per_source",
    tags=("audit", "drift", "statistics"),
    oracle="""
WITH cnt AS (
  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars
), gcnt AS (
  SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY n_chars
), tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ns FROM documents GROUP BY source
), gtot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM documents
), grid AS (
  SELECT t.source, g.x, coalesce(c.c, 0) AS c
  FROM tot t CROSS JOIN gcnt g
  LEFT JOIN cnt c ON c.source = t.source AND c.x = g.x
), cum AS (
  SELECT source, x,
         sum(c) OVER (PARTITION BY source ORDER BY x
                      ROWS UNBOUNDED PRECEDING) AS cum_s
  FROM grid
), gcum AS (
  SELECT x, sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum_g
  FROM gcnt
)
SELECT c.source, t.ns AS n_docs,
       round(max(abs(CAST(c.cum_s AS BIGINT) * 1.0 / t.ns
                     - CAST(g.cum_g AS BIGINT) * 1.0 / n)) + 1e-9, 6)
         AS ks_stat
FROM cum c
JOIN gcum g ON c.x = g.x
JOIN tot t ON c.source = t.source
CROSS JOIN gtot
GROUP BY c.source, t.ns
""",
)
def q165_ks_drift_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov distance between each source's document
    length distribution and the corpus-wide one — the distributional
    sibling of q120's TV/KL drift audit: KS sees SHAPE shifts (a
    source quietly truncating documents) that marginal-ratio drift
    misses.

    Both CDFs are step functions evaluated on the shared support (the
    distinct length values), so sup|F_s - F| is exact: every term is a
    ratio of integer cumulative counts (IEEE-identical), and the max
    of exact values needs no tolerance (rounded defensively anyway).

    Scale: everything downstream of the two groupBys runs on the
    (source x distinct-value) grid — domain-sized, not corpus-sized.
    The global-CDF window is unpartitioned but bounded by the distinct
    value count (a length histogram, not a row stream).
    """
    docs = read_table(spark, sf_dir, "documents", ["source", "n_chars"])
    cnt = docs.groupBy("source", F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("c")
    )
    gcnt = (
        docs.groupBy(F.col("n_chars").alias("x"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    gtot = docs.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        tot.crossJoin(gcnt.select("x"))
        .join(cnt, ["source", "x"], "left")
        .select(
            "source", "x", "ns", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    w_s = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_g = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "source", "x", "ns", F.sum("c").over(w_s).alias("cum_s")
    )
    gcum = gcnt.select("x", F.sum("c").over(w_g).alias("cum_g"))
    return (
        cum.join(F.broadcast(gcum), "x")
        .crossJoin(F.broadcast(gtot))
        .groupBy("source", "ns")
        .agg(
            fround(
                F.max(
                    F.abs(
                        F.col("cum_s").cast("bigint") * 1.0 / F.col("ns")
                        - F.col("cum_g").cast("bigint") * 1.0 / F.col("n")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
        .select("source", F.col("ns").alias("n_docs"), "ks_stat")
    )


@query(
    "q175_association_rules",
    tags=("mining", "relational", "audit"),
    oracle="""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM li
), freq AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS s
  FROM li GROUP BY l_partkey HAVING count(*) >= 3
), f AS (
  SELECT li.l_orderkey, li.l_partkey, freq.s
  FROM li JOIN freq USING (l_partkey)
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         any_value(a.s) AS sa, any_value(b.s) AS sb,
         CAST(count(*) AS BIGINT) AS sab
  FROM f a JOIN f b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2
), ranked AS (
  SELECT part_a, part_b, sa, sb, sab,
         row_number() OVER (ORDER BY sab DESC, part_a, part_b) AS rk
  FROM pairs
)
SELECT part_a, part_b, sab, sa, sb,
       round(sab * 1.0 / sa + 1e-9, 6) AS conf_a_to_b,
       round(sab * 1.0 / sb + 1e-9, 6) AS conf_b_to_a,
       round(CAST(sab AS DOUBLE) * n_orders / (CAST(sa AS DOUBLE) * sb)
             + 1e-9, 6) AS lift
FROM ranked, n WHERE rk <= 50
""",
)
def q175_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-pair association rules over order baskets (Agrawal &
    Srikant's apriori shape): support, directional confidence, and
    lift for the top co-ordered part pairs.

    The apriori property does the scale work: items below the item
    support floor are pruned BEFORE pair generation (the pair
    self-join runs only on frequent items), which is what keeps
    basket mining feasible when baskets number in the billions — the
    pair space of the pruned item set is orders of magnitude smaller
    than all-pairs.

    Engine-exactness: supports are integers; confidence and lift are
    integer ratios in fixed evaluation order; the top-50 ranking
    orders by (support, pair) — fully total.
    """
    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"]
    ).distinct().localCheckpoint(eager=False)
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("s"))
        .where(F.col("s") >= 3)
    )
    f = li.join(freq, "l_partkey").localCheckpoint(eager=False)
    a = f.select(
        "l_orderkey", F.col("l_partkey").alias("part_a"), F.col("s").alias("sa")
    )
    b = f.select(
        "l_orderkey", F.col("l_partkey").alias("part_b"), F.col("s").alias("sb")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(
            F.any_value("sa").alias("sa"),
            F.any_value("sb").alias("sb"),
            F.count(F.lit(1)).alias("sab"),
        )
        .where(F.col("sab") >= 2)
    )
    top = pairs.orderBy(F.desc("sab"), "part_a", "part_b").limit(50)
    return top.crossJoin(F.broadcast(n)).select(
        "part_a",
        "part_b",
        "sab",
        "sa",
        "sb",
        fround(F.col("sab") * 1.0 / F.col("sa"), 6).alias("conf_a_to_b"),
        fround(F.col("sab") * 1.0 / F.col("sb"), 6).alias("conf_b_to_a"),
        fround(
            F.col("sab").cast("double")
            * F.col("n_orders")
            / (F.col("sa").cast("double") * F.col("sb")),
            6,
        ).alias("lift"),
    )


@query(
    "q260_popularity_recommender_backtest",
    tags=("recommender", "evaluation", "backtest"),
    oracle="""
WITH lastord AS (
  SELECT o_custkey, o_orderkey AS test_order FROM (
    SELECT o_custkey, o_orderkey,
           row_number() OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey DESC
           ) AS rk
    FROM orders
  ) WHERE rk = 1
), trainord AS (
  SELECT o.o_orderkey
  FROM orders o LEFT JOIN lastord l ON o.o_orderkey = l.test_order
  WHERE l.test_order IS NULL
), pop AS (
  SELECT l_partkey,
         CAST(count(DISTINCT li.l_orderkey) AS BIGINT) AS n_orders,
         row_number() OVER (
           ORDER BY count(DISTINCT li.l_orderkey) DESC, l_partkey
         ) AS rk
  FROM lineitem li JOIN trainord t ON li.l_orderkey = t.o_orderkey
  GROUP BY l_partkey
  QUALIFY rk <= 10
), testparts AS (
  SELECT l.o_custkey, li.l_partkey
  FROM lastord l JOIN lineitem li ON li.l_orderkey = l.test_order
), custhit AS (
  SELECT t.o_custkey, min(p.rk) AS min_rk
  FROM testparts t LEFT JOIN pop p ON t.l_partkey = p.l_partkey
  GROUP BY t.o_custkey
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(CASE WHEN min_rk <= 1 THEN 1 ELSE 0 END) AS BIGINT)
             * 1.0 / count(*) + 1e-9, 6) AS hit_rate_1,
       round(CAST(sum(CASE WHEN min_rk <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             * 1.0 / count(*) + 1e-9, 6) AS hit_rate_3,
       round(CAST(sum(CASE WHEN min_rk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             * 1.0 / count(*) + 1e-9, 6) AS hit_rate_10
FROM custhit
""",
)
def q260_popularity_recommender_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leave-last-order-out backtest of the popularity-baseline
    recommender: hold out each customer's LAST order (temporal split —
    never a random one, which leaks future popularity), rank parts by
    how many TRAINING orders contain them, and measure hit-rate@1/3/10
    against the held-out baskets — the floor every personalized
    recommender (q236's item-item CF among them) must beat to justify
    its complexity.

    Scale: the holdout is one per-customer window; popularity is one
    grouped count over training lineitems with a fixed-k
    TakeOrderedAndProject top-10 broadcast into the test-basket probe;
    hit rates are exact integer ratios (rule 5). No per-customer state
    beyond a groupBy.
    """
    from pyspark.sql import Window

    orders = read_table(
        spark, sf_dir, "orders", ["o_orderkey", "o_custkey", "o_orderdate"]
    )
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_partkey"])
    wl = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    lastord = (
        orders.withColumn("rk", F.row_number().over(wl))
        .where(F.col("rk") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("test_order"))
        .localCheckpoint(eager=False)  # train anti-join + test baskets
    )
    trainord = orders.join(
        lastord.select(F.col("test_order").alias("o_orderkey")),
        "o_orderkey",
        "left_anti",
    ).select("o_orderkey")
    pop = (
        li.join(
            trainord.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("l_partkey"))
        .limit(10)
    )
    pop = pop.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.desc("n_orders"), F.asc("l_partkey"))
        ),
    ).select("l_partkey", "rk")
    testparts = lastord.join(
        li.select(
            F.col("l_orderkey").alias("test_order"), "l_partkey"
        ),
        "test_order",
    )
    custhit = (
        testparts.join(F.broadcast(pop), "l_partkey", "left")
        .groupBy("o_custkey")
        .agg(F.min("rk").alias("min_rk"))
    )
    hits = lambda k: fround(
        F.sum(F.when(F.col("min_rk") <= k, 1).otherwise(0))
        * 1.0
        / F.count(F.lit(1)),
        6,
    )
    return custhit.agg(
        F.count(F.lit(1)).alias("n_customers"),
        hits(1).alias("hit_rate_1"),
        hits(3).alias("hit_rate_3"),
        hits(10).alias("hit_rate_10"),
    )


@query(
    "q266_customer_feature_assembly",
    tags=("ml", "feature-engineering", "feature-store"),
    oracle="""
WITH horizon AS (
  SELECT max(CAST(o_orderdate AS DATE)) AS end_d FROM orders
), ofeat AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(any_value(h.end_d) - max(CAST(o_orderdate AS DATE))
              AS BIGINT) AS recency_days,
         CAST(max(CAST(o_orderdate AS DATE))
              - min(CAST(o_orderdate AS DATE)) AS BIGINT) AS tenure_days,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM orders CROSS JOIN horizon h
  GROUP BY o_custkey
), lfeat AS (
  SELECT o.o_custkey,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_parts,
         CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_returned
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_custkey
)
SELECT f.o_custkey,
       f.n_orders, f.recency_days, f.tenure_days, f.total_cents,
       round(f.total_cents * 1.0 / (100.0 * f.n_orders) + 1e-9, 2)
         AS mean_order_value,
       CASE WHEN f.n_orders > 1
            THEN round(f.tenure_days * 1.0 / (f.n_orders - 1) + 1e-9, 4)
            ELSE NULL END AS mean_interorder_days,
       l.n_items, l.n_parts, l.n_suppliers,
       round(l.n_returned * 1.0 / l.n_items + 1e-9, 6) AS return_share,
       round(l.n_parts * 1.0 / l.n_items + 1e-9, 6) AS part_diversity,
       f.recency_days <= 90 AS active_last_quarter
FROM ofeat f JOIN lfeat l ON f.o_custkey = l.o_custkey
""",
)
def q266_customer_feature_assembly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer feature-store materialization: one row per customer
    assembling RFM-style order features (recency, tenure, value,
    inter-order cadence) with basket-grain behavior features (item
    volume, part/supplier diversity, return share) and a churn-label
    candidate (active_last_quarter) — the canonical wide-table
    "assemble features at the entity grain from N source grains" job
    every training pipeline runs nightly (q217 buckets these; this is
    the raw feature surface a model trains on).

    Scale: one aggregate per source grain, both shuffled on the
    customer key, one equi-join at the entity grain, one broadcast
    horizon row — adding a feature source adds ONE aggregate + join,
    never a per-customer loop. Counts/cents are exact integers; every
    derived ratio is the exact-ratio class (rule 5); singleton-order
    customers yield NULL cadence identically on both sides.
    """
    orders = read_table(
        spark, sf_dir, "orders",
        ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"],
    )
    li = read_table(
        spark, sf_dir, "lineitem",
        ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"],
    )
    horizon = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("end_d")
    )
    d = F.to_date("o_orderdate")
    ofeat = (
        orders.crossJoin(F.broadcast(horizon))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.datediff(F.any_value("end_d"), F.max(d))
            .cast("bigint")
            .alias("recency_days"),
            F.datediff(F.max(d), F.min(d)).cast("bigint").alias(
                "tenure_days"
            ),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("total_cents"),
        )
    )
    lfeat = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == orders["o_orderkey"],
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("n_returned"),
        )
    )
    return ofeat.join(lfeat, "o_custkey").select(
        "o_custkey",
        "n_orders",
        "recency_days",
        "tenure_days",
        "total_cents",
        fround(
            F.col("total_cents") * 1.0 / (100.0 * F.col("n_orders")), 2
        ).alias("mean_order_value"),
        F.when(
            F.col("n_orders") > 1,
            fround(
                F.col("tenure_days") * 1.0 / (F.col("n_orders") - 1), 4
            ),
        ).otherwise(F.lit(None).cast("double")).alias(
            "mean_interorder_days"
        ),
        "n_items",
        "n_parts",
        "n_suppliers",
        fround(F.col("n_returned") * 1.0 / F.col("n_items"), 6).alias(
            "return_share"
        ),
        fround(F.col("n_parts") * 1.0 / F.col("n_items"), 6).alias(
            "part_diversity"
        ),
        (F.col("recency_days") <= 90).alias("active_last_quarter"),
    )


@query(
    "q270_deletion_impact_report",
    tags=("compliance", "audit", "report"),
    oracle=f"""
WITH sampled AS (
  SELECT c_custkey FROM customer
  WHERE {_hash16_sql("erase|", "c_custkey")} < 655
), ords AS (
  SELECT s.c_custkey, o.o_orderkey
  FROM sampled s LEFT JOIN orders o ON o.o_custkey = s.c_custkey
), items AS (
  SELECT o.c_custkey, count(l.l_orderkey) AS n_items
  FROM ords o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.c_custkey
), percust AS (
  SELECT o.c_custkey,
         CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
         CAST(any_value(i.n_items) AS BIGINT) AS n_items
  FROM ords o JOIN items i ON i.c_custkey = o.c_custkey
  GROUP BY o.c_custkey
)
SELECT CAST(count(*) AS BIGINT) AS n_customers_sampled,
       CAST(sum(n_orders) AS BIGINT) AS orders_affected,
       CAST(sum(n_items) AS BIGINT) AS lineitems_affected,
       round(avg(n_orders) + 1e-9, 6) AS mean_orders_per_customer,
       CAST(max(n_orders) AS BIGINT) AS max_orders,
       CAST(max(n_items) AS BIGINT) AS max_lineitems,
       CAST(sum(CASE WHEN n_orders = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS customers_with_no_data
FROM percust
""",
)
def q270_deletion_impact_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-be-forgotten impact sizing: for a deterministic ~1%
    customer sample (keyed hash — the q127 split, standing in for a
    real deletion-request batch), how many orders and line items a
    cascade delete would touch, with the per-customer tail (max) that
    decides whether the erasure job needs its own skew handling — the
    compliance pre-flight every GDPR/CCPA pipeline runs BEFORE
    rewriting data files, and the sizing input to q136's partition
    planner for the rewrite itself.

    Scale: the sample frame is customer-grain; cascades are two
    equi-joins counted per customer (no row ever materializes twice);
    customers with zero footprint are counted, not dropped (LEFT
    joins end to end). All outputs are exact integers except one
    exact-ratio mean.
    """
    from .splits import _hash16

    cust = read_table(spark, sf_dir, "customer", ["c_custkey"])
    orders = read_table(spark, sf_dir, "orders", ["o_orderkey", "o_custkey"])
    li = read_table(spark, sf_dir, "lineitem", ["l_orderkey"])
    sampled = cust.where(
        _hash16("erase|", F.col("c_custkey")) < 655
    ).select("c_custkey")
    ords = sampled.join(
        orders, sampled["c_custkey"] == orders["o_custkey"], "left"
    ).select("c_custkey", "o_orderkey")
    ords = ords.localCheckpoint(eager=False)  # order count + item cascade
    items = (
        ords.join(li, ords["o_orderkey"] == li["l_orderkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("l_orderkey").alias("n_items"))
    )
    percust = (
        ords.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .join(items, "c_custkey")
    )
    return percust.agg(
        F.count(F.lit(1)).alias("n_customers_sampled"),
        F.sum("n_orders").cast("bigint").alias("orders_affected"),
        F.sum("n_items").cast("bigint").alias("lineitems_affected"),
        fround(F.avg("n_orders"), 6).alias("mean_orders_per_customer"),
        F.max("n_orders").cast("bigint").alias("max_orders"),
        F.max("n_items").cast("bigint").alias("max_lineitems"),
        F.sum(F.when(F.col("n_orders") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("customers_with_no_data"),
    )


@query(
    "q284_token_budget_waterfill",
    tags=("llm-pipeline", "mixing", "optimization"),
    oracle="""
WITH srcs AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(sum(cap) AS BIGINT) AS total,
         CAST(floor(0.2 * sum(cap)) AS BIGINT) AS budget,
         CAST(count(*) AS BIGINT) AS m
  FROM srcs
), sorted AS MATERIALIZED (
  SELECT source, cap,
         row_number() OVER (ORDER BY cap, source) AS i,
         CAST(coalesce(sum(cap) OVER (
           ORDER BY cap, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS prefix,
         lag(cap) OVER (ORDER BY cap, source) AS prev_cap
  FROM srcs
), lvl AS (
  SELECT min((CAST(t.budget AS DOUBLE) - s.prefix) / (t.m - s.i + 1))
           AS lam
  FROM sorted s CROSS JOIN tot t
  WHERE (s.prev_cap IS NULL
         OR (CAST(t.budget AS DOUBLE) - s.prefix) / (t.m - s.i + 1)
            >= s.prev_cap)
    AND (CAST(t.budget AS DOUBLE) - s.prefix) / (t.m - s.i + 1) <= s.cap
)
SELECT s.source, s.cap,
       CAST(round(least(CAST(s.cap AS DOUBLE),
                        coalesce(l.lam, 1e18))) AS BIGINT)
         AS allocated_tokens,
       round(least(CAST(s.cap AS DOUBLE), coalesce(l.lam, 1e18))
             / s.cap + 1e-9, 6) AS utilization,
       least(CAST(s.cap AS DOUBLE), coalesce(l.lam, 1e18)) = s.cap
         AS saturated,
       round(coalesce(l.lam, 1e18) + 1e-9, 4) AS water_level
FROM sorted s CROSS JOIN lvl l
""",
)
def q284_token_budget_waterfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget waterfilling: allocate a 20%-of-corpus training
    budget across sources as evenly as the per-source caps allow —
    small feeds are taken whole (saturated), large feeds are clipped
    at a common water level λ with Σ min(cap, λ) = budget — the
    closed-form fair mixer that q208's temperature weighting
    approximates and a dataset-curation run executes as its sampling
    quota table.

    The level solves in closed form on the SORTED source frame
    (bounded by |sources|, never data-sized): for each prefix k,
    λ_k = (B − prefix_k)/(m − k), and exactly one k satisfies the
    bracketing condition when B < total — selected by filter, no
    iteration. Caps are exact integers; λ is an exact-integer-ratio
    double compared identically on both engines.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    srcs = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("cap")
    )
    srcs = srcs.localCheckpoint(eager=False)  # totals + sorted branches
    tot = srcs.agg(
        F.sum("cap").cast("bigint").alias("total"),
        F.floor(0.2 * F.sum("cap")).cast("bigint").alias("budget"),
        F.count(F.lit(1)).alias("m"),
    )
    wv = Window.orderBy("cap", "source")
    sorted_ = srcs.select(
        "source",
        "cap",
        F.row_number().over(wv).alias("i"),
        F.coalesce(
            F.sum("cap").over(
                wv.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("bigint").alias("prefix"),
        F.lag("cap").over(wv).alias("prev_cap"),
    ).localCheckpoint(eager=False)  # level + allocation branches
    lam_expr = (
        F.col("budget").cast("double") - F.col("prefix")
    ) / (F.col("m") - F.col("i") + 1)
    lvl = (
        sorted_.crossJoin(F.broadcast(tot))
        .where(
            (F.col("prev_cap").isNull() | (lam_expr >= F.col("prev_cap")))
            & (lam_expr <= F.col("cap"))
        )
        .agg(F.min(lam_expr).alias("lam"))
    )
    alloc = F.least(
        F.col("cap").cast("double"),
        F.coalesce(F.col("lam"), F.lit(1e18)),
    )
    return sorted_.crossJoin(F.broadcast(lvl)).select(
        "source",
        "cap",
        F.round(alloc).cast("bigint").alias("allocated_tokens"),
        fround(alloc / F.col("cap"), 6).alias("utilization"),
        (alloc == F.col("cap")).alias("saturated"),
        fround(F.coalesce(F.col("lam"), F.lit(1e18)), 4).alias(
            "water_level"
        ),
    )


@query(
    "q287_order_velocity_screen",
    tags=("fraud", "audit", "report"),
    oracle="""
WITH weekly AS (
  SELECT o_custkey,
         CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7
              AS BIGINT) AS wk,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
), percust AS MATERIALIZED (
  SELECT o_custkey,
         CAST(sum(n) AS BIGINT) AS n_orders,
         CAST(max(n) AS BIGINT) AS peak_week,
         CAST(max(wk) - min(wk) + 1 AS BIGINT) AS span_weeks
  FROM weekly GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, n_orders, peak_week, span_weeks,
         round(peak_week * 1.0 * span_weeks / n_orders + 1e-9, 6)
           AS velocity_ratio
  FROM percust
)
SELECT o_custkey, n_orders, peak_week, span_weeks, velocity_ratio,
       velocity_ratio >= 3.0 AND n_orders >= 5 AS flagged,
       CAST(row_number() OVER (
         ORDER BY velocity_ratio DESC, o_custkey
       ) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= 20
""",
)
def q287_order_velocity_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-velocity screen: each customer's peak WEEK of ordering
    against their own average weekly rate over their active span —
    velocity_ratio = peak · span / total, the burst statistic behind
    promo-abuse and account-takeover triage (a steady customer sits
    near 1–2; a burster spikes) — reported as a top-20 leaderboard on
    the ROUNDED ratio with a flag at the ≥3×-and-≥5-orders policy
    (q228 rule: the flag thresholds the rounded value).

    Scale: one (customer, week) aggregate reduced to the customer
    grain; the leaderboard is orderBy().limit(). Week indices are
    epoch-day integer division (q213 rule); the ratio is an exact
    integer ratio (rule 5).
    """
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders", ["o_custkey", "o_orderdate"])
    weekly = o.groupBy(
        "o_custkey",
        F.floor(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")) / 7
        ).cast("bigint").alias("wk"),
    ).agg(F.count(F.lit(1)).alias("n"))
    percust = weekly.groupBy("o_custkey").agg(
        F.sum("n").cast("bigint").alias("n_orders"),
        F.max("n").cast("bigint").alias("peak_week"),
        (F.max("wk") - F.min("wk") + 1).cast("bigint").alias(
            "span_weeks"
        ),
    )
    scored = percust.select(
        "*",
        fround(
            F.col("peak_week")
            * 1.0
            * F.col("span_weeks")
            / F.col("n_orders"),
            6,
        ).alias("velocity_ratio"),
    )
    top = scored.orderBy(
        F.desc("velocity_ratio"), F.asc("o_custkey")
    ).limit(20)
    return top.select(
        "o_custkey",
        "n_orders",
        "peak_week",
        "span_weeks",
        "velocity_ratio",
        (
            (F.col("velocity_ratio") >= 3.0) & (F.col("n_orders") >= 5)
        ).alias("flagged"),
        F.row_number()
        .over(Window.orderBy(F.desc("velocity_ratio"), F.asc("o_custkey")))
        .cast("bigint")
        .alias("rk"),
    )


@query(
    "q290_small_cell_suppression",
    tags=("privacy", "report", "compliance"),
    oracle="""
WITH cells AS MATERIALIZED (
  SELECT CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           AS month_idx,
         n.n_name AS nation,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
)
SELECT month_idx,
       CASE WHEN n_orders < 5 THEN 'OTHER' ELSE nation END AS nation,
       CAST(sum(n_orders) AS BIGINT) AS n_orders,
       round(CAST(sum(cents) AS BIGINT) / 100.0 + 1e-9, 2) AS revenue,
       CAST(sum(CASE WHEN n_orders < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppressed_cells
FROM cells
GROUP BY month_idx, CASE WHEN n_orders < 5 THEN 'OTHER' ELSE nation END
""",
)
def q290_small_cell_suppression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Small-cell suppression for published reports: the nation ×
    month order table with every cell under k = 5 re-labeled into a
    per-month OTHER bucket and re-aggregated — the disclosure-control
    step between q152's k-anonymity AUDIT and actually shipping a
    public dashboard (tiny cells re-identify customers; merging, not
    dropping, keeps the monthly totals exactly reconcilable with the
    unsuppressed books).

    Scale: one fact pass with two broadcast dimension joins to the
    cell grain; suppression is a relabel + second aggregate on the
    bounded (month, nation) frame. Counts and cents stay exact
    integers through both aggregations (rule 5 on the one division).
    """
    o = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderdate", "o_totalprice"]
    )
    c = read_table(spark, sf_dir, "customer", ["c_custkey", "c_nationkey"])
    n = read_table(spark, sf_dir, "nation", ["n_nationkey", "n_name"])
    cells = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("month_idx"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents"),
        )
    )
    label = F.when(F.col("n_orders") < 5, "OTHER").otherwise(
        F.col("nation")
    )
    return (
        cells.groupBy("month_idx", label.alias("nation"))
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            fround(F.sum("cents") / 100.0, 2).alias("revenue"),
            F.sum(F.when(F.col("n_orders") < 5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_suppressed_cells"),
        )
    )


@query(
    "q297_new_vs_returning_revenue",
    tags=("report", "growth", "finance"),
    oracle="""
WITH firstmo AS (
  SELECT o_custkey,
         CAST(min(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT)
           AS first_m
  FROM orders GROUP BY o_custkey
), labeled AS MATERIALIZED (
  SELECT CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           AS month_idx,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
           = f.first_m AS is_new
  FROM orders o JOIN firstmo f ON f.o_custkey = o.o_custkey
)
SELECT month_idx,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(CASE WHEN is_new THEN cents ELSE 0 END) / 100.0
             + 1e-9, 2) AS new_revenue,
       round(sum(CASE WHEN is_new THEN 0 ELSE cents END) / 100.0
             + 1e-9, 2) AS returning_revenue,
       round(CAST(sum(CASE WHEN is_new THEN cents ELSE 0 END) AS BIGINT)
             * 1.0 / CAST(sum(cents) AS BIGINT) + 1e-9, 6)
         AS new_revenue_share
FROM labeled
GROUP BY month_idx
""",
)
def q297_new_vs_returning_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """New-versus-returning REVENUE split by month: every order
    labeled by whether its month is the customer's FIRST — the
    revenue-quality complement to q233's growth accounting (q233
    counts heads; this weighs wallets — a month can add users while
    returning revenue quietly erodes). Month indices are integers
    (q233 rule, never month names).

    Scale: one customer-grain first-month aggregate joined back to
    orders (shuffle on the customer key), then a month-grain
    conditional sum. Cents exact; the share is an exact integer ratio
    (rule 5) with the HUGEINT casts (footgun 8).
    """
    o = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderdate", "o_totalprice"]
    )
    midx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast(
        "bigint"
    )
    firstmo = o.groupBy("o_custkey").agg(F.min(midx).alias("first_m"))
    labeled = o.join(firstmo, "o_custkey").select(
        midx.alias("month_idx"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (midx == F.col("first_m")).alias("is_new"),
    )
    new_c = F.sum(F.when(F.col("is_new"), F.col("cents")).otherwise(0))
    ret_c = F.sum(F.when(F.col("is_new"), 0).otherwise(F.col("cents")))
    return labeled.groupBy("month_idx").agg(
        F.count(F.lit(1)).alias("n_orders"),
        fround(new_c / 100.0, 2).alias("new_revenue"),
        fround(ret_c / 100.0, 2).alias("returning_revenue"),
        fround(
            new_c.cast("bigint") * 1.0 / F.sum("cents").cast("bigint"), 6
        ).alias("new_revenue_share"),
    )


@query(
    "q308_first_order_ltv_signal",
    tags=("growth", "statistics", "ml"),
    oracle="""
WITH ranked AS (
  SELECT o_custkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
         ) AS rn
  FROM orders
), percust AS MATERIALIZED (
  SELECT o_custkey,
         CAST(min(CASE WHEN rn = 1 THEN cents END) AS BIGINT)
           AS first_cents,
         CAST(sum(cents) AS BIGINT) AS ltv_cents,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM ranked GROUP BY o_custkey
), rq AS (
  SELECT first_cents AS v, CAST(count(*) AS BIGINT) AS c
  FROM percust GROUP BY first_cents
), rq2 AS (
  SELECT v,
         CAST(2 * coalesce(sum(c) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) + c + 1 AS BIGINT) AS r2
  FROM rq
), rl AS (
  SELECT ltv_cents AS v, CAST(count(*) AS BIGINT) AS c
  FROM percust GROUP BY ltv_cents
), rl2 AS (
  SELECT v,
         CAST(2 * coalesce(sum(c) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) + c + 1 AS BIGINT) AS r2
  FROM rl
), rr AS (
  SELECT p.o_custkey, a.r2 AS ra, b.r2 AS rb
  FROM percust p
  JOIN rq2 a ON a.v = p.first_cents
  JOIN rl2 b ON b.v = p.ltv_cents
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ra) AS BIGINT) AS sa,
         CAST(sum(rb) AS BIGINT) AS sb,
         CAST(sum(ra * rb) AS BIGINT) AS sab,
         CAST(sum(ra * ra) AS BIGINT) AS saa,
         CAST(sum(rb * rb) AS BIGINT) AS sbb
  FROM rr
)
SELECT n AS n_customers,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                    - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) <= 0
            THEN NULL
            ELSE round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                        - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                       / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                 - CAST(sb AS DOUBLE)
                                   * CAST(sb AS DOUBLE)))
                       + 1e-9, 6) + 0 END AS spearman_rho
FROM sums
""",
)
def q308_first_order_ltv_signal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does the FIRST order predict lifetime value? Spearman rank
    correlation between each customer's first-order amount and their
    total LTV — the acquisition-quality signal that decides whether
    first-purchase size belongs in the q266 feature table and whether
    high-first-order cohorts deserve different onboarding spend
    (monotone-only association: big-spenders-stay-big is an ordering
    claim, not a linear one — the q283 discipline on a new domain,
    via the shared operators/stats.py::spearman_rho).

    Scale: one per-customer window (first order) + aggregate, then
    the histogram-rank machinery on integer cents — exact BIGINT rank
    sums end to end.
    """
    from pyspark.sql import Window

    from ...operators.stats import spearman_rho

    o = read_table(
        spark, sf_dir, "orders",
        ["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"],
    )
    wc = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    ranked = o.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.row_number().over(wc).alias("rn"),
    )
    percust = ranked.groupBy("o_custkey").agg(
        F.min(F.when(F.col("rn") == 1, F.col("cents")))
        .cast("bigint")
        .alias("first_cents"),
        F.sum("cents").cast("bigint").alias("ltv_cents"),
    )
    return spearman_rho(percust, "first_cents", "ltv_cents").select(
        F.col("n").alias("n_customers"), "spearman_rho"
    )


@query(
    "q311_order_consolidation",
    tags=("logistics", "report", "optimization"),
    oracle="""
WITH ords AS (
  SELECT o_custkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS d,
         o_orderkey
  FROM orders
), flagged AS (
  SELECT o_custkey, d, o_orderkey,
         CASE WHEN d - lag(d) OVER w <= 7 THEN 0 ELSE 1 END AS brk
  FROM ords
  WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)
), grp AS (
  SELECT o_custkey,
         CAST(sum(brk) OVER (
           PARTITION BY o_custkey ORDER BY d, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS grp_id
  FROM flagged
), groups AS MATERIALIZED (
  SELECT o_custkey, grp_id, CAST(count(*) AS BIGINT) AS n_orders
  FROM grp GROUP BY o_custkey, grp_id
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n_orders) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS consolidatable_groups,
       CAST(sum(CASE WHEN n_orders >= 2 THEN n_orders - 1 ELSE 0 END)
            AS BIGINT) AS shipments_saved,
       round(sum(CASE WHEN n_orders >= 2 THEN n_orders - 1 ELSE 0 END)
             * 1.0 / sum(n_orders) + 1e-9, 6) AS shipment_reduction
FROM groups
""",
)
def q311_order_consolidation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-consolidation opportunity: chains of a customer's orders
    with ≤ 7 days between consecutive orders (gaps-and-islands on
    integer day numbers) could have shipped together — the logistics
    sizing that prices a "hold and combine" policy (shipments saved =
    Σ(chain − 1)), the operations cousin of q287's velocity screen
    (same bursts, opposite verdict: there they're suspicious, here
    they're savings).

    Scale: one customer-partitioned island pass; the census runs on
    the chain grain. Integer day arithmetic; the reduction share is
    an exact ratio (rule 5).
    """
    from pyspark.sql import Window

    o = read_table(
        spark, sf_dir, "orders", ["o_custkey", "o_orderkey", "o_orderdate"]
    )
    ords = o.select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
            "d"
        ),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    flagged = ords.withColumn(
        "brk",
        F.when(F.col("d") - F.lag("d").over(w) <= 7, 0).otherwise(1),
    )
    grp = flagged.withColumn(
        "grp_id",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    groups = grp.groupBy("o_custkey", "grp_id").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    saved = F.sum(
        F.when(F.col("n_orders") >= 2, F.col("n_orders") - 1).otherwise(0)
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("consolidatable_groups"),
        saved.cast("bigint").alias("shipments_saved"),
        fround(saved * 1.0 / F.sum("n_orders"), 6).alias(
            "shipment_reduction"
        ),
    )


def _hilbert_oracle() -> str:
    from ...operators.layout import hilbert_steps_sql

    steps = hilbert_steps_sql("z", "qx, qy, natchunk, zv", bits=8)
    return f"""{_layout_keys_sql()},
{steps},
chunks AS (
  SELECT 'hilbert' AS layout, hd >> 6 AS chunk, qx, qy FROM hstep8
  UNION ALL
  SELECT 'zorder', zv >> 6, qx, qy FROM hstep8
  UNION ALL
  SELECT 'natural', natchunk, qx, qy FROM hstep8
), {_LAYOUT_SPANS_SQL}"""


@query(
    "q327_hilbert_layout_audit",
    tags=("layout", "lakehouse", "pruning"),
    oracle=_hilbert_oracle(),
)
def q327_hilbert_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering audit — q126 extended with the curve
    Delta Lake liquid clustering actually uses: the Hilbert index
    visits every cell of the 256×256 quantized (partkey, suppkey)
    grid through unit steps (no Z-curve diagonal jumps), so
    fixed-width chunks carved from it have provably tighter per-file
    min/max rectangles. The three output rows (hilbert / zorder /
    natural) put numbers on that hierarchy for THIS table — the
    evidence behind choosing a clustering curve before a 100 TB
    rewrite.

    The xy→d transform is 8 unrolled rotation steps of pure integer
    CASE arithmetic, each BOUND in its own projection on both engines
    (operators/layout.py::with_hilbert_value / hilbert_steps_sql —
    symbolic composition would grow the expression ~4× per step; the
    bind-in-projection rule). Everything downstream is the q126
    machinery: integer quantization, integer chunk ids, dyadic span
    fractions — no float path at all until the final averages.
    """
    from ...operators.layout import with_hilbert_value

    li = read_table(
        spark, sf_dir, "lineitem", ["l_partkey", "l_suppkey", "l_orderkey"]
    )
    # r13 optimization (guide §2.5): the 8 unrolled Hilbert rotation
    # steps are heavy per-row integer CASE chains — spread the compact
    # 3-column frame when the layout cannot split the scan (no-op at
    # scale); the one-row stats aggregate reads the unspread scan.
    spread_li = parallelize_scan(spark, li, sf_dir, "lineitem")
    z = _layout_keys(li, spread_li)
    h = with_hilbert_value(z, "qx", "qy", bits=8, out="hv")
    chunks = h.select(
        "qx",
        "qy",
        F.expr(
            "stack(3, 'hilbert', hv >> 6, 'zorder', zv >> 6,"
            " 'natural', natchunk) as (layout, chunk)"
        ),
    )
    return _layout_spans(chunks)


@query(
    "q340_wasserstein_source_drift",
    tags=("audit", "drift", "statistics"),
    oracle="""
WITH cnt AS (
  SELECT source, n_chars AS x, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY source, n_chars
), gcnt AS (
  SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY n_chars
), sup AS (
  SELECT x,
         coalesce(lead(x) OVER (ORDER BY x) - x, 0) AS gap,
         CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_g
  FROM gcnt
), tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(n_chars) AS BIGINT) AS ts
  FROM documents GROUP BY source
), gtot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS t
  FROM documents
), grid AS (
  SELECT tt.source, tt.ns, tt.ts, s.x, s.gap, s.cum_g,
         coalesce(c.c, 0) AS c
  FROM tot tt CROSS JOIN sup s
  LEFT JOIN cnt c ON c.source = tt.source AND c.x = s.x
), cum AS (
  SELECT source, ns, ts, x, gap, cum_g,
         CAST(sum(c) OVER (PARTITION BY source ORDER BY x
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s
  FROM grid
)
SELECT cu.source, cu.ns AS n_docs,
       round(CAST(sum(abs(cum_s * (n - ns) - (cum_g - cum_s) * ns)
                      * gap) AS DOUBLE)
             / (ns * (n - ns)) + 1e-9, 6) AS w1_chars,
       round(CAST(ts AS DOUBLE) / ns
             - CAST(t - ts AS DOUBLE) / (n - ns) + 1e-9, 4) + 0
         AS mean_shift_chars
FROM cum cu CROSS JOIN gtot
WHERE cu.ns < n
GROUP BY cu.source, cu.ns, cu.ts, n, t
""",
)
def q340_wasserstein_source_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1-Wasserstein (earth-mover) distance between each source's
    document-length distribution and the pooled distribution of every
    OTHER source — the integral drift metric next to q165's KS
    supremum: KS sees the single worst CDF gap, W1 integrates |F_s −
    F_rest| over the support, so a source whose lengths shifted a
    little EVERYWHERE scores high here while staying invisible to KS
    (and vice versa for one sharp truncation point).

    Exactness: on a discrete support, W1 = Σ |F_s(x) − F_rest(x)| ·
    gap(x). With integer counts both CDFs are rationals over
    n_s·n_rest, so the whole integral is ONE exact BIGINT sum,
    Σ |cum_s·n_rest − cum_rest·n_s| · gap, divided once at the end
    (each term ≤ n_s·n_rest·gap; the sum telescopes to ≤
    n_s·n_rest·range ≈ 1e17 at sf10 — no overflow). The complement
    CDF needs no second scan: cum_rest = cum_g − cum_s. The
    mean-shift column can round to zero from below, hence the q110
    sign-of-zero ``+ 0`` guard on both engines.

    Scale: everything past the two groupBys lives on the
    (source × distinct-length) grid — domain-sized, not corpus-sized;
    the one unpartitioned window is the support histogram (bounded by
    the distinct length count), the same funnel q165 uses. A source
    that IS the whole corpus (ns == n) has no complement distribution
    — both sides drop that row (ns < n) rather than divide by zero,
    where Spark would yield NULL but DuckDB raises/infs divergently.
    """
    docs = read_table(spark, sf_dir, "documents", ["source", "n_chars"])
    cnt = docs.groupBy("source", F.col("n_chars").alias("x")).agg(
        F.count(F.lit(1)).alias("c")
    )
    gcnt = (
        docs.groupBy(F.col("n_chars").alias("x"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # support + global-CDF branches
    )
    w_g = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sup = gcnt.select(
        "x",
        F.coalesce(
            F.lead("x").over(Window.orderBy("x")) - F.col("x"), F.lit(0)
        ).alias("gap"),
        F.sum("c").over(w_g).cast("bigint").alias("cum_g"),
    )
    tot = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum("n_chars").cast("bigint").alias("ts"),
    )
    gtot = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("t"),
    )
    grid = (
        tot.crossJoin(F.broadcast(sup))
        .join(cnt, ["source", "x"], "left")
        .select(
            "source", "ns", "ts", "x", "gap", "cum_g",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w_s = (
        Window.partitionBy("source")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "source", "ns", "ts", "x", "gap", "cum_g",
        F.sum("c").over(w_s).cast("bigint").alias("cum_s"),
    )
    n, ns = F.col("n"), F.col("ns")
    return (
        cum.crossJoin(F.broadcast(gtot))
        .groupBy("source", "ns", "ts", "n", "t")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_s") * (n - ns)
                    - (F.col("cum_g") - F.col("cum_s")) * ns
                )
                * F.col("gap")
            ).alias("s1")
        )
        .where(ns < n)  # single-source corpus: no complement to compare
        .select(
            "source",
            ns.alias("n_docs"),
            fround(
                F.col("s1").cast("double") / (ns * (n - ns)), 6
            ).alias("w1_chars"),
            (
                fround(
                    F.col("ts").cast("double") / ns
                    - (F.col("t") - F.col("ts")).cast("double") / (n - ns),
                    4,
                )
                + F.lit(0)
            ).alias("mean_shift_chars"),
        )
    )


_Q346_SIM_SUMS = ",\n    ".join(
    "sum((CAST(floor((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"
    " / {div}) AS BIGINT) % 2) * 2 - 1) AS s{b}".format(
        pos=b // 4 + 1, div=2 ** (b % 4), b=b
    )
    for b in range(16)
)
_Q346_SIM_FP = " + ".join(
    f"(CASE WHEN s{b} >= 0 THEN {2 ** b} ELSE 0 END)" for b in range(16)
)


@query(
    "q346_neardup_evidence_pairs",
    tags=("dedup", "lsh", "simhash"),
    oracle=f"""
WITH {MINHASH_LSH}, cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM grams GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, c.n_shared_bands,
         CAST(count(*) AS BIGINT) AS n_shared_shingles
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.sh = ga.sh
  GROUP BY c.doc_a, c.doc_b, c.n_shared_bands
), tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), bits AS (
  SELECT doc_id, md5(tok) AS h FROM tok
), sums AS (
  SELECT doc_id,
    {_Q346_SIM_SUMS}
  FROM bits GROUP BY doc_id
), sim AS (
  SELECT doc_id, CAST({_Q346_SIM_FP} AS BIGINT) AS simhash FROM sums
)
SELECT i.doc_a, i.doc_b, i.n_shared_bands, i.n_shared_shingles,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT)
         AS simhash_hamming,
       round(i.n_shared_shingles
             / (za.n_sh + zb.n_sh - i.n_shared_shingles) + 1e-9, 6)
         AS jaccard,
       bit_count(xor(sa.simhash, sb.simhash)) <= 3 AS simhash_close,
       i.n_shared_shingles * 2
         >= (za.n_sh + zb.n_sh - i.n_shared_shingles) AS jaccard_half
FROM inter i
JOIN sim sa ON sa.doc_id = i.doc_a
JOIN sim sb ON sb.doc_id = i.doc_b
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
""",
)
def q346_neardup_evidence_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-evidence near-duplicate verification: every MinHash-LSH
    candidate pair (4 bands x 2 rows, the q32 generator) scored by the
    TWO independent verifiers a curation pipeline cross-checks before
    dropping a document — 16-bit SimHash Hamming distance and exact
    distinct-3-gram-shingle Jaccard — plus the per-verifier verdicts
    (Hamming <= 3; Jaccard >= 1/2). Disagreement rows are the audit
    queue: band collisions with low Jaccard are LSH false positives,
    low Hamming with low Jaccard are SimHash's short-text blind spot.

    The shingle-intersection inner join is total on the candidate set:
    equal band buckets mean equal min-hash values, and an equal min
    over md5-seeded shingle hashes implies the argmin SHINGLE is
    common to both sets (md5 collisions aside) — so every candidate
    shares >= 1 shingle and no pair drops.

    Exactness: shared-band/shingle counts and Hamming distances are
    exact integers; the Jaccard threshold is the cross-multiplied
    integer inequality 2*inter >= union (q256 pattern — no float in
    the verdict at all); the reported Jaccard is an integer-count
    ratio (rule 5), rounded anyway. DuckDB's ``^`` is POWER, so the
    oracle spells bitwise XOR as ``xor()``; its bit_count returns
    TINYINT-class ints, CAST to BIGINT (rule 8).

    Scale: pair universe is LSH-bucket-bounded — here run UNCAPPED so
    the oracle's pair set matches exactly; at production scale pass
    ``max_bucket_size`` to lsh_candidate_pairs to cap hot-bucket skew
    (at the cost of dropping pairs inside oversize buckets). The
    verification runs through the shared ``exact_jaccard_pairs``
    (candidate fan-out by per-doc shingle count, never all-pairs).
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    cand = minhash_lsh_pairs(docs)
    pj = exact_jaccard_pairs(
        docs, cand, shingle_n=3, extra_keys=("n_shared_bands",)
    )
    sim = simhash(docs, bits=16)
    ham = F.expr("simhash_a ^ simhash_b")
    return (
        pj.join(
            sim.select(
                F.col("doc_id").alias("doc_a"),
                F.col("simhash").alias("simhash_a"),
            ),
            "doc_a",
        )
        .join(
            sim.select(
                F.col("doc_id").alias("doc_b"),
                F.col("simhash").alias("simhash_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            F.col("i").alias("n_shared_shingles"),
            F.bit_count(ham).cast("bigint").alias("simhash_hamming"),
            fround(F.col("i") / F.col("u"), 6).alias("jaccard"),
            (F.bit_count(ham) <= 3).alias("simhash_close"),
            (F.col("i") * 2 >= F.col("u")).alias("jaccard_half"),
        )
    )


@query(
    "q355_ot_transport_plan",
    tags=("statistics", "drift", "audit"),
    oracle="""
WITH a AS (
  SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS c
  FROM documents WHERE source = 'src0' GROUP BY 1
), b AS (
  SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS c
  FROM documents WHERE source = 'src1' GROUP BY 1
), ta AS (SELECT CAST(sum(c) AS BIGINT) AS na FROM a),
tb AS (SELECT CAST(sum(c) AS BIGINT) AS nb FROM b),
ca AS (
  SELECT x, CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM a
), cb AS (
  SELECT x, CAST(sum(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM b
), u AS (
  SELECT ca.cum * nb AS s, 0 AS side, x,
         x AS ax, CAST(NULL AS BIGINT) AS bx
  FROM ca CROSS JOIN tb
  UNION ALL
  SELECT cb.cum * na, 1, x, CAST(NULL AS BIGINT), x
  FROM cb CROSS JOIN ta
), seg AS (
  SELECT
    first_value(ax IGNORE NULLS) OVER w AS from_len,
    first_value(bx IGNORE NULLS) OVER w AS to_len,
    s - coalesce(lag(s) OVER (ORDER BY s, side, x), 0) AS mass_i
  FROM u
  WINDOW w AS (ORDER BY s, side, x
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT from_len, to_len,
       CAST(sum(mass_i) AS BIGINT) AS mass_units,
       round(CAST(sum(mass_i) AS BIGINT)
             / CAST(na * nb AS DOUBLE) + 1e-9, 8) AS mass,
       round(CAST(abs(from_len - to_len) * sum(mass_i) AS BIGINT)
             / CAST(na * nb AS DOUBLE) + 1e-9, 6) AS cost_contrib
FROM seg CROSS JOIN ta CROSS JOIN tb
GROUP BY from_len, to_len, na, nb
HAVING CAST(sum(mass_i) AS BIGINT) > 0
""",
)
def q355_ot_transport_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D optimal-transport PLAN between the src0 and src1
    document-length distributions — not just the W1 distance (q340)
    but the monotone coupling itself: which length bins must send how
    much mass where to turn one distribution into the other. The
    actionable form of a drift report: "src1 is src0 with ~x% of the
    300-char mass moved to 450+" is a resampling recipe, a number like
    W1=12.3 is not.

    The exact trick: in 1-D the optimal coupling is the monotone one,
    and on discrete support it is COMPUTABLE BY A MERGE — scale both
    CDFs to the common integer mass grid M = n_a*n_b (cum_a*n_b vs
    cum_b*n_a, exact BIGINTs — no rational rounding anywhere), take
    the sorted union of breakpoints, and every inter-breakpoint
    segment belongs to exactly one (from,to) pair: the next A-value
    and next B-value at-or-after the breakpoint (first_value IGNORE
    NULLS over the forward frame, on both engines). Segment masses
    are integer diffs; the plan aggregates them per pair and divides
    by M once (rule 5). Σ cost_contrib reproduces W1 exactly.

    Scale: the corpus-sized work is two filtered groupBys; the merge
    lives on the bounded (|support_a| + |support_b|)-row frame — the
    q340/q165 domain-grid funnel, where the unpartitioned windows are
    by design.
    """
    docs = read_table(spark, sf_dir, "documents", ["source", "n_chars"])
    a = (
        docs.where(F.col("source") == "src0")
        .groupBy(F.col("n_chars").alias("x"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    b = (
        docs.where(F.col("source") == "src1")
        .groupBy(F.col("n_chars").alias("x"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w_cum = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ca = a.select("x", F.sum("c").over(w_cum).cast("bigint").alias("cum"))
    cb = b.select("x", F.sum("c").over(w_cum).cast("bigint").alias("cum"))
    ta = a.agg(F.sum("c").cast("bigint").alias("na"))
    tb = b.agg(F.sum("c").cast("bigint").alias("nb"))
    u = (
        ca.crossJoin(F.broadcast(tb))
        .select(
            (F.col("cum") * F.col("nb")).alias("s"),
            F.lit(0).alias("side"),
            "x",
            F.col("x").alias("ax"),
            F.lit(None).cast("bigint").alias("bx"),
        )
        .unionAll(
            cb.crossJoin(F.broadcast(ta)).select(
                (F.col("cum") * F.col("na")).alias("s"),
                F.lit(1).alias("side"),
                "x",
                F.lit(None).cast("bigint").alias("ax"),
                F.col("x").alias("bx"),
            )
        )
    )
    w_ord = Window.orderBy("s", "side", "x")
    w_fwd = w_ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    seg = u.select(
        F.first("ax", ignorenulls=True).over(w_fwd).alias("from_len"),
        F.first("bx", ignorenulls=True).over(w_fwd).alias("to_len"),
        (
            F.col("s") - F.coalesce(F.lag("s").over(w_ord), F.lit(0))
        ).alias("mass_i"),
    )
    m = (F.col("na") * F.col("nb")).cast("double")
    return (
        seg.groupBy("from_len", "to_len")
        .agg(F.sum("mass_i").cast("bigint").alias("mass_units"))
        .where(F.col("mass_units") > 0)
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            "from_len", "to_len", "mass_units",
            fround(F.col("mass_units") / m, 8).alias("mass"),
            fround(
                (
                    F.abs(F.col("from_len") - F.col("to_len"))
                    * F.col("mass_units")
                ).cast("bigint")
                / m,
                6,
            ).alias("cost_contrib"),
        )
    )


#: Oracle CTEs: shingles per document and the exact shingle
#: intersection ``i`` and union ``u`` of every candidate pair in
#: ``cand`` — ``operators.dedup.exact_jaccard_pairs``.
_CAND_JACCARD_CTES = """sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM grams GROUP BY doc_id
), pj AS (
  SELECT c.doc_a, c.doc_b,
         CAST(count(*) AS BIGINT) AS i,
         za.n_sh + zb.n_sh - CAST(count(*) AS BIGINT) AS u
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.sh = ga.sh
  JOIN sizes za ON za.doc_id = c.doc_a
  JOIN sizes zb ON zb.doc_id = c.doc_b
  GROUP BY c.doc_a, c.doc_b, za.n_sh, zb.n_sh
)"""


@query(
    "q356_triangle_bound_audit",
    tags=("dedup", "lsh", "audit"),
    oracle=f"""
WITH {MINHASH_LSH}, {LSH_CANDIDATES}, {_CAND_JACCARD_CTES}, sym AS (
  SELECT doc_a AS x, doc_b AS m, i, u FROM pj
  UNION ALL SELECT doc_b, doc_a, i, u FROM pj
), wedge AS (
  SELECT p.x AS a, p.m AS mid, q.x AS c,
         p.i AS i1, p.u AS u1, q.i AS i2, q.u AS u2,
         p.i * q.u + q.i * p.u - p.u * q.u AS bnum,
         p.u * q.u AS bden
  FROM sym p JOIN sym q ON p.m = q.m AND p.x < q.x
  WHERE p.i * q.u + q.i * p.u - p.u * q.u > 0
), scored AS (
  SELECT w.a, w.c, w.bnum, w.bden,
         (10 * w.bnum) // w.bden AS bucket,
         o.i AS i3, o.u AS u3
  FROM wedge w LEFT JOIN pj o ON o.doc_a = w.a AND o.doc_b = w.c
)
SELECT CAST(bucket AS BIGINT) AS bound_decile,
       CAST(count(*) AS BIGINT) AS n_wedges,
       CAST(count(DISTINCT (a, c)) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT CASE WHEN i3 IS NOT NULL THEN (a, c) END)
            AS BIGINT) AS n_observed_pairs,
       CAST(count(DISTINCT CASE WHEN i3 IS NULL THEN (a, c) END)
            AS BIGINT) AS n_proven_missing_pairs,
       CAST(sum(CASE WHEN i3 IS NOT NULL
                      AND i3 * bden < u3 * bnum THEN 1 ELSE 0 END)
            AS BIGINT) AS n_metric_violations
FROM scored
GROUP BY bucket
""",
)
def q356_triangle_bound_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provable-recall audit of the LSH candidate generator via the
    Jaccard triangle inequality — NO ground truth needed: Jaccard
    distance is a metric (Steinhaus), so two observed similarities
    J(a,m) and J(m,c) force J(a,c) >= J(a,m) + J(m,c) - 1. Every
    wedge whose bound is positive but whose (a,c) pair the LSH stage
    never produced is a PROVEN missed near-duplicate (its similarity
    is mathematically at least bnum/bden > 0), and the audit reports
    them by bound decile — the high-decile rows are recall holes no
    sampling argument can explain away. n_metric_violations counts
    observed pairs below their own bound: structurally impossible for
    true Jaccard, so any nonzero value is a tripwire on the shingle /
    intersection machinery itself (the q28-style self-certifying
    column).

    Exactness: similarities stay INTEGER FRACTIONS (i/u) end to end —
    the bound positivity (i1*u2 + i2*u1 - u1*u2 > 0), the decile
    ((10*bnum) // bden), and the violation test (i3*bden < u3*bnum)
    are all exact BIGINT cross-multiplications; there is NO float
    column in the whole query. Products stay under ~1e15 for shingle
    sets up to 1e5 (u <= n_sh_a + n_sh_b).

    Scale: wedges come from a per-middle-node self-join of the
    LSH-bounded candidate list (the q248 wedge machinery — bounded by
    candidate degree, never corpus-quadratic); verification runs
    through the shared ``exact_jaccard_pairs`` like q346/q364. The pj
    frame feeds the wedge join twice plus the observation lookup, so
    lineage is truncated.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"], spread=True)
    cand = minhash_lsh_pairs(docs).select("doc_a", "doc_b").distinct()
    pj = exact_jaccard_pairs(docs, cand, shingle_n=3).localCheckpoint(
        eager=False
    )  # two wedge sides + obs lookup
    sym = pj.select(
        F.col("doc_a").alias("x"), F.col("doc_b").alias("m"), "i", "u"
    ).unionAll(
        pj.select(
            F.col("doc_b").alias("x"), F.col("doc_a").alias("m"), "i", "u"
        )
    )
    p = sym.select(
        F.col("x").alias("a"), F.col("m").alias("mid"),
        F.col("i").alias("i1"), F.col("u").alias("u1"),
    )
    q = sym.select(
        F.col("x").alias("c"), F.col("m").alias("mid"),
        F.col("i").alias("i2"), F.col("u").alias("u2"),
    )
    bnum = (
        F.col("i1") * F.col("u2")
        + F.col("i2") * F.col("u1")
        - F.col("u1") * F.col("u2")
    )
    wedge = (
        p.join(q, "mid")
        .where(F.col("a") < F.col("c"))
        .select(
            "a", "c",
            bnum.alias("bnum"),
            (F.col("u1") * F.col("u2")).alias("bden"),
        )
        .where(F.col("bnum") > 0)
    )
    scored = wedge.join(
        pj.select(
            F.col("doc_a").alias("a"),
            F.col("doc_b").alias("c"),
            F.col("i").alias("i3"),
            F.col("u").alias("u3"),
        ),
        ["a", "c"],
        "left",
    ).select(
        "a", "c", "bnum", "bden", "i3", "u3",
        F.expr("(10 * bnum) DIV bden").alias("bucket"),
    )
    return scored.groupBy(
        F.col("bucket").cast("bigint").alias("bound_decile")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_wedges"),
        F.countDistinct("a", "c").cast("bigint").alias("n_pairs"),
        F.countDistinct(
            F.when(F.col("i3").isNotNull(), F.struct("a", "c"))
        ).cast("bigint").alias("n_observed_pairs"),
        F.countDistinct(
            F.when(F.col("i3").isNull(), F.struct("a", "c"))
        ).cast("bigint").alias("n_proven_missing_pairs"),
        F.sum(
            F.when(
                F.col("i3").isNotNull()
                & (F.col("i3") * F.col("bden") < F.col("u3") * F.col("bnum")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_metric_violations"),
    )


@query(
    "q364_hard_negative_mining",
    tags=("llm-pipeline", "similarity", "lsh"),
    oracle=f"""
WITH {MINHASH_LSH}, {LSH_CANDIDATES}, {_CAND_JACCARD_CTES}, sym AS (
  SELECT doc_a AS anchor, doc_b AS partner, i, u FROM pj WHERE 2 * i < u
  UNION ALL
  SELECT doc_b, doc_a, i, u FROM pj WHERE 2 * i < u
), ranked AS (
  SELECT anchor, partner, i, u,
         row_number() OVER (
           PARTITION BY anchor
           ORDER BY CAST(i AS DOUBLE) / u DESC, partner
         ) AS rn
  FROM sym
)
SELECT anchor, partner AS hard_negative,
       i AS n_shared_shingles, u AS union_size,
       round(CAST(i AS DOUBLE) / u + 1e-9, 6) AS jaccard
FROM ranked WHERE rn = 1
""",
)
def q364_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining plan for contrastive/embedding training:
    for every document, the single most-similar OTHER document that is
    still provably NOT a near-duplicate (exact shingle Jaccard < 1/2,
    the q346 dup threshold) — the "close but wrong" partner that makes
    a contrastive batch informative, where a random negative would be
    trivially separable. Candidates come from the LSH band generator,
    which is exactly the right sampler here: band collisions
    concentrate on high-similarity pairs, so the mined negatives sit
    just under the dup threshold by construction.

    Exactness: the negative filter 2*i < u is an exact integer
    inequality; the per-anchor argmax orders by the DETERMINISTIC
    double i/u (one division of exact integers — identical bits both
    engines) with the partner id as total-order tie-break (rule 3),
    via one grouped min-struct on the Spark side (the q07 machinery,
    negated for argmax) and the rn=1 window in the oracle.

    Scale: candidate-bounded like q346 (the shared
    ``exact_jaccard_pairs`` verifier); the argmax is map-side-combined
    — no window over data.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"], spread=True)
    cand = minhash_lsh_pairs(docs).select("doc_a", "doc_b").distinct()
    pj = exact_jaccard_pairs(docs, cand, shingle_n=3).where(
        2 * F.col("i") < F.col("u")
    )
    sym = pj.select(
        F.col("doc_a").alias("anchor"), F.col("doc_b").alias("partner"),
        "i", "u",
    ).unionAll(
        pj.select(
            F.col("doc_b").alias("anchor"), F.col("doc_a").alias("partner"),
            "i", "u",
        )
    )
    jd = F.col("i").cast("double") / F.col("u")
    best = (
        sym.groupBy("anchor")
        .agg(
            F.max(
                F.struct(
                    jd.alias("jd"),
                    (-F.col("partner")).alias("negp"),
                    F.col("partner").alias("partner"),
                    F.col("i").alias("i"),
                    F.col("u").alias("u"),
                )
            ).alias("b")
        )
    )
    return best.select(
        "anchor",
        F.col("b.partner").alias("hard_negative"),
        F.col("b.i").alias("n_shared_shingles"),
        F.col("b.u").alias("union_size"),
        fround(F.col("b.i").cast("double") / F.col("b.u"), 6).alias(
            "jaccard"
        ),
    )


@query(
    "q369_t_closeness_audit",
    tags=("privacy", "audit", "statistics"),
    oracle="""
WITH base AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(round(c_acctbal * 100) AS BIGINT) // 10000 AS bucket
  FROM customer
), cls AS (
  SELECT seg, nat, bucket, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY seg, nat, bucket
), gl AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY bucket
), sup AS (
  SELECT bucket,
         coalesce(lead(bucket) OVER (ORDER BY bucket) - bucket, 0) AS gap,
         CAST(sum(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_g
  FROM gl
), tot AS (
  SELECT seg, nat, CAST(count(*) AS BIGINT) AS nc FROM base GROUP BY seg, nat
), gtot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(max(bucket) - min(bucket) AS BIGINT) AS dr
  FROM base
), grid AS (
  SELECT t.seg, t.nat, t.nc, s.bucket, s.gap, s.cum_g, coalesce(c.c, 0) AS c
  FROM tot t CROSS JOIN sup s
  LEFT JOIN cls c ON c.seg = t.seg AND c.nat = t.nat
                 AND c.bucket = s.bucket
), cum AS (
  SELECT seg, nat, nc, bucket, gap, cum_g,
         CAST(sum(c) OVER (PARTITION BY seg, nat ORDER BY bucket
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c
  FROM grid
)
SELECT seg, nat, nc AS class_size,
       round(CAST(sum(abs(cum_c * n - cum_g * nc) * gap) AS DOUBLE)
             / (CAST(nc AS DOUBLE) * n * dr) + 1e-9, 6) AS t_value,
       CAST(sum(abs(cum_c * n - cum_g * nc) * gap) AS BIGINT) * 5
         > CAST(nc AS BIGINT) * n * dr AS exceeds_t02
FROM cum CROSS JOIN gtot
GROUP BY seg, nat, nc, n, dr
""",
)
def q369_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the privacy ladder after
    q152's k-anonymity/l-diversity: for every quasi-identifier
    equivalence class (segment x nation), the earth-mover distance
    between ITS account-balance distribution and the GLOBAL one,
    normalized by the domain range so t in [0, 1] (Li/Li/
    Venkatasubramanian's definition for ordered attributes). A class
    can be k-anonymous and l-diverse yet leak through its VALUE
    SKEW — "customers in this cell are all rich" — which is exactly
    what the EMD sees and the count-based metrics cannot.

    Machinery: the q340/q355 exact 1-D EMD — on the bucketed domain
    (exact $100 integer buckets from cents; at 100 TB the bucket
    width is the knob that bounds the support) the integral is ONE
    exact BIGINT sum of |cum_class*N - cum_global*n_class|*gap per
    class, divided once. The t > 0.2 flag is the exact integer
    cross-multiplication sum*5 > nc*N*dr (the q256 rule).

    Scale: one dim-table pass to the (class x bucket) grid; the
    support histogram window is bucket-bounded; per-class CDFs are
    hash-partitioned windows on the class key.
    """
    cust = read_table(
        spark, sf_dir, "customer",
        ["c_mktsegment", "c_nationkey", "c_acctbal"],
    )
    base = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "CAST(round(c_acctbal * 100) AS BIGINT) DIV 10000"
        ).alias("bucket"),
    ).localCheckpoint(eager=False)  # class/global/total branches
    cls = base.groupBy("seg", "nat", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    gl = base.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_g = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sup = gl.select(
        "bucket",
        F.coalesce(
            F.lead("bucket").over(Window.orderBy("bucket"))
            - F.col("bucket"),
            F.lit(0),
        ).alias("gap"),
        F.sum("c").over(w_g).cast("bigint").alias("cum_g"),
    )
    tot = base.groupBy("seg", "nat").agg(
        F.count(F.lit(1)).cast("bigint").alias("nc")
    )
    gtot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.max("bucket") - F.min("bucket")).cast("bigint").alias("dr"),
    )
    grid = (
        tot.crossJoin(F.broadcast(sup))
        .join(cls, ["seg", "nat", "bucket"], "left")
        .select(
            "seg", "nat", "nc", "bucket", "gap", "cum_g",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w_c = (
        Window.partitionBy("seg", "nat")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "seg", "nat", "nc", "bucket", "gap", "cum_g",
        F.sum("c").over(w_c).cast("bigint").alias("cum_c"),
    )
    term = (
        F.abs(
            F.col("cum_c") * F.col("n") - F.col("cum_g") * F.col("nc")
        )
        * F.col("gap")
    )
    return (
        cum.crossJoin(F.broadcast(gtot))
        .groupBy("seg", "nat", "nc", "n", "dr")
        .agg(F.sum(term).alias("s1"))
        .select(
            "seg", "nat",
            F.col("nc").alias("class_size"),
            fround(
                F.col("s1").cast("double")
                / (F.col("nc").cast("double") * F.col("n") * F.col("dr")),
                6,
            ).alias("t_value"),
            (
                F.col("s1").cast("bigint") * 5
                > F.col("nc").cast("bigint") * F.col("n") * F.col("dr")
            ).alias("exceeds_t02"),
        )
    )


@query(
    "q394_randomized_response_estimate",
    tags=("privacy", "statistics", "curation"),
    oracle=f"""
WITH truec AS MATERIALIZED (
  SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY event_type
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k_types,
         CAST(CAST(sum(true_n) AS BIGINT) AS BIGINT) AS n
  FROM truec
), typesidx AS (
  SELECT event_type,
         CAST(row_number() OVER (ORDER BY event_type) - 1 AS BIGINT) AS idx
  FROM truec
), rep AS (
  SELECT CASE WHEN ({_hash16_sql('rr1|', 'e.event_id')} % 4) = 3
              THEN ti.event_type ELSE e.event_type END AS rep_type
  FROM events e
  CROSS JOIN tot
  JOIN typesidx ti
    ON ti.idx = ({_hash16_sql('rr2|', 'e.event_id')} % tot.k_types)
), obs AS (
  SELECT rep_type AS event_type, CAST(count(*) AS BIGINT) AS obs_n
  FROM rep GROUP BY rep_type
)
SELECT t.event_type, t.true_n,
       CAST(coalesce(o.obs_n, 0) AS BIGINT) AS obs_n,
       round((4 * tot.k_types * coalesce(o.obs_n, 0) - tot.n) * 1.0
             / (3 * tot.k_types) + 1e-9, 3) AS est_n,
       round((4 * tot.k_types * coalesce(o.obs_n, 0) - tot.n) * 1.0
             / (3 * tot.k_types) - t.true_n + 1e-9, 3) AS est_err
FROM truec t
LEFT JOIN obs o ON o.event_type = t.event_type
CROSS JOIN tot
""",
)
def q394_randomized_response_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Randomized response (Warner's mechanism, the local-DP
    classic): each event reports its true type with probability 3/4
    and a uniformly random type otherwise, and the curator debiases
    the observed histogram with pi_hat_t = (4K·obs_t − n) / (3K·n) —
    frequency estimation where no individual row can be trusted.
    Reports, per type, the true count (available here because the
    simulation is in-house), the observed noisy count, the debiased
    estimate and its realized error — the calibration audit a privacy
    pipeline runs before shipping the mechanism. The keyed-hash coins
    make the run reproducible for verification; production swaps in a
    secure RNG (the q149 contract).

    Engine-exactness: both coins are md5-nibble integers; the lie
    type is an equi-join against the rank-indexed type table, so
    every reported row is engine-exact; the debias numerator
    4K·obs − n stays an exact BIGINT (the q376 discipline) with one
    final division.

    Scale: one pass computes true counts; one pass rewrites each
    event against a BROADCAST K-row type index; the estimate frame is
    K rows. Nothing is collected, nothing is all-pairs.
    """
    from .splits import _hash16

    ev = read_table(spark, sf_dir, "events", ["event_id", "event_type"])
    truec = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
        .localCheckpoint(eager=False)  # totals + index + final join
    )
    tot = truec.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_types"),
        F.sum("true_n").cast("bigint").alias("n"),
    )
    typesidx = truec.select(
        F.col("event_type").alias("lie_type"),
        (F.row_number().over(Window.orderBy("event_type")) - 1)
        .cast("bigint")
        .alias("idx"),
    )
    flagged = ev.crossJoin(F.broadcast(tot)).select(
        "event_type",
        ((_hash16("rr1|", F.col("event_id")) % 4) == 3).alias("lie"),
        (_hash16("rr2|", F.col("event_id")) % F.col("k_types")).alias(
            "lie_idx"
        ),
    )
    rep = flagged.join(
        F.broadcast(typesidx), flagged.lie_idx == typesidx.idx
    ).select(
        F.when(F.col("lie"), F.col("lie_type"))
        .otherwise(F.col("event_type"))
        .alias("rep_type")
    )
    obs = rep.groupBy(F.col("rep_type").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("obs_n")
    )
    joined = (
        truec.join(F.broadcast(obs), "event_type", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "true_n",
            F.coalesce(F.col("obs_n"), F.lit(0)).cast("bigint").alias("obs_n"),
            "k_types",
            "n",
        )
    )
    est_raw = (
        (4 * F.col("k_types") * F.col("obs_n") - F.col("n")) * 1.0
        / (3 * F.col("k_types"))
    )
    return joined.select(
        "event_type",
        "true_n",
        "obs_n",
        fround(est_raw, 3).alias("est_n"),
        fround(est_raw - F.col("true_n"), 3).alias("est_err"),
    )


def _ppr_oracle(n_iter: int = 5) -> str:
    """Unroll the personalized-PageRank recurrence into chained CTEs
    (the _pagerank_oracle discipline): teleport mass lands uniformly
    on the seed set instead of 1/N everywhere. ``d``/``deg``/``t`` are
    referenced every round — MATERIALIZED, the q241 lesson."""
    cte = [
        f"""
WITH {BULK_LINES}, e AS (
{SUPPLIER_PAIRS}
), d AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e
), deg AS MATERIALIZED (
  SELECT src, count(*) AS deg FROM d GROUP BY src
), seeds AS (
  SELECT DISTINCT g.src AS v
  FROM deg g JOIN supplier s ON s.s_suppkey = g.src
  WHERE s.s_nationkey = 0
), ns AS (
  SELECT count(*) AS ns FROM seeds
), t AS MATERIALIZED (
  SELECT v, CAST(1 AS DOUBLE) / ns.ns AS tw FROM seeds CROSS JOIN ns
), p0 AS (
  SELECT v, tw AS pr FROM t
)"""
    ]
    for k in range(1, n_iter + 1):
        cte.append(
            f""", p{k} AS (
  SELECT coalesce(t.v, c.v) AS v,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           * coalesce(t.tw, CAST(0 AS DOUBLE))
         + CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0 AS DOUBLE)) AS pr
  FROM t FULL JOIN (
    SELECT d.dst AS v, sum(p.pr / deg.deg) AS s
    FROM d JOIN p{k - 1} p ON d.src = p.v
           JOIN deg ON deg.src = d.src
    GROUP BY d.dst
  ) c ON c.v = t.v
)"""
        )
    cte.append(
        f"""
SELECT p.v, round(p.pr + 1e-9, 8) AS ppr,
       CASE WHEN t.v IS NOT NULL THEN 1 ELSE 0 END AS is_seed
FROM p{n_iter} p LEFT JOIN t ON t.v = p.v"""
    )
    return "".join(cte)


@query(
    "q416_personalized_pagerank",
    tags=("graph", "iterative"),
    oracle=_ppr_oracle(5),
)
def q416_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-iteration PERSONALIZED PageRank over the q123/q125
    co-supply network, teleporting to the suppliers of nation 0 — the
    proximity-to-a-cohort ranking behind "related suppliers" /
    seed-expansion: where q125's global PageRank measures importance
    to the WHOLE graph, this measures closeness to a seed set (random
    walks restart there with probability 0.15), so a supplier two hops
    from the cohort outranks a globally central one on the far side.

    The Spark side is operators/graph.py::personalized_pagerank
    (edge+degree and teleport frames checkpointed once; one
    co-partitioned join + groupBy + bounded full-outer against the
    teleport frame per iteration — unreached nodes carry NO row rather
    than a dense node-grain frame); the oracle unrolls the identical
    recurrence into five chained CTEs with the q125 cast-to-DOUBLE
    literal discipline. The damping contraction keeps cross-engine
    float divergence at ulp scale (no amplification), absorbed by the
    final fround pair — intermediates never rounded on either side.
    """
    from ...operators.graph import (
        bulk_supplier_edges,
        edge_endpoints,
        personalized_pagerank,
    )

    li = read_table(
        spark, sf_dir, "lineitem", ["l_orderkey", "l_suppkey", "l_quantity"]
    )
    edges = bulk_supplier_edges(li)
    sup = read_table(spark, sf_dir, "supplier", ["s_suppkey", "s_nationkey"])
    nodes = edge_endpoints(edges).distinct()
    seeds = nodes.join(
        F.broadcast(
            sup.where(F.col("s_nationkey") == 0).select(
                F.col("s_suppkey").alias("v")
            )
        ),
        "v",
    ).localCheckpoint(eager=False)  # teleport build + is_seed flag
    ppr = personalized_pagerank(edges, seeds, damping=0.85, n_iter=5)
    return (
        ppr.join(
            F.broadcast(seeds.select("v", F.lit(1).alias("_sd"))), "v", "left"
        )
        .select(
            "v",
            fround(F.col("pr"), 8).alias("ppr"),
            F.coalesce(F.col("_sd"), F.lit(0)).cast("int").alias("is_seed"),
        )
    )
