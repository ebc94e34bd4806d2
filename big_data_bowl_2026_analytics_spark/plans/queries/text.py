"""Dedup + text-analysis queries over the ``documents`` table.

These are the training-data-pipeline operators (BASELINE.json north
star) as first-class engine queries, each oracle-checked: exact dedup,
MinHash signatures + LSH banding + candidate pairs, SimHash, blocked
n-gram Jaccard, language ID, quality scoring, token statistics,
fingerprinting, and binary-column metadata plumbing.

Hashing is md5 on both engines, so signatures match bit-for-bit; all
similarity ratios are integer-count divisions (engine-exact doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...operators.dedup import (
    exact_duplicates,
    jaccard_similar_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
)
from ...operators.textstats import (
    LANG_MARKERS,
    language_id,
    quality_scores,
    shingle_fingerprints,
    token_stats,
    unigram_logprob_scores,
)
from ...functions.scalar import fround
from ...sources.readers import read_table
from ..oracle_sql import (
    DOC_TOKENS,
    LSH_CANDIDATES,
    MINHASH_BANDS,
    MINHASH_LSH,
    SHINGLE_GRAMS,
    TOKEN_OVERLAP,
    TOKEN_SIZES,
)
from ..registry import query
from ...core.session import local_frame
from .splits import _hash16_sql

# Shared oracle CTE: distinct tokens per doc.
_TOK_CTE = """
tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
)
"""


@query(
    "q30_dedup_exact",
    tags=("dedup",),
    oracle="""
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication by content hash: canonical id + copy count
    per distinct text. The shuffle carries 32-byte hashes, never
    document bodies."""
    return exact_duplicates(read_table(spark, sf_dir, "documents"))


@query(
    "q31_minhash_signatures",
    tags=("dedup", "minhash"),
    oracle=f"""
WITH {SHINGLE_GRAMS}
SELECT doc_id,
       min(md5('0|' || sh)) AS h0, min(md5('1|' || sh)) AS h1,
       min(md5('2|' || sh)) AS h2, min(md5('3|' || sh)) AS h3,
       min(md5('4|' || sh)) AS h4, min(md5('5|' || sh)) AS h5,
       min(md5('6|' || sh)) AS h6, min(md5('7|' || sh)) AS h7
FROM grams
GROUP BY doc_id
""",
)
def q31_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-permutation MinHash signature per document (seeded md5 min
    over the distinct word-3-gram shingle set): one explode + one
    groupBy computes every component."""
    # r13 optimization (guide §2.5/§4): spread the shingle explode +
    # 8-seed md5 fold across cores when the documents layout is a
    # single row group (no-op at scale — see parallelize_scan).
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return minhash_signatures(docs, n_hashes=8, shingle_n=3)


@query(
    "q32_lsh_candidate_pairs",
    tags=("dedup", "lsh"),
    oracle=f"""
WITH {MINHASH_LSH}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM bands a
JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""",
)
def q32_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidates: band the signatures
    (4 bands x 2 rows) and equi-join on (band, bucket) — the scalable
    replacement for all-pairs comparison."""
    # r13 optimization: same layout-gated spread as q31 — measured
    # 1.45 s -> 0.35 s at sf0.1 under the bench confs (the md5 fold
    # was single-task on the one-row-group local file).
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return minhash_lsh_pairs(docs)


@query(
    "q33_jaccard_similar_pairs",
    tags=("dedup", "jaccard"),
    oracle=f"""
WITH {TOKEN_OVERLAP}
SELECT doc_a, doc_b, inter,
       inter / (sa.n_toks + sb.n_toks - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.n_toks + sb.n_toks - inter) >= 0.8
""",
)
def q33_jaccard_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard >= 0.8 within language blocks — the
    verification stage behind LSH candidates. Integer-count division
    keeps the similarity engine-exact; blocking bounds the quadratic."""
    return jaccard_similar_pairs(
        read_table(spark, sf_dir, "documents"), threshold=0.8, block_col="lang"
    )


@query(
    "q34_simhash",
    tags=("dedup", "simhash"),
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), bits AS (
  SELECT doc_id, md5(tok) AS h FROM tok
), sums AS (
  SELECT doc_id,
    {sum_exprs}
  FROM bits
  GROUP BY doc_id
)
SELECT doc_id,
  CAST({fp_expr} AS BIGINT) AS simhash
FROM sums
""".format(
        sum_exprs=",\n    ".join(
            "sum((CAST(floor((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) / {div}) AS BIGINT) % 2) * 2 - 1) AS s{b}".format(
                pos=b // 4 + 1, div=2 ** (b % 4), b=b
            )
            for b in range(16)
        ),
        fp_expr=" + ".join(
            f"(CASE WHEN s{b} >= 0 THEN {2**b} ELSE 0 END)" for b in range(16)
        ),
    ),
)
def q34_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints from md5 nibbles of distinct tokens
    — near-dup hashes whose Hamming distance tracks content overlap.
    Pure integer arithmetic, bit-exact across engines."""
    return simhash(read_table(spark, sf_dir, "documents"), bits=16)


@query(
    "q35_language_id",
    tags=("text", "langid"),
    oracle="""
WITH scores AS (
  SELECT doc_id, s.lang, s.score
  FROM documents,
  LATERAL (
    {lateral}
  ) s
), ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
  FROM scores
)
SELECT doc_id, lang AS pred_lang, score AS best_score
FROM ranked WHERE rn = 1
""".format(
        lateral="\n    UNION ALL ".join(
            "SELECT '{lang}' AS lang, len(list_filter(string_split(text, ' '), t -> t IN ({marks}))) AS score".format(
                lang=lang, marks=", ".join(f"'{m}'" for m in marks)
            )
            for lang, marks in sorted(LANG_MARKERS.items())
        )
    ),
)
def q35_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language identification: per-language occurrence
    scores, argmax with deterministic tie-break — the n-gram-heuristic
    langid stage of a corpus pipeline."""
    return language_id(read_table(spark, sf_dir, "documents"))


@query(
    "q36_text_quality",
    tags=("text", "quality"),
    oracle="""
SELECT doc_id,
       len(text) AS n_chars,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       round((len(text) - (len(string_split(text, ' ')) - 1))
             / len(string_split(text, ' ')) + 1e-9, 6) AS avg_token_len,
       round(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to')))
             / len(string_split(text, ' ')) + 1e-9, 6) AS stopword_ratio,
       round(0.5 * (len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' ')))
           + 0.3 * (1.0 - len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to')))
                          / len(string_split(text, ' ')))
           + 0.2 * least((len(text) - (len(string_split(text, ' ')) - 1))
                         / len(string_split(text, ' ')) / 10.0, 1.0)
           + 1e-9, 6) AS quality_score
FROM documents
""",
)
def q36_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length, lexical diversity,
    stopword ratio, mean token length) blended into a score — the
    filter stage of a training-data pipeline."""
    return quality_scores(read_table(spark, sf_dir, "documents"))


@query(
    "q37_token_stats",
    tags=("text", "tokens"),
    oracle="""
SELECT tok, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok
""",
)
def q37_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics (term and document frequency) — the
    vocabulary pass for tokenizer/quality work; shuffle key is the
    token (the canonical skew case AQE handles)."""
    return token_stats(read_table(spark, sf_dir, "documents"))


@query(
    "q38_shingle_fingerprint",
    tags=("text", "fingerprint"),
    oracle="""
WITH grams AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2]
         )) AS sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)
SELECT doc_id, min(md5(sh)) AS fingerprint, count(*) AS n_shingles
FROM grams
GROUP BY doc_id
""",
)
def q38_shingle_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram min-hash fingerprint per document (winnowing with
    k=1): order-sensitive near-dup signature complementing the
    set-based MinHash."""
    return shingle_fingerprints(read_table(spark, sf_dir, "documents"), n=3)


@query(
    "q39_multimodal_blob_metadata",
    tags=("multimodal",),
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS blob_md5,
       source
FROM documents
""",
)
def q39_multimodal_blob_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: treat content as a blob, compute
    typed metadata (byte length, content hash) next to it — the schema
    pattern for image/audio payload tables (the rendered BMP frames of
    ``viz/render.py`` carry their width, height and media type the
    same way)."""
    docs = read_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.md5(F.col("text")).alias("blob_md5"),
        "source",
    )


#: Shared fixpoint CTEs for the CC-based dedup queries (q60/q91/q98):
#: the clustering is algorithm-independent, so the recursive-CTE
#: result checks min-label propagation and star contraction alike.
_CC_REACH_CTES = f"""
WITH RECURSIVE {MINHASH_LSH}, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
"""

_CC_FIXPOINT_ORACLE = (
    _CC_REACH_CTES
    + """
SELECT src AS doc_id, min(dst) AS cluster_id
FROM reach
GROUP BY src
"""
)

#: Survivor-selection oracle (q98): same fixpoint clustering, then one
#: canonical document per cluster by (n_chars DESC, doc_id ASC).
_CC_SURVIVOR_ORACLE = (
    _CC_REACH_CTES
    + """
, comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
), ranked AS (
  SELECT c.cluster_id, d.doc_id, d.n_chars,
         row_number() OVER (
           PARTITION BY c.cluster_id
           ORDER BY d.n_chars DESC, d.doc_id ASC
         ) AS rk,
         count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT cluster_id,
       cluster_size,
       doc_id AS survivor_doc_id,
       n_chars AS survivor_n_chars,
       cluster_size - 1 AS n_removed
FROM ranked
WHERE rk = 1
"""
)


@query(
    "q60_dedup_connected_components",
    tags=("dedup", "iterative"),
    oracle=_CC_FIXPOINT_ORACLE,
)
def q60_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the LSH
    candidate-pair graph, labeling each document with its component's
    minimum id — the final stage of a dedup pipeline (pick one
    representative per cluster).

    Iterative min-label propagation in DataFrames; the oracle computes
    the same fixpoint with a recursive CTE — an iterative algorithm
    that IS exactly checkable.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    from ...operators.dedup import duplicate_clusters

    return duplicate_clusters(pairs, docs, id_col="doc_id")


@query(
    "q91_dedup_cc_star",
    tags=("dedup", "iterative"),
    oracle=_CC_FIXPOINT_ORACLE,
)
def q91_dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as q60 via alternating large-star/small-star
    contraction (O(log^2 n) rounds vs O(diameter)) — the variant for
    high-diameter duplicate graphs; both algorithms are held to the
    identical recursive-CTE fixpoint oracle."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    from ...operators.dedup import duplicate_clusters_star

    return duplicate_clusters_star(pairs, docs, id_col="doc_id")


_GRAMS_CTE = """
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2]
         )) AS shingles
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)
"""


@query(
    "q66_tfidf_top_terms",
    tags=("text", "tfidf", "topk"),
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS dfreq FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, term,
         round(tf * (n_docs + 1.0) / (dfreq + 1.0) + 1e-9, 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, rank, tfidf FROM ranked WHERE rank <= 3
""",
)
def q66_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (rational IDF (N+1)/(df+1) —
    same ranking as log-IDF, zero transcendental drift): token explode,
    two hash aggs, broadcast corpus count, per-doc top-k window."""
    from ...operators.textstats import tfidf_top_terms

    return tfidf_top_terms(read_table(spark, sf_dir, "documents"), k=3)


@query(
    "q67_repetition_ratio",
    tags=("text", "quality"),
    oracle=f"""
WITH {_GRAMS_CTE.strip().replace('list_distinct(list_transform', 'list_transform').replace(')) AS shingles', ') AS shingles')}
SELECT doc_id,
       len(shingles) AS n_shingles,
       len(list_distinct(shingles)) AS n_distinct_shingles,
       round(1.0 - len(list_distinct(shingles)) * 1.0 / len(shingles) + 1e-9, 6)
         AS repetition_ratio
FROM grams
""",
)
def q67_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated 3-gram fraction per document — the boilerplate/spam
    signal pretraining filters threshold on. Pure integer-count ratio
    over one bound shingle projection."""
    from ...operators.textstats import repetition_ratio

    return repetition_ratio(read_table(spark, sf_dir, "documents"), n=3)


@query(
    "q68_regex_token_patterns",
    tags=("text", "regex"),
    oracle=r"""
SELECT doc_id,
       len(regexp_extract_all(text, '\bs[a-z]+')) AS n_s_tokens,
       len(regexp_extract_all(text, '[a-z]+ow\b')) AS n_ow_tokens
FROM documents
""",
)
def q68_regex_token_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document regex hit counts (the PII/boilerplate-scrub shape:
    swap in email/phone/URL patterns on a real corpus). Counting stays
    JVM-side in regexp_extract_all; patterns restricted to the regex
    subset Java and RE2 agree on."""
    from ...operators.textstats import pattern_match_counts

    return pattern_match_counts(
        read_table(spark, sf_dir, "documents"),
        {"n_s_tokens": r"\bs[a-z]+", "n_ow_tokens": r"[a-z]+ow\b"},
    )


@query(
    "q69_contamination_ratio",
    tags=("text", "dedup", "contamination"),
    oracle=f"""
WITH {_GRAMS_CTE.strip()},
exploded AS (
  SELECT doc_id, unnest(shingles) AS sh FROM grams
), bench AS (
  SELECT DISTINCT sh FROM exploded WHERE doc_id % 100 = 0
)
SELECT e.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       round(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*) + 1e-9, 6)
         AS contamination_ratio
FROM exploded e LEFT JOIN bench b ON e.sh = b.sh
WHERE e.doc_id % 100 != 0
GROUP BY e.doc_id
""",
)
def q69_contamination_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination probe: per training doc, the fraction
    of its distinct 3-grams that occur anywhere in the benchmark slice
    (doc_id % 100 == 0 stands in for an eval suite). The benchmark
    shingle set broadcasts, so the corpus pays one scan and no extra
    shuffle."""
    from ...operators.textstats import contamination_ratio

    return contamination_ratio(read_table(spark, sf_dir, "documents"), n=3)


@query(
    "q85_fuzzy_match_blocked",
    tags=("text", "entity-resolution"),
    oracle="""
WITH names AS (
  SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS block FROM part
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_distance
FROM names a JOIN names b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
""",
)
def q85_fuzzy_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (entity resolution): distinct part names
    paired within a blocking key (their noun token) when edit distance
    <= 2 — the classic near-duplicate value-clustering step, made
    scalable by comparing DISTINCT values inside blocks instead of all
    rows against all rows.

    Scale: dedup first (64 distinct names vs 2k+ rows at sf0.01 —
    the quadratic term shrinks by the duplication factor squared),
    then an equi-join on the block key bounds each comparison to its
    block. levenshtein runs JVM-side post-join. Same blocked shape as
    the LSH candidate pairs (q32), with edit distance instead of
    Jaccard.
    """
    part = read_table(spark, sf_dir, "part", ["p_name"])
    names = part.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("block")
    ).distinct()
    a = names.select(F.col("p_name").alias("name_a"), F.col("block").alias("block_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("block").alias("block_b"))
    pairs = a.join(
        b,
        (F.col("block_a") == F.col("block_b"))
        & (F.col("name_a") < F.col("name_b")),
    )
    dist = F.levenshtein("name_a", "name_b")
    return pairs.where(dist <= 2).select(
        "name_a", "name_b", dist.alias("edit_distance")
    )


@query(
    "q86_text_chunking",
    tags=("text", "chunking"),
    oracle="""
SELECT doc_id,
       CAST((start - 1) / 80 AS INTEGER) AS chunk_id,
       start,
       length(substr(text, start, 100)) AS chunk_len,
       md5(substr(text, start, 100)) AS chunk_hash
FROM (
  SELECT doc_id, text,
         CAST(unnest(generate_series(1, greatest(n_chars, 1), 80)) AS INTEGER)
           AS start
  FROM documents
)
""",
)
def q86_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size text chunking (100-char windows, stride
    80) — the document→training-sample step of an LLM data pipeline,
    expressed natively: sequence() generates chunk starts, posexplode
    fans out, substring slices. Chunks are emitted as (len, md5) so
    the oracle compares content without hashing megabytes of text.

    Scale: fully map-side (no shuffle at all) and JVM-side — the
    row fan-out is a Generate over per-row start arrays, never a
    Python worker. ``functions/udtf.py::ChunkDocument`` is the Python
    UDTF face of the same operator (tested equal); this native form is
    the hot path.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text", "n_chars"])
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n_chars"), F.lit(1)).cast("int"), F.lit(80)
    )
    exploded = docs.select(
        "doc_id", "text", F.explode(starts).alias("start")
    )
    chunk = F.expr("substring(text, start, 100)")
    return exploded.select(
        "doc_id",
        ((F.col("start") - 1) / 80).cast("int").alias("chunk_id"),
        "start",
        F.length(chunk).alias("chunk_len"),
        F.md5(chunk).alias("chunk_hash"),
    )


@query(
    "q98_dedup_survivors",
    tags=("dedup", "iterative", "llm-pipeline"),
    oracle=_CC_SURVIVOR_ORACLE,
)
def q98_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL step: one canonical survivor per
    near-duplicate cluster (q60's components), chosen by a total order
    — longest document wins, doc_id breaks ties — plus the cluster
    size and removed-row count a pipeline reports as its dedup rate.

    Scale: the cluster labels come from the iterative CC operator
    (per-round lineage truncation); survivor selection is one window
    (row_number + count over cluster_id) after a key join — a single
    shuffle on cluster_id, no driver-side state. The tie-break
    (n_chars DESC, doc_id ASC) is total, so the survivor is unique and
    both engines agree exactly.
    """
    from pyspark.sql import Window

    from ...operators.dedup import duplicate_clusters

    docs = read_table(spark, sf_dir, "documents", spread=True)
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    clusters = duplicate_clusters(pairs, docs, id_col="doc_id")

    sized = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    w_all = Window.partitionBy("cluster_id")
    ranked = sized.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("cluster_size"),
    )
    return ranked.where(F.col("rk") == 1).select(
        "cluster_id",
        "cluster_size",
        F.col("doc_id").alias("survivor_doc_id"),
        F.col("n_chars").alias("survivor_n_chars"),
        (F.col("cluster_size") - F.lit(1)).alias("n_removed"),
    )


@query(
    "q111_minhash_estimate_error",
    tags=("dedup", "minhash", "sketch-accuracy"),
    oracle=f"""
WITH {DOC_TOKENS}, {TOKEN_SIZES}, pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM tok a
  JOIN tok b ON a.tok = b.tok AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), exact AS (
  SELECT doc_a, doc_b, inter,
         inter / (sa.n_toks + sb.n_toks - inter) AS jaccard
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter / (sa.n_toks + sb.n_toks - inter) >= 0.5
), sig AS (
  SELECT doc_id,
         min(md5('0|' || tok)) AS h0, min(md5('1|' || tok)) AS h1,
         min(md5('2|' || tok)) AS h2, min(md5('3|' || tok)) AS h3,
         min(md5('4|' || tok)) AS h4, min(md5('5|' || tok)) AS h5,
         min(md5('6|' || tok)) AS h6, min(md5('7|' || tok)) AS h7
  FROM tok GROUP BY doc_id
)
SELECT e.doc_a, e.doc_b,
       round(e.jaccard + 1e-9, 6) AS jaccard,
       CAST((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matching,
       round(abs(((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END)
          + (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END)) / 8.0
          - e.jaccard) + 1e-9, 6) AS abs_error
FROM exact e
JOIN sig a ON a.doc_id = e.doc_a
JOIN sig b ON b.doc_id = e.doc_b
""",
)
def q111_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every exactly-similar pair (word-set
    Jaccard >= 0.5 within language blocks), the 8-component MinHash
    estimate (#matching components / 8) next to the exact similarity
    and the absolute error — the measurement that justifies (or
    rejects) a banding configuration before a corpus-wide dedup run.

    Everything is integer comparisons and exact rationals (k/8,
    inter/union), so even the ERROR of the approximate structure is
    strictly oracle-checked — same pattern as q44's sketch-bound
    check, but with the estimate itself reproduced cross-engine.

    Scale: signatures come from one explode + groupBy (q31's shape);
    the pair list is the blocked exact join here (verification-grade),
    LSH candidates in production (q32) — both bound the quadratic.
    The two signature joins are on the pair's doc keys (broadcastable
    when the pair list is small, shuffle joins otherwise).
    """
    from ...operators.dedup import jaccard_similar_pairs, minhash_signatures

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "lang", "text"])
    exact = jaccard_similar_pairs(docs, threshold=0.5, block_col="lang")
    sig = minhash_signatures(docs, n_hashes=8, shingle_n=1)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(8)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(8)],
    )
    n_matching = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(8)
    )
    joined = (
        exact.join(a, "doc_a").join(b, "doc_b")
        .withColumn("n_matching", n_matching.cast("bigint"))
    )
    return joined.select(
        "doc_a",
        "doc_b",
        fround(F.col("jaccard"), 6).alias("jaccard"),
        "n_matching",
        fround(
            F.abs(F.col("n_matching") / F.lit(8.0) - F.col("jaccard")), 6
        ).alias("abs_error"),
    )


@query(
    "q114_prefix_filter_jaccard",
    tags=("dedup", "jaccard", "prefix-filter"),
    oracle="""
WITH universe AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
), tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM universe
), sizes AS (
  SELECT doc_id, count(*) AS n_toks FROM tok GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM tok a JOIN tok b ON a.tok = b.tok
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter,
       inter / (sa.n_toks + sb.n_toks - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.n_toks + sb.n_toks - inter) >= 0.8
""",
)
def q114_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL exact-Jaccard near-duplicate pairs (>= 0.8) with NO
    blocking key and NO approximation, via prefix filtering — the
    PPJoin-family algorithm: rank tokens by global rarity, probe only
    each doc's short rare-token prefix against the inverted lists, and
    exactly verify the candidates. Recall is provably 1 (pigeonhole on
    the prefix length), so the ORACLE is the naive all-pairs join —
    any completeness bug in the filtering shows up as missing rows.

    The query runs on the doc_id % 10 == 0 decile: the ORACLE is
    quadratic in the hot-token inverted lists (that's the point — the
    naive join is what doesn't scale); the engine path's cost is
    prefix-bounded and survives the full corpus.

    Scale: frequency ranking is one groupBy; the probe side shrinks to
    ~n/5 tokens per doc at t=0.8; hot tokens never enter a prefix, so
    the candidate join's per-token fan-out is bounded where the naive
    token join explodes. Complements LSH banding (q32): recall 1 at
    the price of an exact verification join.
    """
    from ...operators.dedup import prefix_filter_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"]).where(
        F.col("doc_id") % 10 == 0
    )
    return prefix_filter_jaccard_pairs(docs, threshold=0.8)


@query(
    "q154_decontamination_span_removal",
    tags=("text", "contamination", "llm-pipeline"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), sh AS (
  SELECT doc_id, u.s AS s, u.sh AS sh FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
             i -> struct_pack(s := i,
                              sh := w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
             AS u
    FROM toks)
), bench AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % 100 = 0
), hits AS (
  SELECT DISTINCT h.doc_id, h.s AS st, h.s + 2 AS en
  FROM sh h JOIN bench b USING (sh)
  WHERE h.doc_id % 100 != 0
), marked AS (
  SELECT doc_id, st, en,
         CASE WHEN max(en) OVER prev IS NULL OR st > max(en) OVER prev
              THEN 1 ELSE 0 END AS ni
  FROM hits
  WINDOW prev AS (PARTITION BY doc_id ORDER BY st
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), islanded AS (
  SELECT doc_id, st, en,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY st
                       ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
), merged AS (
  SELECT doc_id, island, min(st) AS s, max(en) AS e
  FROM islanded GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS n_removed
  FROM merged GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
       coalesce(p.n_spans, 0) AS n_spans,
       coalesce(p.n_removed, 0) AS n_tokens_removed,
       CAST(len(t.w) AS BIGINT) - coalesce(p.n_removed, 0) AS clean_tokens,
       round(coalesce(p.n_removed, 0) * 1.0 / len(t.w) + 1e-9, 6)
         AS pct_removed
FROM toks t LEFT JOIN per_doc p USING (doc_id)
WHERE t.doc_id % 100 != 0
""",
)
def q154_decontamination_span_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Span-level benchmark decontamination: q69 asks "how contaminated
    is this doc"; this computes what an actual scrub REMOVES — every
    token position covered by a benchmark 3-gram, with OVERLAPPING
    hit spans merged (gaps-and-islands; spans that touch without
    overlapping stay separate islands — the removed-token count is
    exact either way because islands are disjoint, see
    tests/test_session3_properties.py). Per doc: span count, tokens
    removed, clean length.

    Scale: the benchmark shingle set is tiny (eval suites vs a
    training corpus) and broadcast, so the corpus-side cost is the
    token-position explode plus ONE window pass per doc (spans per doc
    are few — the window partitions by doc_id, never global). The
    merged-interval algebra is integer-exact on both engines.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).where(F.size("w") >= 3)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2), i -> struct("
                "i AS s, concat(element_at(w, i), ' ', element_at(w, i + 1),"
                " ' ', element_at(w, i + 2)) AS sh))"
            )
        ).alias("u"),
    ).select("doc_id", F.col("u.s").alias("s"), F.col("u.sh").alias("sh"))
    bench = sh.where(F.col("doc_id") % 100 == 0).select("sh").distinct()
    hits = (
        sh.where(F.col("doc_id") % 100 != 0)
        .join(F.broadcast(bench), "sh")
        .select("doc_id", F.col("s").alias("st"), (F.col("s") + 2).alias("en"))
        .distinct()
    )
    from pyspark.sql import Window

    prev = (
        Window.partitionBy("doc_id")
        .orderBy("st")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("st")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = hits.withColumn(
        "ni",
        F.when(
            F.max("en").over(prev).isNull()
            | (F.col("st") > F.max("en").over(prev)),
            1,
        ).otherwise(0),
    )
    islanded = marked.withColumn("island", F.sum("ni").over(run))
    merged = islanded.groupBy("doc_id", "island").agg(
        F.min("st").alias("s"), F.max("en").alias("e")
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_removed"),
    )
    return (
        toks.where(F.col("doc_id") % 100 != 0)
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_tokens"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_removed", F.lit(0)).alias("n_tokens_removed"),
            (
                F.size("w").cast("bigint") - F.coalesce("n_removed", F.lit(0))
            ).alias("clean_tokens"),
            fround(
                F.coalesce("n_removed", F.lit(0)) * 1.0 / F.size("w"), 6
            ).alias("pct_removed"),
        )
    )


@query(
    "q164_cross_source_duplication",
    tags=("text", "dedup", "provenance"),
    oracle="""
WITH fp AS (
  SELECT doc_id, source,
         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h
  FROM documents
), per AS (
  SELECT h, source, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY h, source
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_fingerprints,
       CAST(sum(a.n * b.n) AS BIGINT) AS n_doc_pairs
FROM per a JOIN per b ON a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
UNION ALL
SELECT source, source,
       CAST(count(*) AS BIGINT),
       CAST(CAST(sum(n * (n - 1)) AS BIGINT) / 2 AS BIGINT)
FROM per WHERE n >= 2
GROUP BY source
""",
)
def q164_cross_source_duplication(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplication matrix between ingest sources, keyed on a
    content-prefix fingerprint (md5 of the first 8 tokens — the cheap
    first-pass key; q30/q98 are the exact and survivor-selecting
    passes): which source pairs ship the same content, and how much
    intra-source duplication each carries (the diagonal). The
    provenance question behind "which feed do we deduplicate
    against which".

    Scale: fingerprints are map-side; the matrix join runs on the
    (fingerprint, source)-collapsed frame — collision-group sized, not
    corpus sized — and output is |sources|² rows. All counts integer.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "source", "text"])
    fp = docs.select(
        "source",
        F.md5(
            F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
        ).alias("h"),
    )
    per = (
        fp.groupBy("h", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    a = per.select(
        F.col("h"), F.col("source").alias("source_a"), F.col("n").alias("na")
    )
    b = per.select(
        F.col("h"), F.col("source").alias("source_b"), F.col("n").alias("nb")
    )
    cross = (
        a.join(b, "h")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_fingerprints"),
            F.sum(F.col("na") * F.col("nb")).alias("n_doc_pairs"),
        )
    )
    diag = (
        per.where(F.col("n") >= 2)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shared_fingerprints"),
            (F.sum(F.col("n") * (F.col("n") - 1)) / 2)
            .cast("bigint")
            .alias("n_doc_pairs"),
        )
        .select(
            F.col("source").alias("source_a"),
            F.col("source").alias("source_b"),
            "n_shared_fingerprints",
            "n_doc_pairs",
        )
    )
    return cross.unionByName(diag)


@query(
    "q170_encoding_audit",
    tags=("text", "audit", "quality"),
    oracle="""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(sum(strlen(text) - length(text)) AS BIGINT)
         AS multibyte_overhead,
       CAST(count(*) FILTER (WHERE strlen(text) > length(text))
            AS BIGINT) AS n_docs_multibyte,
       round(sum(strlen(text) - length(text)) * 1.0
             / sum(strlen(text)) + 1e-9, 6) AS overhead_ratio
FROM documents
GROUP BY source
""",
)
def q170_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8 encoding profile per ingest source: bytes vs characters
    (their gap counts multibyte continuation bytes — mojibake,
    double-encoding, and binary-in-text all spike it without any
    regex), and how many documents carry non-ASCII at all. The cheap
    first tripwire for a feed that silently changed encodings, and
    the bytes-per-char planning number for tokenizer budgeting.

    Scale: two built-in length functions map-side, one shuffle on
    source. Everything is integer except one integer-ratio column.
    """
    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    overhead = F.octet_length("text") - F.length("text")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(F.octet_length("text")).alias("total_bytes"),
        F.sum(overhead).alias("multibyte_overhead"),
        F.count_if(overhead > 0).alias("n_docs_multibyte"),
        fround(
            F.sum(overhead) * 1.0 / F.sum(F.octet_length("text")), 6
        ).alias("overhead_ratio"),
    )


@query(
    "q178_lsh_recall_audit",
    tags=("dedup", "lsh", "audit"),
    oracle=f"""
WITH {SHINGLE_GRAMS}, sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM grams a JOIN grams b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), truth AS (
  SELECT doc_a, doc_b, i * 1.0 / (sa.n_sh + sb.n_sh - i) AS j
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= 0.5
), {MINHASH_BANDS}, {LSH_CANDIDATES}, n_cand AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand
), labeled AS (
  SELECT t.j, CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS caught
  FROM truth t
  LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(sum(caught) AS BIGINT) AS n_caught,
       round(sum(caught) * 1.0 / count(*) + 1e-9, 6) AS recall,
       round(avg(1 - pow(1 - j * j, 4)) + 1e-9, 6) AS expected_recall,
       max(n_candidates) AS n_candidates
FROM labeled, n_cand
""",
)
def q178_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end recall audit of the MinHash-LSH blocking (q32)
    against exact SHINGLE-set Jaccard ground truth: of all pairs with
    true J ≥ 0.5, how many does the 4-band × 2-row banding surface —
    measured next to the THEORETICAL expectation
    E[recall] = avg(1 − (1 − J²)⁴), so a gap between the two columns
    flags a broken hash family rather than ordinary LSH misses.

    This is the missing closing audit of the dedup stack: q32 emits
    candidates, q33/q137 verify them, q111 bounds signature accuracy
    per pair — this measures what the BLOCKING drops.

    Scale: ground truth enumerates pairs through shared shingles
    (never all-pairs; at corpus scale the audit runs on a hash-sampled
    block, same posture as the q33 verifier); the LSH side is the
    production candidate join itself. Counts are integers; the
    expectation's pow ulp class is absorbed by the round.
    """
    from ...operators.dedup import shingles_of

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"], spread=True)
    bound = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).where(F.size("w") >= 3)
    grams = bound.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_of(F.col("w"), 3))).alias("sh"),
    ).localCheckpoint(eager=False)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "sh")
    b = grams.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(j >= 0.5)
        .select("doc_a", "doc_b", j.alias("j"))
    )
    cand = (
        minhash_lsh_pairs(docs)
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    labeled = truth.join(
        cand.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).select("j", F.coalesce("_c", F.lit(0)).alias("caught"))
    return labeled.crossJoin(F.broadcast(n_cand)).agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum("caught").alias("n_caught"),
        fround(F.sum("caught") * 1.0 / F.count(F.lit(1)), 6).alias("recall"),
        fround(
            F.avg(1 - F.pow(1 - F.col("j") * F.col("j"), 4)), 6
        ).alias("expected_recall"),
        F.max("n_candidates").alias("n_candidates"),
    )


@query(
    "q179_component_size_distribution",
    tags=("dedup", "graph", "audit"),
    oracle=_CC_REACH_CTES
    + """
, comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
), sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
  FROM comp GROUP BY cluster_id
), tot AS (
  SELECT CAST(sum(sz) AS BIGINT) AS n_docs, CAST(max(sz) AS BIGINT) AS max_sz
  FROM sizes
)
SELECT sz AS component_size,
       CAST(count(*) AS BIGINT) AS n_components,
       CAST(count(*) * sz AS BIGINT) AS n_docs_in,
       round(count(*) * sz * 1.0 / n_docs + 1e-9, 6) AS doc_share,
       sz = max_sz AS is_giant
FROM sizes, tot
GROUP BY sz, n_docs, max_sz
""",
)
def q179_component_size_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Size distribution of the near-duplicate components (q60's
    clustering, histogrammed): how many singletons, how many small
    clusters, and whether a GIANT component exists — the one graph
    statistic that decides if the LSH banding is too loose (a giant
    component means transitive merging is about to collapse unrelated
    documents into one survivor).

    Scale: the histogram runs on the cluster-size frame (components,
    not documents); the doc-share ratio divides integer counts by the
    one-row broadcast total. Same recursive-fixpoint oracle family as
    q60/q91/q98.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    from ...operators.dedup import duplicate_clusters

    comp = duplicate_clusters(pairs, docs, id_col="doc_id")
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    tot = sizes.agg(
        F.sum("sz").alias("n_docs"), F.max("sz").alias("max_sz")
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .groupBy("sz", "n_docs", "max_sz")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .select(
            F.col("sz").alias("component_size"),
            "n_components",
            (F.col("n_components") * F.col("sz")).alias("n_docs_in"),
            fround(
                F.col("n_components") * F.col("sz") * 1.0 / F.col("n_docs"),
                6,
            ).alias("doc_share"),
            (F.col("sz") == F.col("max_sz")).alias("is_giant"),
        )
    )


_SPLIT_CASE = """CASE WHEN __H__ % 1000 < 800 THEN 'train'
              WHEN __H__ % 1000 < 900 THEN 'valid'
              ELSE 'test' END"""


@query(
    "q185_split_leakage_audit",
    tags=("dedup", "split", "audit", "llm-pipeline"),
    oracle=f"""
WITH {MINHASH_LSH}, {LSH_CANDIDATES}, splits AS (
  SELECT doc_id, __SPLITCASE__ AS split FROM documents
), tagged AS (
  SELECT least(sa.split, sb.split) AS split_lo,
         greatest(sa.split, sb.split) AS split_hi,
         CASE WHEN sa.split <= sb.split THEN c.doc_b ELSE c.doc_a END
           AS hi_doc
  FROM cand c
  JOIN splits sa ON sa.doc_id = c.doc_a
  JOIN splits sb ON sb.doc_id = c.doc_b
)
SELECT split_lo, split_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT hi_doc) AS BIGINT) AS n_hi_docs,
       split_lo != split_hi AS is_leakage
FROM tagged
GROUP BY split_lo, split_hi
""".replace(
        "__SPLITCASE__",
        _SPLIT_CASE.replace("__H__", _hash16_sql("split|", "doc_id")),
    ),
)
def q185_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage across the train/valid/test hash split:
    LSH candidate pairs (q32) whose endpoints landed in DIFFERENT
    splits are evaluation contamination — a test document with a
    train near-twin inflates every metric. The audit crosses the q127
    split assignment with the production candidate join and reports
    pair counts per split combination, flagging the cross-split rows.

    ``n_hi_docs`` counts distinct documents on the (lexicographically)
    later split side of each combination — for train/test rows that
    is exactly "test documents with a train near-duplicate", the
    number a curation pass must drop or re-split.

    Scale: both inputs are the production artifacts themselves (the
    candidate join and the map-side split hash); the audit adds two
    doc-keyed joins and a six-row aggregate.
    """
    from .splits import _hash16

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"], spread=True)
    cand = minhash_lsh_pairs(docs).select("doc_a", "doc_b").distinct()
    bucket = _hash16("split|", F.col("doc_id")) % 1000
    splits = docs.select(
        "doc_id",
        F.when(bucket < 800, "train")
        .when(bucket < 900, "valid")
        .otherwise("test")
        .alias("split"),
    )
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    tagged = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
            F.when(
                F.col("split_a") <= F.col("split_b"), F.col("doc_b")
            )
            .otherwise(F.col("doc_a"))
            .alias("hi_doc"),
        )
    )
    return (
        tagged.groupBy("split_lo", "split_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("hi_doc").alias("n_hi_docs"),
        )
        .withColumn(
            "is_leakage", F.col("split_lo") != F.col("split_hi")
        )
    )


@query(
    "q234_langid_confusion",
    tags=("text", "langid", "audit"),
    oracle="""
WITH scores AS (
  SELECT doc_id, lang AS declared, s.plang, s.score
  FROM documents,
  LATERAL (
    {lateral}
  ) s
), ranked AS (
  SELECT doc_id, declared, plang, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang)
           AS rn
  FROM scores
), pred AS (
  SELECT declared, plang AS predicted FROM ranked WHERE rn = 1
), margins AS (
  SELECT declared, CAST(count(*) AS BIGINT) AS n_declared
  FROM pred GROUP BY declared
)
SELECT p.declared, p.predicted,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(count(*) * 1.0 / min(m.n_declared) + 1e-9, 6) AS row_share
FROM pred p JOIN margins m ON m.declared = p.declared
GROUP BY p.declared, p.predicted
""".format(
        lateral="\n    UNION ALL ".join(
            "SELECT '{lang}' AS plang, len(list_filter(string_split(text, ' '), t -> t IN ({marks}))) AS score".format(
                lang=lang, marks=", ".join(f"'{m}'" for m in marks)
            )
            for lang, marks in sorted(LANG_MARKERS.items())
        )
    ),
)
def q234_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-token language identifier (q35)
    against the corpus's declared language labels, with each cell's
    share of its declared-language row — the accuracy audit that
    decides whether the cheap heuristic is good enough to drive
    q127's per-language splits and q208's mixture weights, and WHICH
    confusions (not just how many) need a better model.

    Integer counts and exact row-share ratios; the prediction reuses
    q35's argmax-with-lang-tie-break exactly, so the two queries can
    never silently disagree about what the classifier said.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text", "lang"])
    pred = language_id(docs).select(
        "doc_id", F.col("pred_lang").alias("predicted")
    )
    joined = docs.select(
        "doc_id", F.col("lang").alias("declared")
    ).join(pred, "doc_id")
    margins = joined.groupBy("declared").agg(
        F.count(F.lit(1)).alias("n_declared")
    )
    return (
        joined.groupBy("declared", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(F.broadcast(margins), "declared")
        .select(
            "declared",
            "predicted",
            "n_docs",
            fround(
                F.col("n_docs") * 1.0 / F.col("n_declared"), 6
            ).alias("row_share"),
        )
    )


#: Shared BM25 postings CTE prefix (toks → tf → dl → dfreq → corpus →
#: qterms → contrib with per-(doc, term) weights) — q238 sums it per
#: doc, q271 ranks it per term. One definition so the two retrieval
#: queries can never disagree about the scoring algebra.
_BM25_CONTRIB_CTES = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), qterms AS (
  SELECT term, df FROM (
    SELECT term, df,
           row_number() OVER (ORDER BY df DESC, term) AS rk
    FROM dfreq
  ) WHERE rk BETWEEN 5 AND 12
), contrib AS (
  SELECT t.doc_id, t.term,
         ln(1.0 + (c.n_docs - q.df + 0.5) / (q.df + 0.5))
           * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / c.avgdl)))
           AS w
  FROM tf t
  JOIN qterms q ON t.term = q.term
  JOIN dl d ON t.doc_id = d.doc_id
  CROSS JOIN corpus c
)
"""


def _bm25_contrib(spark: SparkSession, sf_dir: str):
    """Spark twin of _BM25_CONTRIB_CTES: returns the per-(doc, term)
    BM25 weight frame (doc_id, term, w). Same scale properties as
    documented on q238 (fixed-k term selection, broadcast terms,
    shuffle-joined doc lengths)."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    tf = tf.localCheckpoint(eager=False)  # three downstream branches
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    top12 = dfreq.orderBy(F.desc("df"), F.asc("term")).limit(12)
    qterms = (
        top12.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("df"), F.asc("term"))
            ),
        )
        .where(F.col("rk").between(5, 12))
        .select("term", "df")
    )
    w_expr = (
        F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * (
            (F.col("tf") * 2.2)
            / (
                F.col("tf")
                + 1.2 * (0.25 + (0.75 * F.col("dl")) / F.col("avgdl"))
            )
        )
    )
    return (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", "term", w_expr.alias("w"))
    )


@query(
    "q238_bm25_retrieval",
    tags=("text", "retrieval", "topk"),
    oracle=_BM25_CONTRIB_CTES
    + """, scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
         round(sum(w) + 1e-9, 6) AS score
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_hit, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= 20
""",
)
def q238_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1=1.2, b=0.75, Lucene idf) top-20 documents for a
    deterministic 8-term query (document-frequency ranks 5-12) — the
    lexical-retrieval scorer that the RRF fusion (q156) and NDCG audit
    (q189) presuppose, and the classic sparse side of a hybrid
    sparse+dense retrieval stack next to the ANN queries (q40/q42).

    Scale: the query-term frame is fixed-k via orderBy().limit(12)
    (TakeOrderedAndProject — map-side partial top-k, never a global
    rank over the vocabulary: the q114 lesson) and broadcast into the
    postings join; the per-document length frame joins by shuffle on
    doc_id (per-doc frames are never broadcast). idf and the length
    normalization are built from exact integer counts with the
    division order written identically in both engines (the q143
    parenthesization rule); per-term weights float-sum per doc (q24
    class, fround-absorbed) and the top-20 ranks on the ROUNDED score
    with a doc_id tie-break (footgun 3).
    """
    from pyspark.sql import Window

    contrib = _bm25_contrib(spark, sf_dir)
    scored = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit"),
        fround(F.sum("w"), 6).alias("score"),
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    return top.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("bigint"),
    )


@query(
    "q243_tokenizer_fertility",
    tags=("text", "tokenizer", "audit"),
    oracle="""
WITH base AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
         CAST(sum(length(text)) AS BIGINT) AS n_chars
  FROM documents GROUP BY lang, source
), toks AS (
  SELECT lang, source, unnest(string_split(text, ' ')) AS term
  FROM documents
), vocab AS (
  SELECT lang, source,
         CAST(count(DISTINCT term) AS BIGINT) AS n_types,
         CAST(sum(length(term)) AS BIGINT) AS term_chars
  FROM toks GROUP BY lang, source
)
SELECT b.lang, b.source, n_docs, n_tokens, n_types,
       round(n_bytes * 1.0 / n_tokens + 1e-9, 6) AS bytes_per_token,
       round(term_chars * 1.0 / n_tokens + 1e-9, 6) AS mean_token_chars,
       round(n_types * 1.0 / n_tokens + 1e-9, 6) AS type_token_ratio,
       round(n_bytes * 1.0 / n_chars + 1e-9, 6) AS bytes_per_char
FROM base b JOIN vocab v ON b.lang = v.lang AND b.source = v.source
""",
)
def q243_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility profile per (lang, source): whitespace
    tokens per document, BYTES per token (the number that sets context
    -window cost per language — CJK text buys fewer tokens per byte),
    mean token length, type-token ratio (vocabulary growth pressure),
    and the multibyte overhead ratio — the budgeting table a tokenizer
    retrain starts from, at a grain q37 (global term stats) and q170
    (per-source byte audit) don't cover.

    Scale: one doc-grain aggregate (all built-in length functions,
    map-side) plus one token-grain aggregate for the distinct-type
    count, both shuffling on the bounded (lang, source) key; the
    join is |langs × sources|-sized. All counts are exact integers;
    outputs are integer ratios under the fround pair (rule 5).
    """
    docs = read_table(
        spark, sf_dir, "documents", ["doc_id", "lang", "source", "text"]
    )
    base = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
        F.sum(F.octet_length("text")).alias("n_bytes"),
        F.sum(F.length("text")).alias("n_chars"),
    )
    toks = docs.select(
        "lang", "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    vocab = toks.groupBy("lang", "source").agg(
        F.countDistinct("term").alias("n_types"),
        F.sum(F.length("term")).alias("term_chars"),
    )
    return base.join(vocab, ["lang", "source"]).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "n_types",
        fround(F.col("n_bytes") * 1.0 / F.col("n_tokens"), 6).alias(
            "bytes_per_token"
        ),
        fround(F.col("term_chars") * 1.0 / F.col("n_tokens"), 6).alias(
            "mean_token_chars"
        ),
        fround(F.col("n_types") * 1.0 / F.col("n_tokens"), 6).alias(
            "type_token_ratio"
        ),
        fround(F.col("n_bytes") * 1.0 / F.col("n_chars"), 6).alias(
            "bytes_per_char"
        ),
    )


_CC_CONFLICT_ORACLE = (
    _CC_REACH_CTES
    + """
, comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
), joined AS (
  SELECT c.cluster_id, d.doc_id, d.lang, d.source
  FROM comp c JOIN documents d USING (doc_id)
), stats AS (
  SELECT cluster_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM joined GROUP BY cluster_id
), maj AS (
  SELECT cluster_id, lang AS majority_lang FROM (
    SELECT cluster_id, lang,
           row_number() OVER (
             PARTITION BY cluster_id ORDER BY count(*) DESC, lang
           ) AS rk
    FROM joined GROUP BY cluster_id, lang
  ) WHERE rk = 1
)
SELECT s.cluster_id, s.n_docs, s.n_langs, s.n_sources,
       m.majority_lang,
       s.n_langs > 1 AS lang_conflict,
       s.n_sources > 1 AS source_conflict
FROM stats s JOIN maj m USING (cluster_id)
WHERE s.n_docs >= 2
"""
)


@query(
    "q258_dedup_cluster_conflicts",
    tags=("dedup", "audit", "quality"),
    oracle=_CC_CONFLICT_ORACLE,
)
def q258_dedup_cluster_conflicts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metadata-conflict audit over near-duplicate clusters: for every
    q60 cluster of size ≥ 2, do its members AGREE on language and
    source? Disagreement means either the LSH graph over-merged
    (cross-language false positives — tighten bands) or the metadata
    is wrong (mislabeled mirror feeds) — the audit that decides
    whether q98's survivor can safely inherit its cluster's metadata.

    Scale: clustering is the existing min-label operator; the audit is
    one cluster-grain aggregate plus a per-cluster majority window
    (partitioned by cluster, tie-broken on the lang string — footgun
    3). Same recursive-CTE fixpoint oracle family as q60/q91/q98.
    """
    from ...operators.dedup import duplicate_clusters

    docs = read_table(spark, sf_dir, "documents", spread=True)
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    comp = duplicate_clusters(pairs, docs, id_col="doc_id")
    joined = comp.join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    ).localCheckpoint(eager=False)  # stats + majority branches
    stats = joined.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    from pyspark.sql import Window

    wc = Window.partitionBy("cluster_id").orderBy(
        F.desc("n"), F.asc("lang")
    )
    maj = (
        joined.groupBy("cluster_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(wc))
        .where(F.col("rk") == 1)
        .select("cluster_id", F.col("lang").alias("majority_lang"))
    )
    return (
        stats.join(maj, "cluster_id")
        .where(F.col("n_docs") >= 2)
        .select(
            "cluster_id",
            "n_docs",
            "n_langs",
            "n_sources",
            "majority_lang",
            (F.col("n_langs") > 1).alias("lang_conflict"),
            (F.col("n_sources") > 1).alias("source_conflict"),
        )
    )


@query(
    "q259_kwic_snippets",
    tags=("text", "retrieval", "snippets"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), tf AS (
  SELECT doc_id, unnest(w) AS term FROM toks
), dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf GROUP BY term
), qterms AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rk
    FROM dfreq
  ) WHERE rk BETWEEN 5 AND 12
), hits AS (
  SELECT t.doc_id, q.term,
         CAST(list_position(t.w, q.term) AS BIGINT) AS pos,
         CAST(len(t.w) AS BIGINT) AS n_tok,
         t.w
  FROM toks t CROSS JOIN qterms q
  WHERE list_position(t.w, q.term) > 0
), sel AS (
  SELECT doc_id, term, pos, n_tok, w,
         row_number() OVER (
           PARTITION BY term ORDER BY doc_id
         ) AS rk
  FROM hits
)
SELECT term, doc_id, pos,
       array_to_string(
         w[CAST(greatest(1, pos - 3) AS BIGINT):
           CAST(least(n_tok, pos + 3) AS BIGINT)], ' '
       ) AS snippet
FROM sel WHERE rk <= 5
""",
)
def q259_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets: for each of the q238 query terms
    (document-frequency ranks 5-12), the FIRST occurrence position and
    a ±3-token context window from the 5 lowest-id matching documents
    — the search-result presentation layer that completes the BM25
    retrieval stack (ranked ids alone are not a search product).

    Scale: the token array is bound ONCE in a projection (the CSE
    rule — split() must not be re-evaluated inside position/slice
    expressions); query terms are a bounded broadcast; the
    per-term document cap plans as WindowGroupLimit (map-side prune).
    Position/slice arithmetic is exact integers; boundary clamping is
    written identically on both sides so edge-of-document snippets
    shorten the same way.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).localCheckpoint(eager=False)  # df-rank branch + hit branch
    tf = toks.select("doc_id", F.explode("w").alias("term"))
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    top12 = dfreq.orderBy(F.desc("df"), F.asc("term")).limit(12)
    qterms = (
        top12.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("df"), F.asc("term"))),
        )
        .where(F.col("rk").between(5, 12))
        .select("term")
    )
    pos = F.array_position(F.col("w"), F.col("term")).cast("bigint")
    hits = (
        toks.crossJoin(F.broadcast(qterms))
        .select(
            "doc_id",
            "term",
            pos.alias("pos"),
            F.size("w").cast("bigint").alias("n_tok"),
            "w",
        )
        .where(F.col("pos") > 0)
    )
    wt = Window.partitionBy("term").orderBy("doc_id")
    start = F.greatest(F.lit(1), F.col("pos") - 3)
    length = (
        F.least(F.col("n_tok"), F.col("pos") + 3) - start + 1
    ).cast("int")
    return (
        hits.withColumn("rk", F.row_number().over(wt))
        .where(F.col("rk") <= 5)
        .select(
            "term",
            "doc_id",
            "pos",
            F.array_join(
                F.slice(F.col("w"), start.cast("int"), length), " "
            ).alias("snippet"),
        )
    )


@query(
    "q262_source_ablation_diversity",
    tags=("llm-pipeline", "mixing", "audit"),
    oracle="""
WITH cont AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
), langs AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM cont GROUP BY lang
), srcs AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM cont GROUP BY source
), tot AS (
  SELECT CAST(sum(nl) AS BIGINT) AS nt FROM langs
), hfull AS (
  SELECT -sum(CASE WHEN nl > 0
                   THEN (nl * 1.0 / nt) * ln(nl * 1.0 / nt)
                   ELSE 0.0 END) AS h
  FROM langs CROSS JOIN tot
), cells AS (
  SELECT s.source, l.lang, s.ns,
         l.nl - coalesce(c.n, 0) AS m
  FROM langs l CROSS JOIN srcs s
  LEFT JOIN cont c ON c.lang = l.lang AND c.source = s.source
), hwo AS (
  SELECT source, any_value(ns) AS ns,
         -sum(CASE WHEN m > 0
                   THEN (m * 1.0 / (nt - any_ns)) * ln(m * 1.0 / (nt - any_ns))
                   ELSE 0.0 END) AS h_without
  FROM (
    SELECT c.source, c.lang, c.ns, c.m, t.nt, c.ns AS any_ns
    FROM cells c CROSS JOIN tot t
  ) GROUP BY source
)
SELECT w.source, w.ns AS n_docs,
       round(w.ns * 1.0 / t.nt + 1e-9, 6) AS corpus_share,
       round(f.h + 1e-9, 6) AS h_full,
       round(w.h_without + 1e-9, 6) AS h_without,
       round(f.h - w.h_without + 1e-9, 6) + 0 AS delta_h
FROM hwo w CROSS JOIN hfull f CROSS JOIN tot t
""",
)
def q262_source_ablation_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source-ablation diversity audit: the Shannon entropy of the
    corpus language distribution, recomputed WITHOUT each ingest
    source — ΔH per source is the data-valuation number that says
    which feeds actually buy linguistic diversity (the thing q208's
    temperature mixing needs) versus which just add more of the
    majority language (ΔH ≤ 0: removing them would RAISE diversity).

    Scale: everything runs on the |langs × sources| contingency frame
    from ONE grouped pass; ablated counts are the margin minus the
    cell (never a per-source re-scan of documents). 0·ln0 terms are
    excluded by explicit CASE (the q188 rule); ΔH can round to zero
    from below, so it carries the sign-of-zero guard (footgun 9).
    """
    docs = read_table(spark, sf_dir, "documents", ["lang", "source"])
    cont = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)  # margins + cells branches
    )
    langs = cont.groupBy("lang").agg(F.sum("n").alias("nl"))
    langs = langs.localCheckpoint(eager=False)  # hfull + cells branches
    srcs = cont.groupBy("source").agg(F.sum("n").alias("ns"))
    tot = langs.agg(F.sum("nl").alias("nt"))
    p_full = F.col("nl") * 1.0 / F.col("nt")
    hfull = (
        langs.crossJoin(F.broadcast(tot))
        .agg(
            (-F.sum(
                F.when(F.col("nl") > 0, p_full * F.log(p_full)).otherwise(
                    0.0
                )
            )).alias("h")
        )
    )
    cells = (
        langs.crossJoin(srcs)
        .join(cont, ["lang", "source"], "left")
        .select(
            "source",
            "lang",
            "ns",
            (F.col("nl") - F.coalesce(F.col("n"), F.lit(0))).alias("m"),
        )
    )
    p_wo = F.col("m") * 1.0 / (F.col("nt") - F.col("ns"))
    hwo = (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.any_value("ns").alias("ns"),
            (-F.sum(
                F.when(F.col("m") > 0, p_wo * F.log(p_wo)).otherwise(0.0)
            )).alias("h_without"),
        )
    )
    return (
        hwo.crossJoin(F.broadcast(hfull))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("ns").alias("n_docs"),
            fround(F.col("ns") * 1.0 / F.col("nt"), 6).alias(
                "corpus_share"
            ),
            fround(F.col("h"), 6).alias("h_full"),
            fround(F.col("h_without"), 6).alias("h_without"),
            (fround(F.col("h") - F.col("h_without"), 6) + 0).alias(
                "delta_h"
            ),
        )
    )


_DEDUP_SAVINGS_ORACLE = (
    _CC_REACH_CTES
    + """
, comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
), ranked AS (
  SELECT c.cluster_id, d.doc_id, d.source,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
         row_number() OVER (
           PARTITION BY c.cluster_id
           ORDER BY d.n_chars DESC, d.doc_id ASC
         ) AS rk
  FROM comp c JOIN documents d USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(n_tok) AS BIGINT) AS tokens_raw,
       CAST(sum(CASE WHEN rk = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         AS tokens_kept,
       round(1.0 - CAST(sum(CASE WHEN rk = 1 THEN n_tok ELSE 0 END)
                        AS BIGINT) * 1.0
                   / CAST(sum(n_tok) AS BIGINT) + 1e-9, 6) + 0
         AS token_savings
FROM ranked
GROUP BY source
"""
)


@query(
    "q265_dedup_savings_report",
    tags=("dedup", "report", "llm-pipeline"),
    oracle=_DEDUP_SAVINGS_ORACLE,
)
def q265_dedup_savings_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup savings report: for each ingest source, how many
    documents and TOKENS survive near-duplicate collapse (q60
    clusters, q98's survivor convention: longest text, doc_id
    tie-break) — the per-feed KPI that prices each source's real
    contribution to the training corpus (a feed that is 40% duplicate
    tokens costs 40% more per useful token than its invoice says).

    Scale: clustering is the existing min-label operator; the report
    is one window (partitioned by cluster) plus one source-grain
    aggregate. Counts are exact integers; the savings ratio is an
    integer ratio with the sign-of-zero guard (a dup-free source
    rounds to exactly +0.0 on both engines).
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", spread=True)
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    from ...operators.dedup import duplicate_clusters

    comp = duplicate_clusters(pairs, docs, id_col="doc_id")
    joined = comp.join(
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias(
                "n_tok"
            ),
        ),
        "doc_id",
    )
    wc = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = joined.withColumn("rk", F.row_number().over(wc))
    kept_tok = F.sum(
        F.when(F.col("rk") == 1, F.col("n_tok")).otherwise(0)
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum("n_tok").alias("tokens_raw"),
        kept_tok.alias("tokens_kept"),
        (
            fround(1.0 - kept_tok * 1.0 / F.sum("n_tok"), 6) + 0
        ).alias("token_savings"),
    )


@query(
    "q271_retrieval_mrr_map",
    tags=("text", "retrieval", "evaluation"),
    oracle=_BM25_CONTRIB_CTES
    + """, langs AS (
  SELECT doc_id, lang FROM documents
), ranked AS (
  SELECT c.term, c.doc_id,
         l.lang = 'en' AS rel,
         row_number() OVER (
           PARTITION BY c.term
           ORDER BY round(c.w + 1e-9, 6) DESC, c.doc_id
         ) AS rk
  FROM contrib c JOIN langs l ON l.doc_id = c.doc_id
), top10 AS (
  SELECT term, rk, rel,
         CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) OVER (
           PARTITION BY term ORDER BY rk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS rel_cum
  FROM ranked WHERE rk <= 10
), totals AS (
  SELECT c.term,
         CAST(sum(CASE WHEN l.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel
  FROM contrib c JOIN langs l ON l.doc_id = c.doc_id
  GROUP BY c.term
), metrics AS (
  SELECT t.term,
         CAST(min(CASE WHEN rel THEN rk END) AS BIGINT) AS first_rel_rank,
         sum(CASE WHEN rel THEN rel_cum * 1.0 / rk ELSE 0.0 END) AS ap_num
  FROM top10 t GROUP BY t.term
)
SELECT m.term, tt.n_rel, m.first_rel_rank,
       round(coalesce(1.0 / m.first_rel_rank, 0.0) + 1e-9, 6)
         AS reciprocal_rank,
       round(CASE WHEN least(tt.n_rel, 10) > 0
                  THEN m.ap_num / least(tt.n_rel, 10) ELSE 0.0 END
             + 1e-9, 6) AS ap_at_10
FROM metrics m JOIN totals tt ON tt.term = m.term
""",
)
def q271_retrieval_mrr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR and MAP@10 for the per-term BM25 rankings against an
    engine-independent relevance proxy (English documents) —
    completing the retrieval-evaluation suite (q189's NDCG measures
    graded gain, this measures first-hit latency and ranked
    precision) on the IDENTICAL scoring algebra as q238 (shared
    contrib frame — the q234 can-never-disagree discipline).

    Scale: rankings partition per query term with the top-10
    pruned map-side; precision@k comes from a cumulative window over
    ≤10 rows per term; totals are one grouped pass. Ranking orders by
    the ROUNDED weight with doc_id tie-break (footgun 3); reciprocal
    ranks and AP terms are exact integer ratios float-summed over ≤10
    terms (fround-absorbed).
    """
    from pyspark.sql import Window

    contrib = _bm25_contrib(spark, sf_dir).localCheckpoint(
        eager=False
    )  # ranking + totals branches
    langs = read_table(spark, sf_dir, "documents", ["doc_id", "lang"])
    joined = contrib.join(langs, "doc_id").select(
        "term", "doc_id", (F.col("lang") == "en").alias("rel"), "w"
    )
    joined = joined.localCheckpoint(eager=False)  # two branches
    wt = Window.partitionBy("term").orderBy(
        F.desc(fround(F.col("w"), 6)), F.asc("doc_id")
    )
    ranked = joined.withColumn("rk", F.row_number().over(wt))
    top10 = ranked.where(F.col("rk") <= 10).withColumn(
        "rel_cum",
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .over(
            Window.partitionBy("term")
            .orderBy("rk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("bigint"),
    )
    totals = joined.groupBy("term").agg(
        F.sum(F.when(F.col("rel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rel")
    )
    metrics = top10.groupBy("term").agg(
        F.min(F.when(F.col("rel"), F.col("rk")))
        .cast("bigint")
        .alias("first_rel_rank"),
        F.sum(
            F.when(
                F.col("rel"), F.col("rel_cum") * 1.0 / F.col("rk")
            ).otherwise(0.0)
        ).alias("ap_num"),
    )
    return metrics.join(totals, "term").select(
        "term",
        "n_rel",
        "first_rel_rank",
        fround(
            F.coalesce(1.0 / F.col("first_rel_rank"), F.lit(0.0)), 6
        ).alias("reciprocal_rank"),
        fround(
            F.when(
                F.least(F.col("n_rel"), F.lit(10)) > 0,
                F.col("ap_num") / F.least(F.col("n_rel"), F.lit(10)),
            ).otherwise(0.0),
            6,
        ).alias("ap_at_10"),
    )


@query(
    "q277_heaps_law_growth",
    tags=("text", "tokenizer", "scaling-law"),
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), firstseen AS MATERIALIZED (
  SELECT term, CAST(min(doc_id) AS BIGINT) AS first_doc FROM toks
  GROUP BY term
), doctok AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM toks
  GROUP BY doc_id
), ids AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn,
         count(*) OVER () AS nd
  FROM doctok
), cutoffs AS MATERIALIZED (
  SELECT CAST(decile AS BIGINT) AS decile, doc_id AS cutoff
  FROM ids, (SELECT unnest(generate_series(1, 10)) AS decile)
  WHERE rn = CAST(ceil(decile * nd / 10.0) AS BIGINT)
), growth AS (
  SELECT c.decile, c.cutoff,
         (SELECT CAST(sum(d.n_tok) AS BIGINT) FROM doctok d
          WHERE d.doc_id <= c.cutoff) AS n_tokens,
         (SELECT CAST(count(*) AS BIGINT) FROM firstseen f
          WHERE f.first_doc <= c.cutoff) AS n_types
  FROM cutoffs c
), fit AS (
  SELECT count(*) AS k,
         sum(ln(CAST(n_tokens AS DOUBLE))) AS sx,
         sum(ln(CAST(n_types AS DOUBLE))) AS sy,
         sum(ln(CAST(n_tokens AS DOUBLE)) * ln(CAST(n_types AS DOUBLE)))
           AS sxy,
         sum(ln(CAST(n_tokens AS DOUBLE)) * ln(CAST(n_tokens AS DOUBLE)))
           AS sxx
  FROM growth
)
SELECT g.decile, g.cutoff, g.n_tokens, g.n_types,
       round((f.k * f.sxy - f.sx * f.sy)
             / (f.k * f.sxx - f.sx * f.sx) + 1e-9, 6) AS heaps_beta,
       round(exp((f.sy - ((f.k * f.sxy - f.sx * f.sy)
                          / (f.k * f.sxx - f.sx * f.sx)) * f.sx) / f.k)
             + 1e-9, 4) AS heaps_k
FROM growth g CROSS JOIN fit f
""",
)
def q277_heaps_law_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct-type count versus token
    count at ten corpus prefixes (doc-id deciles), with the fitted
    V = k·N^β power law (log-log OLS) — the scaling curve that
    predicts how big the tokenizer vocabulary must be at 100× the
    corpus, and the reason q108's OOV rate moves when a new feed
    lands (β ≈ 0.5 is natural text; β near 1 means the corpus never
    stops minting types — an id-leak smell).

    The single-pass trick: a term contributes to every prefix after
    its FIRST document, so prefix vocabulary sizes are rank counts
    over the (term, first_doc) frame — ten cutoff comparisons against
    a 10-row broadcast, never ten corpus re-scans. Cutoffs are exact
    doc-id order statistics; the β fit follows the q204 fixed
    expression tree on shared log sums (fround-absorbed).
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).localCheckpoint(eager=False)  # firstseen + doctok branches
    firstseen = toks.groupBy("term").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    doctok = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    from ...operators.rankops import bucketed_rank

    doctok = doctok.localCheckpoint(eager=False)  # cutoffs + sums
    nd = doctok.agg(F.count(F.lit(1)).alias("nd"))
    # +1 shift: bucketed_rank needs a positive value column (q217
    # contract) and doc ids start at 0; the shift is order-preserving.
    ids = bucketed_rank(
        doctok.select("doc_id", (F.col("doc_id") + 1).alias("docp1")),
        "docp1",
        [],
        out_col="rn",
    ).crossJoin(F.broadcast(nd))
    deciles = F.explode(
        F.array(*[F.lit(i) for i in range(1, 11)])
    ).alias("decile")
    cutoffs = (
        ids.select("doc_id", "rn", "nd", deciles)
        .where(
            F.col("rn")
            == F.ceil(F.col("decile") * F.col("nd") / 10.0).cast("bigint")
        )
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("doc_id").alias("cutoff"),
        )
        .localCheckpoint(eager=False)  # tokens + types branches
    )
    n_tokens = (
        doctok.crossJoin(F.broadcast(cutoffs))
        .where(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("decile", "cutoff")
        .agg(F.sum("n_tok").cast("bigint").alias("n_tokens"))
    )
    n_types = (
        firstseen.crossJoin(F.broadcast(cutoffs))
        .where(F.col("first_doc") <= F.col("cutoff"))
        .groupBy("decile", "cutoff")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    )
    growth = n_tokens.join(n_types, ["decile", "cutoff"])
    growth = growth.localCheckpoint(eager=False)  # fit + output branches
    lx = F.log(F.col("n_tokens").cast("double"))
    ly = F.log(F.col("n_types").cast("double"))
    fit = growth.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return growth.crossJoin(F.broadcast(fit)).select(
        "decile",
        "cutoff",
        "n_tokens",
        "n_types",
        fround(beta, 6).alias("heaps_beta"),
        fround(
            F.exp((F.col("sy") - beta * F.col("sx")) / F.col("k")), 4
        ).alias("heaps_k"),
    )


@query(
    "q280_dedup_threshold_sweep",
    tags=("dedup", "calibration", "audit"),
    oracle=f"""
WITH {TOKEN_OVERLAP}, pairs AS MATERIALIZED (
  SELECT doc_a, doc_b,
         inter / (sa.n_toks + sb.n_toks - inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter / (sa.n_toks + sb.n_toks - inter) >= 0.2
), taus AS (
  SELECT unnest(['0.2', '0.3', '0.4', '0.5', '0.6', '0.7', '0.8'])
    AS tau_label,
  unnest([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]) AS tau
), hits AS (
  SELECT t.tau_label, p.doc_a, p.doc_b
  FROM pairs p JOIN taus t ON p.jaccard >= t.tau
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
)
SELECT h.tau_label AS tau,
       CAST(count(*) / 2 AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT d) AS BIGINT) AS n_docs_flagged,
       round(count(DISTINCT d) * 1.0 / any_value(nd.n_docs) + 1e-9, 6)
         AS flagged_share
FROM (
  SELECT tau_label, doc_a AS d FROM hits
  UNION ALL SELECT tau_label, doc_b FROM hits
) h CROSS JOIN nd
GROUP BY h.tau_label
""",
)
def q280_dedup_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup threshold calibration sweep: exact word-set Jaccard pairs
    (q33's language-blocked verifier, floored at 0.2) evaluated at
    seven candidate thresholds in ONE pass — pair counts and the
    share of the corpus that would be flagged at each τ, the curve a
    data curator reads to pick the dedup threshold (the elbow where
    flagged-share stops falling is where near-dups end and topical
    similarity begins; q178 then audits LSH recall AT the chosen τ).

    Scale: the expensive part (exact pair verification) runs once;
    the sweep is a ≤7× fan-out of the already-tiny pair frame against
    a broadcast threshold list. Jaccards are exact integer ratios
    compared against identical float literals on both engines;
    thresholds ship as string labels (never a double group key).
    """
    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_similar_pairs(
        docs, threshold=0.2, block_col="lang"
    ).localCheckpoint(eager=False)  # 7 threshold branches
    taus = local_frame(spark, 
        [(f"{t:.1f}", t) for t in (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)],
        "tau_label string, tau double",
    )
    hits = pairs.join(
        F.broadcast(taus), F.col("jaccard") >= F.col("tau")
    )
    exploded = hits.select(
        "tau_label", F.col("doc_a").alias("d")
    ).unionByName(hits.select("tau_label", F.col("doc_b").alias("d")))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        exploded.crossJoin(F.broadcast(nd))
        .groupBy(F.col("tau_label").alias("tau"))
        .agg(
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_pairs"),
            F.countDistinct("d").alias("n_docs_flagged"),
            fround(
                F.countDistinct("d") * 1.0 / F.any_value("n_docs"), 6
            ).alias("flagged_share"),
        )
    )


_QUALITY_SCORE_SQL = """
round(0.5 * (len(list_distinct(w)) / len(w))
    + 0.3 * (1.0 - len(list_filter(w, t -> t IN ('the','a','and','of','to')))
                   / len(w))
    + 0.2 * least((len(text) - (len(w) - 1)) / len(w) / 10.0, 1.0)
    + 1e-9, 6)
"""


@query(
    "q282_quality_filter_yield",
    tags=("text", "quality", "calibration", "llm-pipeline"),
    oracle=f"""
WITH scored AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         {_QUALITY_SCORE_SQL.strip()} AS q
  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
), taus AS (
  SELECT unnest(['0.40','0.45','0.50','0.55','0.60','0.65','0.70','0.75'])
    AS tau_label,
  unnest([0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70, 0.75]) AS tau
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS nd,
         CAST(sum(n_tokens) AS BIGINT) AS nt
  FROM scored
)
SELECT t.tau_label AS tau,
       CAST(count(CASE WHEN s.q >= t.tau THEN 1 END) AS BIGINT)
         AS docs_kept,
       round(count(CASE WHEN s.q >= t.tau THEN 1 END) * 1.0
             / any_value(tot.nd) + 1e-9, 6) AS doc_yield,
       CAST(coalesce(sum(CASE WHEN s.q >= t.tau THEN s.n_tokens END), 0)
            AS BIGINT) AS tokens_kept,
       round(coalesce(sum(CASE WHEN s.q >= t.tau THEN s.n_tokens END), 0)
             * 1.0 / any_value(tot.nt) + 1e-9, 6) AS token_yield,
       round(avg(CASE WHEN s.q >= t.tau THEN s.q END) + 1e-9, 6)
         AS mean_kept_quality
FROM scored s CROSS JOIN taus t CROSS JOIN tot
GROUP BY t.tau_label
""",
)
def q282_quality_filter_yield(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-filter yield curve: document and TOKEN survival at
    eight quality-score thresholds in one pass — the curve a curator
    reads against the training-token budget before locking the q36
    filter (doc yield and token yield diverge when quality correlates
    with length, and the TOKEN axis is the one the loss curve cares
    about). Thresholds compare against the ROUNDED score (identical
    doubles both engines — the q228 rule) and ship as string labels.

    Scale: scoring is the map-side q36 arithmetic, computed once
    (checkpointed); the sweep is an 8× broadcast fan-out of the
    doc-grain frame. Counts exact; yields exact ratios (rule 5).
    """
    docs = read_table(spark, sf_dir, "documents")
    scored = (
        quality_scores(docs)
        .select("doc_id", "n_tokens", F.col("quality_score").alias("q"))
        .localCheckpoint(eager=False)  # totals + sweep branches
    )
    taus = local_frame(spark, 
        [(f"{t:.2f}", t) for t in
         (0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70, 0.75)],
        "tau_label string, tau double",
    )
    tot = scored.agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("n_tokens").cast("bigint").alias("nt"),
    )
    kept = F.when(F.col("q") >= F.col("tau"), 1)
    kept_tok = F.when(F.col("q") >= F.col("tau"), F.col("n_tokens"))
    return (
        scored.crossJoin(F.broadcast(taus))
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("tau_label").alias("tau"))
        .agg(
            F.count(kept).cast("bigint").alias("docs_kept"),
            fround(F.count(kept) * 1.0 / F.any_value("nd"), 6).alias(
                "doc_yield"
            ),
            F.coalesce(F.sum(kept_tok), F.lit(0))
            .cast("bigint")
            .alias("tokens_kept"),
            fround(
                F.coalesce(F.sum(kept_tok), F.lit(0))
                * 1.0
                / F.any_value("nt"),
                6,
            ).alias("token_yield"),
            fround(
                F.avg(F.when(F.col("q") >= F.col("tau"), F.col("q"))), 6
            ).alias("mean_kept_quality"),
        )
    )


@query(
    "q283_quality_perplexity_spearman",
    tags=("text", "quality", "statistics", "llm-pipeline"),
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
), qscore AS (
  SELECT doc_id, {_QUALITY_SCORE_SQL.strip()} AS q FROM base
), words AS (
  SELECT doc_id, unnest(w) AS wd FROM base
), doc_word AS (
  SELECT doc_id, wd, CAST(count(*) AS BIGINT) AS c
  FROM words GROUP BY doc_id, wd
), corpus AS (
  SELECT wd, CAST(sum(c) AS BIGINT) AS cw FROM doc_word GROUP BY wd
), totw AS (
  SELECT CAST(sum(cw) AS BIGINT) AS n_total FROM corpus
), lp AS (
  SELECT d.doc_id,
         round(ln(CAST(t.n_total AS DOUBLE))
               - sum(d.c * ln(CAST(c2.cw AS DOUBLE)))
                 / CAST(sum(d.c) AS BIGINT) + 1e-9, 6) AS nlp
  FROM doc_word d JOIN corpus c2 ON c2.wd = d.wd
  CROSS JOIN totw t
  GROUP BY d.doc_id, t.n_total
), joined AS MATERIALIZED (
  SELECT q.doc_id, q.q, l.nlp FROM qscore q JOIN lp l USING (doc_id)
), rq AS (
  SELECT q AS v, CAST(count(*) AS BIGINT) AS c FROM joined GROUP BY q
), rq2 AS (
  SELECT v,
         CAST(2 * coalesce(sum(c) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) + c + 1 AS BIGINT) AS r2
  FROM rq
), rl AS (
  SELECT nlp AS v, CAST(count(*) AS BIGINT) AS c FROM joined GROUP BY nlp
), rl2 AS (
  SELECT v,
         CAST(2 * coalesce(sum(c) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) + c + 1 AS BIGINT) AS r2
  FROM rl
), ranked AS (
  SELECT j.doc_id, a.r2 AS ra, b.r2 AS rb
  FROM joined j
  JOIN rq2 a ON a.v = j.q
  JOIN rl2 b ON b.v = j.nlp
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ra) AS BIGINT) AS sa,
         CAST(sum(rb) AS BIGINT) AS sb,
         CAST(sum(ra * rb) AS BIGINT) AS sab,
         CAST(sum(ra * ra) AS BIGINT) AS saa,
         CAST(sum(rb * rb) AS BIGINT) AS sbb
  FROM ranked
)
SELECT n AS n_docs,
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
                                 - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))
                       + 1e-9, 6) + 0 END AS spearman_rho
FROM sums
""",
)
def q283_quality_perplexity_spearman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between the corpus-perplexity proxy
    (q101's average negative unigram log-probability) and the q36
    quality score — the audit that says whether the cheap heuristic
    filter and the statistical one actually AGREE on ordering (if
    |ρ| is low, the two filters keep different corpora and the
    pipeline needs both; monotone-only association, so Spearman, not
    Pearson — no linearity assumption across two unrelated scales).

    Exactness: average ranks with ties come from the distinct-ROUNDED
    -value histogram (bounded by 1e6+1 values at any corpus — the
    q227 grain argument; never a doc-sized global window), doubled to
    stay integer (2·avg_rank = 2·F + c + 1 — the q211 rank algebra),
    so every Pearson-of-ranks sum is an exact BIGINT cast to double
    once (q204 rule) with the sign-of-zero guard on ρ.
    """
    from ...operators.stats import spearman_rho

    docs = read_table(spark, sf_dir, "documents")
    q = quality_scores(docs).select(
        "doc_id", F.col("quality_score").alias("qv")
    )
    lp = unigram_logprob_scores(docs).select(
        "doc_id", F.col("avg_neg_logprob").alias("nlp")
    )
    joined = q.join(lp, "doc_id")
    return spearman_rho(joined, "qv", "nlp").select(
        F.col("n").alias("n_docs"), "spearman_rho"
    )


@query(
    "q291_good_turing_unseen_mass",
    tags=("text", "tokenizer", "statistics", "llm-pipeline"),
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, term
), fof AS MATERIALIZED (
  SELECT source, c, CAST(count(*) AS BIGINT) AS n_c
  FROM tf GROUP BY source, c
), stats AS (
  SELECT source,
         CAST(sum(c * n_c) AS BIGINT) AS n_tokens,
         CAST(sum(n_c) AS BIGINT) AS n_types,
         CAST(coalesce(sum(CASE WHEN c = 1 THEN n_c END), 0) AS BIGINT)
           AS n1,
         CAST(coalesce(sum(CASE WHEN c = 2 THEN n_c END), 0) AS BIGINT)
           AS n2
  FROM fof GROUP BY source
)
SELECT source, n_tokens, n_types, n1, n2,
       round(n1 * 1.0 / n_tokens + 1e-9, 6) AS p_unseen,
       round(n1 * 1.0 / n_types + 1e-9, 6) AS singleton_type_share,
       CASE WHEN n1 > 0
            THEN round(2.0 * n2 / n1 + 1e-9, 6) END
         AS gt_adjusted_count_1
FROM stats
""",
)
def q291_good_turing_unseen_mass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Good-Turing unseen-mass estimate per source: the probability
    that the NEXT token drawn from each feed is a never-seen type is
    N₁/N (the singleton share — Good 1953), with the first adjusted
    count r* = 2·N₂/N₁ as the smoothing diagnostic — the
    missing-species number that says how under-sampled each feed's
    vocabulary still is (high unseen mass → q277's Heaps curve hasn't
    bent yet → expect OOV pain, q108). A singleton-free source yields
    NULL r* explicitly on both engines.

    Scale: term frequencies reduce to the frequency-of-frequencies
    grain (bounded by max count, tiny) BEFORE any statistics — the
    per-source table never touches raw tokens twice. All counts are
    exact integers; outputs are exact ratios (rule 5).
    """
    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    tf = (
        docs.select(
            "source",
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fof = tf.groupBy("source", "c").agg(F.count(F.lit(1)).alias("n_c"))
    stats = fof.groupBy("source").agg(
        F.sum(F.col("c") * F.col("n_c")).cast("bigint").alias("n_tokens"),
        F.sum("n_c").cast("bigint").alias("n_types"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 1, F.col("n_c"))), F.lit(0)
        ).cast("bigint").alias("n1"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 2, F.col("n_c"))), F.lit(0)
        ).cast("bigint").alias("n2"),
    )
    return stats.select(
        "source",
        "n_tokens",
        "n_types",
        "n1",
        "n2",
        fround(F.col("n1") * 1.0 / F.col("n_tokens"), 6).alias(
            "p_unseen"
        ),
        fround(F.col("n1") * 1.0 / F.col("n_types"), 6).alias(
            "singleton_type_share"
        ),
        F.when(
            F.col("n1") > 0, fround(2.0 * F.col("n2") / F.col("n1"), 6)
        ).alias("gt_adjusted_count_1"),
    )


@query(
    "q314_hapax_gibberish_screen",
    tags=("text", "quality", "llm-pipeline"),
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS MATERIALIZED (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY doc_id, term
), corpus AS (
  SELECT term, CAST(sum(c) AS BIGINT) AS cw FROM tf GROUP BY term
), perdoc AS (
  SELECT t.doc_id,
         CAST(sum(t.c) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN c2.cw = 1 THEN t.c ELSE 0 END) AS BIGINT)
           AS hapax_tokens
  FROM tf t JOIN corpus c2 ON c2.term = t.term
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, hapax_tokens,
       round(hapax_tokens * 1.0 / n_tokens + 1e-9, 6) AS hapax_share,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (
    ORDER BY round(hapax_tokens * 1.0 / n_tokens + 1e-9, 6) DESC,
             doc_id
  ) AS rk
  FROM perdoc
) WHERE rk <= 20
""",
)
def q314_hapax_gibberish_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hapax-dominated document screen: the 20 documents whose tokens
    are most dominated by corpus-singletons (words NOBODY else ever
    uses) — the cheap gibberish/binary-spill/ID-dump detector that
    catches what q36's surface heuristics miss (such text has
    perfectly normal lengths and stopword ratios), the document-grain
    application of q291's Good-Turing singleton mass.

    Scale: the doc-term frame joins the corpus counts on the term key
    (the canonical skew shuffle); everything reduces at the doc
    grain. Counts exact; the share is an exact ratio ranked ROUNDED
    with doc_id tie-break (footgun 3).
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tf = tf.localCheckpoint(eager=False)  # corpus + per-doc branches
    corpus = tf.groupBy("term").agg(F.sum("c").alias("cw"))
    perdoc = (
        tf.join(corpus, "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(
                F.when(F.col("cw") == 1, F.col("c")).otherwise(0)
            ).cast("bigint").alias("hapax_tokens"),
        )
    )
    share = fround(
        F.col("hapax_tokens") * 1.0 / F.col("n_tokens"), 6
    )
    top = (
        perdoc.select(
            "doc_id", "n_tokens", "hapax_tokens", share.alias("hapax_share")
        )
        .orderBy(F.desc("hapax_share"), F.asc("doc_id"))
        .limit(20)
    )
    return top.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("hapax_share"), F.asc("doc_id")))
        .cast("bigint"),
    )


def _hash32_sql(seed: str, expr: str) -> str:
    """First 32 bits of md5(seed || expr) as a BIGINT (DuckDB side).

    Eight instr-nibble terms — the 8-nibble extension of the q34
    pattern `_hash16_sql` proves engine-exact; 32 bits keep winnowing
    fingerprint collisions negligible at corpus scale.
    """
    h = f"md5('{seed}' || {expr})"
    terms = [
        f"(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _hash32(seed: str, col):
    """Spark twin of :func:`_hash32_sql`."""
    h = F.md5(F.concat(F.lit(seed), col))
    v = F.lit(0).cast("bigint")
    for i in range(8):
        nib = F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1
        v = v * 16 + nib
    return v


@query(
    "q320_winnowing_fingerprints",
    tags=("text", "dedup", "fingerprint", "llm-pipeline"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 6
), grams AS (
  SELECT doc_id, CAST(m AS BIGINT) AS m, CAST(p[4] AS BIGINT) AS pos,
         p[1] || ' ' || p[2] || ' ' || p[3] AS gram
  FROM (
    SELECT doc_id, len(w) - 2 AS m,
           unnest(list_zip(w[1:len(w)-2], w[2:len(w)-1], w[3:len(w)],
                           range(1, len(w)-1))) AS p
    FROM toks
  )
), keyed AS (
  SELECT doc_id, m, pos, gram,
         {_hash32_sql('winnow|', 'gram')} * 16777216
           + (16777215 - pos) AS key
  FROM grams
), wins AS (
  SELECT doc_id, m,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
           AS minkey,
         pos
  FROM keyed
), fp AS (
  SELECT DISTINCT doc_id, m,
         16777215 - (minkey % 16777216) AS sel_pos
  FROM wins WHERE pos <= m - 3
), fpg AS (
  SELECT f.doc_id, f.m, g.gram
  FROM fp f JOIN grams g
    ON g.doc_id = f.doc_id AND g.pos = f.sel_pos
), gshared AS (
  SELECT gram FROM fpg GROUP BY gram
  HAVING count(DISTINCT doc_id) >= 2
), prof AS (
  SELECT doc_id, any_value(m) AS n_grams,
         CAST(count(*) AS BIGINT) AS n_fp
  FROM fpg GROUP BY doc_id
), sharedcnt AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_shared_fp
  FROM fpg f JOIN gshared s ON f.gram = s.gram
  GROUP BY f.doc_id
)
SELECT p.doc_id, p.n_grams, p.n_fp,
       CAST(coalesce(c.n_shared_fp, 0) AS BIGINT) AS n_shared_fp,
       round(p.n_fp * 1.0 / p.n_grams + 1e-9, 6) AS fp_density,
       round(coalesce(c.n_shared_fp, 0) * 1.0 / p.n_fp + 1e-9, 6)
         AS shared_share
FROM prof p LEFT JOIN sharedcnt c ON p.doc_id = c.doc_id
""",
)
def q320_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every 3-token shingle,
    slide a window of 4 consecutive shingle hashes over each document,
    and keep the minimum hash per window (rightmost on ties). The
    selected set is a deterministic, position-robust fingerprint with
    the winnowing guarantee: any verbatim overlap of at least
    w + k - 1 = 6 tokens between two documents shares at least one
    fingerprint. Reports, per document, the shingle count, fingerprint
    count, fingerprint density (~2/(w+1) in expectation), and the
    share of its fingerprints that also appear in another document —
    the plagiarism/boilerplate exposure signal the LSH stack (q32,
    q178) cannot give per-position.

    Engine-exactness: the rightmost-min-tie selection is encoded in
    ONE integer key per shingle, ``h32 * 2^24 + (2^24 - 1 - pos)`` —
    an integer window-min then decodes back to the selected position,
    so both engines pick identical fingerprints (md5 nibble hash,
    rule 4). The window is bounded (4 rows) and partitioned by
    document; the shared-gram frame is a groupBy on fingerprint text
    — everything shuffles on keys, nothing is all-pairs.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).where(F.size("w") >= 6)
    grams = (
        toks.select(
            "doc_id",
            (F.size("w") - 2).cast("bigint").alias("m"),
            F.posexplode(
                F.arrays_zip(
                    F.slice("w", 1, F.size("w") - 2).alias("a"),
                    F.slice(F.col("w"), 2, F.size("w") - 2).alias("b"),
                    F.slice(F.col("w"), 3, F.size("w") - 2).alias("c"),
                )
            ).alias("pos0", "p"),
        )
        .select(
            "doc_id",
            "m",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.concat_ws(
                " ", F.col("p.a"), F.col("p.b"), F.col("p.c")
            ).alias("gram"),
        )
    )
    grams = grams.localCheckpoint(eager=False)  # keyed + fingerprint-join reuse
    keyed = grams.withColumn(
        "key",
        _hash32("winnow|", F.col("gram")) * F.lit(16777216).cast("bigint")
        + (F.lit(16777215) - F.col("pos")),
    )
    w_win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    wins = keyed.select(
        "doc_id", "m", "pos", F.min("key").over(w_win).alias("minkey")
    )
    fp = (
        wins.where(F.col("pos") <= F.col("m") - 3)
        .select(
            "doc_id",
            "m",
            (F.lit(16777215) - F.col("minkey") % 16777216).alias("sel_pos"),
        )
        .distinct()
    )
    gsel = grams.select(
        F.col("doc_id").alias("gdoc"),
        F.col("pos").alias("gpos"),
        "gram",
    )
    fpg = fp.join(
        gsel,
        (F.col("doc_id") == F.col("gdoc"))
        & (F.col("sel_pos") == F.col("gpos")),
    ).select("doc_id", "m", "gram")
    fpg = fpg.localCheckpoint(eager=False)  # profile + shared branches
    gshared = (
        fpg.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    prof = fpg.groupBy("doc_id").agg(
        F.any_value("m").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_fp"),
    )
    sharedcnt = (
        fpg.join(gshared, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_fp"))
    )
    return (
        prof.join(sharedcnt, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "n_fp",
            F.coalesce(F.col("n_shared_fp"), F.lit(0)).cast("bigint")
              .alias("n_shared_fp"),
            fround(F.col("n_fp") * 1.0 / F.col("n_grams"), 6)
              .alias("fp_density"),
            fround(
                F.coalesce(F.col("n_shared_fp"), F.lit(0)) * 1.0
                / F.col("n_fp"),
                6,
            ).alias("shared_share"),
        )
    )


@query(
    "q354_vocab_source_upset",
    tags=("text", "report", "audit"),
    oracle="""
WITH srcidx AS (
  SELECT source,
         CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS idx
  FROM (SELECT DISTINCT source FROM documents)
), toksrc AS (
  SELECT tok, source, CAST(count(*) AS BIGINT) AS occ
  FROM (
    SELECT unnest(string_split(text, ' ')) AS tok, source FROM documents
  ) GROUP BY tok, source
), tokmask AS (
  SELECT t.tok,
         CAST(sum(CAST(1 AS BIGINT) << s.idx) AS BIGINT) AS mask,
         CAST(sum(t.occ) AS BIGINT) AS total_occ
  FROM toksrc t JOIN srcidx s USING (source)
  GROUP BY t.tok
), grp AS (
  SELECT mask,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(total_occ) AS BIGINT) AS n_occurrences
  FROM tokmask GROUP BY mask
)
SELECT g.mask,
       CAST(bit_count(g.mask) AS BIGINT) AS n_sources,
       string_agg(s.source, ',' ORDER BY s.idx) AS members,
       g.n_tokens, g.n_occurrences
FROM grp g JOIN srcidx s ON ((g.mask >> s.idx) & 1) = 1
GROUP BY g.mask, g.n_tokens, g.n_occurrences
""",
)
def q354_vocab_source_upset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UpSet-style vocabulary overlap profile: every EXACT combination
    of sources a token appears in becomes one row (the intersection
    lattice Venn diagrams can't draw past 3 sets), with its token
    count and total corpus occurrences. The mixing-audit answer to
    "which feeds share a vocabulary and which contribute exclusive
    tokens" — a feed whose tokens all sit in all-sources masks adds
    no lexical coverage (the q262 diversity story at the membership
    grain rather than the distribution grain).

    The combination is encoded as an exact integer bitmask: sources
    get dense bit indices by name order (a bounded <=|sources|-row
    rank window), and a token's mask is the sum of 1 << idx over the
    DISTINCT sources containing it — one grouped integer sum, no
    set-of-strings comparison anywhere. Membership lists are decoded
    by the bit-test join ((mask >> idx) & 1) = 1 against the bounded
    source frame, ordered by bit index on both engines.

    Exactness: masks/counts are exact integers end to end (DuckDB's
    HUGEINT sum of shifts is cast back, rule 8); no float column at
    all.

    Scale: the corpus-sized work is one token explode + two grouped
    reductions ((token x source), then token); mask groups are
    bounded by min(vocab, 2^|sources|) and the decode join touches
    only that bounded frame against the |sources|-row index.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    srcidx = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (
                F.row_number().over(Window.orderBy("source")) - 1
            ).cast("bigint").alias("idx"),
        )
    )
    toksrc = (
        docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("tok"), "source"
        )
        .groupBy("tok", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    )
    tokmask = (
        toksrc.join(F.broadcast(srcidx), "source")
        .groupBy("tok")
        .agg(
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx AS INT))")
            )
            .cast("bigint")
            .alias("mask"),
            F.sum("occ").cast("bigint").alias("total_occ"),
        )
    )
    grp = tokmask.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("total_occ").cast("bigint").alias("n_occurrences"),
    )
    decoded = grp.join(
        F.broadcast(srcidx),
        F.expr("(shiftright(mask, CAST(idx AS INT)) & 1) = 1"),
    )
    return (
        decoded.groupBy("mask", "n_tokens", "n_occurrences")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "source"))),
                    lambda s: s["source"],
                ),
                ",",
            ).alias("members")
        )
        .select(
            "mask",
            F.bit_count("mask").cast("bigint").alias("n_sources"),
            "members",
            "n_tokens",
            "n_occurrences",
        )
    )


#: Oracle CTEs: space-split tokens per source and their counts.
_SOURCE_TOKEN_COUNTS_CTES = """tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
), cnt AS (
  SELECT source, t, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY source, t
)"""


@query(
    "q367_vocabulary_richness",
    tags=("text", "statistics", "llm-pipeline"),
    oracle=f"""
WITH {_SOURCE_TOKEN_COUNTS_CTES}, spec AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS d,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM cnt GROUP BY source
)
SELECT source, n AS n_tokens, d AS n_distinct, f1 AS n_hapax,
       f2 AS n_dis,
       round(CASE WHEN f2 > 0
                  THEN d + CAST(f1 * f1 AS DOUBLE) / (2.0 * f2)
                  ELSE d + CAST(f1 * (f1 - 1) AS DOUBLE) / 2.0
             END + 1e-9, 4) AS chao1_richness,
       round(CAST(f1 AS DOUBLE) / n + 1e-9, 6) AS gt_unseen_mass,
       round(1.0 - CAST(f1 AS DOUBLE) / n + 1e-9, 6) AS gt_coverage
FROM spec
""",
)
def q367_vocabulary_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary richness and coverage estimation from the
    frequency spectrum alone: the Chao1 lower bound on the TRUE
    (unobserved-included) vocabulary size (D + f1^2/2f2, the
    bias-corrected f2=0 variant included) and the Good-Turing unseen
    probability mass f1/N — "how much vocabulary has this feed not
    shown us yet", the forward-looking companion to q277's Heaps
    exponent (which fits growth observed so far) and q314's hapax
    screen (which uses f1 as a gibberish signal). A source with high
    Chao1/D and high unseen mass justifies more crawling; one near
    saturation does not.

    Exactness: the whole frequency spectrum is exact integer counting
    on the (source, token) grain; both estimators are single fixed
    expressions of (d, n, f1, f2) with an exact integer f2 > 0
    branch. No sums of floats anywhere.

    Scale: one token explode + two grouped reductions, the q35/q172
    funnel; output is |sources| rows.
    """
    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    cnt = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("t")
        )
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    spec = cnt.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    f1, f2, d, n = F.col("f1"), F.col("f2"), F.col("d"), F.col("n")
    chao1 = F.when(
        f2 > 0, d + (f1 * f1).cast("double") / (F.lit(2.0) * f2)
    ).otherwise(d + (f1 * (f1 - 1)).cast("double") / F.lit(2.0))
    return spec.select(
        "source",
        n.alias("n_tokens"),
        d.alias("n_distinct"),
        f1.alias("n_hapax"),
        f2.alias("n_dis"),
        fround(chao1, 4).alias("chao1_richness"),
        fround(f1.cast("double") / n, 6).alias("gt_unseen_mass"),
        fround(F.lit(1.0) - f1.cast("double") / n, 6).alias("gt_coverage"),
    )


@query(
    "q371_js_divergence_matrix",
    tags=("text", "drift", "statistics"),
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
), tot AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY source
), terms AS (
  SELECT a.source AS src_a, b.source AS src_b, a.c AS c1, b.c AS c2,
         (a.c / CAST(ta.n AS DOUBLE)) AS p,
         (b.c / CAST(tb.n AS DOUBLE)) AS q
  FROM cnt a
  JOIN cnt b ON a.tok = b.tok AND a.source < b.source
  JOIN tot ta ON ta.source = a.source
  JOIN tot tb ON tb.source = b.source
), agg AS (
  SELECT src_a, src_b,
         CAST(count(*) AS BIGINT) AS n_shared_types,
         CAST(sum(c1) AS BIGINT) AS ca,
         CAST(sum(c2) AS BIGINT) AS cb,
         sum(p * ln((2.0 * p) / (p + q))) AS sa,
         sum(q * ln((2.0 * q) / (p + q))) AS sb
  FROM terms GROUP BY src_a, src_b
)
SELECT src_a, src_b, n_shared_types,
       round(ca / CAST(ta.n AS DOUBLE) + 1e-9, 6) AS shared_mass_a,
       round(cb / CAST(tb.n AS DOUBLE) + 1e-9, 6) AS shared_mass_b,
       round(0.5 * (sa + sb)
             + (0.5 * ln(2.0))
               * ((1.0 - ca / CAST(ta.n AS DOUBLE))
                  + (1.0 - cb / CAST(tb.n AS DOUBLE))) + 1e-9, 6) + 0
         AS js_divergence
FROM agg
JOIN tot ta ON ta.source = agg.src_a
JOIN tot tb ON tb.source = agg.src_b
""",
)
def q371_js_divergence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two sources'
    token-occurrence (unigram) distributions — the SYMMETRIC, bounded
    ([0, ln 2]) corpus-mix distance that completes the drift family:
    q120's KL is asymmetric and infinite on disjoint support, q174's
    PSI needs smoothing, q165/q340 compare LENGTH distributions only.
    JS is what mixture-design actually wants ("how redundant are these
    two feeds?") because JS(P,Q) is the information gained per
    document by knowing which feed it came from.

    The disjoint-support mass never joins: a token in exactly one
    source contributes p*ln(2) to its side's KL(·||M), and those terms
    telescope to ln(2)*(1 - shared_mass) with shared_mass = Ca/n1 an
    EXACT integer ratio — so only the shared-token inner join is ever
    materialized, and the one-sided vocabulary (the huge tail) is
    handled in closed form. Per-term math is products/ratios of exact
    integers through one ln (bit-identical cross-engine, q158
    precedent); the float sums over shared types land far inside
    fround-6 (|terms| ~ 1e4, per-term ulp ~ 1e-17); `+ 0` guards the
    sign of a near-zero rounding (footgun 9).

    Scale: token-grain shuffles only (the counts groupBy and the
    shared-token equi-join keyed by token — both high-cardinality);
    the pair fan-out is |sources| per token row, the output frame is
    the bounded source-pair grid. No windows, no collects.
    """
    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    cnt = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # totals + both join sides
    )
    tot = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    a = cnt.select(
        F.col("source").alias("src_a"), "tok", F.col("c").alias("c1")
    )
    b = cnt.select(
        F.col("source").alias("src_b"), "tok", F.col("c").alias("c2")
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("n").alias("n1"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n").alias("n2"))
    terms = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a", "src_b", "c1", "c2",
            (F.col("c1") / F.col("n1").cast("double")).alias("p"),
            (F.col("c2") / F.col("n2").cast("double")).alias("q"),
        )
    )
    agg = terms.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_types"),
        F.sum("c1").cast("bigint").alias("ca"),
        F.sum("c2").cast("bigint").alias("cb"),
        F.sum(
            F.col("p")
            * F.log((F.lit(2.0) * F.col("p")) / (F.col("p") + F.col("q")))
        ).alias("sa"),
        F.sum(
            F.col("q")
            * F.log((F.lit(2.0) * F.col("q")) / (F.col("p") + F.col("q")))
        ).alias("sb"),
    )
    ma = F.col("ca") / F.col("n1").cast("double")
    mb = F.col("cb") / F.col("n2").cast("double")
    return (
        agg.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared_types",
            fround(ma, 6).alias("shared_mass_a"),
            fround(mb, 6).alias("shared_mass_b"),
            (
                fround(
                    F.lit(0.5) * (F.col("sa") + F.col("sb"))
                    + (F.lit(0.5) * F.log(F.lit(2.0)))
                    * ((F.lit(1.0) - ma) + (F.lit(1.0) - mb)),
                    6,
                )
                + F.lit(0.0)
            ).alias("js_divergence"),
        )
    )


@query(
    "q375_log_odds_keyness",
    tags=("text", "statistics", "topk"),
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE source IN ('src0', 'src1')
), c AS (
  SELECT tok,
         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
              AS BIGINT) AS y1,
         CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
              AS BIGINT) AS y2
  FROM toks GROUP BY tok
), t AS (
  SELECT CAST(sum(y1) AS BIGINT) AS n1, CAST(sum(y2) AS BIGINT) AS n2
  FROM c
), z AS (
  SELECT tok, y1, y2, delta, zscore FROM (
    SELECT tok, y1, y2,
           ln((y1 + aw) / ((n1 + 1000.0) - (y1 + aw)))
             - ln((y2 + aw) / ((n2 + 1000.0) - (y2 + aw))) AS delta,
           (ln((y1 + aw) / ((n1 + 1000.0) - (y1 + aw)))
             - ln((y2 + aw) / ((n2 + 1000.0) - (y2 + aw))))
             / sqrt(1.0 / (y1 + aw) + 1.0 / (y2 + aw)) AS zscore
    FROM (
      SELECT tok, y1, y2, n1, n2,
             ((1000.0 * (y1 + y2)) / (n1 + n2)) AS aw
      FROM c, t
    )
  )
), ranked AS (
  SELECT tok, y1, y2, delta, zscore,
         CAST(row_number() OVER (
           ORDER BY round(abs(zscore) + 1e-9, 6) DESC, tok
         ) AS BIGINT) AS rank
  FROM z
)
SELECT rank, tok, y1, y2,
       round(delta + 1e-9, 6) AS log_odds_delta,
       round(zscore + 1e-9, 6) AS zscore
FROM ranked WHERE rank <= 20
""",
)
def q375_log_odds_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness leaderboard between the src0 and src1 vocabularies by
    the log-odds ratio with an informative Dirichlet prior (Monroe,
    Colaresi & Quinn 2008, "Fightin' Words") — the corpus-comparison
    statistic that fixes both of its predecessors' failure modes: raw
    PMI (q117's machinery) explodes on rare words, plain chi-square
    over-weights high-frequency function words. Each token's prior
    mass a_w is the CORPUS-rate share of a 1000-pseudo-count prior, so
    rare tokens shrink hard and the z-score ranks genuinely
    source-distinctive vocabulary. Top-20 by |z|.

    Exactness: y-counts and totals are exact BIGINTs from one grouped
    pass (a token absent on one side is a genuine 0 — no join, no NULL
    handling); a_w, both log-odds, and the variance are one fixed
    chain of correctly-rounded double ops on exact integers (ln per
    the q158 precedent, parenthesized identically both engines); the
    top-20 ORDERS BY THE 6-dp-ROUNDED |z| (the q348 rule) with the
    token as total tie-break, so the cut is cross-engine stable.

    Scale: one token-grain reduce (map-side combined), a 1-row totals
    broadcast, and a global top-20 (TakeOrderedAndProject) — the rank
    window runs on the 20-row funnel only.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    c = (
        docs.where(F.col("source").isin("src0", "src1"))
        .select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("tok")
        .agg(
            F.sum(
                F.when(F.col("source") == "src0", 1).otherwise(0)
            ).cast("bigint").alias("y1"),
            F.sum(
                F.when(F.col("source") == "src1", 1).otherwise(0)
            ).cast("bigint").alias("y2"),
        )
    )
    t = c.agg(
        F.sum("y1").cast("bigint").alias("n1"),
        F.sum("y2").cast("bigint").alias("n2"),
    )
    aw = (F.lit(1000.0) * (F.col("y1") + F.col("y2"))) / (
        F.col("n1") + F.col("n2")
    )
    primed = c.crossJoin(F.broadcast(t)).select(
        "tok", "y1", "y2", "n1", "n2", aw.alias("aw")
    )
    l1 = F.log(
        (F.col("y1") + F.col("aw"))
        / ((F.col("n1") + F.lit(1000.0)) - (F.col("y1") + F.col("aw")))
    )
    l2 = F.log(
        (F.col("y2") + F.col("aw"))
        / ((F.col("n2") + F.lit(1000.0)) - (F.col("y2") + F.col("aw")))
    )
    sig = F.sqrt(
        F.lit(1.0) / (F.col("y1") + F.col("aw"))
        + F.lit(1.0) / (F.col("y2") + F.col("aw"))
    )
    z = primed.select(
        "tok",
        "y1",
        "y2",
        (l1 - l2).alias("delta"),
        ((l1 - l2) / sig).alias("zscore"),
    )
    keyed = z.select(
        "tok", "y1", "y2", "delta", "zscore",
        fround(F.abs(F.col("zscore")), 6).alias("az"),
    )
    top = keyed.orderBy(F.desc("az"), F.asc("tok")).limit(20)
    w = Window.orderBy(F.desc("az"), F.asc("tok"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select(
            "rank",
            "tok",
            "y1",
            "y2",
            fround(F.col("delta"), 6).alias("log_odds_delta"),
            fround(F.col("zscore"), 6).alias("zscore"),
        )
    )


@query(
    "q379_token_dispersion_dp",
    tags=("text", "statistics", "topk"),
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY source
), nt AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM st
), cnt AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
), ctot AS (
  SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM cnt GROUP BY tok
), grid AS (
  SELECT s.source, ct.tok, ct.ct, s.n, coalesce(c.c, 0) AS c
  FROM ctot ct CROSS JOIN st s
  LEFT JOIN cnt c ON c.tok = ct.tok AND c.source = s.source
), dp AS (
  SELECT g.tok, max(g.ct) AS ct,
         CAST(sum(abs(g.c * nt.nn - g.n * g.ct)) AS BIGINT) AS num,
         max(nt.nn) AS nn
  FROM grid g CROSS JOIN nt
  GROUP BY g.tok
), ranked AS (
  SELECT tok, ct, num, nn,
         CAST(row_number() OVER (
           ORDER BY round(CAST(num AS DOUBLE) / (2.0 * ct * nn) + 1e-9, 6)
                      DESC,
                    tok
         ) AS BIGINT) AS rank
  FROM dp WHERE ct >= 50
)
SELECT rank, tok, ct AS n_occurrences,
       round(CAST(num AS DOUBLE) / (2.0 * ct * nn) + 1e-9, 6)
         AS dispersion_dp
FROM ranked WHERE rank <= 20
""",
)
def q379_token_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiest vocabulary by Gries' deviation-of-proportions
    dispersion (Gries 2008): DP = half the L1 distance between a
    token's across-source occurrence shares and the sources' size
    shares — 0 means the token spreads exactly like the corpus, 1
    means it lives in one source. The token-level complement to q354's
    set lattice and q371's distribution-level JS: THIS is the ranking
    a mixture designer reads to find source-locked vocabulary (min 50
    occurrences so the head is meaningful), and corpus linguistics'
    standard fix for raw frequency overstating bursty terms.

    Exactness: DP = sum_s |c_s*N - n_s*C| / (2*C*N) — the numerator is
    a sum of EXACT BIGINT cross-products (|c*N| <= ~1e18 at sf100;
    beyond that the cast-once double class takes over, documented),
    so the statistic is a single integer ratio: zero float
    accumulation anywhere. The top-20 orders by the ROUNDED value
    (q348 rule) with the token tie-break. The zero-count cells a
    token needs (absent in a source still contributes n_s*C) come
    from a bounded |sources|-grid LEFT join, never a dense
    vocab x source materialization beyond the token's own row set.

    Scale: two token-keyed reduces plus the |sources|-fan grid join;
    the global top-20 is TakeOrderedAndProject; the rank window runs
    on the 20-row funnel.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    cnt = (
        toks.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # source totals + token totals + grid
    )
    st = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    nt = st.agg(F.sum("n").cast("bigint").alias("nn"))
    ctot = cnt.groupBy("tok").agg(F.sum("c").cast("bigint").alias("ct"))
    grid = (
        ctot.crossJoin(F.broadcast(st))
        .join(cnt, ["tok", "source"], "left")
        .select(
            "tok", "ct", "n",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    dp = (
        grid.crossJoin(F.broadcast(nt))
        .groupBy("tok")
        .agg(
            F.max("ct").alias("ct"),
            F.sum(
                F.abs(F.col("c") * F.col("nn") - F.col("n") * F.col("ct"))
            ).cast("bigint").alias("num"),
            F.max("nn").alias("nn"),
        )
        .where(F.col("ct") >= 50)
    )
    dval = fround(
        F.col("num").cast("double") / (F.lit(2.0) * F.col("ct") * F.col("nn")),
        6,
    )
    keyed = dp.select("tok", "ct", "num", "nn", dval.alias("d"))
    top = keyed.orderBy(F.desc("d"), F.asc("tok")).limit(20)
    w = Window.orderBy(F.desc("d"), F.asc("tok"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).select(
        "rank",
        "tok",
        F.col("ct").alias("n_occurrences"),
        F.col("d").alias("dispersion_dp"),
    )


@query(
    "q382_lexical_concentration",
    tags=("text", "statistics", "llm-pipeline"),
    oracle=f"""
WITH {_SOURCE_TOKEN_COUNTS_CTES}, spec AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS d,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * c) AS BIGINT) AS s2,
         CAST(max(c) AS BIGINT) AS cmax
  FROM cnt GROUP BY source
)
SELECT source, n AS n_tokens, d AS n_distinct,
       round(10000.0 * CAST(s2 - n AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) + 1e-9, 4)
         AS yule_k,
       round(CAST(s2 - n AS DOUBLE)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) + 1e-9, 6)
         AS simpson_d,
       round(CAST(cmax AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 6)
         AS top_token_share
FROM spec
""",
)
def q382_lexical_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical CONCENTRATION from the token frequency
    spectrum — the repetitiveness complement to q367's richness on the
    identical (source, token) count frame: Yule's characteristic K
    (10^4 * (Σc² − N)/N², the classic repeated-vocabulary statistic —
    high K = a feed recycling the same words, the template/boilerplate
    signature), Simpson's D (the probability two random tokens
    coincide, = Σc(c−1)/(N(N−1))), and the single-heaviest-token share.
    A curation pipeline reads q367 (how much vocabulary is left) and
    this (how degenerate is what's arriving) together before weighting
    a source in the training mix.

    Exactness: the spectrum is exact integer counting; Σc² and Σc stay
    BIGINT (bounded by N·cmax — safe far past sf1; a 100 TB deployment
    promotes the accumulator to DECIMAL/128-bit, the q261 note), both
    statistics are then a single cast-once double expression
    identically parenthesized on both engines (the q204 rule), and
    s11 = Σc(c−1) is derived as s2 − N so no second sum exists to
    drift. Integer-count ratios are engine-exact; rounded anyway
    (rule 5).

    Scale: one token-grain reduce into a source-grain reduce — the
    q367 shape exactly: map-side combinable, no joins, no windows.
    """
    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    cnt = toks.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    spec = cnt.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.max("c").cast("bigint").alias("cmax"),
    )
    nd = F.col("n").cast("double")
    excess = (F.col("s2") - F.col("n")).cast("double")
    return spec.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("d").alias("n_distinct"),
        fround(F.lit(10000.0) * excess / (nd * nd), 4).alias("yule_k"),
        fround(excess / (nd * (nd - F.lit(1.0))), 6).alias("simpson_d"),
        fround(F.col("cmax").cast("double") / nd, 6).alias(
            "top_token_share"
        ),
    )


@query(
    "q389_intra_doc_repetition",
    tags=("text", "quality", "llm-pipeline"),
    oracle="""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), tri AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(toks) - 2),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
  FROM w WHERE len(toks) >= 3
), per AS MATERIALIZED (
  SELECT doc_id, source,
         CAST(count(*) AS BIGINT) AS n_tri,
         CAST(count(DISTINCT g) AS BIGINT) AS d_tri
  FROM tri GROUP BY doc_id, source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tri - d_tri) AS BIGINT) AS dup_trigrams,
       CAST(sum(n_tri) AS BIGINT) AS total_trigrams,
       round(CAST(sum(n_tri - d_tri) AS DOUBLE)
             / CAST(sum(n_tri) AS DOUBLE) + 1e-9, 6) AS pooled_dup_rate,
       CAST(sum(CASE WHEN 5 * (n_tri - d_tri) > n_tri
                     THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
       round(CAST(sum(CASE WHEN 5 * (n_tri - d_tri) > n_tri
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) + 1e-9, 6) AS flagged_share
FROM per GROUP BY source
""",
)
def q389_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition per source — the Gopher/MassiveText
    duplicate-n-gram quality rule (Rae et al. 2021): per document, the
    fraction of its word trigrams that are repeats of an earlier
    trigram in the SAME document (boilerplate, templated spam, and
    degenerate generation all show up here before any cross-document
    dedup runs). Per source: pooled duplicate-trigram rate and the
    share of documents over the classic 20% threshold. Completes the
    repetition axis next to q345 (novel trigrams ACROSS the corpus),
    q382 (source-level token concentration), and q36 (surface quality
    ratios) — this one is within-document, the only one of the four
    that catches a single self-repeating page in an otherwise diverse
    feed.

    Exactness: trigram counts and distinct counts are exact integers
    on the (doc, trigram) grain; dup = n − distinct; the 20% flag is
    the EXACT integer cross-multiplication 5·dup > n (never a float
    threshold, the q357 rule); both rates are integer-count ratios
    (rule 5). Docs under 3 tokens have no trigrams and drop on both
    sides (the shingles_of contract).

    Scale: token arrays bound in a projection BEFORE the shingle
    lambda (the CSE rule); one explode → (doc, trigram) reduce →
    doc-grain reduce → source-grain reduce; no joins, no windows.
    """
    from ...operators.dedup import shingles_of

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "source", "text"])
    bound = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("_toks")
    ).where(F.size("_toks") >= 3)
    tri = bound.select(
        "doc_id",
        "source",
        F.explode(shingles_of(F.col("_toks"), 3)).alias("g"),
    )
    per = tri.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tri"),
        F.countDistinct("g").cast("bigint").alias("d_tri"),
    )
    dup = F.col("n_tri") - F.col("d_tri")
    flag = F.when(F.lit(5) * dup > F.col("n_tri"), 1).otherwise(0)
    nd = F.count(F.lit(1)).cast("bigint")
    return per.groupBy("source").agg(
        nd.alias("n_docs"),
        F.sum(dup).cast("bigint").alias("dup_trigrams"),
        F.sum("n_tri").cast("bigint").alias("total_trigrams"),
        fround(
            F.sum(dup).cast("double") / F.sum("n_tri").cast("double"), 6
        ).alias("pooled_dup_rate"),
        F.sum(flag).cast("bigint").alias("flagged_docs"),
        fround(F.sum(flag).cast("double") / nd.cast("double"), 6).alias(
            "flagged_share"
        ),
    )


@query(
    "q395_cdc_chunk_dedup",
    tags=("text", "dedup", "storage", "llm-pipeline"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(p[2] AS BIGINT) AS pos, p[1] AS tok
  FROM (
    SELECT doc_id, source,
           unnest(list_zip(w, range(1, len(w) + 1))) AS p
    FROM (SELECT doc_id, source, string_split(text, ' ') AS w
          FROM documents)
  )
), flagged AS (
  SELECT doc_id, source, pos, tok,
         CASE WHEN ({_hash16_sql('cdc|', 'tok')} % 8) = 0
              THEN 1 ELSE 0 END AS is_boundary
  FROM toks
), assigned AS (
  SELECT doc_id, source, pos, tok,
         CAST(coalesce(sum(is_boundary) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS chunk
  FROM flagged
), chunks AS (
  SELECT source, doc_id, chunk,
         CAST(count(*) AS BIGINT) AS clen,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
  FROM assigned GROUP BY source, doc_id, chunk
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT chash) AS BIGINT) AS n_unique,
       round((count(*) - count(DISTINCT chash)) * 1.0 / count(*) + 1e-9, 6)
         AS dup_share,
       round(CAST(sum(clen) AS BIGINT) * 1.0 / count(*) + 1e-9, 4)
         AS avg_chunk_tokens,
       CAST(max(clen) AS BIGINT) AS max_chunk_tokens
FROM chunks GROUP BY source
""",
)
def q395_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup audit (the LBFS/Venti rolling-
    boundary idea storage dedup and incremental-sync systems build
    on): a chunk boundary falls after every token whose content hash
    lands in 1/8 of the hash space, so boundaries depend only on
    LOCAL content — insert a paragraph and every chunk outside it
    keeps its identity, which is exactly why CDC beats fixed-size
    blocks for dedup. Per source: chunk count, distinct-chunk count,
    duplicate share (the storage-dedup savings), and chunk-size
    profile (expected ~8 tokens).

    Engine-exactness: the boundary rule is an integer md5-nibble
    test; chunk ids are integer prefix sums of boundary flags; chunk
    identity is md5 of the position-ordered token join (explicit
    ORDER BY pos / array_sort on the unique position — the file-order
    rule); shares are integer-count ratios.

    Scale: one pass to the token grain, one bounded-partition window
    (per document), one groupBy per (doc, chunk) and one per source —
    all key shuffles. No chunk content ever joins against other
    chunks; dedup is a count(DISTINCT md5) aggregate.
    """
    from pyspark.sql import Window

    from .splits import _hash16

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text", "source"])
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
    ).select(
        "doc_id",
        "source",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        "tok",
    )
    flagged = toks.withColumn(
        "is_boundary",
        F.when((_hash16("cdc|", F.col("tok")) % 8) == 0, 1).otherwise(0),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = flagged.select(
        "doc_id",
        "source",
        "pos",
        "tok",
        F.coalesce(F.sum("is_boundary").over(w_prev), F.lit(0))
        .cast("bigint")
        .alias("chunk"),
    )
    chunks = assigned.groupBy("source", "doc_id", "chunk").agg(
        F.count(F.lit(1)).cast("bigint").alias("clen"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("chash"),
    )
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.count_distinct(F.col("chash")).cast("bigint").alias("n_unique"),
        fround(
            (F.count(F.lit(1)) - F.count_distinct(F.col("chash")))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("dup_share"),
        fround(
            F.sum("clen").cast("bigint") * 1.0 / F.count(F.lit(1)), 4
        ).alias("avg_chunk_tokens"),
        F.max("clen").cast("bigint").alias("max_chunk_tokens"),
    )


@query(
    "q410_inter_doc_ngram_dup",
    tags=("text", "dedup", "llm-pipeline"),
    oracle="""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), pairs AS MATERIALIZED (
  SELECT DISTINCT doc_id, source,
         md5(unnest(list_transform(generate_series(1, len(toks) - 7),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
             || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
             || toks[i+6] || ' ' || toks[i+7]))) AS h
  FROM w WHERE len(toks) >= 8
), grams AS (
  SELECT h, CAST(count(*) AS BIGINT) AS nd FROM pairs GROUP BY h
), per AS (
  SELECT p.doc_id, p.source,
         CAST(sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM pairs p JOIN grams g USING (h)
  GROUP BY p.doc_id, p.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d) AS BIGINT) AS dup_doc_grams,
       CAST(sum(n) AS BIGINT) AS total_doc_grams,
       round(CAST(sum(d) AS DOUBLE) / CAST(sum(n) AS DOUBLE) + 1e-9, 6)
         AS pooled_dup_rate,
       CAST(sum(CASE WHEN 2 * d > n THEN 1 ELSE 0 END) AS BIGINT)
         AS flagged_docs,
       round(CAST(sum(CASE WHEN 2 * d > n THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) + 1e-9, 6) AS flagged_share
FROM per GROUP BY source
""",
)
def q410_inter_doc_ngram_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-document duplicated 8-gram rate per source — the Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") corpus-dedup metric: per document, the share of its
    DISTINCT word 8-grams that also occur in at least one OTHER
    document. q389 measures repetition WITHIN a page (Gopher rule);
    this is the cross-document axis the ExactSubstr/near-dup filters
    act on — a source full of syndicated or mirrored text shows a high
    pooled rate here while looking clean to q389. Per source: pooled
    duplicated-(doc, 8-gram) share, plus the count/share of documents
    whose 8-grams are MAJORITY duplicated (2·d > n, the exact integer
    cross-multiplication — probed on this corpus: per-doc shares are
    bimodal at ~0 and ~1, so the 50% line separates the near-duplicate
    pages cleanly).

    Exactness: the (doc, gram) grain is DISTINCT, so every count is an
    exact integer; a gram's document frequency comes from one groupBy
    on its md5 (identical hex both engines); rates are integer-count
    ratios (rule 5), rounded with the stable pair anyway.

    Scale: tokens bound in a projection BEFORE the shingle lambda (the
    CSE rule); grams travel as fixed-width md5 hex, never as 8-token
    strings; one explode -> distinct -> gram-grain reduce -> join back
    on the gram hash (co-partitioned with the groupBy that produced
    it) -> doc-grain reduce -> source-grain reduce. No all-pairs
    anything: the join fan-out is the (doc, gram) incidence itself.
    The pairs frame feeds two branches (gram counts + join back), so
    it truncates lineage once.
    """
    from ...operators.dedup import shingles_of

    docs = read_table(spark, sf_dir, "documents", ["doc_id", "source", "text"])
    bound = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("_toks")
    ).where(F.size("_toks") >= 8)
    pairs = (
        bound.select(
            "doc_id",
            "source",
            F.explode(shingles_of(F.col("_toks"), 8)).alias("g"),
        )
        .select("doc_id", "source", F.md5("g").alias("h"))
        .distinct()
        .localCheckpoint()
    )
    grams = pairs.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    dup = F.when(F.col("nd") >= 2, 1).otherwise(0)
    per = (
        pairs.join(grams, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(dup).cast("bigint").alias("d"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    flag = F.when(F.lit(2) * F.col("d") > F.col("n"), 1).otherwise(0)
    ndocs = F.count(F.lit(1)).cast("bigint")
    return per.groupBy("source").agg(
        ndocs.alias("n_docs"),
        F.sum("d").cast("bigint").alias("dup_doc_grams"),
        F.sum("n").cast("bigint").alias("total_doc_grams"),
        fround(
            F.sum("d").cast("double") / F.sum("n").cast("double"), 6
        ).alias("pooled_dup_rate"),
        F.sum(flag).cast("bigint").alias("flagged_docs"),
        fround(F.sum(flag).cast("double") / ndocs.cast("double"), 6).alias(
            "flagged_share"
        ),
    )


@query(
    "q426_morisita_horn_similarity",
    tags=("text", "drift", "statistics"),
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), cnt AS MATERIALIZED (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
), marg AS MATERIALIZED (
  SELECT source, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * c) AS BIGINT) AS sq
  FROM cnt GROUP BY source
), cross_p AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(sum(a.c * b.c) AS BIGINT) AS xy,
         CAST(count(*) AS BIGINT) AS n_shared_types
  FROM cnt a
  JOIN cnt b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.n_shared_types, p.xy AS cross_product,
       round((2.0 * ((CAST(ma.n AS DOUBLE) * mb.n) * p.xy))
             / ((CAST(mb.n AS DOUBLE) * mb.n) * ma.sq
                + (CAST(ma.n AS DOUBLE) * ma.n) * mb.sq)
             + 1e-9, 6) AS morisita_horn
FROM cross_p p
JOIN marg ma ON ma.source = p.src_a
JOIN marg mb ON mb.source = p.src_b
""",
)
def q426_morisita_horn_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Morisita-Horn similarity between every two sources'
    token-abundance profiles — the ABUNDANCE-weighted sibling of
    q371's Jensen-Shannon divergence (JS measures distributional
    information distance; Morisita-Horn is the ecologist's overlap
    index 2XY·Σx_iy_i/(Y²Σx_i² + X²Σy_i²), dominated by the HIGH-
    frequency vocabulary and nearly insensitive to corpus size, which
    makes it the mixture-design dial for "do these feeds sample the
    same head distribution?" where rare-type noise should not count).

    Exactness: the cross-product Σx_iy_i, both squared-abundance sums
    Σx², and the totals are pure BIGINTs (per-type counts keep x·y
    inside int64 past sf100 — the token head is ~5% of a source);
    the closing ratio's triple products cross 2^63, so both engines
    spell the IDENTICAL cast-once left-associated double expression
    (the q143 parenthesization rule) — one deterministic division,
    fround-6. Only shared tokens ever join (disjoint vocabulary
    contributes zero to every numerator term by definition).

    Scale: token-grain shuffles only (counts groupBy + the shared-
    token equi-join — q371's exact plan shape); output is the bounded
    source-pair grid. No windows, no collects.
    """
    docs = read_table(spark, sf_dir, "documents", ["source", "text"])
    cnt = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # marginals + both join sides
    )
    marg = cnt.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sq"),
    )
    a = cnt.select(
        F.col("source").alias("src_a"), "tok", F.col("c").alias("c1")
    )
    b = cnt.select(
        F.col("source").alias("src_b"), "tok", F.col("c").alias("c2")
    )
    cross_p = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("xy"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared_types"),
        )
    )
    ma = marg.select(
        F.col("source").alias("src_a"),
        F.col("n").alias("na"),
        F.col("sq").alias("sqa"),
    )
    mb = marg.select(
        F.col("source").alias("src_b"),
        F.col("n").alias("nb"),
        F.col("sq").alias("sqb"),
    )
    mh = (
        F.lit(2.0)
        * ((F.col("na").cast("double") * F.col("nb")) * F.col("xy"))
    ) / (
        (F.col("nb").cast("double") * F.col("nb")) * F.col("sqa")
        + (F.col("na").cast("double") * F.col("na")) * F.col("sqb")
    )
    return (
        cross_p.join(F.broadcast(ma), "src_a")
        .join(F.broadcast(mb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared_types",
            F.col("xy").alias("cross_product"),
            fround(mh, 6).alias("morisita_horn"),
        )
    )
