"""LLM training-data pipeline queries beyond the reference's surface:
cross-document boilerplate removal, sequence packing into fixed
context windows, domain-mixture weights, and word-entropy quality —
each held to a strict DuckDB oracle on the synthetic ``documents``
table (the packing oracle is a recursive CTE replaying the same
greedy next-fit recurrence the Arrow-grouped operator runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ...operators.dedup import shingles_of
from ...operators.packing import pack_sequences
from ...operators.textstats import (
    boilerplate_ngram_stats,
    domain_mixing_weights,
    unigram_logprob_scores,
    word_entropy,
)
from ...functions.scalar import fround
from ...sources.readers import read_table
from ..oracle_sql import SHINGLE_GRAMS
from ..registry import query
from ...core.session import local_frame
from .splits import _hash16, _hash16_sql

#: context-window capacity for the packing query (tokens). Documents
#: here run ~30-80 tokens, so 128 yields multi-document bins with
#: occasional rollover — both branches of the recurrence exercised.
_PACK_CAPACITY = 128


@query(
    "q92_boilerplate_ngrams",
    tags=("text", "dedup", "llm-pipeline"),
    oracle=f"""
WITH {SHINGLE_GRAMS}, hot AS (
  SELECT sh FROM grams GROUP BY sh HAVING count(DISTINCT doc_id) >= 4
), per_doc AS (
  SELECT doc_id, count(*) AS n_shingles FROM grams GROUP BY doc_id
), boil AS (
  SELECT g.doc_id, count(*) AS nb FROM grams g JOIN hot USING (sh) GROUP BY g.doc_id
)
SELECT p.doc_id,
       p.n_shingles,
       CAST(coalesce(b.nb, 0) AS BIGINT) AS n_boilerplate,
       round(coalesce(b.nb, 0) * 1.0 / p.n_shingles + 1e-9, 6) AS boilerplate_frac
FROM per_doc p LEFT JOIN boil b USING (doc_id)
""",
)
def q92_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate: distinct word 3-grams occurring in
    >= 4 documents, reported as a per-document contamination
    fraction — the exact-substring dedup signal an LLM pipeline
    applies before near-dup (the hot-gram set broadcasts back,
    so the exploded grams shuffle once)."""
    return boilerplate_ngram_stats(
        read_table(spark, sf_dir, "documents"), n=3, min_docs=4
    )


@query(
    "q93_sequence_packing",
    tags=("llm-pipeline", "stateful"),
    oracle=f"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id,
         least(len(string_split(text, ' ')), {_PACK_CAPACITY}) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), pack AS (
  SELECT source, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS bin_id, CAST(0 AS BIGINT) AS bin_offset,
         n_tokens AS fill
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.fill + t.n_tokens > {_PACK_CAPACITY}
              THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.fill + t.n_tokens > {_PACK_CAPACITY}
              THEN 0 ELSE p.fill END,
         CASE WHEN p.fill + t.n_tokens > {_PACK_CAPACITY}
              THEN t.n_tokens ELSE p.fill + t.n_tokens END
  FROM toks t JOIN pack p ON t.source = p.source AND t.rn = p.rn + 1
)
SELECT doc_id, source, n_tokens, bin_id, bin_offset FROM pack
""",
)
def q93_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit packing of each source's documents (doc_id
    order) into 128-token context windows — the custom sequential
    operator as one applyInPandas group per stream, parallel across
    streams; the oracle replays the identical recurrence as a
    recursive CTE, making the stateful operator exactly checkable."""
    docs = read_table(spark, sf_dir, "documents")
    with_toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(
        with_toks, capacity=_PACK_CAPACITY, id_col="doc_id",
        stream_col="source", tokens_col="n_tokens",
    )


@query(
    "q94_domain_mixing_weights",
    tags=("llm-pipeline", "aggregation"),
    oracle="""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), totals AS (
  SELECT sum(n_tokens) AS tot, count(*) AS n_sources FROM per_src
)
SELECT source, n_docs, n_tokens,
       round(n_tokens * 1.0 / tot + 1e-9, 6) AS token_share,
       round(tot * 1.0 / (n_sources * n_tokens) + 1e-9, 6) AS mix_weight
FROM per_src CROSS JOIN totals
""",
)
def q94_domain_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights rebalancing toward a uniform token
    budget per source (domain-mixture step): one groupBy plus a
    broadcast one-row cross join."""
    return domain_mixing_weights(read_table(spark, sf_dir, "documents"))


@query(
    "q95_word_entropy",
    tags=("text", "quality", "llm-pipeline"),
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), counts AS (
  SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_words,
       count(*) AS n_distinct_words,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c) + 1e-9, 6) AS entropy_nats
FROM counts
GROUP BY doc_id
""",
)
def q95_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's word distribution (nats):
    repetitive/templated text scores low and drops out before
    training. Integer counts shuffle with map-side combine; the log
    algebra runs on the reduced per-word-count frame."""
    return word_entropy(read_table(spark, sf_dir, "documents"))


_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
_PII_PHONE = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_NUM = "[0-9]+"


@query(
    "q97_pii_redaction",
    tags=("text", "llm-pipeline", "pii"),
    oracle="""
WITH fixture AS (
  SELECT c_custkey,
         c_name || ' call ' ||
         CAST(c_custkey % 90 + 10 AS VARCHAR) || '-' ||
         CAST(c_custkey % 900 + 100 AS VARCHAR) || '-' ||
         CAST(c_custkey % 700 + 100 AS VARCHAR) || '-' ||
         CAST(c_custkey % 9000 + 1000 AS VARCHAR) ||
         ' mail ' || lower(c_mktsegment) || CAST(c_custkey AS VARCHAR) ||
         '@example.com' AS t
  FROM customer
), pass1 AS (
  SELECT c_custkey, t,
         regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}',
                        '[EMAIL]', 'g') AS r1
  FROM fixture
), pass2 AS (
  SELECT c_custkey, t, r1,
         regexp_replace(r1, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}',
                        '[PHONE]', 'g') AS r2
  FROM pass1
)
SELECT c_custkey,
       len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}'))
         AS n_email,
       len(regexp_extract_all(r1, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}'))
         AS n_phone,
       len(regexp_extract_all(r2, '[0-9]+')) AS n_num,
       md5(regexp_replace(r2, '[0-9]+', '[NUM]', 'g')) AS redacted_md5,
       length(regexp_replace(r2, '[0-9]+', '[NUM]', 'g')) AS redacted_len
FROM pass2
""",
)
def q97_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the compliance pass every training-data
    pipeline runs before tokenization: detect and redact emails,
    phone-shaped numbers, then any remaining digit runs, reporting
    per-document match counts and the md5 of the fully redacted text.

    The synthetic tables carry no real PII, so the fixture text is
    derived deterministically from key columns in-query — identically
    on both engines — and the operator under test is the regex
    detect/redact machinery itself. Patterns are restricted to the
    syntax Java regex (Spark) and RE2 (DuckDB) evaluate identically:
    character classes + bounded repetition, no backreferences or
    lookaround ([.] instead of an escaped dot keeps the strings
    dialect-neutral). Spark's regexp_replace is global by default; the
    oracle passes 'g'.

    Scale: pure codegen string expressions, map-only plan — no
    shuffle, no Python. Each redaction pass is bound in its own
    projection so the three-stage chain (email -> phone -> number)
    evaluates each regex once per row.
    """
    cust = read_table(spark, sf_dir, "customer", ["c_custkey", "c_name", "c_mktsegment"])
    key = F.col("c_custkey")
    fixture = cust.select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit(" call "),
            (key % 90 + 10).cast("string"),
            F.lit("-"),
            (key % 900 + 100).cast("string"),
            F.lit("-"),
            (key % 700 + 100).cast("string"),
            F.lit("-"),
            (key % 9000 + 1000).cast("string"),
            F.lit(" mail "),
            F.lower("c_mktsegment"),
            key.cast("string"),
            F.lit("@example.com"),
        ).alias("t"),
    )
    pass1 = fixture.select(
        "c_custkey", "t", F.regexp_replace("t", _PII_EMAIL, "[EMAIL]").alias("r1")
    )
    pass2 = pass1.select(
        "c_custkey", "t", "r1",
        F.regexp_replace("r1", _PII_PHONE, "[PHONE]").alias("r2"),
    )
    return pass2.select(
        "c_custkey",
        F.regexp_count("t", F.lit(_PII_EMAIL)).alias("n_email"),
        F.regexp_count("r1", F.lit(_PII_PHONE)).alias("n_phone"),
        F.regexp_count("r2", F.lit(_PII_NUM)).alias("n_num"),
        F.md5(F.regexp_replace("r2", _PII_NUM, "[NUM]")).alias("redacted_md5"),
        F.length(F.regexp_replace("r2", _PII_NUM, "[NUM]")).alias("redacted_len"),
    )


@query(
    "q101_unigram_logprob",
    tags=("text", "llm-pipeline", "quality"),
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), doc_word AS (
  SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
), corpus AS (
  SELECT w, CAST(sum(c) AS BIGINT) AS cw FROM doc_word GROUP BY w
), total AS (
  SELECT CAST(sum(cw) AS BIGINT) AS n_total FROM corpus
), scored AS (
  SELECT d.doc_id,
         CAST(sum(d.c) AS BIGINT) AS n_tokens,
         sum(d.c * ln(k.cw)) AS s
  FROM doc_word d JOIN corpus k USING (w)
  GROUP BY d.doc_id
)
SELECT doc_id, n_tokens,
       round(ln((SELECT n_total FROM total)) - s / n_tokens + 1e-9, 6)
         AS avg_neg_logprob
FROM scored
""",
)
def q101_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring against the corpus' own
    unigram model (``operators/textstats.py::unigram_logprob_scores``)
    — the classic "how surprising is this document" filter an LLM data
    pipeline runs when no external language model is available.

    Scale: integer count aggregates reduce the exploded tokens before
    any float math; the doc-word/corpus frames partition on the word;
    the corpus-total is a one-row broadcast. No second scan of text.
    """
    return unigram_logprob_scores(read_table(spark, sf_dir, "documents"))


@query(
    "q107_bpe_pair_counts",
    tags=("text", "tokenizer", "llm-pipeline"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), pairs AS (
  SELECT doc_id, unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
  FROM toks WHERE len(w) >= 2
)
SELECT p[1] AS tok_a, p[2] AS tok_b, count(*) AS n_pairs
FROM pairs
GROUP BY 1, 2
ORDER BY n_pairs DESC, tok_a, tok_b
LIMIT 30
""",
)
def q107_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair frequencies over the corpus — the counting
    step of a BPE/WordPiece merge round (the most frequent pair is the
    next merge), at word granularity here because the synthetic corpus
    is word-structured.

    The pair stream is generated map-side with zero joins: two
    shifted array slices zipped and exploded (no posexplode self-join,
    no window over token position — both of which would shuffle the
    full token stream). One partial-aggregated shuffle on the pair,
    then a TakeOrderedAndProject top-30 with a full tie-break.

    Scale: this is the canonical map-reduce word-pair count; the only
    shuffle moves (pair, partial_count), already collapsed per
    partition by the map-side combine. An iterative BPE trainer would
    loop this query against a shrinking merged-token column.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select(F.split("text", " ").alias("w")).where(F.size("w") >= 2)
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1).alias("a"),
                F.slice(F.col("w"), 2, F.size("w") - 1).alias("b"),
            )
        ).alias("p")
    )
    return (
        pairs.select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "tok_a", "tok_b")
        .limit(30)
    )


@query(
    "q108_vocab_oov_rate",
    tags=("text", "tokenizer", "llm-pipeline"),
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM words GROUP BY w
    ORDER BY c DESC, w LIMIT 100
  )
), flagged AS (
  SELECT d.doc_id, d.w, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM words d LEFT JOIN vocab v USING (w)
), per_doc AS (
  SELECT doc_id, count(*) AS n_tok,
         CAST(sum(oov) AS BIGINT) AS n_oov
  FROM flagged GROUP BY doc_id
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(p.n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(p.n_oov) AS BIGINT) AS n_oov_tokens,
       round(sum(p.n_oov) * 1.0 / sum(p.n_tok) + 1e-9, 6) AS oov_rate
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.source
""",
)
def q108_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against a top-100 corpus
    vocabulary built in the same query — the tokenizer-coverage audit
    run before committing a vocab: a domain whose OOV rate spikes gets
    more vocab budget or more aggressive normalization.

    Two-level aggregation: global word counts (one shuffle with
    map-side combine) -> top-100 via TakeOrderedAndProject with a
    full (count, word) tie-break -> the tiny vocab BROADCASTS back
    against the token stream (no second shuffle of the corpus) ->
    per-doc then per-source rollup. Integer-count ratio: engine-exact
    (CLAUDE.md rule 5), summed as BIGINT on both sides (rule: DuckDB
    HUGEINT sums land as float64 in pandas).
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "source", "text"])
    words = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(100)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    flagged = words.join(F.broadcast(vocab), "w", "left")
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum("n_oov").alias("n_oov_tokens"),
        fround(F.sum("n_oov") * 1.0 / F.sum("n_tok"), 6).alias("oov_rate"),
    )


@query(
    "q109_heavy_hitters",
    tags=("text", "agg", "llm-pipeline"),
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), tot AS (SELECT count(*) AS n FROM words)
SELECT w AS word, count(*) AS n_occurrences,
       round(count(*) * 1.0 / any_value(tot.n) + 1e-9, 6) AS share
FROM words CROSS JOIN tot
GROUP BY w
HAVING count(*) * 1000 >= any_value(tot.n)
ORDER BY n_occurrences DESC, word
""",
)
def q109_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: every token exceeding 0.1% of the corpus
    token stream, with its share — the frequency-floor pass behind
    stopword induction and boilerplate detection. The support
    threshold is an integer cross-multiplication (count*1000 >= total),
    so membership is engine-exact with no float division in the
    predicate.

    Scale: one partial-aggregated shuffle on the word; the total is a
    one-row aggregate broadcast into the HAVING — this is the exact
    two-pass formulation. (A Misra-Gries single-pass sketch would
    trade the first shuffle for approximation; with map-side combine
    the exact version's shuffle already carries only distinct words
    per partition, so exactness is nearly free at any scale.)
    """
    docs = read_table(spark, sf_dir, "documents", ["text"])
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    total = words.select(F.count(F.lit(1)).alias("_n"))
    counts = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("n_occurrences") * 1000 >= F.col("_n"))
        .select(
            "word",
            "n_occurrences",
            fround(F.col("n_occurrences") * 1.0 / F.col("_n"), 6).alias("share"),
        )
        .orderBy(F.desc("n_occurrences"), "word")
    )


@query(
    "q141_inverted_index",
    tags=("text", "search", "index"),
    oracle="""
WITH tok AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
)
SELECT tok,
       CAST(count(*) AS BIGINT) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM tok
GROUP BY tok
HAVING count(*) >= 5
""",
)
def q141_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index (token → document frequency +
    ordered posting list) for tokens with support >= 5 — the
    search-engine/RAG ingest artifact next to the retrieval-time
    consumers already built on the concept (q114 probes inverted
    prefix lists; q66 ranks by TF-IDF). Postings serialize as an
    id-ordered CSV string so the artifact is deterministic and
    oracle-hashable; one explode + one groupBy(token).

    Scale: the shuffle carries (token, doc_id) pairs; per-token
    posting strings are bounded by document frequency — a 100 TB
    deployment shards hot tokens (the q32 cap pattern) or stores
    postings as bucketed arrays; the df column is the shard-planning
    input."""
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    ).distinct()
    return (
        tok.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings"),
        )
        .where(F.col("df") >= 5)
    )


@query(
    "q158_bigram_perplexity",
    tags=("text", "llm-pipeline", "quality"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), words AS (
  SELECT doc_id, unnest(w) AS tok FROM toks
), vocab AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM words
), pairs AS (
  SELECT doc_id, unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
  FROM toks WHERE len(w) >= 2
), dp AS (
  SELECT doc_id, p[1] AS a, p[2] AS b, count(*) AS c
  FROM pairs GROUP BY 1, 2, 3
), corpus AS (
  SELECT a, b, CAST(sum(c) AS BIGINT) AS cab FROM dp GROUP BY a, b
), ctx AS (
  SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM corpus GROUP BY a
), scored AS (
  SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_bigrams,
         sum(d.c * ln((k.cab + 0.5) / (x.ca + 0.5 * v.v))) AS s
  FROM dp d JOIN corpus k USING (a, b) JOIN ctx x USING (a), vocab v
  GROUP BY d.doc_id
)
SELECT doc_id, n_bigrams,
       round(-s / n_bigrams + 1e-9, 6) AS avg_neg_logprob
FROM scored
""",
)
def q158_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the corpus' own add-k-smoothed
    bigram model (k = 0.5) — the step up from q101's unigram surprise:
    word-ORDER anomalies (shuffled text, keyword stuffing, boilerplate
    splices) score high here while passing a unigram filter.

    p(b|a) = (c(a,b) + k) / (c(a) + k·V); the per-doc score is the
    mean negative log over the doc's bigram INSTANCES (weighted by
    the doc's own pair counts, so the exploded pair stream reduces to
    integer counts before any float math — the q101 discipline).

    Scale: the pair stream is generated map-side (shifted-slice zip,
    zero joins — the q107 pattern); everything after is counts frames
    partitioned on the pair/context key; the vocabulary size is a
    one-row broadcast. Log-sum association order is absorbed by the
    6-decimal round (proven by q101).
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    words = toks.select("doc_id", F.explode("w").alias("tok"))
    vocab = words.agg(F.countDistinct("tok").alias("v"))
    pairs = toks.where(F.size("w") >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, F.size("w") - 1),
                F.slice(F.col("w"), 2, F.size("w") - 1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
    )
    dp = pairs.groupBy(
        "doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    corpus = dp.groupBy("a", "b").agg(F.sum("c").alias("cab"))
    ctx = corpus.groupBy("a").agg(F.sum("cab").alias("ca"))
    scored = (
        dp.join(corpus, ["a", "b"])
        .join(ctx, "a")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(
                F.col("c")
                * F.log(
                    (F.col("cab") + 0.5) / (F.col("ca") + 0.5 * F.col("v"))
                )
            ).alias("s"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        fround(-F.col("s") / F.col("n_bigrams"), 6).alias("avg_neg_logprob"),
    )


@query(
    "q163_zipf_law_audit",
    tags=("text", "llm-pipeline", "audit"),
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY tok
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS hapax_count
  FROM vocab
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM vocab
), top AS (
  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM ranked WHERE r <= 100
), ols AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM top
)
SELECT n_vocab, n_tokens, hapax_count,
       round(hapax_count * 1.0 / n_vocab + 1e-9, 6) AS hapax_ratio,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 6) + 0
         AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             + 1e-9, 6) + 0 AS zipf_intercept
FROM stats, ols
""",
)
def q163_zipf_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law conformance audit of the corpus frequency spectrum:
    hapax-legomenon ratio plus the log-log OLS slope over the top-100
    ranks (natural text sits near slope -1; synthetic, boilerplate, or
    template-heavy corpora bend away from it — a cheap corpus-level
    health check before training).

    Scale: the spectrum comes from one token shuffle; the OLS runs on
    a TakeOrdered top-100 (bounded frame, so its unpartitioned rank
    window is a bounded funnel, never corpus-sized). Slope /
    intercept use the q110 closed form including its sign-of-zero
    ``+ 0`` normalization.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents", ["text"])
    words = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        words.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    stats = vocab.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum("c").alias("n_tokens"),
        F.count_if(F.col("c") == 1).alias("hapax_count"),
    )
    top100 = vocab.orderBy(F.desc("c"), "tok").limit(100)
    ranked = top100.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("c"), "tok"))
    )
    xy = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    ols = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return stats.crossJoin(F.broadcast(ols)).select(
        "n_vocab",
        "n_tokens",
        "hapax_count",
        fround(F.col("hapax_count") * 1.0 / F.col("n_vocab"), 6).alias(
            "hapax_ratio"
        ),
        (fround(slope, 6) + F.lit(0)).alias("zipf_slope"),
        (fround(intercept, 6) + F.lit(0)).alias("zipf_intercept"),
    )


@query(
    "q172_vocab_coverage_curve",
    tags=("text", "tokenizer", "llm-pipeline"),
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM words GROUP BY tok
), ranked AS (
  SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM vocab
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_vocab
  FROM vocab
), ks AS (
  SELECT unnest([100, 1000, 10000]) AS k
)
SELECT k,
       CAST(sum(CASE WHEN r <= k THEN c ELSE 0 END) AS BIGINT)
         AS covered_tokens,
       n_tokens, n_vocab,
       round(sum(CASE WHEN r <= k THEN c ELSE 0 END) * 1.0 / n_tokens
             + 1e-9, 6) AS coverage
FROM ranked, tot, ks
GROUP BY k, n_tokens, n_vocab
""",
)
def q172_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve for tokenizer sizing: what fraction
    of the corpus token stream does a top-k vocabulary cover, at
    k = 100 / 1k / 10k — the "how big must the vocab be before OOV
    is tolerable" companion of q108 (which scores a FIXED vocab).

    The frequency rank comes from operators/rankops.py::bucketed_rank
    (two-level: per-magnitude-bucket windows plus a ≤64-row offset
    scan) — the whole point of that operator is that a global
    ``row_number() OVER (ORDER BY c DESC)`` on a 100 TB vocabulary is
    a single-partition funnel; the oracle uses the plain global
    window because DuckDB runs single-node anyway. Descending rank is
    the ascending bucketed rank flipped off the vocabulary size, with
    the tie-break reversed so (count DESC, token ASC) stays total.

    Scale: one token shuffle to the vocabulary frame; the curve join
    multiplies the VOCAB frame by 3 bounded k-points, never the
    stream. All counts integer; one integer-ratio column.
    """
    from ...operators.rankops import bucketed_rank

    docs = read_table(spark, sf_dir, "documents", ["text"])
    words = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        words.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = vocab.agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("n_vocab")
    )
    asc = bucketed_rank(vocab, "c", [F.desc("tok")], out_col="r_asc")
    ranked = asc.crossJoin(F.broadcast(tot)).select(
        "tok",
        "c",
        "n_tokens",
        "n_vocab",
        (F.col("n_vocab") + 1 - F.col("r_asc")).alias("r"),
    )
    ks = local_frame(ranked.sparkSession, 
        [(100,), (1000,), (10000,)], "k int"
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k", "n_tokens", "n_vocab")
        .agg(
            F.sum(F.when(F.col("r") <= F.col("k"), F.col("c")).otherwise(0))
            .alias("covered_tokens"),
            fround(
                F.sum(
                    F.when(F.col("r") <= F.col("k"), F.col("c")).otherwise(0)
                )
                * 1.0
                / F.any_value("n_tokens"),
                6,
            ).alias("coverage"),
        )
        .select("k", "covered_tokens", "n_tokens", "n_vocab", "coverage")
    )


@query(
    "q219_bpe_merge_step",
    tags=("text", "tokenizer", "llm-pipeline"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), total AS (
  SELECT CAST(sum(len(w)) AS BIGINT) AS n_tokens_before FROM toks
), pairs AS (
  SELECT doc_id,
         p[1] AS a, p[2] AS b, CAST(p[3] AS BIGINT) AS pos
  FROM (
    SELECT doc_id,
           unnest(list_zip(w[1:len(w)-1], w[2:len(w)], range(1, len(w))))
             AS p
    FROM toks WHERE len(w) >= 2
  )
), top_pair AS (
  SELECT a AS tok_a, b AS tok_b FROM (
    SELECT a, b,
           row_number() OVER (ORDER BY count(*) DESC, a, b) AS rn
    FROM pairs GROUP BY a, b
  ) WHERE rn = 1
), occ AS (
  SELECT p.doc_id, p.pos, t.tok_a, t.tok_b
  FROM pairs p JOIN top_pair t ON p.a = t.tok_a AND p.b = t.tok_b
), islands AS (
  SELECT doc_id, pos, tok_a, tok_b,
         CAST(sum(CASE WHEN pos - prev_pos = 1 THEN 0 ELSE 1 END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS island
  FROM (
    SELECT doc_id, pos, tok_a, tok_b,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
    FROM occ
  )
), kept AS (
  SELECT tok_a, tok_b,
         CASE WHEN tok_a != tok_b THEN 1
              WHEN (row_number() OVER (
                      PARTITION BY doc_id, island ORDER BY pos
                    ) - 1) % 2 = 0 THEN 1
              ELSE 0 END AS merged
  FROM islands
)
SELECT tok_a, tok_b,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(sum(merged) AS BIGINT) AS n_merged,
       min(n_tokens_before) AS n_tokens_before,
       CAST(min(n_tokens_before) - sum(merged) AS BIGINT)
         AS n_tokens_after
FROM kept, total
GROUP BY tok_a, tok_b
""",
)
def q219_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE merge round, applied: find the most frequent
    adjacent token pair (q107's counting step), then compute how many
    occurrences actually merge under the tokenizer's greedy
    left-to-right rule. For a pair of distinct tokens occurrences
    never overlap; for a self-pair (x, x) inside a run of equal
    tokens, greedy matching merges the 1st, 3rd, 5th... occurrence of
    each run — expressed distributedly as gaps-and-islands over
    occurrence positions plus an even-offset filter, no sequential
    scan anywhere. Reports the corpus token count before and after
    the merge — the quantity a BPE trainer loop watches converge.

    Everything is integer counting over windows partitioned by
    document; the top pair broadcasts. An iterative trainer loops
    this step against a re-tokenized column (the q125 unrolled-
    iteration pattern).
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    total = toks.agg(F.sum(F.size("w")).alias("n_tokens_before"))
    pairs = (
        toks.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    F.slice("w", 1, F.size("w") - 1).alias("a"),
                    F.slice(F.col("w"), 2, F.size("w") - 1).alias("b"),
                )
            ).alias("pos0", "p"),
        )
        .select(
            "doc_id",
            F.col("p.a").alias("a"),
            F.col("p.b").alias("b"),
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
        )
    )
    counts = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n"))
    top_pair = (
        counts.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            ),
        )
        .where(F.col("rn") == 1)
        .select(F.col("a").alias("tok_a"), F.col("b").alias("tok_b"))
    )
    occ = pairs.join(
        F.broadcast(top_pair),
        (F.col("a") == F.col("tok_a")) & (F.col("b") == F.col("tok_b")),
    ).select("doc_id", "pos", "tok_a", "tok_b")
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    islands = occ.withColumn(
        "prev_pos", F.lag("pos").over(w_doc)
    ).withColumn(
        "island",
        F.sum(
            F.when(F.col("pos") - F.col("prev_pos") == 1, 0).otherwise(1)
        ).over(w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    w_isl = Window.partitionBy("doc_id", "island").orderBy("pos")
    kept = islands.select(
        "tok_a",
        "tok_b",
        F.when(F.col("tok_a") != F.col("tok_b"), 1)
        .when((F.row_number().over(w_isl) - 1) % 2 == 0, 1)
        .otherwise(0)
        .alias("merged"),
    )
    return (
        kept.crossJoin(F.broadcast(total))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.sum("merged").alias("n_merged"),
            F.min("n_tokens_before").alias("n_tokens_before"),
            (F.min("n_tokens_before") - F.sum("merged")).cast(
                "bigint"
            ).alias("n_tokens_after"),
        )
    )


@query(
    "q220_span_corruption_plan",
    tags=("text", "masking", "llm-pipeline"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), positions AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos
  FROM (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos FROM toks)
), masked AS (
  SELECT doc_id, pos
  FROM positions
  WHERE {_hash16_sql("mask|", "doc_id || ':' || CAST(pos AS VARCHAR)")}
        % 100 < 15
), islands AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN pos - prev_pos = 1 THEN 0 ELSE 1 END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS island
  FROM (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
    FROM masked
  )
), spans AS (
  SELECT doc_id, island, CAST(count(*) AS BIGINT) AS span_len
  FROM islands GROUP BY doc_id, island
), totals AS (
  SELECT (SELECT CAST(sum(len(w)) AS BIGINT) FROM toks) AS n_tokens,
         (SELECT CAST(count(*) AS BIGINT) FROM masked) AS n_masked
)
SELECT span_len,
       CAST(count(*) AS BIGINT) AS n_spans,
       min(n_tokens) AS n_tokens,
       round(min(n_masked) * 1.0 / min(n_tokens) + 1e-9, 6)
         AS corruption_rate
FROM spans, totals
GROUP BY span_len
""",
)
def q220_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning: mask each token position
    with probability 15% by keyed hash (content-stable — the same doc
    masks identically on every re-ingestion, the q127 property random
    masking lacks), then report the masked-SPAN length histogram and
    realized corruption rate. Denoising objectives care about span
    statistics, not token counts: adjacent masked positions form one
    sentinel span, computed as gaps-and-islands per document.

    Integer-exact throughout (hash thresholds, island arithmetic,
    counts); one token-position stream, windows partitioned by doc.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    positions = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("w"))).alias("pos0"),
    ).select("doc_id", F.col("pos0").cast("bigint").alias("pos"))
    key = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
    )
    masked = positions.where(_hash16("mask|", key) % 100 < 15)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    islands = masked.withColumn(
        "prev_pos", F.lag("pos").over(w_doc)
    ).withColumn(
        "island",
        F.sum(
            F.when(F.col("pos") - F.col("prev_pos") == 1, 0).otherwise(1)
        ).over(w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("span_len")
    )
    totals = toks.agg(F.sum(F.size("w")).alias("n_tokens")).crossJoin(
        masked.agg(F.count(F.lit(1)).alias("n_masked"))
    )
    return (
        spans.crossJoin(F.broadcast(totals))
        .groupBy("span_len")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.min("n_tokens").alias("n_tokens"),
            fround(
                F.min("n_masked") * 1.0 / F.min("n_tokens"), 6
            ).alias("corruption_rate"),
        )
    )


@query(
    "q221_sliding_window_chunks",
    tags=("text", "chunking", "llm-pipeline"),
    oracle="""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
), chunks AS (
  SELECT doc_id, n_tok, CAST(s AS BIGINT) AS start_tok
  FROM toks, unnest(range(1, greatest(n_tok - 8, 1) + 1, 24)) t(s)
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
            AS BIGINT) AS chunk_id,
       start_tok,
       least(start_tok + 31, n_tok) AS end_tok,
       least(start_tok + 31, n_tok) - start_tok + 1 AS n_chunk_toks
FROM chunks
""",
)
def q221_sliding_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk plan for retrieval/context pipelines:
    32-token chunks with 8-token overlap (stride 24). Chunk starts
    are an integer arithmetic sequence capped at n_tok − overlap, so
    no final chunk is a pure suffix of its predecessor — each chunk
    contributes at least stride-worth of new tokens, the rule RAG
    chunkers apply to avoid duplicate-content embeddings (and exactly
    the property q133's containment detector would otherwise flag).

    Pure map-side: one sequence-explode per document, no shuffle
    except the per-doc chunk numbering window. Emitting (start, end)
    boundaries instead of substrings keeps the plan byte-cheap — the
    slice happens at read time in whatever worker consumes the chunk.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    chunks = toks.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.sequence(
                F.lit(1).cast("bigint"),
                F.greatest(F.col("n_tok") - 8, F.lit(1).cast("bigint")),
                F.lit(24).cast("bigint"),
            )
        ).alias("start_tok"),
    )
    end_tok = F.least(F.col("start_tok") + 31, F.col("n_tok"))
    return chunks.select(
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("start_tok"))
        .cast("bigint")
        .alias("chunk_id"),
        "start_tok",
        end_tok.alias("end_tok"),
        (end_tok - F.col("start_tok") + 1).alias("n_chunk_toks"),
    )


@query(
    "q344_negative_sampling_plan",
    tags=("llm-pipeline", "sampling"),
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), cnt AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM tok GROUP BY token
), w AS (
  SELECT token, n_occurrences,
         sqrt(sqrt((CAST(n_occurrences AS DOUBLE)
                    * CAST(n_occurrences AS DOUBLE))
                   * CAST(n_occurrences AS DOUBLE))) AS wgt
  FROM cnt
), tot AS (
  SELECT CAST(sum(n_occurrences) AS BIGINT) AS t, sum(wgt) AS wsum
  FROM w
)
SELECT token, n_occurrences,
       round(n_occurrences / t + 1e-9, 8) AS p_unigram,
       round(wgt / wsum + 1e-9, 8) AS p_smoothed,
       round(100000.0 * wgt / wsum + 1e-9, 4) AS expected_draws,
       round((wgt / wsum) / (n_occurrences / t) + 1e-9, 6) AS rare_boost
FROM w CROSS JOIN tot
""",
)
def q344_negative_sampling_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """word2vec-style negative-sampling table: per-token draw
    probability proportional to count^{3/4} (Mikolov's unigram
    smoothing), the expected draw count for a 100k-draw budget, and
    the rare-token boost factor p_smoothed / p_unigram (> 1 below the
    mean frequency — the whole point of the 3/4 power).

    Exactness: count^0.75 is spelled ``sqrt(sqrt((d*d)*d))`` — NEVER
    ``pow(d, 0.75)`` — because IEEE-754 requires sqrt to be correctly
    rounded but makes no such promise for pow, so two correctly-
    rounded sqrts of the identically-associated cube are bit-equal
    across engines while libm pow may differ in the last ulp. The
    float weight sum is partial-order-dependent (q24 class), so every
    column that divides by it carries the fround pair. Integer-count
    ratios (p_unigram) are engine-exact (rule 5) but rounded anyway.

    Scale: one corpus scan to a vocabulary-bounded count frame; the
    two scalar totals broadcast back — no window, no driver collect.
    """
    docs = read_table(spark, sf_dir, "documents", ["text"])
    cnt = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
    )
    d = F.col("n_occurrences").cast("double")
    wt = cnt.select(
        "token", "n_occurrences", F.sqrt(F.sqrt((d * d) * d)).alias("wgt")
    ).localCheckpoint(eager=False)  # totals + per-row branches
    tot = wt.agg(
        F.sum("n_occurrences").cast("bigint").alias("t"),
        F.sum("wgt").alias("wsum"),
    )
    p_uni = F.col("n_occurrences") / F.col("t")
    p_sm = F.col("wgt") / F.col("wsum")
    return wt.crossJoin(F.broadcast(tot)).select(
        "token",
        "n_occurrences",
        fround(p_uni, 8).alias("p_unigram"),
        fround(p_sm, 8).alias("p_smoothed"),
        fround(F.lit(100000.0) * F.col("wgt") / F.col("wsum"), 4).alias(
            "expected_draws"
        ),
        fround(p_sm / p_uni, 6).alias("rare_boost"),
    )


@query(
    "q345_novel_trigram_rate",
    tags=("llm-pipeline", "text", "dedup"),
    oracle="""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), tri AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(w) - 2),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         )) AS sh
  FROM base
), occ AS (
  SELECT doc_id, sh, CAST(count(*) AS BIGINT) AS occ
  FROM tri GROUP BY doc_id, sh
), firstd AS (
  SELECT sh, min(doc_id) AS first_doc FROM occ GROUP BY sh
)
SELECT o.doc_id,
       CAST(sum(o.occ) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN o.doc_id = f.first_doc THEN o.occ ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN o.doc_id = f.first_doc THEN o.occ
                      ELSE 0 END) AS BIGINT)
             / CAST(sum(o.occ) AS BIGINT) + 1e-9, 6) AS novelty_rate
FROM occ o JOIN firstd f USING (sh)
GROUP BY o.doc_id
""",
)
def q345_novel_trigram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novel-trigram rate — the fraction of a document's
    word-trigram occurrences never seen in any LOWER-doc_id document
    (the corpus-order memorization/novelty metric used to audit how
    much of a crawl is recombination vs new text). A trigram's debut
    document gets credit for ALL its occurrences of it; every later
    document scores 0 on that trigram.

    Exactness: occurrence counts and the min-doc_id debut are exact
    integers; the single derived ratio is an integer-count division
    (engine-exact, rule 5) rounded anyway, with the DuckDB HUGEINT
    sums cast to BIGINT (rule 8). Docs under 3 tokens are excluded on
    both sides (zero trigrams — the rate is undefined, not 0).

    Scale: trigram explode is corpus-token-sized; one shuffle to the
    (doc, trigram) grain, one to the trigram grain for the debut
    frame, then an equi-join back on the trigram key. No window, no
    all-pairs anything; the occ frame feeds two branches so lineage
    is truncated.
    """
    docs = read_table(spark, sf_dir, "documents", ["doc_id", "text"])
    bound = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    ).where(F.size("w") >= 3)
    tri = bound.select(
        "doc_id", F.explode(shingles_of(F.col("w"), 3)).alias("sh")
    )
    occ = (
        tri.groupBy("doc_id", "sh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
        .localCheckpoint(eager=False)  # debut + join branches
    )
    firstd = occ.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("doc_id") == F.col("first_doc"), F.col("occ")).otherwise(
        F.lit(0).cast("bigint")
    )
    return (
        occ.join(firstd, "sh")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("bigint").alias("n_trigrams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            fround(
                F.sum(novel).cast("bigint")
                / F.sum("occ").cast("bigint"),
                6,
            ).alias("novelty_rate"),
        )
    )


@query(
    "q392_dsir_importance_selection",
    tags=("llm-pipeline", "sampling", "curation"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, source,
         ({_hash16_sql('dsir|', 't.tok')} % 256) AS bucket
  FROM documents, unnest(string_split(text, ' ')) t(tok)
), bcounts AS MATERIALIZED (
  SELECT bucket,
         CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS ct,
         CAST(count(*) FILTER (lang <> 'en') AS BIGINT) AS cr
  FROM toks GROUP BY bucket
), tots AS (
  SELECT CAST(CAST(sum(ct) AS BIGINT) AS DOUBLE) AS t_tot,
         CAST(CAST(sum(cr) AS BIGINT) AS DOUBLE) AS r_tot
  FROM bcounts
), lr AS (
  SELECT bucket,
         CAST(round((ln((ct + 1.0) / (t_tot + 256.0))
                     - ln((cr + 1.0) / (r_tot + 256.0))) * 1000000
                    + 1e-9, 0) AS BIGINT) AS lr_ppm
  FROM bcounts CROSS JOIN tots
), docbuckets AS (
  SELECT doc_id, lang, source, bucket, CAST(count(*) AS BIGINT) AS c_db
  FROM toks WHERE lang <> 'en'
  GROUP BY doc_id, lang, source, bucket
), weights AS (
  SELECT d.doc_id, d.lang, d.source,
         CAST(sum(d.c_db) AS BIGINT) AS n_tokens,
         CAST(sum(d.c_db * l.lr_ppm) AS BIGINT) AS weight_ppm
  FROM docbuckets d JOIN lr l ON l.bucket = d.bucket
  GROUP BY d.doc_id, d.lang, d.source
), topk AS (
  SELECT * FROM weights ORDER BY weight_ppm DESC, doc_id LIMIT 100
)
SELECT doc_id, lang, source, n_tokens, weight_ppm,
       CAST(row_number() OVER (ORDER BY weight_ppm DESC, doc_id) AS BIGINT) AS rk
FROM topk
""",
)
def q392_dsir_importance_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023): score every out-of-domain document by how much a hashed
    bag-of-tokens model of the TARGET domain (here the 'en' slice)
    prefers it over the raw-domain model, and keep the top-k. The
    log importance weight is sum over token instances of
    ln p_target(bucket) - ln p_raw(bucket) with 256 hash buckets and
    add-one smoothing — the published recipe's hashed n-gram variant
    with unigram features.

    Engine-exactness: per-bucket log-ratios are deterministic doubles
    quantized ONCE to integer ppm (the q384 fixed-point rule), so
    every per-document weight is an exact BIGINT dot product — no
    float sum over a variable number of tokens ever happens (the
    q209 lesson). Selection is a global top-100 with doc_id
    tie-break; the rank window runs AFTER the limit, over 100 rows.

    Scale: bucket counts are one map-side-combined aggregation to a
    256-row frame; scoring joins doc-bucket counts against the
    BROADCAST 256-row log-ratio table; selection is
    TakeOrderedAndProject, never a global sort. At 100 TB the only
    data-sized shuffles are the two token-grain reduces.
    """
    docs = read_table(
        spark, sf_dir, "documents", ["doc_id", "text", "lang", "source"]
    )
    exploded = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    toks = exploded.select(
        "doc_id",
        "lang",
        "source",
        (_hash16("dsir|", F.col("tok")) % 256).alias("bucket"),
    )
    bcounts = (
        toks.groupBy("bucket")
        .agg(
            F.count_if(F.col("lang") == "en").cast("bigint").alias("ct"),
            F.count_if(F.col("lang") != "en").cast("bigint").alias("cr"),
        )
        .localCheckpoint(eager=False)  # feeds tots AND the lr projection
    )
    tots = bcounts.agg(
        F.sum("ct").cast("bigint").cast("double").alias("t_tot"),
        F.sum("cr").cast("bigint").cast("double").alias("r_tot"),
    )
    lr = bcounts.crossJoin(F.broadcast(tots)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("ct") + 1.0) / (F.col("t_tot") + 256.0))
                - F.log((F.col("cr") + 1.0) / (F.col("r_tot") + 256.0))
            )
            * 1000000
            + 1e-9,
            0,
        )
        .cast("bigint")
        .alias("lr_ppm"),
    )
    docbuckets = (
        toks.where(F.col("lang") != "en")
        .groupBy("doc_id", "lang", "source", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_db"))
    )
    weights = (
        docbuckets.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.sum("c_db").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c_db") * F.col("lr_ppm")).cast("bigint").alias("weight_ppm"),
        )
    )
    topk = weights.orderBy(F.desc("weight_ppm"), "doc_id").limit(100)
    return topk.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("weight_ppm"), "doc_id"))
        .cast("bigint"),
    )


@query(
    "q406_sampling_design_effect",
    tags=("llm-pipeline", "sampling", "audit"),
    oracle="""
WITH w AS MATERIALIZED (
  SELECT source, n_chars AS wt FROM documents
), agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(wt) AS BIGINT) AS sw,
         CAST(sum(wt * wt) AS BIGINT) AS sww,
         CAST(max(wt) AS BIGINT) AS max_w
  FROM w GROUP BY source
)
SELECT source, n_docs,
       sw AS total_weight,
       round(CAST(n_docs * sww AS DOUBLE) / (sw * sw) + 1e-9, 6) AS deff,
       round(CAST(sw * sw AS DOUBLE) / sww + 1e-9, 2) AS n_effective,
       round(CAST(max_w AS DOUBLE) / sw + 1e-9, 6) AS max_weight_share,
       n_docs * sww > 3 * sw * sw AS concentrated
FROM agg
""",
)
def q406_sampling_design_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kish design effect of size-weighted document sampling per
    source: when a training pipeline samples documents proportional
    to length (the n_chars weight — the byte-budget convention DSIR/
    q392-style selection inherits), the effective sample size is
    n_eff = (Σw)²/Σw² and deff = n·Σw²/(Σw)² ≥ 1 — a source whose
    few huge documents dominate its weight mass contributes far fewer
    EFFECTIVE samples than its document count suggests, which is how
    mixture weights (q94/q397) silently skew. The concentration flag
    deff > 3 is an exact integer cross-multiplication.

    Exactness: weights are the exact BIGINT n_chars column, so n, Σw,
    Σw², max w, and the flag are pure integers (Σw² < 2^60 through
    sf10 at the ≤553-char corpus profile; past that the q261 rule —
    square sums become float sums of exact double products); deff /
    n_eff / max-share are single divisions of cast-once exact
    doubles under the fround pair.

    Scale: one map-side projection, one reduce per source — nothing
    data-sized survives the groupBy."""
    docs = read_table(spark, sf_dir, "documents", ["source", "n_chars"])
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sw"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("sww"),
        F.max("n_chars").cast("bigint").alias("max_w"),
    )
    return agg.select(
        "source",
        "n_docs",
        F.col("sw").alias("total_weight"),
        fround(
            (F.col("n_docs") * F.col("sww")).cast("double")
            / (F.col("sw") * F.col("sw")),
            6,
        ).alias("deff"),
        fround(
            (F.col("sw") * F.col("sw")).cast("double") / F.col("sww"), 2
        ).alias("n_effective"),
        fround(F.col("max_w").cast("double") / F.col("sw"), 6).alias(
            "max_weight_share"
        ),
        (
            F.col("n_docs") * F.col("sww") > 3 * F.col("sw") * F.col("sw")
        ).alias("concentrated"),
    )
