"""DuckDB oracle CTE fragments shared by several registry queries.

Each constant is one or more named CTEs (``name AS (...)``, no leading
``WITH`` and no trailing comma), so an oracle composes it in an
f-string: ``WITH {SHINGLE_GRAMS}, {MINHASH_BANDS}, cand AS (...)``;
``SUPPLIER_PAIRS`` is the body of one.
One definition per shared sub-plan keeps a semantic decision (the shingle
width, the hash seeds, the session gap) in one place on the oracle side,
as the matching operator in ``operators/`` does on the engine side.
"""

#: Distinct word-3-gram shingles ``sh`` per document (documents with
#: fewer than three words have none) — ``operators.dedup.shingles``.
SHINGLE_GRAMS = """grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(string_split(text, ' ')) - 2),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i+1] || ' ' ||
                string_split(text, ' ')[i+2]
         ))) AS sh
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)"""

#: The 8-seed md5 MinHash signature ``h0..h7`` over ``grams`` and its
#: four 2-row LSH bands ``(doc_id, band_id, bucket)`` —
#: ``minhash_signatures(docs, 8, 3)`` then ``lsh_bands(sig, 8, 2)``.
MINHASH_BANDS = """sig AS (
  SELECT doc_id,
         min(md5('0|' || sh)) AS h0, min(md5('1|' || sh)) AS h1,
         min(md5('2|' || sh)) AS h2, min(md5('3|' || sh)) AS h3,
         min(md5('4|' || sh)) AS h4, min(md5('5|' || sh)) AS h5,
         min(md5('6|' || sh)) AS h6, min(md5('7|' || sh)) AS h7
  FROM grams GROUP BY doc_id
), bands AS (
  SELECT doc_id, 0 AS band_id, md5(concat(h0, h1)) AS bucket FROM sig
  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig
)"""

#: Shingles, signature and bands in one: the LSH candidate preamble.
MINHASH_LSH = f"{SHINGLE_GRAMS}, {MINHASH_BANDS}"

#: Distinct LSH candidate pairs ``(doc_a, doc_b)`` over ``bands`` —
#: ``minhash_lsh_pairs(docs).select("doc_a", "doc_b").distinct()``.
LSH_CANDIDATES = """cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
)"""

#: The 30-minute-gap sessionization of ``events`` keeping
#: ``event_type``: ``flagged`` marks session starts in (ts, event_id)
#: order and ``sessions`` carries their running sum as ``session_id``
#: — ``operators.temporal.sessionize``.
EVENT_SESSIONS = """flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_id
  FROM flagged
)"""

#: Distinct space-split tokens ``tok`` per document, with its ``lang``
#: — the word sets ``operators.dedup.jaccard_similar_pairs`` compares.
DOC_TOKENS = """tok AS (
  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
)"""

#: Distinct tokens per document.
TOKEN_SIZES = """sizes AS (
  SELECT doc_id, count(*) AS n_toks FROM tok GROUP BY doc_id
)"""

#: Token sets, their sizes, and the shared-token count ``inter`` of
#: every same-language document pair ``doc_a < doc_b``.
TOKEN_OVERLAP = f"""{DOC_TOKENS}, {TOKEN_SIZES}, inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM tok a
  JOIN tok b ON a.tok = b.tok AND a.lang = b.lang
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""

#: Bulk order lines and the supplier pairs ``(a < b)`` sharing an
#: order through them — ``operators.graph.bulk_supplier_edges``.
#: ``SUPPLIER_PAIRS`` is the body of the edge CTE ``e``, so an oracle
#: can choose whether DuckDB materializes it.
BULK_LINES = """hi AS (
  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 48
)"""
SUPPLIER_PAIRS = """  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM hi a JOIN hi b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey"""
