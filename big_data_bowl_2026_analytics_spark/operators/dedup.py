"""Deduplication operators for large-scale training-data pipelines.

Exact dedup, MinHash+LSH near-dup, SimHash, and n-gram Jaccard — the
operators a 100 TB text corpus needs before training. All are pure
DataFrame compositions (no Python UDFs): hashing is ``md5`` (JVM-side,
identical output on any engine, which also makes the DuckDB oracles
exact), signatures are aggregates over exploded shingles, and LSH
banding turns the quadratic all-pairs problem into an equi-join.

Scale design notes:
- The only shuffles are groupBy(doc_id) for signatures and the band
  equi-join; both partition by high-cardinality keys (doc id / band
  bucket), so they parallelize to any cluster size.
- All-pairs verification (``jaccard_similar_pairs``) is intentionally
  block-scoped (e.g. by language/source) — at 100 TB you run LSH first
  and verify only candidate pairs.
- MinHash signatures are strings (min of md5 hex); lexicographic min
  of a uniform hash is as valid a permutation-min as an integer hash,
  and stays engine-portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text: Column, distinct: bool = True) -> Column:
    """Whitespace tokens of a single-spaced text column."""
    toks = F.split(text, " ")
    return F.array_distinct(toks) if distinct else toks


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-BOUND token-array column.

    Callers must project the token array first (``.select(split(...)
    .alias("_toks"))``): inlining ``split`` here would re-evaluate it
    for every ``element_at`` inside the lambda — 3x per shingle per
    row — because common-subexpression elimination does not reach into
    higher-order-function lambdas.

    Empty array for texts shorter than n tokens — NOT a descending
    ``sequence``, which is what Spark silently produces for a negative
    range.
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, gram).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a text column (see ``shingles_of`` for
    the evaluation-cost caveat when used inside wide plans)."""
    return shingles_of(F.split(text, " "), n)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct text
    with the canonical (min) id and the duplicate count.

    Scale: hash the text first so the shuffle carries a 32-byte key,
    not document bodies.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 1,
) -> DataFrame:
    """MinHash signature per document: ``n_hashes`` independent
    permutations simulated as md5 with distinct seeds; the signature
    component is the minimum hash over the doc's shingle set.

    One explode + one groupBy(doc) computes all components (the seeds
    are separate aggregate expressions, not a seed dimension join).
    """
    if shingle_n > 1:
        bound = df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
        )
        exploded = bound.select(
            F.col(id_col), F.explode(shingles_of(F.col("_toks"), shingle_n)).alias("sh")
        )
    else:
        exploded = df.select(
            F.col(id_col), F.explode(tokens(F.col(text_col))).alias("sh")
        )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("sh")))).alias(f"h{s}")
        for s in range(n_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def lsh_bands(sig: DataFrame, n_hashes: int = 8, band_size: int = 2, id_col: str = "doc_id") -> DataFrame:
    """Band the signature: hash each group of ``band_size`` components
    into a bucket id. Docs sharing any (band_id, bucket) are candidate
    near-duplicates. Output long-form: (id, band_id, bucket)."""
    n_bands = n_hashes // band_size
    stack_args = []
    for b in range(n_bands):
        cols = [f"h{b * band_size + k}" for k in range(band_size)]
        stack_args.append(f"{b}, md5(concat({', '.join(cols)}))")
    expr = f"stack({n_bands}, {', '.join(stack_args)}) as (band_id, bucket)"
    return sig.select(F.col(id_col), F.expr(expr))


def lsh_candidate_pairs(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Self-join bands on (band_id, bucket) -> unordered candidate
    pairs with the number of agreeing bands.

    Scale: this equi-join replaces the O(n^2) all-pairs comparison;
    bucket skew (a degenerate bucket catching everything — e.g. a
    boilerplate band value shared by half the corpus) is the known
    failure mode: one bucket of size m emits m^2 join rows into a
    single task. ``max_bucket_size`` guards it: each (band_id, bucket)
    keeps only its ``max_bucket_size`` smallest doc ids (deterministic
    rank, linear work) before the join, bounding the per-bucket pair
    fan-out to C(cap, 2) while leaving healthy buckets untouched.
    Capping trades recall ONLY inside degenerate buckets — exactly the
    buckets whose members a near-dup pipeline treats as one boilerplate
    cluster anyway; pair a capped run with exact-hash dedup to collapse
    the identical-signature mass first. Default None preserves full
    recall (the oracle-checked configuration).

    The bands input feeds BOTH join sides under different aliases, so
    exchange reuse can't kick in; materialize it once instead of
    recomputing the signature pipeline twice.
    """
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_id", "bucket").orderBy(F.col(id_col))
        bands = (
            bands.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= max_bucket_size)
            .drop("_rk")
        )
    bands = bands.localCheckpoint(eager=False)
    a = bands.select(
        F.col(id_col).alias("doc_a"), "band_id", "bucket"
    )
    b = bands.select(
        F.col(id_col).alias("doc_b"), "band_id", "bucket"
    )
    return (
        a.join(b, ["band_id", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs ``(doc_a, doc_b, n_shared_bands)`` over word
    3-gram MinHash: 8 hashes in four 2-row bands — the candidate
    preamble every near-dup query shares (oracle side:
    ``plans.oracle_sql.MINHASH_LSH``)."""
    sig = minhash_signatures(docs, n_hashes=8, shingle_n=3)
    return lsh_candidate_pairs(lsh_bands(sig, n_hashes=8, band_size=2))


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash fingerprint over the distinct-token set.

    Each token contributes +/-1 per bit position, taken from the first
    ``bits/4`` hex digits of md5(token); the fingerprint sets bit b
    where the sum is >= 0. Pure integer arithmetic end-to-end (hex
    digit -> nibble via instr), so the oracle matches bit-exactly.
    """
    assert bits % 4 == 0
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    h = F.md5(F.col("tok"))
    bit_sums = []
    for b in range(bits):
        digit = F.substring(h, b // 4 + 1, 1)
        nibble = F.instr(F.lit("0123456789abcdef"), digit) - 1
        bit = F.floor(nibble / (2 ** (b % 4))) % 2
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{b}"))
    sums = tok.groupBy(id_col).agg(*bit_sums)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(2**b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select(F.col(id_col), fp.cast("bigint").alias("simhash"))


def jaccard_similar_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
) -> DataFrame:
    """Exact word-set Jaccard similarity over pairs within a block.

    inter/union are integer counts, so the similarity double is
    bit-identical on any engine. ``block_col`` bounds the quadratic
    blow-up (at scale this verifies LSH candidates instead of blocks).
    """
    cols = [F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")]
    if block_col:
        cols.insert(1, F.col(block_col))
    tok = df.select(*cols)
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_toks"))

    a = tok.select(
        F.col(id_col).alias("doc_a"),
        *( [F.col(block_col).alias("block_a")] if block_col else [] ),
        F.col("tok"),
    )
    b = tok.select(
        F.col(id_col).alias("doc_b"),
        *( [F.col(block_col).alias("block_b")] if block_col else [] ),
        F.col("tok"),
    )
    cond = [a.tok == b.tok] if not block_col else [a.tok == b.tok, F.col("block_a") == F.col("block_b")]
    inter = (
        a.join(b, cond)
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # Per-document frames: shuffle joins, not forced broadcasts (the
    # frame grows with the corpus; AQE broadcasts it when small).
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_toks").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_toks").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def exact_jaccard_pairs(
    docs: DataFrame,
    cand: DataFrame,
    shingle_n: int = 3,
    extra_keys: tuple[str, ...] = (),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact distinct-shingle Jaccard verification of a CANDIDATE pair
    list: for every ``(doc_a, doc_b)`` in ``cand``, the exact
    intersection size ``i`` and union size ``u`` of the two documents'
    distinct word ``shingle_n``-gram sets. The shared verifier behind
    q346 (near-dup evidence), q356 (triangle-bound audit), and q364
    (hard-negative mining) — one implementation so the
    shingle/threshold machinery can't drift between them.

    Returns ``(doc_a, doc_b, *extra_keys, i, u)``; ``extra_keys`` are
    pass-through columns of ``cand`` (e.g. q346's ``n_shared_bands``)
    carried through the intersection groupBy. ``i``/``u`` are exact
    BIGINTs, so any downstream threshold can stay a cross-multiplied
    integer inequality (2*i >= u for Jaccard >= 1/2) and the reported
    ratio ``i/u`` is the engine-exact double of two integers.

    CONTRACT: only candidate pairs with ``i >= 1`` come back — the
    intersection is an inner join, so a pair with zero shared shingles
    (or where either doc has fewer than ``shingle_n`` tokens and so
    has no shingle set at all) is silently DROPPED, not returned with
    ``i = 0``. A caller that needs a row for every candidate must
    left-join this result back onto ``cand`` and coalesce. The
    property test's ``if inter > 0`` model encodes exactly this.

    Scale: the verification joins fan candidates out by per-doc
    shingle count — never all-pairs; cost is bounded by the candidate
    list times mean shingle count. The shingle frame feeds the sizes
    aggregate plus two intersection branches, so its lineage is
    truncated (repo localCheckpoint convention).
    """
    bound = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_toks"),
    ).where(F.size("_toks") >= shingle_n)
    shing = bound.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_of(F.col("_toks"), shingle_n))
        ).alias("sh"),
    ).localCheckpoint(eager=False)  # sizes + two intersection branches
    sizes = shing.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    return (
        cand.join(
            shing.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a"
        )
        .join(
            shing.select(F.col("doc_id").alias("doc_b"), "sh"),
            ["doc_b", "sh"],
        )
        .groupBy("doc_a", "doc_b", *extra_keys)
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
            ),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b", *extra_keys, "i",
            (F.col("na") + F.col("nb") - F.col("i")).alias("u"),
        )
    )


def duplicate_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over candidate-pair edges: collapse
    near-duplicate pairs into clusters, labeling every document with
    the minimum id reachable from it (the canonical representative).

    Iterative min-label propagation: each round, every node adopts the
    smallest label among itself and its neighbors; converges in
    O(component diameter) rounds. Each round is one join + one
    aggregate; lineage is truncated per round (an unbroken loop would
    nest the plan max_iterations deep).

    Convergence probe (r14 optimization, guide §1.2): labels are
    POINTWISE NON-INCREASING (new = min(own, neighbor mins)) over a
    fixed node set, so a round changed nothing iff Σ labels is
    unchanged — an exact DECIMAL(38,0) sum (no overflow at any id
    magnitude × corpus size). The sum is read by the SAME action that
    materializes the round's checkpoint, replacing the former
    join-the-old-labels probe job: one job per round instead of two,
    and no node-frame join just to detect a no-op. (Consecutive sums
    are compared, so an edgeless graph pays one redundant round — the
    fixpoint is idempotent either way.)

    Scale: this is the standard map-reduce CC formulation; for graphs
    with huge diameters switch to large-star/small-star, which squares
    the convergence rate with the same per-round primitives. The label
    state deliberately joins by SHUFFLE, not broadcast (unlike the
    supplier-graph loops in operators/graph.py): the node set here is
    the document corpus, which outgrows the 8 GB broadcast ceiling
    long before the edge shuffle becomes the wall.
    """
    edges_fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = edges_fwd.unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint(eager=False)

    labels = nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    prev_sum = None
    for _ in range(max_iterations):
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        label_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).head()["s"]
        labels = new_labels
        if prev_sum is not None and label_sum == prev_sum:
            break
        prev_sum = label_sum
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round over a SYMMETRIC edge set: every neighbor
    v > u re-attaches to m = min(N(u) ∪ {u}). Output is symmetric-free
    directed (bigger -> smaller), possibly with duplicates — the
    follow-up small-star round is duplicate-insensitive (its m is a
    groupBy-min and its own output IS deduped), so the intermediate
    distinct the pre-r14 form paid here (one exchange + aggregate per
    round) bought nothing; intra-round duplicate multiplicity is
    bounded by node degree (guide §2.4 "remove shuffles outright")."""
    m = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_min_nbr"))
        .select("src", F.least(F.col("src"), F.col("_min_nbr")).alias("m"))
    )
    return (
        edges.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round over big->small directed edges: each node
    u links itself and all smaller neighbors to m = min(N⁻(u) ∪ {u})."""
    m = edges.groupBy("src").agg(F.min("dst").alias("m"))
    joined = edges.join(m, "src")
    re_linked = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_link = m.select(F.col("src"), F.col("m").alias("dst"))
    return (
        re_linked.unionByName(self_link)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_cc(
    pairs: DataFrame, max_iterations: int = 12
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star rounds until the edge set is
    stable; returns (star edges big->small, rounds used)."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).where(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=False)
    # r14: the count that materializes each round's checkpoint IS the
    # first half of the convergence probe (one action instead of an
    # eager checkpoint + a separate count job); the exceptAll set-
    # equality check — exact, never a hash fingerprint — still runs,
    # but only on rounds whose counts already match.
    n_edges = edges.count()
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        new_edges = _small_star(_large_star(sym)).localCheckpoint(eager=False)
        new_count = new_edges.count()
        if (
            new_count == n_edges
            and new_edges.exceptAll(edges).limit(1).count() == 0
        ):
            edges = new_edges
            break
        edges = new_edges
        n_edges = new_count
    return edges, rounds


def duplicate_clusters_star(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 12,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    rounds (the public MapReduce CC formulation of Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — same output
    contract as :func:`duplicate_clusters`, built for HIGH-DIAMETER
    duplicate graphs: label propagation needs O(diameter) rounds,
    star contraction needs O(log^2 n) — a 1M-hop chain converges in
    ~20 star rounds instead of 1M.

    Each round is two groupBy-join pairs over the CURRENT edge set
    (which only shrinks toward one star per component), per-round
    lineage truncation, and a two-count convergence probe; after
    convergence every edge points directly at its component's minimum
    id, so labeling is a single left join from the node table.
    """
    edges, _ = _star_cc(pairs, max_iterations)
    roots = edges.select(F.col("src").alias("node"), F.col("dst").alias("label"))
    out = (
        nodes.select(F.col(id_col).alias("node"))
        .join(roots, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )
    return out


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
) -> DataFrame:
    """ASYMMETRIC set containment per pair: ``C(A→B) = |A∩B| / |A|``
    and the reverse — the quote/sub-document detector Jaccard misses
    (a 50-token excerpt embedded verbatim in a 5000-token page has
    containment ≈ 1 but Jaccard ≈ 0.01). Pairs where either direction
    reaches ``threshold`` survive, with both directions reported so
    the caller knows WHICH document is the fragment.

    Same shape and scale posture as :func:`jaccard_similar_pairs`:
    token equi-join scoped by ``block_col`` (at corpus scale, verify
    LSH candidates instead of blocks), per-document size frames as
    plain shuffle joins (never forced broadcasts). Integer-count
    ratios are engine-exact.
    """
    cols = [F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")]
    if block_col:
        cols.insert(1, F.col(block_col))
    tok = df.select(*cols)
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_toks"))

    a = tok.select(
        F.col(id_col).alias("doc_a"),
        *([F.col(block_col).alias("block_a")] if block_col else []),
        F.col("tok"),
    )
    b = tok.select(
        F.col(id_col).alias("doc_b"),
        *([F.col(block_col).alias("block_b")] if block_col else []),
        F.col("tok"),
    )
    cond = (
        [a.tok == b.tok]
        if not block_col
        else [a.tok == b.tok, F.col("block_a") == F.col("block_b")]
    )
    inter = (
        a.join(b, cond)
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_toks").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_toks").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("containment_ab", F.col("inter") / F.col("n_a"))
        .withColumn("containment_ba", F.col("inter") / F.col("n_b"))
        .where(
            (F.col("containment_ab") >= threshold)
            | (F.col("containment_ba") >= threshold)
        )
        .select("doc_a", "doc_b", "inter", "containment_ab", "containment_ba")
    )


def levenshtein_neardup_pairs(
    df: DataFrame,
    max_dist: int = 20,
    bucket_width: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    len_col: str = "n_chars",
    block_col: str | None = "lang",
) -> DataFrame:
    """Edit-distance near-duplicate pairs (``levenshtein <= max_dist``)
    with RECALL-1 length-bucket blocking: edit distance is bounded
    below by the length difference, so with ``bucket_width >=
    max_dist`` two qualifying docs sit in the same or adjacent
    buckets — probing (own, next) buckets per doc finds every pair
    while the quadratic comparison runs only inside
    (block, length-bucket) cells. The distance is integer dynamic
    programming, engine-exact.

    Scale: the explode doubles rows, the candidate join is a plain
    equi-join, and the O(len²) string DP runs on candidates only,
    AFTER the cheap integer length filter. HONEST LIMIT: length
    buckets have bounded cardinality, so cell population — and the
    quadratic comparison inside each cell — grows linearly with the
    corpus. At corpus scale, compose with a content-blocking key
    (pass the LSH band or MinHash bucket as ``block_col``, q32-style)
    so cells stay bounded; length bucketing then only sharpens each
    content block. The recall-1 guarantee holds per block either way.
    """
    width = bucket_width if bucket_width is not None else max(max_dist, 1)
    if width < max_dist:
        raise ValueError("bucket_width must be >= max_dist for recall 1")
    bucket = F.explode(
        F.array(
            (F.col(len_col) / width).cast("long"),
            (F.col(len_col) / width).cast("long") + 1,
        )
    )
    b = df.withColumn("_bucket", bucket)
    blocks = ["_bucket", *( [block_col] if block_col else [] )]
    a = b.select(
        F.col(id_col).alias("doc_a"),
        F.col(text_col).alias("_text_a"),
        F.col(len_col).alias("_len_a"),
        *blocks,
    )
    c = b.select(
        F.col(id_col).alias("doc_b"),
        F.col(text_col).alias("_text_b"),
        F.col(len_col).alias("_len_b"),
        *blocks,
    )
    return (
        a.join(c, blocks)
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("_len_a") - F.col("_len_b")) <= max_dist)
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("_text_a", "_text_b").alias("edit_dist"),
        )
        .distinct()
        .where(F.col("edit_dist") <= max_dist)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GLOBAL (unblocked) exact-Jaccard pairs >= ``threshold`` via
    prefix filtering (the PPJoin family), no LSH approximation and no
    all-pairs token join.

    Order tokens by global document frequency (rarest first, token
    tie-break); a doc with n distinct tokens keeps its
    ``L = n - ceil(t*n) + 1`` rarest tokens as its PREFIX. Jaccard(A,B)
    >= t implies |A∩B| >= ceil(t*|A|), and only ceil(t*|A|)-1 of A's
    tokens sit outside its prefix — so by pigeonhole at least one
    COMMON token lies in prefix(A). Joining prefixes against the FULL
    token lists therefore finds every qualifying pair with recall 1
    (prefix-to-prefix alone is NOT complete for Jaccard without
    PPJoin's asymmetric prefix lengths — this is the simpler provable
    form). The join stays cheap because hot tokens land at the END of
    the frequency order and rarely enter any prefix: the probing side
    is small exactly where the naive token join explodes. Candidates
    are then verified exactly: join each candidate pair back to both
    token sets, count the intersection, keep
    ``inter/(n_a+n_b-inter) >= t``. Every number is an integer count —
    engine-exact.

    Scale: document-frequency ranking is one groupBy; prefixes shrink
    the join to the rare tail; verification touches candidate pairs
    only. This is the exact-similarity counterpart to LSH banding
    (q32): LSH trades recall for speed, prefix filtering keeps recall
    = 1 and pays a (bounded) verification join.
    """
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_toks"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # (df, tok) IS the rarity order — a dense global row_number rank
    # would add nothing except a single-partition window over the
    # entire distinct vocabulary (the exact funnel ml/evaluate.py's
    # bucketed prefix sum exists to avoid). Join the raw document
    # frequency onto the token stream (shuffle equi-join on tok; the
    # optimizer may still pick broadcast when the vocab is small — the
    # point is not to FORCE a corpus-sized broadcast) and order each
    # doc's window by (df, tok) directly.
    toks_ranked = tok.join(dfreq, "tok")
    # per-doc rarity position; prefix = L rarest tokens
    pos_w = Window.partitionBy(id_col).orderBy("df", "tok")
    with_pos = toks_ranked.withColumn("pos", F.row_number().over(pos_w)).join(
        sizes, id_col
    )
    prefix_len = (
        F.col("n_toks")
        - F.ceil(F.lit(float(threshold)) * F.col("n_toks"))
        + 1
    )
    prefix = with_pos.where(F.col("pos") <= prefix_len).select(id_col, "tok")
    a = prefix.select(F.col(id_col).alias("doc_p"), "tok")
    b = tok.select(F.col(id_col).alias("doc_f"), "tok")
    candidates = (
        a.join(b, "tok")
        .where(F.col("doc_p") != F.col("doc_f"))
        .select(
            F.least("doc_p", "doc_f").alias("doc_a"),
            F.greatest("doc_p", "doc_f").alias("doc_b"),
        )
        .distinct()
    )
    # exact verification: intersection size via (doc_b, tok) equi-join
    ta = tok.select(F.col(id_col).alias("doc_a"), "tok")
    tb = tok.select(F.col(id_col).alias("doc_b"), "tok")
    inter = (
        candidates.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # The size frames have one row per DOCUMENT — broadcasting them
    # grows with the corpus, so these are plain shuffle joins on the
    # doc ids (AQE upgrades them to broadcast when genuinely small).
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_toks").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_toks").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "inter", "jaccard")
