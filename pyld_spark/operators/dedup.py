"""Deduplication operators over the ``documents`` and ``embeddings``
tables — the training-data pipeline half of the engine (no reference
analogue; required extras).

All-relational designs (whole-stage codegen, no Python):

- :func:`exact_dedup` — md5 groupBy; survivor = min(doc_id).
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via inverted-index
  self-join (shuffle on shingle; skew-guarded by dropping ultra-common
  shingles, the classic stopword-shingle optimization).
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash+LSH:
  shingle → K permutation-hash minima (xxhash64 with per-permutation seed
  columns) → band buckets → candidate join. At 100 TB this is *the* scale
  path: cost is linear in corpus size + bucket collisions, never pairwise.
- :func:`simhash_signatures` / :func:`simhash_near_pairs` — 64-bit SimHash
  from token hash sign-sums; pairs by a pigeonhole block join.
- :func:`embedding_cosine_pairs` and :func:`semantic_dedup` — near-duplicate
  embeddings by fixed-point cosine, in hyperplane buckets or IVF cells.

Each ``*_md5`` operator is the oracle-checkable twin of its xxhash64
sibling: md5 exists in every engine, so the DuckDB oracle replays it. A twin
pair runs one private dataflow (:func:`_exploded_signatures`,
:func:`_minhash_pairs`, :func:`_hamming_pairs`) and differs only in the
hash expressions passed to it. The vector expressions (dot products, norms,
hyperplane signatures) live in :mod:`pyld_spark.operators.vectors`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyld_spark.operators.vectors import (
    cos_q6,
    fixedpoint_cosine,
    hyperplane_signature_md5,
    long_dot,
    long_sq_norm,
    quantize_expr,
)
from pyld_spark.session import cut_lineage, repartition_by


def shingle_expr(col_name: str, k: int = 5):
    """array_distinct of character k-shingles, as a SQL expression (usable
    verbatim in Spark SQL; DuckDB oracle mirrors it with list comprehension)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({col_name}) - {k - 1}, 1)),"
        f" i -> substring({col_name}, i, {k})))"
    )


def exact_dedup(documents: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """(doc_id, content_hash, survivor_id, is_duplicate) per document.

    One shuffle on the 32-hex-char hash; survivor = min(doc_id) per group.
    """
    h = documents.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    survivors = h.groupBy("content_hash").agg(F.min(id_col).alias("survivor_id"))
    return (
        h.join(survivors, "content_hash")
        .select(
            id_col, "content_hash", "survivor_id",
            (F.col(id_col) != F.col("survivor_id")).alias("is_duplicate"),
        )
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via inverted index.

    plan: explode shingles → drop shingles appearing in > ``max_shingle_df``
    docs (skew guard: a stop-shingle would produce df² join rows) → self-join
    on shingle → count intersections → join sizes → filter by threshold.
    Returns (doc_a, doc_b, inter, size_a, size_b, jaccard) with doc_a < doc_b.
    """
    sh = documents.select(
        F.col(id_col).alias("doc"), F.explode(shingle_expr(text_col, k)).alias("sh")
    )
    sizes = sh.groupBy("doc").agg(F.count("*").cast("bigint").alias("size"))
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("df"))
    sh_f = sh.join(df_counts.filter(F.col("df") <= max_shingle_df), "sh")
    # explicit width on the probe side: the self-join OUTPUT is sum(df^2)
    # rows (285M at sf0.1); the partial aggregation below runs map-side
    a = repartition_by(sh_f.select(F.col("doc").alias("doc_a"), "sh"), "sh")
    b = sh_f.select(F.col("doc").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("size").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("size").alias("size_b"))
    jac = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "size_a", "size_b", "jaccard")
    )


def minhash_signatures(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
) -> DataFrame:
    """(doc_id, sig array<long>): MinHash signature from k-shingles.

    Permutation i = xxhash64(shingle, seed_i); the signature entry is the
    minimum over shingles. One row per distinct ``id_col``: rows sharing an
    id (all null ids among them) collapse into one signature of their pooled
    shingles.
    """
    return _exploded_signatures(
        documents, text_col, id_col, k, num_hashes,
        lambda s, p: F.xxhash64(s, p),
    )


def _exploded_signatures(documents, text_col, id_col, k, num_hashes, perm_hash):
    """Shared signature dataflow: explode shingles × permutation ids, hash in
    a flat codegen projection, map-side-aggregate the per-(doc, perm) minima,
    and rebuild the perm-ordered array.

    Byte-identical to the old ``array(array_min(transform(shingles, h_i)))``
    projection (pinned by tests/test_r06_optimized_ops.py incl. null/empty/
    short-text docs) but ~20x faster: higher-order functions are interpreted
    expressions, and the nested form both re-built the shingle array once per
    permutation and evaluated every hash through the interpreter
    (optimization guide §4.1: built-ins/codegen over per-element interpreted
    work; §2.3: the (doc, perm, min) shuffle is tiny because partial
    aggregation runs map-side). Rows collapse per distinct ``id_col``.
    """
    sh = documents.select(
        F.col(id_col), F.explode(shingle_expr(text_col, k)).alias("_s")
    )
    perms = sh.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("_p"),
        "_s",
    )
    mins = (
        perms.select(id_col, "_p", perm_hash(F.col("_s"), F.col("_p")).alias("_h"))
        .groupBy(id_col, "_p")
        .agg(F.min("_h").alias("_m"))
    )
    return mins.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("_p"), F.col("_m")))),
            lambda s: s["_m"],
        ).alias("sig")
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket; docs sharing
    any (band, bucket) become candidate pairs.

    Shuffles once on (band, bucket); hot buckets are bounded because a bucket
    key includes the band hash of ``rows_per_band`` 64-bit minima.
    Returns distinct (doc_a, doc_b) candidates with doc_a < doc_b.
    """
    return _band_candidates(signatures, id_col, bands, rows_per_band, F.xxhash64)


def _band_candidates(signatures, id_col, bands, rows_per_band, band_hash):
    """Distinct (doc_a < doc_b) pairs sharing a (band, ``band_hash`` of the
    band's signature entries) bucket. Each basis keeps its own band hash: a
    band-hash collision adds a candidate pair."""
    banded = signatures.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.array(
                *[
                    band_hash(
                        *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    a = banded.select(F.col("doc").alias("doc_a"), "band", "bucket")
    b = banded.select(F.col("doc").alias("doc_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _minhash_pairs(sigs, id_col, num_hashes, bands, band_hash):
    """The MinHash pipeline after the signatures: the LSH candidate pairs
    joined to both signatures (``sig_a``, ``sig_b``), and the column that
    counts a pair's agreeing signature entries."""
    # one small row per doc; the lazy checkpoint makes the three consumers
    # (banding sides + both verification joins) read the computed signature
    # table instead of re-running the whole shingle+hash pipeline each —
    # the plan had FOUR full signature computations and zero exchange reuse
    sigs = cut_lineage(sigs, eager=False)
    cands = _band_candidates(sigs, id_col, bands, num_hashes // bands, band_hash)
    sa = sigs.select(F.col(id_col).alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("doc_b"), F.col("sig").alias("sig_b"))
    n_agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    # signature join: the signatures side is |corpus|-sized, so it must NOT
    # be broadcast at scale — shuffle-join on doc id (AQE may still pick a
    # broadcast at small SF from its own size estimate, which is correct)
    return cands.join(sa, "doc_a").join(sb, "doc_b"), n_agree


def minhash_dedup_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash pipeline: signatures → LSH candidates → verify candidates
    with estimated Jaccard (signature agreement)."""
    pairs, n_agree = _minhash_pairs(
        minhash_signatures(documents, text_col, id_col, k, num_hashes),
        id_col, num_hashes, bands, F.xxhash64,
    )
    return (
        pairs.withColumn("est_jaccard", F.round(n_agree / F.lit(num_hashes), 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_signatures_md5(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 32,
) -> DataFrame:
    """(doc_id, sig array<string>): portable MinHash basis.

    Permutation i = md5(i || ':' || shingle); the signature entry is the
    lexicographic minimum hex digest (the min of a uniform hash is a valid
    permutation minimum regardless of representation). This is the
    oracle-checkable variant — md5 exists in every engine; the xxhash64
    basis (:func:`minhash_signatures`) stays the production scale path
    (8-byte entries instead of 32-char strings). Rows sharing an id collapse
    exactly as in :func:`minhash_signatures`.
    """
    return _exploded_signatures(
        documents, text_col, id_col, k, num_hashes,
        lambda s, p: F.md5(F.concat(p.cast("string"), F.lit(":"), s)),
    )


def minhash_dedup_pairs_md5(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Oracle-checkable MinHash pipeline: md5 signatures → md5-bucket LSH
    candidates → verify by signature agreement count.

    Same plan shape as :func:`minhash_dedup_pairs` (banded bucket join —
    linear in corpus size, never all-pairs) but every hash is replayable in
    ANSI-ish SQL. Emits integer ``n_agree`` (not a rounded ratio) so the
    comparison is bit-exact across engines.
    """
    pairs, n_agree = _minhash_pairs(
        minhash_signatures_md5(documents, text_col, id_col, k, num_hashes),
        id_col, num_hashes, bands,
        lambda *entries: F.md5(F.concat_ws("|", *entries)),
    )
    return (
        pairs.withColumn("n_agree", n_agree.cast("bigint"))
        .filter(F.col("n_agree") >= F.lit(threshold * num_hashes))
        .select("doc_a", "doc_b", "n_agree")
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold_q6: int = 990000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    scale: int = 1000,
) -> DataFrame:
    """Embedding-based near-duplicate pairs: (id_a < id_b, cos_q6) where the
    fixed-point cosine ≥ ``threshold_q6``/10⁶.

    Scale path: random-hyperplane LSH buckets over quantized vectors (exact
    integer sign decisions — engine-portable) shrink candidates from
    all-pairs to per-bucket joins; true near-duplicates (cosine → 1) land in
    the same bucket with probability (1 - θ/π)^planes, so recall stays high
    exactly where dedup needs it. Cost is Σ bucket² — ``n_planes`` must grow
    with corpus size (buckets = 2^planes) to keep buckets bounded; at 100 TB
    use 16-24 planes (65k-16M buckets), optionally multiple plane sets
    OR-combined for recall. Never |corpus|².
    """
    # the squared norm once per vector before the join, not per candidate
    # pair inside it (an exact integer, so the cosine bits are the same)
    q = (
        embeddings.select(
            F.col(id_col).alias("vid"), quantize_expr(F.col(vec_col), scale).alias("vq")
        )
        .withColumn("bucket", hyperplane_signature_md5(F.col("vq"), dim, n_planes, scale))
        .withColumn("_nrm", long_sq_norm(F.col("vq")))
    )

    # co-partitioned on the bucket key (no forced-broadcast hint: the
    # bucketed table is corpus-sized; the optimizer may still auto-broadcast
    # one side when it genuinely fits)
    def side(s):
        return repartition_by(q.select(
            F.col("vid").alias(f"id_{s}"), F.col("vq").alias(f"vq_{s}"),
            F.col("_nrm").alias(f"_n{s}"), "bucket",
        ), "bucket")

    a, b = side("a"), side("b")
    cos = fixedpoint_cosine(
        long_dot(F.col("vq_a"), F.col("vq_b")), F.col("_na"), F.col("_nb")
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_q6", cos_q6(cos))
        .filter(F.col("cos_q6") >= threshold_q6)
        .select("id_a", "id_b", "cos_q6")
        .distinct()
    )


def simhash_signatures(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, simhash long): 64-bit SimHash over whitespace tokens.

    For each bit position: sum over tokens of (+1 if xxhash64(token) has the
    bit set else -1); the signature bit is the sign. Pure JVM expressions.
    """
    tokens = F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t != '')")
    hashed = F.transform(tokens, lambda t: F.xxhash64(t))

    def _bit_sum(i):
        # closure factory (a default-arg lambda would change the arity
        # Spark uses to decide the lambda signature)
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = [
        F.when(
            F.aggregate(hashed, F.lit(0).cast("long"), _bit_sum(i)) > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    ]
    sim = bits[0]
    for i in range(1, 64):
        sim = sim + F.shiftleft(bits[i], i)
    return documents.select(F.col(id_col), sim.alias("simhash"))


def _hamming_block_offsets(n_bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(offset, length) per pigeonhole block of an ``n_bits`` signature."""
    base, extra = divmod(n_bits, n_blocks)
    offsets, off = [], 0
    for i in range(n_blocks):
        ln = base + (1 if i < extra else 0)
        offsets.append((off, ln))
        off += ln
    return offsets


def simhash_signatures_md5(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, simbits string): portable 64-bit SimHash as a '0'/'1' string.

    Token hash bits come from the md5 hex digest (bit j = bit j%4 of hex
    digit j//4), so any engine with md5 can replay the signature exactly.
    The xxhash64-long basis (:func:`simhash_signatures`) remains the scale
    path; this variant exists for the DuckDB-certified gate query.
    """
    # Explode tokens and aggregate the 64 ±1 bit sums as flat codegen
    # conditional sums instead of an interpreted aggregate-of-zip_with over a
    # 64-wide array per token (guide §4.1: HOFs are interpreted expressions).
    # explode_outer keeps token-less docs (null/empty/whitespace text): their
    # single null-hash row contributes 0 to every sum, so they still emit the
    # all-zeros signature the old projection produced. Byte-identical output
    # pinned by tests/test_r06_optimized_ops.py. Duplicate ids collapse to
    # one row (the id contract shared by every dedup operator here).
    tokens = F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t != '')")
    tok = documents.select(
        F.col(id_col), F.explode_outer(tokens).alias("_t")
    ).select(F.col(id_col), F.md5(F.col("_t")).alias("_h"))

    def pm1(j):
        digit = F.conv(F.substring(F.col("_h"), j // 4 + 1, 1), 16, 10).cast("int")
        bit = F.shiftright(digit, j % 4).bitwiseAND(F.lit(1))
        return F.when(F.col("_h").isNull(), F.lit(0)).otherwise(
            F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))
        )

    sums = tok.groupBy(id_col).agg(
        *[F.sum(pm1(j)).alias(f"_s{j}") for j in range(64)]
    )
    bits = F.concat(
        *[
            F.when(F.col(f"_s{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(64)
        ]
    )
    return sums.select(F.col(id_col), bits.alias("simbits"))


def simhash_near_pairs_md5(
    signatures: DataFrame, id_col: str = "doc_id", max_hamming: int = 16,
) -> DataFrame:
    """Near-duplicate pairs over bit-string SimHash signatures (the
    pigeonhole block join of :func:`simhash_near_pairs`; hamming distance =
    count of differing positions, an integer — bit-exact across engines)."""
    # Pack the bit-string ONCE per row into one long (character i is bit
    # 63 - i): the pair distance is then xor+bit_count (whole-stage codegen)
    # instead of an interpreted 64-step aggregate over substrings per
    # CANDIDATE pair. Exactly the same distance: the count of differing
    # '0'/'1' chars is the bit_count of the xor of the packed longs.
    hi = F.conv(F.substring("simbits", 1, 32), 2, 10).cast("long")
    lo = F.conv(F.substring("simbits", 33, 32), 2, 10).cast("long")
    pairs = _hamming_pairs(
        signatures, id_col, F.shiftleft(hi, 32).bitwiseOR(lo), max_hamming
    )
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming"))


def simhash_near_pairs(
    signatures: DataFrame, id_col: str = "doc_id", max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance.

    Blocking: the 64-bit signature is split into ``max_hamming + 1`` blocks —
    by pigeonhole, any pair within the distance budget shares at least one
    exact block, so the join is on (block_idx, block_value), never all-pairs.
    """
    return _hamming_pairs(signatures, id_col, F.col("simhash"), max_hamming)


def _hamming_pairs(signatures, id_col, sim, max_hamming):
    """Distinct (doc_a < doc_b, hamming) over every pair whose 64-bit
    ``long`` signatures ``sim`` differ in at most ``max_hamming`` bits, found
    by the pigeonhole block join of :func:`simhash_near_pairs`."""
    offsets = _hamming_block_offsets(64, max_hamming + 1)
    blocks = F.array(
        *[
            F.shiftright(F.col("_sim"), o).bitwiseAND(F.lit((1 << ln) - 1))
            for o, ln in offsets
        ]
    )
    # both join sides derive from the signature table — checkpoint it lazily
    # so the signature computation runs once, not per side
    signatures = cut_lineage(signatures, eager=False)
    blocked = signatures.select(
        F.col(id_col).alias("doc"), sim.alias("_sim")
    ).select("doc", "_sim", F.posexplode(blocks).alias("block_idx", "block_val"))

    # co-partition BOTH sides; no forced-broadcast hint, because the blocked
    # table is max_hamming + 1 rows/doc and grows with the corpus
    def side(s):
        return repartition_by(blocked.select(
            F.col("doc").alias(f"doc_{s}"), F.col("_sim").alias(f"sim_{s}"),
            "block_idx", "block_val",
        ), "block_idx", "block_val")

    a, b = side("a"), side("b")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        # filter BEFORE the distinct: the xor+bit_count distance is codegen-
        # cheap per generated pair, and at a wide budget it drops the vast
        # majority of the ~sum(block_df^2) candidates, so the distinct
        # aggregates a small survivor set instead of every generated pair.
        # distinct-then-filter == filter-then-distinct on a derived column,
        # so the output is unchanged for every input.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duplicate_spans(
    documents: DataFrame,
    k: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-substring spans, per Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (arXiv:2107.06499): every
    maximal word range covered by k-word shingles that occur >= min_count
    times ANYWHERE in the corpus (cross- or within-document). Output one
    row per merged span: (doc_id, start_word, end_word, n_words, n_grams)
    with 1-based inclusive word positions.

    The paper builds a corpus suffix array - inherently sequential and
    RAM-bound. At 10^12-turn scale the same signal decomposes into plain
    dataflow: (1) explode k-shingles with their start position (narrow);
    (2) ONE count aggregation keyed on the md5 of the shingle (fixed-width
    key regardless of k; map-side combine absorbs within-partition repeats
    of viral shingles); (3) a semi join routes only duplicated shingles
    back to their positions; (4) per-doc gaps-and-islands interval merge -
    a window over (doc_id, pos), bounded by the doc's own hit count. Every
    stage is linear in corpus size and every key is either the shingle
    hash (high cardinality) or doc_id (high cardinality); nothing is
    all-pairs. False-positive risk is the md5 collision rate (~2^-64 per
    pair at petabyte shingle counts) - acceptable for span REMOVAL, noted
    per the paper's own hash-based approximations.
    """
    w = F.expr(
        rf"filter(split(lower({text_col}), '\\s+'), x -> x <> '')"
    )
    base = documents.select(F.col(id_col).alias("doc_id"), w.alias("words"))
    shingles = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(words) >= {k} THEN "
                f"transform(sequence(1, size(words) - {k} + 1), "
                f"i -> named_struct('pos', i, "
                f"'h', md5(array_join(slice(words, i, {k}), ' ')))) "
                f"ELSE array() END"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    dup = (
        shingles.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("h")
    )
    hits = shingles.join(dup, "h", "left_semi").select("doc_id", "pos")

    from pyspark.sql import Window

    order = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("pos").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    # all intervals are length k, so "overlaps or touches the running
    # span" is pos <= prev_max_pos + k
    islanded = hits.withColumn(
        "new_span",
        F.when(prev_max.isNull() | (F.col("pos") > prev_max + k), 1).otherwise(0),
    ).withColumn(
        "span_no",
        F.sum("new_span").over(
            order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return islanded.groupBy("doc_id", "span_no").agg(
        F.min("pos").alias("start_word"),
        (F.max("pos") + F.lit(k - 1)).alias("end_word"),
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("n_words"),
        F.count("*").alias("n_grams"),
    ).drop("span_no")


def semantic_dedup(
    embeddings: DataFrame,
    nlist: int = 16,
    threshold_q6: int = 990000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) as dataflow: cluster
    the corpus embeddings into ``nlist`` cells, then within each cell drop
    every vector whose fixed-point cosine to ANY earlier-ranked cell member
    is ≥ ``threshold_q6``/10⁶ — the paper's upper-triangular-max rule, with
    rank = (centroid-similarity ASC, id ASC) so the kept representative of
    each duplicate neighborhood is the one FURTHEST from its centroid
    (the paper's "keep low centroid-similarity examples" choice).

    Returns one row per input vector: (id, cell_id, centroid_rank, kept).

    Scale shape: ONE broadcast-centroid argmax pass assigns cells (narrow —
    same plan as :func:`~pyld_spark.operators.similarity.ivf_topk_quantized`);
    one shuffle on ``cell_id`` serves both the rank window and the pairwise
    self-join; the pairwise stage is Σ cell² — the paper's own cost model —
    so ``nlist`` must grow with the corpus to hold cells at ~10⁴ vectors
    (100k cells at 10⁹ docs). All similarity math is integer-quantized, so
    the DuckDB oracle replays every decision bit-exactly. Pass
    ``centroids=kmeans_centroids(...)`` for trained cells; the default
    deterministic quantizer keeps the whole operator oracle-replayable.
    """
    from pyspark.sql import Window

    from pyld_spark.operators.similarity import _assign_cells, ivf_centroids

    cent = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, nlist, id_col, vec_col, scale)
    )
    qv = embeddings.select(
        F.col(id_col).alias("_vid"),
        quantize_expr(F.col(vec_col), scale).alias("_vq"),
    )
    assign = _assign_cells(qv, cent, "_vid", "_vq")
    # one explicit partitioning on cell_id serves the window AND both sides
    # of the pairwise join below; the lazy checkpoint truncates lineage so
    # the three consumers (output rows + both join sides) read the ranked
    # table instead of re-running the broadcast argmax pass each
    ranked = cut_lineage(
        # explicit width: the pairwise join below is quadratic per cell
        repartition_by(assign, "cell_id")
        .withColumn(
            "centroid_rank",
            F.row_number()
            .over(
                Window.partitionBy("cell_id").orderBy(
                    F.col("_cdot").asc(), F.col("_vid").asc()
                )
            )
            .cast("int"),
        )
        # per-vector squared norm once per row, NOT per candidate pair in
        # the join below (exact integer — cosine bits unchanged)
        .withColumn("_nrm", long_sq_norm(F.col("_vq"))),
        eager=False,
    )
    a = ranked.select(
        "cell_id",
        F.col("centroid_rank").alias("_rank_a"),
        F.col("_vq").alias("_vq_a"),
        F.col("_nrm").alias("_na"),
    )
    b = ranked.select(
        "cell_id",
        F.col("centroid_rank").alias("_rank_b"),
        F.col("_vid").alias("_vid_b"),
        F.col("_vq").alias("_vq_b"),
        F.col("_nrm").alias("_nb"),
    )
    cos = fixedpoint_cosine(
        long_dot(F.col("_vq_a"), F.col("_vq_b")), F.col("_na"), F.col("_nb")
    )
    dropped = (
        a.join(b, "cell_id")
        .filter(F.col("_rank_a") < F.col("_rank_b"))
        .withColumn("_cos_q6", cos_q6(cos))
        .filter(F.col("_cos_q6") >= threshold_q6)
        .select(F.col("_vid_b").alias("_vid"))
        .distinct()
    )
    return (
        ranked.join(
            dropped.withColumn("_hit", F.lit(True)), "_vid", "left"
        )
        .select(
            F.col("_vid").alias(id_col),
            "cell_id",
            "centroid_rank",
            F.col("_hit").isNull().alias("kept"),
        )
    )
