"""Round-6 optimization pins: operators whose internals were restructured for
performance must emit exactly what the round-5 formulations emitted.

- triangle_counts: degree-ordered (compact-forward) orientation vs the old
  id-ordered wedge join — same per-node triangle counts on random graphs
  with duplicate / reversed / self-loop edges.
- simhash_near_pairs_md5: packed xor+bit_count Hamming + dedup-before-
  distance vs the old interpreted per-pair aggregate — same pair set.
"""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from pyld_spark.operators.dedup import simhash_near_pairs_md5, simhash_signatures_md5
from pyld_spark.operators.graph_stats import triangle_counts


def _old_triangle_counts(edges, src="src", dst="dst"):
    """The round-5 formulation, kept verbatim as the differential oracle."""
    canon = edges.select(
        F.least(F.col(src), F.col(dst)).alias("lo"),
        F.greatest(F.col(src), F.col(dst)).alias("hi"),
    ).filter(F.col("lo") != F.col("hi")).distinct()
    e1 = canon.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = canon.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "b")
    e3 = canon.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    triangles = wedges.join(e3, ["a", "c"])
    member = triangles.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return member.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def _old_simhash_near_pairs_md5(signatures, id_col="doc_id", max_hamming=16):
    """Round-5 formulation: interpreted per-candidate-pair Hamming."""
    from pyld_spark.operators.dedup import _hamming_block_offsets

    offsets = _hamming_block_offsets(64, max_hamming + 1)
    blocks = F.array(
        *[F.substring(F.col("simbits"), o + 1, ln) for o, ln in offsets]
    )
    blocked = signatures.select(
        F.col(id_col).alias("doc"), F.col("simbits"),
        F.posexplode(blocks).alias("block_idx", "block_val"),
    )
    a = blocked.select(
        F.col("doc").alias("doc_a"), F.col("simbits").alias("sim_a"),
        "block_idx", "block_val",
    )
    b = blocked.select(
        F.col("doc").alias("doc_b"), F.col("simbits").alias("sim_b"),
        "block_idx", "block_val",
    )
    hamming = F.expr(
        "aggregate(sequence(1, 64), 0, (acc, i) -> acc + "
        "CASE WHEN substring(sim_a, i, 1) = substring(sim_b, i, 1) "
        "THEN 0 ELSE 1 END)"
    ).cast("bigint")
    return (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_triangle_counts_matches_round5_formulation(spark, seed):
    rnd = random.Random(seed)
    n = rnd.choice([5, 12, 30, 60])
    p = rnd.choice([0.1, 0.3, 0.6])
    edges = [
        (f"n{i}", f"n{j}")
        for i in range(n)
        for j in range(n)
        if i != j and rnd.random() < p
    ]
    edges += edges[:5] + [(b, a) for a, b in edges[:5]] + [("n0", "n0")]
    if not edges:
        edges = [("n0", "n1")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    new = sorted(tuple(r) for r in triangle_counts(df).collect())
    old = sorted(tuple(r) for r in _old_triangle_counts(df).collect())
    assert new == old


def _old_minhash_signatures_md5(documents, text_col="text", id_col="doc_id",
                                k=5, num_hashes=32):
    """Round-5 formulation: nested interpreted HOFs, one per permutation."""
    from pyld_spark.operators.dedup import shingle_expr

    shingles = shingle_expr(text_col, k)

    def _perm_hash(i):
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    sig = F.array(
        *[F.array_min(F.transform(shingles, _perm_hash(i))) for i in range(num_hashes)]
    )
    return documents.select(F.col(id_col), sig.alias("sig"))


def _old_minhash_signatures_xx(documents, text_col="text", id_col="doc_id",
                               k=5, num_hashes=64):
    from pyld_spark.operators.dedup import shingle_expr

    shingles = shingle_expr(text_col, k)

    def _perm_hash(i):
        return lambda s: F.xxhash64(s, F.lit(i))

    sig = F.array(
        *[F.array_min(F.transform(shingles, _perm_hash(i))) for i in range(num_hashes)]
    )
    return documents.select(F.col(id_col), sig.alias("sig"))


def _old_simhash_signatures_md5(documents, text_col="text", id_col="doc_id"):
    """Round-5 formulation: interpreted aggregate of 64-wide zip_with."""
    tokens = F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t != '')")
    md5s = F.transform(tokens, lambda t: F.md5(t))

    def _bits_pm1(h):
        def bit(j):
            digit = F.conv(F.substring(h, j // 4 + 1, 1), 16, 10).cast("int")
            return F.when(
                F.shiftright(digit, j % 4).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))

        return F.array(*[bit(j) for j in range(64)])

    zeros = F.array(*[F.lit(0) for _ in range(64)])
    sums = F.aggregate(
        md5s, zeros, lambda acc, h: F.zip_with(acc, _bits_pm1(h), lambda a, b: a + b)
    )
    with_sums = documents.select(F.col(id_col), sums.alias("_sums"))
    bits = F.concat(
        *[
            F.when(F.col("_sums")[j] > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(64)
        ]
    )
    return with_sums.select(F.col(id_col), bits.alias("simbits"))


def test_simhash_signatures_md5_match_round5_formulation(spark):
    rnd = random.Random(11)
    words = [f"tok{i}" for i in range(30)]
    rows = [(i, " ".join(rnd.choices(words, k=rnd.randint(1, 25)))) for i in range(50)]
    rows += [(9001, None), (9002, ""), (9003, "   "), (9004, "one"),
             (9005, "  leading and   multiple   spaces ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string").cache()
    try:
        new = {r["doc_id"]: r["simbits"]
               for r in simhash_signatures_md5(docs).collect()}
        old = {r["doc_id"]: r["simbits"]
               for r in _old_simhash_signatures_md5(docs).collect()}
        assert new == old
        assert all(len(v) == 64 for v in new.values())
    finally:
        docs.unpersist()


def test_minhash_signatures_match_round5_formulation(spark):
    from pyld_spark.operators.dedup import minhash_signatures, minhash_signatures_md5

    rnd = random.Random(7)
    rows = [(i, "".join(rnd.choices("abcdef ", k=rnd.randint(0, 40))))
            for i in range(60)]
    rows += [(9001, None), (9002, ""), (9003, "ab"), (9004, "exactly5")]
    docs = spark.createDataFrame(rows, "doc_id long, text string").cache()
    try:
        for new_fn, old_fn, nh in (
            (minhash_signatures_md5, _old_minhash_signatures_md5, 32),
            (minhash_signatures, _old_minhash_signatures_xx, 64),
        ):
            new = {r["doc_id"]: list(r["sig"]) for r in new_fn(docs, num_hashes=nh).collect()}
            old = {r["doc_id"]: list(r["sig"]) for r in old_fn(docs, num_hashes=nh).collect()}
            assert new == old
    finally:
        docs.unpersist()


@pytest.mark.parametrize("shared_id", [9100, None], ids=["duplicate-id", "null-id"])
def test_minhash_signatures_collapse_rows_sharing_an_id(spark, shared_id):
    """Rows sharing an id (a duplicate id, or null ids) become ONE signature
    row: the element-wise minimum of the round-5 per-row signatures, i.e.
    the signature of their pooled shingles."""
    from pyld_spark.operators.dedup import minhash_signatures, minhash_signatures_md5

    rows = [(1, "the quick brown fox"), (2, "jumps over the lazy dog"),
            (shared_id, "lorem ipsum dolor"), (shared_id, "sit amet consectetur")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for new_fn, old_fn, nh in (
        (minhash_signatures_md5, _old_minhash_signatures_md5, 32),
        (minhash_signatures, _old_minhash_signatures_xx, 64),
    ):
        new = [(r["doc_id"], list(r["sig"])) for r in new_fn(docs, num_hashes=nh).collect()]
        want = {}
        for r in old_fn(docs, num_hashes=nh).collect():
            sig = list(r["sig"])
            prev = want.get(r["doc_id"], sig)
            want[r["doc_id"]] = [min(a, b) for a, b in zip(prev, sig)]
        assert len(new) == len(want) == 3  # one row per distinct id
        assert dict(new) == want


@pytest.mark.parametrize("max_hamming", [3, 16])
def test_simhash_pairs_md5_matches_round5_formulation(spark, max_hamming):
    rnd = random.Random(42)
    words = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(80):
        text = " ".join(rnd.choices(words, k=rnd.randint(3, 20)))
        rows.append((f"d{d:03d}", text))
    # near-duplicate cluster: identical and one-token-edited texts
    rows += [("dup-a", "alpha beta gamma delta"), ("dup-b", "alpha beta gamma delta"),
             ("dup-c", "alpha beta gamma EPSILON")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = simhash_signatures_md5(docs).cache()
    try:
        new = sorted(
            tuple(r)
            for r in simhash_near_pairs_md5(sigs, max_hamming=max_hamming).collect()
        )
        old = sorted(
            tuple(r)
            for r in _old_simhash_near_pairs_md5(sigs, max_hamming=max_hamming).collect()
        )
        assert new == old
        assert ("dup-a", "dup-b", 0) in new
    finally:
        sigs.unpersist()
