"""The vector column expressions behind the similarity and dedup operators.

Two arithmetic bases, each with one form per quantity:

- **exact integer** (oracle-portable): :func:`quantize_expr` maps a float
  vector to ``array<bigint>``; :func:`long_dot` and :func:`long_sq_norm` are
  exact ``long`` sums (any summation order gives the same bits), and
  :func:`fixedpoint_cosine` is one IEEE-754 double expression over them,
  which every engine evaluates to the same bits; :func:`cos_q6` emits it as
  an integer.
- **double**: :func:`double_dot` and :func:`double_norm` fold left from
  ``0.0`` in array order, so a reference replays them with the same fold.

The random hyperplanes of LSH bucketing have one form per hash basis:
:func:`hyperplane_expr` (xxhash64, the scale path) and
:func:`hyperplane_expr_md5` (md5, replayable by the DuckDB oracle), each
with its bucket signature.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def quantize_expr(vec_col, scale: int = 1000):
    """array<float> → array<bigint> by round(x*scale): bit-exact in any
    engine, so similarity ranks become integer comparisons."""
    return F.transform(
        vec_col, lambda x: F.round(x.cast("double") * scale, 0).cast("long")
    )


def _long_sum(arr):
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)


def long_dot(a, b):
    """Exact ``long`` dot product of two integer vectors."""
    return _long_sum(F.zip_with(a, b, lambda x, y: x * y))


def long_sq_norm(a):
    """Exact ``long`` squared norm of an integer vector."""
    return _long_sum(F.transform(a, lambda x: x * x))


def fixedpoint_cosine(dot, sq_norm_a, sq_norm_b):
    """cosine = dot / sqrt(na·nb) over exact integer terms: division and
    sqrt are correctly rounded, so any engine computes the identical bits."""
    return dot.cast("double") / F.sqrt(
        sq_norm_a.cast("double") * sq_norm_b.cast("double")
    )


def cos_q6(cosine):
    """floor(cosine·10⁶) as a bigint: the comparison never depends on a
    float rounding rule."""
    return F.floor(cosine * 1000000).cast("bigint")


def double_dot(a, b):
    """Double dot product, folded left from 0.0 in array order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def double_norm(a):
    """sqrt of the left fold of v·v from 0.0 in array order."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def hyperplane_expr(dim: int, plane_idx: int, scale: int = 1000):
    """Deterministic pseudo-random hyperplane: component j of plane i =
    (xxhash64(i, j) mod 2001) - 1000 — reproducible anywhere."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.pmod(F.xxhash64(F.lit(plane_idx), j), F.lit(2 * scale + 1)) - scale
        ).cast("double"),
    )


def hyperplane_signature(vec, dim: int, n_planes: int):
    """``long`` bucket of a double vector: bit i (most significant first) is
    the sign of its dot with :func:`hyperplane_expr` plane i."""
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        bit = F.when(double_dot(vec, hyperplane_expr(dim, i)) >= 0, 1).otherwise(0)
        sig = sig * 2 + bit
    return sig


def hyperplane_expr_md5(dim: int, plane_idx: int, scale: int = 1000):
    """Integer hyperplane with a portable hash basis: component j of plane i
    = (first-8-hex-chars of md5('i:j') as int) mod (2·scale+1) − scale.
    Integer components × quantized vectors ⇒ the bucket sign decision is an
    exact integer comparison — replayable in any engine, no float ULP risk."""
    return F.array(
        *[
            F.lit(
                # hash is deterministic: precompute driver-side, embed as
                # literals (cheaper than per-row md5 of constants; identical
                # to the SQL form the oracle uses)
                _md5_int(f"{plane_idx}:{j}") % (2 * scale + 1) - scale
            )
            for j in range(dim)
        ]
    )


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode("ascii")).hexdigest()[:8], 16)


def hyperplane_signature_md5(qvec, dim: int, n_planes: int, scale: int = 1000):
    """'0'/'1' string bucket of a quantized vector: character i is 1 when its
    exact dot with :func:`hyperplane_expr_md5` plane i is ≥ 0. ``dim`` is a
    parameter: reading it from the data would fire a driver-side job during
    plan construction."""
    return F.concat(*[
        F.when(long_dot(qvec, hyperplane_expr_md5(dim, i, scale)) >= 0, F.lit("1"))
        .otherwise(F.lit("0"))
        for i in range(n_planes)
    ])
