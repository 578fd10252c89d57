"""Properties of ``pyld_spark/operators/vectors.py`` that need no reference:
each expression is evaluated by Spark over random vectors and compared, bit
for bit, with the arithmetic it states.

- The ``long`` dot product and squared norm equal numpy ``int64``.
- The double dot product equals Python's left fold of the products from
  ``0.0``, and the double norm the sqrt of the left fold of the squares.
- The fixed-point cosine equals ``dot / sqrt(float(na) * float(nb))`` over
  the exact integer terms, and ``cos_q6`` its ``floor(cosine * 10**6)``.

The last test keeps these expressions in that one module: no dot, norm or
hyperplane sum may be written out anywhere else in the package.
"""

from __future__ import annotations

import ast
import functools
import math
import struct
from pathlib import Path

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import pyld_spark
from pyld_spark.operators.vectors import (
    cos_q6,
    double_dot,
    double_norm,
    fixedpoint_cosine,
    long_dot,
    long_sq_norm,
)

PACKAGE = Path(pyld_spark.__file__).parent

_settings = settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.filter_too_much],
)


def _pairs(elements, min_abs_sum=0):
    """Batches of equal-length vector pairs (one Spark job per batch)."""
    pair = st.integers(1, 16).flatmap(
        lambda d: st.tuples(
            st.lists(elements, min_size=d, max_size=d),
            st.lists(elements, min_size=d, max_size=d),
        )
    )
    if min_abs_sum:
        pair = pair.filter(lambda p: any(p[0]) and any(p[1]))
    return st.lists(pair, min_size=1, max_size=12)


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def _eval(spark, pairs, elem_type, **exprs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        f"i int, a array<{elem_type}>, b array<{elem_type}>",
    )
    cols = [e(F.col("a"), F.col("b")).alias(n) for n, e in exprs.items()]
    return [r.asDict() for r in df.select("i", *cols).orderBy("i").collect()]


# |v| <= 2**26 over at most 16 dims keeps every sum inside 2**57: exact in a
# long, but past the 2**53 a double accumulator can hold
@_settings
@given(_pairs(st.integers(-(2**26), 2**26)))
def test_long_dot_and_sq_norm_equal_numpy_int64(spark, pairs):
    rows = _eval(
        spark, pairs, "bigint",
        dot=long_dot, sq_norm=lambda a, _b: long_sq_norm(a),
    )
    for (a, b), r in zip(pairs, rows):
        va, vb = np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)
        assert type(r["dot"]) is int and r["dot"] == int(np.dot(va, vb)), (a, b)
        assert type(r["sq_norm"]) is int and r["sq_norm"] == int(np.dot(va, va)), a


def _left_fold(values):
    return functools.reduce(lambda acc, v: acc + v, values, 0.0)


# mixed magnitudes, so that the summation order shows in the low bits
_doubles = st.one_of(
    st.floats(-1e3, 1e3, allow_nan=False),
    st.floats(-1e12, 1e12, allow_nan=False),
    st.floats(-1e-6, 1e-6, allow_nan=False),
)


@_settings
@given(_pairs(_doubles))
def test_double_dot_and_norm_are_left_folds(spark, pairs):
    rows = _eval(
        spark, pairs, "double",
        dot=double_dot, norm=lambda a, _b: double_norm(a),
    )
    for (a, b), r in zip(pairs, rows):
        want_dot = _left_fold([x * y for x, y in zip(a, b)])
        assert _bits(r["dot"]) == _bits(want_dot), (a, b, r["dot"], want_dot)
        want_norm = math.sqrt(_left_fold([x * x for x in a]))
        assert _bits(r["norm"]) == _bits(want_norm), (a, r["norm"], want_norm)


@_settings
@given(_pairs(st.integers(-1000, 1000), min_abs_sum=1))
def test_fixedpoint_cosine_is_one_double_expression(spark, pairs):
    def cosine(a, b):
        return fixedpoint_cosine(long_dot(a, b), long_sq_norm(a), long_sq_norm(b))

    rows = _eval(
        spark, pairs, "bigint",
        cos=cosine, q6=lambda a, b: cos_q6(cosine(a, b)),
    )
    for (a, b), r in zip(pairs, rows):
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = sum(x * x for x in a), sum(y * y for y in b)
        want = dot / math.sqrt(float(na) * float(nb))
        assert _bits(r["cos"]) == _bits(want), (a, b, r["cos"], want)
        assert r["q6"] == math.floor(want * 1000000), (a, b)


def _name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Attribute):
        return f.attr
    return f.id if isinstance(f, ast.Name) else None


def _is_plain_sum(node) -> bool:
    """``lambda acc, v: acc + v`` or ``acc + v * v``: a dot or norm fold."""
    if not (isinstance(node, ast.Lambda) and isinstance(node.body, ast.BinOp)):
        return False
    body = node.body
    return (
        isinstance(body.op, ast.Add)
        and isinstance(body.left, ast.Name)
        and isinstance(body.right, (ast.Name, ast.BinOp))
    )


def test_vector_expressions_live_only_in_vectors_module():
    vectors = PACKAGE / "operators" / "vectors.py"
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == vectors:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = _name(node)
            folds_vector = name == "aggregate" and (
                (node.args and isinstance(node.args[0], ast.Call)
                 and _name(node.args[0]) in {"zip_with", "transform"})
                or (len(node.args) > 2 and _is_plain_sum(node.args[2]))
            )
            if folds_vector or name in {"hyperplane_expr", "hyperplane_expr_md5"}:
                offenders.append(
                    f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {name}"
                )
    assert not offenders, "\n".join(offenders)
