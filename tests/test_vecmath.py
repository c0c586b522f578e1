"""Bit-identity of the vecmath primitives: every width-guarded kernel
equals its fold fallback AND the Column-built fold it replaced, bit for
bit, for attribute and literal operands, float and double elements,
null elements, null and empty arrays, unequal lengths and widths other
than the unrolled one; the numpy squared-L2 replay equals the SQL fold.
"""

from __future__ import annotations

import math
import random
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from rss_feed_etl_spark.operators import vecmath

W = vecmath._UNROLL_DIM
EMPTY = 102  # the empty-array row: zero norms, so no cosine (ANSI divide)


def _bits(v):
    """Exact identity of a collected value (NaN-safe, -0.0-aware)."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    return v


# The interpreted Column folds the kernels replaced, kept verbatim as the
# independent reference.
def _col_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _col_norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _col_sqdist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _col_int_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _col_cosine(a, b, decimals=4):
    return F.round(_col_dot(a, b) / (_col_norm(a) * _col_norm(b)), decimals)


def _lit_col(vec):
    return F.array(*[F.lit(float(v)) for v in vec])


def _rows():
    rng = random.Random(7)

    def vec(n):
        return [rng.uniform(-1.0, 1.0) for _ in range(n)]

    rows = [(i, vec(W), vec(W)) for i in range(40)]
    holes = vec(W)
    holes[17] = None
    rows += [
        (100, holes, vec(W)),  # null element
        (101, None, vec(W)),  # null array
        (EMPTY, [], []),  # empty arrays
        (103, vec(W), vec(W - 1)),  # unequal lengths
        (104, vec(W + 1), vec(W)),  # unequal lengths, wider side first
        (105, vec(5), vec(5)),  # another width: the fallback branch
        (106, [-0.0] * (W - 1) + [0.5], [0.0, -0.0] * (W // 2 - 1) + [0.25, -0.5]),
        (108, vec(W), [None] * W),
    ]
    return rows


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(_rows(), "id int, a array<double>, b array<double>")


def _check(df, pairs):
    """pairs: {name: (kernel Column, reference Column)} — every row must
    agree bit for bit on every pair."""
    cols = [F.col("id")]
    for name, (k, ref) in pairs.items():
        cols += [k.alias(f"k_{name}"), ref.alias(f"r_{name}")]
    for row in df.select(*cols).collect():
        for name in pairs:
            got, want = row[f"k_{name}"], row[f"r_{name}"]
            assert _bits(got) == _bits(want), (name, row["id"], got, want)


@pytest.mark.parametrize("elem", ["double", "float"])
def test_kernels_equal_folds_attribute_operands(frame, elem):
    df = frame.select(
        "id",
        F.col("a").cast(f"array<{elem}>").alias("a"),
        F.col("b").cast(f"array<{elem}>").alias("b"),
    )
    a, b = F.col("a"), F.col("b")
    pairs = {
        "dot": (vecmath.dot("a", "b"), _col_dot(a, b)),
        "dot_sql": (vecmath.dot("a", "b"), F.expr(vecmath._fold(vecmath._DOT, "a", "b"))),
        "norm": (vecmath.norm("a"), _col_norm(a)),
        "self_dot": (vecmath.dot("b", "b"), _col_dot(b, b)),
        "sqdist": (vecmath.sqdist("a", "b"), _col_sqdist(a, b)),
        "sqdist_sql": (
            vecmath.sqdist("a", "b"),
            F.expr(vecmath._fold(vecmath._SQDIST, "a", "b")),
        ),
    }
    _check(df, pairs)
    cosines = {
        "cosine": (vecmath.cosine("a", "b"), _col_cosine(a, b)),
        "cosine6": (vecmath.cosine("a", "b", 6), _col_cosine(a, b, 6)),
    }
    _check(df.filter(F.col("id") != EMPTY), cosines)


def test_kernels_equal_folds_literal_operands(frame):
    rng = random.Random(11)
    lit = [rng.uniform(-1.0, 1.0) for _ in range(W)]
    lit[3], lit[4], lit[5] = -0.0, 5e-324, -1.7976931348623157e308
    signs = [1 if rng.random() < 0.5 else -1 for _ in range(W)]
    short = [0.25, -0.5, 1.0, 2.0, -4.0]
    pairs, cosines = {}, {}
    for name, v in (("lit", lit), ("signs", signs), ("short", short)):
        c = _lit_col(v)
        pairs[f"dot_{name}"] = (vecmath.dot("a", v), _col_dot(F.col("a"), c))
        pairs[f"sqdist_{name}"] = (vecmath.sqdist("a", v), _col_sqdist(F.col("a"), c))
        pairs[f"norm_{name}"] = (vecmath.norm(v), _col_norm(c))
        cosines[name] = (vecmath.cosine("a", v), _col_cosine(F.col("a"), c))
    _check(frame, pairs)
    _check(frame.filter(F.col("id") != EMPTY), cosines)


def test_int_dot_kernel_equals_fold(spark):
    rng = random.Random(5)

    def q(n):
        return [rng.randint(-127, 127) for _ in range(n)]

    rows = [(i, q(W), q(W)) for i in range(30)]
    holes = q(W)
    holes[0] = None
    rows += [(50, holes, q(W)), (51, None, q(W)), (52, [], []), (53, q(W), q(7)), (54, q(9), q(9))]
    df = spark.createDataFrame(rows, "id int, a array<int>, b array<int>")
    _check(
        df,
        {
            "int_dot": (vecmath.int_dot("a", "b"), _col_int_dot(F.col("a"), F.col("b"))),
            "int_dot_sql": (
                vecmath.int_dot("a", "b"),
                F.expr(vecmath._fold(vecmath._INT_DOT, "a", "b")),
            ),
        },
    )
    assert dict(df.select(vecmath.int_dot("a", "b").alias("d")).dtypes)["d"] == "bigint"


def test_divide_equals_transform(frame):
    df = frame.withColumn("n", vecmath.norm("b"))
    row_pairs = df.select(
        "id",
        vecmath.divide("a", "n").alias("k"),
        F.transform("a", lambda v: v / F.col("n")).alias("r"),
    ).collect()
    for row in row_pairs:
        got = None if row["k"] is None else [_bits(v) for v in row["k"]]
        want = None if row["r"] is None else [_bits(v) for v in row["r"]]
        assert got == want, row["id"]


def test_kernel_only_on_standard_width():
    # the unrolled branch names element W-1; a literal of another width
    # has no kernel at all (the fold is the whole expression)
    assert f"[{W - 1}]" in vecmath._reduce(vecmath._DOT, "a", "b")
    assert f"size(a) = {W}" in vecmath._reduce(vecmath._SQDIST, "a", [0.0] * W)
    assert "CASE" not in vecmath._reduce(vecmath._DOT, "a", [1.0, 2.0])


@pytest.mark.parametrize(
    "v", [0.1, -0.0, 5e-324, 1.7976931348623157e308, -2.5, float("nan"), float("inf"), -math.inf]
)
def test_literals_round_trip_exactly(spark, v):
    got = spark.sql(f"SELECT {vecmath._lit(v)} AS x").collect()[0]["x"]
    assert _bits(got) == _bits(v)


def test_numpy_sqdist_equals_sql_fold(frame):
    rows = [
        r
        for r in frame.select("a", "b").collect()
        if r["a"] and r["b"] and len(r["a"]) == len(r["b"])
        and None not in r["a"] and None not in r["b"]
    ]
    cents = [rows[0]["b"], rows[1]["b"], [0.5] * W]
    want = frame.select(
        "a", *[vecmath.sqdist("a", c).alias(f"d{j}") for j, c in enumerate(cents)]
    ).collect()
    for r in want:
        if not r["a"] or len(r["a"]) != W or None in r["a"]:
            continue
        got = vecmath.sqdist_np([r["a"]], cents)[0]
        assert [_bits(float(x)) for x in got] == [_bits(r[f"d{j}"]) for j in range(3)]
    # an odd width, driver-side one-row call against a matrix
    X = np.asarray([r["a"][:5] for r in rows])
    C = np.asarray([r["b"][:5] for r in rows[:3]])
    df = frame.sparkSession.createDataFrame([(x.tolist(),) for x in X], "a array<double>")
    sql = df.select(*[vecmath.sqdist("a", c.tolist()).alias(f"d{j}") for j, c in enumerate(C)])
    assert [[_bits(v) for v in r] for r in sql.collect()] == [
        [_bits(float(v)) for v in row] for row in vecmath.sqdist_np(X, C)
    ]
