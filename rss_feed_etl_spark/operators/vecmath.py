"""Vector math over embedding array columns: dot, norm, squared L2,
cosine, the int8 integer dot, and the numpy squared-L2 replay.

Each primitive is defined ONCE, as an element term plus a zero: the
reduction is the left fold ``zero + t0 + t1 + ... + t(w-1)``, and this
module is the only place that knows the fold order, the element casts
and the unroll width.  One template emits two SQL forms of the same
fold:

- the **unrolled kernel** for the package-standard width of
  ``_UNROLL_DIM`` elements — straight-line arithmetic that whole-stage
  codegen compiles to Java;
- the **fold fallback** — ``aggregate(zip_with(...))`` — for any other
  width.

Spark's higher-order array functions (``zip_with`` / ``aggregate``) are
CodegenFallback: evaluated INTERPRETED, one lambda call per element per
row, so every per-pair fold in the brute/banded similarity family pays
~dim interpreter dispatches per pair.  The kernel removes that cost and
is GUARDED by a length check, so the width guard in the expression is
the only thing that chooses between the two forms.

Bit-identical by construction:

- the unrolled sum is ``zero + t0 + t1 + ...`` (left-assoc) — exactly the
  aggregate fold's accumulation order and types;
- when an input is not exactly ``_UNROLL_DIM`` long the guard routes to
  the fold, so padding/null semantics are UNCHANGED (``zip_with`` pads
  the shorter side with null => null result; the unrolled branch is
  never taken for unequal lengths);
- a null array makes the guard null => fallback => null;
- both forms are rendered from the same element term, so they cannot
  drift apart.

Operands are SQL text naming a CHEAP reference (an attribute name,
backquoted where needed) or a driver-side literal vector (a sequence of
floats, written into the text as exact round-trip double literals).
The unrolled form references each input ~``_UNROLL_DIM`` times, and an
expensive child expression would be re-evaluated per reference outside
codegen's subexpression elimination (the element_at/CollapseProject
trap) — materialize such an input in its own projection first.

Construction cost (measured): building the unrolled tree through py4j
Column operators costs ~3 s of driver round trips PER EXPRESSION
(hundreds of Column calls), which dwarfs the runtime win on bench-sized
inputs.  The builders therefore render SQL text and parse the whole tree
JVM-side in ONE ``F.expr`` call (~ms) — same expression, same semantics,
no py4j chatter.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_UNROLL_DIM = 64

# An operand: SQL text of a cheap reference, or a literal vector.
Operand = str | Sequence[float]

# (zero, element term over the SQL texts of the i-th elements x and y)
_DOT = ("0.0D", "CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)")
_SQDIST = ("0.0D", "({x} - {y}) * ({x} - {y})")
_INT_DOT = ("CAST(0 AS BIGINT)", "CAST({x} * {y} AS BIGINT)")


def _lit(v: float) -> str:
    """Exact round-trip SQL double literal (``repr`` is the shortest
    string that parses back to the same double)."""
    v = float(v)
    if not math.isfinite(v):
        return f"CAST('{v}' AS DOUBLE)"
    return f"({v!r}D)" if math.copysign(1.0, v) < 0 else f"{v!r}D"


def _array(a: Operand) -> str:
    return a if isinstance(a, str) else "array(" + ", ".join(map(_lit, a)) + ")"


def _elem(a: Operand, i: int) -> str:
    return f"{a}[{i}]" if isinstance(a, str) else _lit(a[i])


def _fold(term: tuple[str, str], a: Operand, b: Operand) -> str:
    zero, t = term
    if a is b:
        return f"aggregate({_array(a)}, {zero}, (acc, v) -> acc + {t.format(x='v', y='v')})"
    return (
        f"aggregate(zip_with({_array(a)}, {_array(b)}, (x, y) -> "
        f"{t.format(x='x', y='y')}), {zero}, (acc, v) -> acc + v)"
    )


def _reduce(term: tuple[str, str], a: Operand, b: Operand) -> str:
    """SQL text of the width-guarded kernel over ``term``, falling back
    to the fold.  ``a is b`` folds one array against itself."""
    operands = [a] if a is b else [a, b]
    if any(not isinstance(o, str) and len(o) != _UNROLL_DIM for o in operands):
        return _fold(term, a, b)
    zero, t = term
    terms = "".join(
        f" + ({t.format(x=_elem(a, i), y=_elem(b, i))})" for i in range(_UNROLL_DIM)
    )
    attrs = dict.fromkeys(o for o in operands if isinstance(o, str))
    guard = " AND ".join(f"size({o}) = {_UNROLL_DIM}" for o in attrs)
    if not guard:
        return zero + terms
    return f"CASE WHEN {guard} THEN {zero}{terms} ELSE {_fold(term, a, b)} END"


def _norm_sql(a: Operand) -> str:
    return f"sqrt({_reduce(_DOT, a, a)})"


def dot(a: Operand, b: Operand) -> Column:
    """Dot product in DOUBLE (elements cast before the multiply)."""
    return F.expr(_reduce(_DOT, a, b))


def norm(a: Operand) -> Column:
    """L2 norm: ``sqrt`` of the array's dot product with itself."""
    return F.expr(_norm_sql(a))


def sqdist(a: Operand, b: Operand) -> Column:
    """Squared L2.  No casts: the element arithmetic runs in the inputs'
    own type (callers pass double arrays; see :func:`sqdist_np`)."""
    return F.expr(_reduce(_SQDIST, a, b))


def int_dot(a: Operand, b: Operand) -> Column:
    """Integer dot of int8-quantized arrays: each product is computed in
    the element type and widened to BIGINT before it is summed."""
    return F.expr(_reduce(_INT_DOT, a, b))


def cosine(a: Operand, b: Operand, decimals: int = 4) -> Column:
    """Cosine similarity, rounded for cross-engine comparison (fold order
    and float widening differ between engines at the last ulp; 4 dp
    absorbs it)."""
    return F.expr(
        f"round({_reduce(_DOT, a, b)} / ({_norm_sql(a)} * {_norm_sql(b)}), {decimals})"
    )


def divide(a: str, d: str) -> Column:
    """Elementwise ``a / d`` for a scalar expression ``d`` (unit
    normalization), unrolled on the standard width like the folds."""
    elems = ", ".join(f"{a}[{i}] / {d}" for i in range(_UNROLL_DIM))
    return F.expr(
        f"CASE WHEN size({a}) = {_UNROLL_DIM} THEN array({elems}) "
        f"ELSE transform({a}, v -> v / {d}) END"
    )


def sqdist_np(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Squared L2 of every row of ``X`` (n×w) against every row of ``C``
    (k×w), as an n×k float64 matrix, with the SAME IEEE-754 operation
    order as the :func:`sqdist` fold — ``acc = acc + d*d`` for
    j = 0..w-1 — vectorized across the batch.  Driver-side folds call it
    on one-row arrays."""
    X = np.asarray(X, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(C.shape[1]):
        d = X[:, j, None] - C[None, :, j]
        acc += d * d
    return acc
