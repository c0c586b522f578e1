"""Array builders over token and member arrays: contiguous n-grams and the
sorted-array ``i < j`` pair expansion.

Each builder is defined ONCE and is the only place that knows its
slice arithmetic.  Both are pure Catalyst expressions (no UDF, no
explode), so callers keep their plans map-only until they choose to
explode.  Text → tokens and padded word shingles live in
``functions/text.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def ngrams(arr: Column, n: int) -> Column:
    """Exact contiguous n-grams of ``arr`` → array<struct<w0, …, w(n-1)>>.

    One ``arrays_zip`` of ``n`` shifted slices of the same length
    ``max(size - (n-1), 0)`` — no self-join, no per-position
    ``element_at`` (which re-evaluates ``arr`` per position when
    projections collapse).  Arrays shorter than ``n`` give no n-grams;
    a null array gives null.
    """
    cnt = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(arr, i + 1, cnt).alias(f"w{i}") for i in range(n)])


def ordered_pairs(arr: Column, fn: Callable[[Column, Column], Column]) -> Column:
    """``fn(arr[i], arr[j])`` for every ``i < j`` → flat array.

    Element ``i`` pairs with the slice after it, so a sorted input yields
    pairs in (left, right) order with left <= right.  Repeated elements
    pair with each other: callers that need a strict ``left < right``
    filter after exploding.  Arrays of size 0 or 1 give no pairs.
    """
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.greatest(F.size(arr) - i - 1, F.lit(0))),
                lambda y: fn(x, y),
            ),
        )
    )
