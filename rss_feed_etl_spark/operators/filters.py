"""Filter-stage operators (reference P4-P9).

The reference reads the ENTIRE table and then filters in pandas
(run_job_filter.py:324-342).  Here every predicate is a Column expression
on a lazy DataFrame, so Catalyst pushes it into the Parquet scan
(PushedFilters) and prunes partitions — at 100 TB the date window never
reads outside its partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import keyword_exclusion_mask, non_blankish


def filter_by_date(
    df: DataFrame,
    ts_col: str = "published",
    as_of: str | Column | None = None,
    days_back: int = 7,
) -> DataFrame:
    """Keep rows with ``ts >= as_of - days_back`` (reference P4,
    run_job_filter.py:112-152).  Unparseable/absent timestamps drop (the
    null comparison is false — same as pandas coerce+dropna).

    ``as_of=None`` uses ``current_timestamp()`` (production); verified
    queries pass a fixed literal so results are deterministic.
    """
    ts = F.col(ts_col)
    if as_of is None:
        now = F.current_timestamp()
    elif isinstance(as_of, str):
        now = F.to_timestamp(F.lit(as_of))
    else:
        now = as_of
    threshold = now - F.expr(f"INTERVAL {int(days_back)} DAYS")
    return df.filter(ts >= threshold)


def filter_by_hours(
    df: DataFrame,
    ts_col: str = "published",
    as_of: str | Column | None = None,
    hours_back: int = 24,
) -> DataFrame:
    """Hours variant (reference run_ats_enrichment.py:528-537)."""
    ts = F.col(ts_col)
    if as_of is None:
        now = F.current_timestamp()
    elif isinstance(as_of, str):
        now = F.to_timestamp(F.lit(as_of))
    else:
        now = as_of
    return df.filter(ts >= now - F.expr(f"INTERVAL {int(hours_back)} HOURS"))


def filter_empty_content(df: DataFrame, cols: list[str]) -> DataFrame:
    """Require every configured column to be non-null-ish: not NULL, not
    whitespace-only, not the literal 'nan' (reference P5,
    run_job_filter.py:155-203)."""
    cond = F.lit(True)
    for c in cols:
        cond = cond & non_blankish(c)
    return df.filter(cond)


def filter_keywords(
    df: DataFrame,
    rules: dict[str, list[str]],
) -> DataFrame:
    """Keyword-exclusion filter (reference P6, run_job_filter.py:206-237):
    drop any row where column contains any configured keyword
    (case-insensitive, literal match, nulls never match).

    Each column's keyword list folds into one escaped-alternation regex
    (constant-folded by Catalyst) rather than N substring passes.
    """
    cond = F.lit(True)
    for col, keywords in rules.items():
        cond = cond & keyword_exclusion_mask(col, keywords)
    return df.filter(cond)


def validate_keys(df: DataFrame) -> DataFrame:
    """Reject null/blank primary keys (reference P7,
    scd1_manager.py:179-215 drops and warns; we filter lazily)."""
    k = F.col("link")
    return df.filter(k.isNotNull() & (F.trim(k.cast("string")) != ""))


def add_as_of(
    df: DataFrame,
    col: str = "AS_OF_DT",
    as_of: str | None = None,
) -> DataFrame:
    """Stamp the run timestamp (reference P8, run_job_filter.py:240-254).

    The reference stores it as a formatted string; the engine keeps a real
    timestamp.
    """
    ts = F.to_timestamp(F.lit(as_of)) if as_of is not None else F.current_timestamp()
    return df.withColumn(col, ts)
