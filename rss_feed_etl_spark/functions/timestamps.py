"""Timestamp expression helpers (reference F7-F11 semantics).

The reference parses timestamps leniently everywhere with
``pd.to_datetime(errors="coerce")`` (run_job_filter.py:139,
scd1_manager.py:161) — invalid inputs become null, never an error — and
converts UTC→configured tz at ingest (core/etl.py:129-132).  These helpers
reproduce that with null-on-failure ``try_to_timestamp`` chains, entirely
JVM-side (whole-stage codegen keeps them in the scan stage).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Formats seen in the reference's data: its own canonical storage format,
# date-only, ISO-8601, and RFC-822 RSS dates (feedparser handles those in
# the reference; core/etl.py:133 writes "%Y-%m-%d %H:%M:%S").
_FORMATS = [
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd",
]

# RFC-822 RSS pubDates ("Mon, 20 May 2024 10:00:00 +0000"): Spark ≥3.0's
# parser rejects the 'EEE' day-of-week field, so the weekday prefix is
# stripped before parsing (the weekday is redundant anyway).
_RFC822_FORMATS = [
    "dd MMM yyyy HH:mm:ss Z",
    "dd MMM yyyy HH:mm:ss zzz",
]
_WEEKDAY_PREFIX = r"^[A-Za-z]{3},\s*"


def lenient_to_timestamp(col: Column | str, formats: list[str] | None = None) -> Column:
    """Null-on-failure multi-format timestamp parse (≡ errors="coerce")."""
    c = F.col(col) if isinstance(col, str) else col
    attempts = [F.try_to_timestamp(c, F.lit(fmt)) for fmt in (formats or _FORMATS)]
    if formats is None:
        stripped = F.regexp_replace(c, _WEEKDAY_PREFIX, "")
        attempts += [F.try_to_timestamp(stripped, F.lit(fmt)) for fmt in _RFC822_FORMATS]
    attempts.append(F.try_to_timestamp(c))  # Spark's default parser last
    return F.coalesce(*attempts)


def utc_to_tz(col: Column | str, tz: str = "US/Central") -> Column:
    """UTC → wall-clock in ``tz`` (reference core/etl.py:129-132, F8)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.from_utc_timestamp(c, tz)


