"""URL canonicalization expressions (feed-pipeline dedup support).

The reference keys every merge on the raw ``link`` string
(data_loader.py:32) — but feed URLs arrive with tracking parameters,
fragments, case-variant hosts, and trailing slashes, so the same article
re-ingests as "different" keys.  Canonicalizing before keying is the
standard fix; everything here is portable regex expressions (no lookbehind,
so the same patterns run on Java regex and RE2/DuckDB).

Canonical form: fragment stripped, utm_*/fbclid/gclid tracking parameters
removed, scheme+host lowercased, trailing slash and dangling ?/& removed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRACKING_PARAMS = r"(utm_[a-z0-9_]+|fbclid|gclid)"
_SCHEME_HOST = r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*"


def canonical_url(col: Column | str) -> Column:
    """Canonicalize a URL with portable regex passes (see module doc).

    Mirrored 1:1 in the DuckDB oracle SQL (queries/functions.py) — every
    pass is a global regexp_replace both engines implement identically.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.trim(c)
    # 1. fragment
    s = F.regexp_replace(s, r"#.*$", "")
    # 2. tracking params followed by another param (keep the separator for it)
    s = F.regexp_replace(s, TRACKING_PARAMS + r"=[^&]*&", "")
    # 3. trailing tracking param (takes its leading ? or & with it)
    s = F.regexp_replace(s, r"[?&]" + TRACKING_PARAMS + r"=[^&]*$", "")
    # 4. dangling separators left by stripping
    s = F.regexp_replace(s, r"[?&]$", "")
    # 5. trailing slash
    s = F.regexp_replace(s, r"/$", "")
    # 6. lowercase scheme://host (path/query stay case-sensitive)
    prefix = F.regexp_extract(s, _SCHEME_HOST, 0)
    rest = s.substr(F.length(prefix) + F.lit(1), F.lit(1_000_000))
    return F.concat(F.lower(prefix), rest)


def url_dedup(df, url_col: str = "link", id_col: str = "event_id"):
    """One row per canonical URL: (canonical_url, keeper_id, n_variants).

    The dedup decision for a feed pipeline: which ingested variant survives
    (smallest id = first arrival) and how many aliases collapsed into it.
    One groupBy on the canonical string — the canonicalization itself is
    map-side expressions inside the scan stage.
    """
    return (
        df.select(
            canonical_url(F.col(url_col)).alias("canonical_url"),
            F.col(id_col),
        )
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_variants"),
        )
    )
