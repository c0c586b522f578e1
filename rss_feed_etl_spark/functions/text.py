"""Text expression helpers (reference F1-F5, X1 semantics).

Everything here is a Column expression (JVM-side, codegen-friendly) except
``html_to_text_udf`` which wraps the HTML→text cleanup as an Arrow-batched
pandas UDF (the reference uses html2text per row — html_utils.py:8-37; we
reproduce the observable behavior with a deterministic regex pipeline since
html2text is not available in this environment, and a vectorized UDF is the
right Spark shape for it anyway).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def collapse_whitespace(col: Column | str) -> Column:
    """``re.sub(r"\\s+", " ", text).strip()`` (reference core/etl.py:143, F4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def norm_text(col: Column | str) -> Column:
    """Normalization used for exact-dup fingerprints: lower + collapse ws."""
    return F.lower(collapse_whitespace(col))


def is_blankish(col: Column | str) -> Column:
    """True when the value is null-ish under the reference's string model:
    NULL, empty/whitespace-only, or the literal string "nan"
    (run_job_filter.py:182-186)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c.cast("string"))
    return c.isNull() | (t == "") | (t == "nan")


def non_blankish(col: Column | str) -> Column:
    return ~is_blankish(col)


def blank_to_null(col: Column | str) -> Column:
    """Map ''/whitespace/'nan' to NULL so ``coalesce`` can express the
    reference's "preserve old value when new is blank" rules.  Non-blank
    values pass through UNCHANGED (no silent trim)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(is_blankish(c), F.lit(None).cast("string")).otherwise(c.cast("string"))


_REGEX_META = re.compile(r"[.^$*+?{}\[\]\\|()]")


def escape_regex(keyword: str) -> str:
    """Escape regex metacharacters: pandas ``str.contains`` defaults to
    regex=True but the reference's keywords are literals
    (run_job_filter.py:226, F3)."""
    return _REGEX_META.sub(lambda m: "\\" + m.group(0), keyword)


def keyword_exclusion_mask(col: Column | str, keywords: list[str]) -> Column:
    """True for rows that match NONE of the keywords, case-insensitively
    (the keep-mask of P6).

    ~50 keywords per column fold into ONE escaped-alternation ``rlike`` —
    compiled once by Catalyst (constant folding) instead of 50 chained
    ``contains`` passes; at 100 TB this is a single regex scan per value.
    Null values never match (pandas ``na=False``) → kept.
    """
    c = F.col(col) if isinstance(col, str) else col
    if not keywords:
        return F.lit(True)
    alternation = "|".join(escape_regex(k) for k in keywords)
    pattern = "(?i)(" + alternation + ")"
    return ~F.coalesce(c.rlike(pattern), F.lit(False))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def shingles(toks: Column, n: int) -> Column:
    """Padded word n-gram shingles of a token array → array<string>.

    Position ``i`` joins ``toks[i .. i+n-1]`` with single spaces.  Arrays
    shorter than ``n`` tokens yield their whole (joined) token list as the
    single shingle so short documents still participate in similarity
    joins; for exact n-grams with no padding see ``arrays.ngrams``.
    """
    # slice-based gram: references ``toks`` once per gram — element_at per
    # position re-evaluates the token split inside the interpreted lambda
    # (~5× slower measured); short docs (< n words) fall out the same way
    # because slice past the end truncates
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct padded word n-gram shingles of a text column → array<string>."""
    return F.array_distinct(shingles(tokens(col), n))


# PII scrubbing — patterns restricted to syntax that Java regex (Spark) and
# RE2 (DuckDB oracle) interpret identically: no lookaround, no backrefs.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"(\+?[0-9]{1,3}[-. ]?)?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}"
PII_SSN = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"


def redact_pii(col: Column | str) -> Column:
    """Mask emails, phone numbers, and SSN-shaped ids with typed tokens.

    Order matters: SSNs are masked before phones (a bare ddd-dd-dddd must
    not half-match the phone pattern), emails last since their local part
    can contain digits.  Three sequential ``regexp_replace`` — one codegen
    stage, no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_SSN, "[SSN]")
    c = F.regexp_replace(c, PII_PHONE, "[PHONE]")
    return F.regexp_replace(c, PII_EMAIL, "[EMAIL]")


_TAG = re.compile(r"<[^>]+>")
_SCRIPT = re.compile(r"(?is)<(script|style)[^>]*>.*?</\1>")
# anchors render as "text (url)" BEFORE the generic tag strip — the
# reference keeps link targets (html_utils.py:12-14, ignore_links=False);
# pattern stays in the RE2-compatible subset so the oracle replays it
_ANCHOR = re.compile(r'(?is)<a\s[^>]*?href="([^"]*)"[^>]*>(.*?)</a>')
_ENTITIES = {
    "&nbsp;": " ",
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
}


def html_to_text(raw: str | None) -> str:
    """Deterministic HTML → text (reference X1: html_utils.py:8-37 drops
    images/emphasis, keeps text AND link targets — ignore_links=False —
    collapses whitespace).  Anchors surface as ``text (url)``."""
    if raw is None:
        return ""
    s = _SCRIPT.sub(" ", raw)
    s = _ANCHOR.sub(r"\2 (\1)", s)
    s = _TAG.sub(" ", s)
    for ent, rep in _ENTITIES.items():
        s = s.replace(ent, rep)
    return re.sub(r"\s+", " ", s).strip()


def html_to_text_udf():
    """Arrow-batched pandas UDF wrapping ``html_to_text`` (string→string).

    Defined as a closure so cloudpickle serializes it by value — no module
    import needed on executors.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    script_re = _SCRIPT
    anchor_re = _ANCHOR
    tag_re = _TAG
    entities = dict(_ENTITIES)

    @pandas_udf("string")
    def _clean(s):
        import re as _re

        def one(v):
            if v is None:
                return ""
            x = script_re.sub(" ", v)
            x = anchor_re.sub(r"\2 (\1)", x)
            x = tag_re.sub(" ", x)
            for ent, rep in entities.items():
                x = x.replace(ent, rep)
            return _re.sub(r"\s+", " ", x).strip()

        return s.map(one)

    return _clean


def normalize_unicode(col: Column | str) -> Column:
    """Corpus-hygiene unicode normalization (the NFKC-lite pass every web
    corpus gets before tokenization): curly quotes → straight, en/em dash
    → '-', ellipsis → '...', NBSP → space, C0 control chars → space, then
    whitespace-collapse + trim.

    Pure translate/regexp expressions (whole-stage codegen, map-only);
    character classes are shared Java-regex/RE2 dialect so the DuckDB
    oracle applies the identical rules.  Full NFKC (compatibility
    decomposition tables) would need an ICU UDF; this covers the
    punctuation/space unification that dominates real web text.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(
        c, "‘’“”–— ", "''\"\"-- "
    )
    c = F.regexp_replace(c, "…", "...")
    c = F.regexp_replace(c, "[\\x00-\\x1f\\x7f]", " ")
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)
