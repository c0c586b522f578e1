"""The reference's enrichment entry point (§3.3, run_ats_enrichment.py) as
one lazy program: recent-window filter → as-of stamp → lexicon skills match
(pure expressions) → batched external match scoring (mapInPandas with an
injectable client) → JSON-encode skills at the sink."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.enrichment import ClientFactory, llm_match_scores
from ..operators.filters import add_as_of, filter_by_hours


def run_enrichment(
    stage: DataFrame,
    resume_text: str,
    client_factory: ClientFactory,
    as_of: str | None = None,
    hours_back: int = 24,
    limit: int | None = None,
    text_col: str = "summary",
) -> DataFrame:
    recent = filter_by_hours(stage, "published", as_of, hours_back)
    if limit is not None:
        recent = recent.limit(limit)
    recent = add_as_of(recent, "as_of_dt", as_of)
    scored = llm_match_scores(recent, resume_text, client_factory, text_col=text_col)
    return scored.withColumn("match_percentage", F.round("match_percentage", 2))


def run_enrichment_from_document(
    stage: DataFrame,
    resume_path: str,
    client_factory: ClientFactory,
    **kwargs,
) -> DataFrame:
    """The full reference shape (run_ats_enrichment.py:581: read_resume →
    enrich): the resume text comes from a PDF/DOCX document (S7/X6,
    sources/documents.py) instead of a pre-extracted string.  Extraction
    happens ONCE on the driver; the text rides into the scoring operator's
    closure as a scalar."""
    from ..sources.documents import read_document

    resume_text = read_document(resume_path)
    return run_enrichment(stage, resume_text, client_factory, **kwargs)
