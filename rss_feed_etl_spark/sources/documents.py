"""Document reader (reference S7/X6): extract text from PDF/DOCX files.

Reference behavior (src/rss_feed_etl/utils/file_utils.py:8-43, richer
variant src/utils/file_utils.py:9-60): ``read_resume`` dispatches on the
file suffix, extracts page/paragraph text with PyPDF2 / python-docx, raises
``FileNotFoundError`` for missing files and ``ValueError`` for unsupported
formats.

Spark shape: document extraction is a DRIVER-SIDE scalar — one resume per
enrichment run — so the text is read once and broadcast
(``broadcast_document``), never re-extracted per executor or per row.  The
codec calls follow the same stub discipline as operators/multimodal.py:
this environment ships neither PyPDF2 nor python-docx, so the default
extractor falls back to a deterministic decode of the raw bytes (strict
mode raises instead), and callers can inject any ``(path) -> str``
extractor — tests inject fixtures, production injects the real parsers.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import SparkSession

Extractor = Callable[[str], str]


def extract_text_from_pdf(path: str, strict: bool = False) -> str:
    """PDF → text.  Production: ``PyPDF2.PdfReader(f).pages[*].extract_text()``
    joined with newlines (reference file_utils.py:8-18)."""
    try:
        import PyPDF2  # noqa: F401 (not present in this environment)
    except ImportError:
        if strict:
            raise NotImplementedError(
                "PDF extraction requires PyPDF2; not available in this environment"
            ) from None
        return _stub_extract(path)
    with open(path, "rb") as fh:  # pragma: no cover - requires PyPDF2
        reader = PyPDF2.PdfReader(fh)
        return "\n".join((page.extract_text() or "") for page in reader.pages)


def extract_text_from_docx(path: str, strict: bool = False) -> str:
    """DOCX → text.  Production: ``docx.Document(path)`` paragraph texts
    joined with newlines (reference file_utils.py:21-30)."""
    try:
        from docx import Document  # noqa: F401 (not present in this environment)
    except ImportError:
        if strict:
            raise NotImplementedError(
                "DOCX extraction requires python-docx; not available in this environment"
            ) from None
        return _stub_extract(path)
    doc = Document(path)  # pragma: no cover - requires python-docx
    return "\n".join(p.text for p in doc.paragraphs)


def _stub_extract(path: str) -> str:
    """STUB extraction: deterministic text from the raw bytes.

    Decodes the file as UTF-8 (replacing undecodable bytes) and collapses
    whitespace — so a plain-text fixture saved with a .pdf/.docx suffix
    round-trips its content exactly, and any binary file still yields a
    stable, repeatable string.  Production never reaches this path.
    """
    with open(path, "rb") as fh:
        raw = fh.read()
    text = raw.decode("utf-8", errors="replace")
    return re.sub(r"\s+", " ", text).strip()


def read_document(
    path: str, extractor: Extractor | None = None, strict: bool = False
) -> str:
    """Read and extract text from a PDF or DOCX document (reference
    ``read_resume``, file_utils.py:33-43 — same dispatch and error
    semantics).  ``extractor`` overrides the format dispatch entirely
    (the injection point for tests and custom parsers)."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"Document not found: {path}")
    if extractor is not None:
        return extractor(path)
    lower = path.lower()
    if lower.endswith(".pdf"):
        return extract_text_from_pdf(path, strict=strict)
    if lower.endswith(".docx"):
        return extract_text_from_docx(path, strict=strict)
    raise ValueError("Unsupported document format. Please provide a PDF or DOCX file.")


def broadcast_document(
    spark: SparkSession,
    path: str,
):
    """Driver-side extract + ``sc.broadcast`` of the text (SURVEY §2.1 S7:
    document scalars ship to executors once, not per task closure).  Returns
    the Broadcast; ``.value`` is the text."""
    text = read_document(path)
    return spark.sparkContext.broadcast(text)
