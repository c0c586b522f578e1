"""AI/NLP enrichment operators (reference X2-X4, §3.3).

Reference shape: per-row spaCy skills extraction
(skills_extractor.py:18-150), then LLM match scoring batched 3-5 jobs per
request with a ~60k-token prompt budget, recursive halving on overflow,
retry/backoff, and JSON/regex response repair
(run_ats_enrichment.py:289-906).

Spark shape:
- lexicon skills extraction is PURE expressions (array_intersect against a
  broadcast lexicon — operators/similarity.skills_match); the spaCy
  PhraseMatcher only matters for multi-word phrases, handled by matching
  the lexicon against word n-grams of the text;
- LLM scoring is a ``mapInPandas`` operator with an INJECTABLE client: the
  partition's pandas batches are re-chunked to the client's batch size and
  token budget (chars/4 estimate, exactly the reference's heuristic), and
  each chunk becomes one request.  Executors own the client lifecycle
  (created once per partition, never pickled).  Tests and the offline
  driver inject ``DeterministicStubClient``; production wires a real HTTP
  client with retry/backoff — the operator itself is oblivious.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# client: (resume_text, list[job_text]) -> list[(match_pct, matched, missing)]
ClientFactory = Callable[[], Callable[[str, list[str]], list[tuple[float, list[str], list[str]]]]]

ENRICH_RESULT_FIELDS = [
    T.StructField("match_percentage", T.DoubleType()),
    T.StructField("matched_skills", T.ArrayType(T.StringType())),
    T.StructField("missing_skills", T.ArrayType(T.StringType())),
]


def deterministic_stub_client_factory(lexicon: list[str], resume_skills: list[str]) -> ClientFactory:
    """Offline stand-in for the LLM API: scores by lexicon overlap — a pure
    function of the text, so results are reproducible and oracle-able."""

    lex = sorted(set(w.lower() for w in lexicon))
    res = set(w.lower() for w in resume_skills)

    def factory():
        def score(resume_text: str, jobs: list[str]) -> list[tuple[float, list[str], list[str]]]:
            out = []
            for job in jobs:
                toks = set((job or "").lower().split())
                job_skills = sorted(t for t in toks if t in lex)
                matched = sorted(t for t in job_skills if t in res)
                missing = sorted(t for t in job_skills if t not in res)
                pct = round(100.0 * len(matched) / len(job_skills), 2) if job_skills else 0.0
                out.append((pct, matched, missing))
            return out

        return score

    return factory


def estimate_tokens(text: str) -> int:
    """chars/4 token-budget estimate (reference run_ats_enrichment.py:674)."""
    return max(1, len(text or "") // 4)


def llm_match_scores(
    df: DataFrame,
    resume_text: str,
    client_factory: ClientFactory,
    text_col: str = "summary",
    batch_size: int = 5,
    token_budget: int = 60_000,
) -> DataFrame:
    """Append (match_percentage, matched_skills, missing_skills) via batched
    external scoring (X4).

    Chunking mirrors the reference: up to ``batch_size`` docs per request,
    splitting further whenever the chars/4 estimate of (resume + chunk)
    exceeds ``token_budget``.  One client per partition; batches stream
    through Arrow, so peak memory is one pandas chunk per task.
    """
    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(df.sparkSession)
    out_schema = T.StructType(list(df.schema.fields) + ENRICH_RESULT_FIELDS)
    resume_tokens = estimate_tokens(resume_text)

    def chunk(jobs: list[str]) -> Iterator[list[int]]:
        """Yield index chunks obeying batch_size + token budget."""
        cur: list[int] = []
        cur_tokens = resume_tokens
        for i, job in enumerate(jobs):
            jt = estimate_tokens(job)
            if cur and (len(cur) >= batch_size or cur_tokens + jt > token_budget):
                yield cur
                cur, cur_tokens = [], resume_tokens
            cur.append(i)
            cur_tokens += jt
        if cur:
            yield cur

    def enrich(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        for pdf in batches:
            jobs = pdf[text_col].fillna("").tolist()
            pcts: list[float] = [0.0] * len(jobs)
            matched: list[list[str]] = [[] for _ in jobs]
            missing: list[list[str]] = [[] for _ in jobs]
            for idxs in chunk(jobs):
                results = client(resume_text, [jobs[i] for i in idxs])
                for i, (pct, m, mi) in zip(idxs, results):
                    pcts[i], matched[i], missing[i] = pct, m, mi
            out = pdf.copy()
            out["match_percentage"] = pcts
            out["matched_skills"] = matched
            out["missing_skills"] = missing
            yield out

    return df.mapInPandas(enrich, out_schema)


