"""Driver-contract queries, wave 22: token-budget corpus selection — fill a
token budget with the highest-quality documents (quality = stopword
naturalness, the same signal the wave-5 gate uses).  The distributed form
(score-grid prefix sum, no global window) is bit-identical to the oracle's
single ORDER BY score window because token counts are integers and grid
cells are monotone in score."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import testdata as td
from .driver_queries import _register
from .driver_queries_corpus import _NTOK, _STOPLIST
from .functions.text import tokens
from .operators import sampling
from .operators.textstats import STOPWORDS_EN

_BUDGET = 20_000  # selective at every sf (sf0.01's corpus is ~60k tokens)


def _q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    c = F.col("text")
    toks = tokens(c)
    n_tok = F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(STOPWORDS_EN)))
    score = F.when(n_tok > 0, n_stop / n_tok.cast("double")).otherwise(F.lit(0.0))
    scored = docs.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        score.alias("score"),
    )
    return sampling.select_by_token_budget(scored, budget=_BUDGET)


_register(
    "token_budget_select",
    _q_token_budget,
    f"""
WITH t AS (
  SELECT doc_id,
         CAST({_NTOK} AS BIGINT) AS n_tokens,
         CASE WHEN {_NTOK} > 0
              THEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   t -> lower(t) IN ({_STOPLIST})))
                   / CAST({_NTOK} AS DOUBLE)
              ELSE 0.0 END AS score
  FROM documents),
c AS (
  SELECT doc_id, n_tokens, score,
         sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t)
SELECT doc_id, n_tokens, score FROM c WHERE cum <= {_BUDGET}
""",
)
