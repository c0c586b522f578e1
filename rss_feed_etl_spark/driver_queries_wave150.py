"""Driver-contract queries, wave 150: SFT chat-template export —
``packing.sft_chat_export`` registered as a continuation-tuning export
over the documents table (prompt = first 80% of tokens, completion =
the final 20% — the supervision split a continuation/FIM-style SFT set
uses when no labeled pairs exist).

Budget 48 sits inside the corpus token-length band (10–99, median 56),
so both truncation branches are realized: long docs left-truncate their
prompt (completion always intact), short docs export whole.

Reference anchor: the reference ends at scored rows in a sheet
(run_ats_enrichment.py writes scores back to Google Sheets); this is
the missing last mile of a TRAINING pipeline — formatting curated text
into loss-masked, shard-addressed trainer records.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import testdata as td
from .driver_queries import _register
from .driver_queries_corpus import _W, _hexfold
from .functions.text import tokens
from .operators import packing

_SFT_BUDGET = 48
_SFT_SHARDS = 8
_SFT_SALT = "sft-v1"
_SFT_SYSTEM = "You are a helpful assistant."


def _q_sft_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    n = F.size(toks)
    cut = F.ceil(n * 0.8).cast("int")
    pairs = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, cut)).alias("prompt"),
        F.concat_ws(" ", F.slice(toks, cut + 1, n - cut)).alias("completion"),
    ).filter(n - cut >= 1)
    return packing.sft_chat_export(
        pairs,
        id_col="doc_id",
        system=_SFT_SYSTEM,
        budget_tokens=_SFT_BUDGET,
        n_shards=_SFT_SHARDS,
        salt=_SFT_SALT,
    )


_SFT_SHARD_SQL = (
    _hexfold(f"('{_SFT_SALT}:shard:' || CAST(doc_id AS VARCHAR))")
    + f" % {_SFT_SHARDS}"
)

_register(
    "sft_chat_export",
    _q_sft_export,
    f"""
WITH t AS (SELECT doc_id, {_W} AS w FROM documents),
s AS (SELECT doc_id, w, len(w) AS n,
             CAST(ceil(0.8 * len(w)) AS INT) AS cut
      FROM t WHERE len(w) - CAST(ceil(0.8 * len(w)) AS INT) >= 1),
b AS (SELECT doc_id, w, n, cut, n - cut AS n_c,
             greatest(least({_SFT_BUDGET} - (n - cut), cut), 0) AS keep
      FROM s),
r AS (SELECT doc_id, n_c, keep, cut,
             '<|system|>' || chr(10) || '{_SFT_SYSTEM}' || chr(10)
               || '<|user|>' || chr(10)
               || coalesce(array_to_string(w[cut - keep + 1:cut], ' '), '')
               || chr(10) || '<|assistant|>' || chr(10) AS head,
             coalesce(array_to_string(w[cut + 1:n], ' '), '') AS completion
      FROM b)
SELECT doc_id,
       CAST(keep AS BIGINT) AS n_prompt_tokens,
       CAST(n_c AS BIGINT) AS n_completion_tokens,
       cut > keep AS truncated,
       CAST(length(head) + 1 AS BIGINT) AS loss_start_char,
       md5(head || completion) AS record_md5,
       CAST({_SFT_SHARD_SQL} AS BIGINT) AS shard
FROM r
""",
)
