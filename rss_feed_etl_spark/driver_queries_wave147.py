"""Driver-contract queries, wave 147: the NEAR-dup stage of the
incremental curation fold (VERDICT r9 #6) — quality gate + exact dedup +
MinHash band-bucket near-dup running as a ``foreachBatch`` incremental
curation, folded back to the one-shot batch answer.

The corpus arrives in THREE micro-batches (``doc_id % 3``) augmented
with BOTH duplicate kinds: an 80%-token-prefix NEAR duplicate of every
document (``+1M`` — the wave-2 augmentation; at 8 bands × 4 rows over
32 minhash perms a ~0.79-Jaccard prefix copy collides in ≥1 band with
p≈0.98, so the near-dup stage has real victims) and EXACT copies of
every 7th document (``+2M``).  ``1000000 % 3 == 1`` and
``2000000 % 3 == 2``, so each plant lands in a DIFFERENT micro-batch
than its original — both cross-batch folds are exercised.  After
ingest, the two sinks are compacted to MIXED horizons (curated rows
through epoch 1, bucket champions through epoch 0), so the read view
walks reduced-base + live-epoch paths on both sides.

Cross-batch near-dup is the FOLD: min-id-per-band-bucket is
associative, commutative, and idempotent, so the folded champion table
equals the one-shot batch champion table, and a survivor of the exact
stage is kept iff no band bucket of its own signature holds a smaller
champion.  ``tests/test_incremental_neardup.py`` pins fold-equals-batch
across arrival permutations, mixed compaction horizons, and a
compactor crash point.

Reference anchor: the reference's cron-rerun streaming (scd1_manager
idempotent upserts, src/etl/rss_feed_etl.py filter pipeline) composed
with the LSH dedup a 100 TB continuous-curation pipeline needs.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import testdata as td
from .driver_queries import ORACLES, _register
from .driver_queries_corpus import (
    _BAND_LIST,
    _MH_LIST,
    _SHINGLES,
    _W,
    _code,
    _stage_waves,
)
from .functions.text import tokens
from .streaming import incremental

_NE = 3  # micro-batches
_DUP_EVERY = 7
_EXACT_OFFSET = 2000000
_NEAR_OFFSET = 1000000
_MINSTOP = 0

_GOPHER_SQL = ORACLES["gopher_quality_flags"]
assert (
    len(re.findall(r"(?i)from\s+documents\b", _GOPHER_SQL)) == 1
), "gopher oracle shape changed"
_GOPHER_AUG = _GOPHER_SQL.replace(
    "FROM documents", "FROM (SELECT doc_id, text FROM aug)"
)


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    toks = tokens("text")
    near = docs.select(
        (F.col("doc_id") + _NEAR_OFFSET).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.ceil(F.size(toks) * 0.8).cast("int"))
        ).alias("text"),
        "source",
    )
    exact = docs.filter(F.col("doc_id") % _DUP_EVERY == 0).select(
        (F.col("doc_id") + _EXACT_OFFSET).alias("doc_id"), "text", "source"
    )
    return docs.unionByName(near).unionByName(exact)


def _q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _aug_docs(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="inc_neardup_")
    try:
        return _run(spark, docs, work)
    finally:
        # the eager localCheckpoint inside severs the result's plan from
        # the sink dirs (the wave-142 cleanup discipline)
        shutil.rmtree(work, ignore_errors=True)


def _run(spark: SparkSession, docs: DataFrame, work: str) -> DataFrame:
    landing = os.path.join(work, "landing")
    target = os.path.join(work, "target")
    buckets = os.path.join(work, "buckets")
    ckpt = os.path.join(work, "ckpt")
    # staged in ONE partitioned write pass (see ``_stage_waves``) instead
    # of an eager corpus checkpoint + one filtered write per wave; the
    # read-back parquet feeds the stream schema and the raw scorecard
    landing, docs = _stage_waves(spark, docs, work, _NE)
    stream = (
        spark.readStream.format("parquet")
        .schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .load(landing)
    )
    q = incremental.curate_stream_to_parquet(
        stream,
        target,
        ckpt,
        min_stopwords=_MINSTOP,
        neardup_bucket_path=buckets,
    )
    q.awaitTermination()
    # mixed horizons: curated rows fold through epoch 1, champions only
    # through epoch 0 — the read view must mix reduced base and live
    # epochs on BOTH sinks
    incremental.compact_curated_epochs(spark, target, upto_epoch=1)
    incremental.compact_bucket_epochs(spark, buckets, upto_epoch=0)
    curated = incremental.curated_read_view(
        spark, target, neardup_bucket_path=buckets
    )
    raw = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_raw"))
    cur = curated.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_curated"),
        F.min("doc_id").cast("bigint").alias("min_id"),
        F.max("doc_id").cast("bigint").alias("max_id"),
    )
    out = raw.join(cur, "source", "left").select(
        "source",
        "n_raw",
        F.coalesce(F.col("n_curated"), F.lit(0)).cast("bigint").alias("n_curated"),
        "min_id",
        "max_id",
    )
    return out.localCheckpoint(eager=True)


_register(
    "incremental_neardup_fold",
    _q_incremental_neardup,
    rf"""
WITH aug AS MATERIALIZED (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + {_NEAR_OFFSET},
         array_to_string(w[1:CAST(ceil(0.8*len(w)) AS INT)], ' '), source
  FROM (SELECT doc_id, source, {_W} AS w FROM documents)
  UNION ALL
  SELECT doc_id + {_EXACT_OFFSET}, text, source FROM documents
  WHERE doc_id % {_DUP_EVERY} = 0),
g AS (SELECT doc_id FROM ({_GOPHER_AUG})
      WHERE flag_word_count = 1 AND flag_mean_word_len = 1
        AND flag_alpha = 1 AND n_stopwords >= {_MINSTOP}),
f AS (SELECT a.doc_id, a.source, a.text,
             md5(lower(trim(regexp_replace(a.text, '\s+', ' ', 'g')))) AS fp
      FROM aug a JOIN g USING (doc_id)),
sv AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY 1),
surv AS (SELECT f2.source, f2.doc_id, f2.text
         FROM sv JOIN f f2 ON f2.fp = sv.fp AND f2.doc_id = sv.doc_id),
codes AS (SELECT doc_id, source,
                 list_transform({_SHINGLES.format(w=_W)}, s -> {_code("s")}) AS codes
          FROM surv),
sigs AS (SELECT doc_id, source, [{_MH_LIST}] AS sig FROM codes),
banded AS (SELECT doc_id, source, unnest([{_BAND_LIST}]) AS bucket FROM sigs),
champ AS (SELECT bucket, min(doc_id) AS ch FROM banded GROUP BY 1),
kept AS (SELECT b.doc_id, b.source
         FROM banded b JOIN champ c USING (bucket)
         GROUP BY 1, 2 HAVING min(c.ch) = b.doc_id),
raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM aug GROUP BY 1),
c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_curated,
             CAST(min(doc_id) AS BIGINT) AS min_id,
             CAST(max(doc_id) AS BIGINT) AS max_id
      FROM kept GROUP BY 1)
SELECT raw.source, n_raw,
       CAST(coalesce(n_curated, 0) AS BIGINT) AS n_curated, min_id, max_id
FROM raw LEFT JOIN c USING (source)
""",
)
