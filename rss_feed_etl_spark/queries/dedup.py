"""Deduplication queries over ``operators/dedup.py`` and
``operators/fuzzy.py``: exact, MinHash/SimHash near-dup, containment,
paragraph, fuzzy and sorted-neighborhood matching, the LSH planners and
the end-to-end ``curation_pipeline``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import ORACLES, _register
from ..functions.hashing import md5_bucket
from ..functions.text import tokens
from ..operators import dedup, fuzzy, sampling
from ..operators.dedup import LSH_BANDS, MOD, N_MINHASH, dedup_by_key
from ..operators.merges import merge_scd1
from ..plans.curation_pipeline import curation_pipeline
from .corpus import (
    _AUG_SQL,
    _BAND_LIST,
    _COEFFS,
    _MH_LIST,
    _ROWS_PER_BAND,
    _SHINGLES,
    _SIMHASH_BITS,
    _W,
    _aug_docs,
    _band_sig_sql,
    _code,
    _cos_sql,
    _hexfold,
)
from .functions import _mh_ctes


# ---------------------------------------------------------------------------
# incremental merge fold: 3 micro-batches through the SCD1 merge (§2.9 —
# the foreachBatch state-in-sink pattern, checkable without a stream)
# ---------------------------------------------------------------------------


def _q_incremental_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events split into 3 arrival batches (event_id mod 3); each batch is
    deduped keep-last per user and SCD1-merged over the running state —
    exactly what the streaming ``foreachBatch`` sink does per micro-batch.
    The fold's fixpoint is "latest batch wins, then latest (ts, event_id)",
    which the oracle states as one window."""
    ev = td.load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value", "event_id"
    )
    state: DataFrame | None = None
    for i in range(3):
        batch = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == i)
        deduped = dedup_by_key(batch, "user_id", ["ts", "event_id"], keep="last")
        state = deduped if state is None else merge_scd1(deduped, state, key="user_id")
    return state


_register(
    "incremental_merge_fold",
    _q_incremental_fold,
    """
SELECT user_id, ts, event_type, value, event_id FROM (
  SELECT *, row_number() OVER (
      PARTITION BY user_id
      ORDER BY event_id % 3 DESC, ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
""",
)


# --- near-dup drop list ---------------------------------------------------


def _q_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text", n=3, threshold=0.25
    )
    return dedup.neardup_drop_list(pairs)


# the pair set is exactly the minhash_lsh_neardup oracle; the drop list is
# a one-hop min-canonical aggregation over it
_register(
    "neardup_drop_list",
    _q_drop_list,
    f"""
WITH pairs AS ({ORACLES["minhash_lsh_neardup"]})
SELECT id_b AS id, min(id_a) AS canonical_id
FROM pairs GROUP BY id_b
""",
)


# --- transitive near-dup clustering (connected components) ----------------


def _q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text", n=3, threshold=0.25
    )
    return dedup.neardup_components(pairs)


# oracle: undirected reachability as a recursive CTE, component id = min
# reachable node — exactly the fixpoint the Spark loop converges to
_register(
    "neardup_components",
    _q_components,
    f"""
WITH RECURSIVE pairs AS ({ORACLES["minhash_lsh_neardup"]}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
SELECT src AS id, min(dst) AS component_id
FROM reach GROUP BY src
""",
)


# Incremental batch-vs-corpus near-dup (the streaming-corpus dedup path) and
# RAG-style document chunking.

# --- incremental near-dup: new batch vs existing corpus --------------------

_INC_THRESHOLD = 0.25


def _q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch = the deterministic 80%-prefix copies (id ≥ 1e6, see
    queries/corpus.py), corpus = the original documents — so each
    batch doc has a known near-dup in the corpus and recall is
    observable."""
    aug = _aug_docs(spark, sf_dir)
    corpus = aug.filter(F.col("id") < 1000000)
    batch = aug.filter(F.col("id") >= 1000000)
    return dedup.incremental_minhash_pairs(
        corpus, batch, id_col="id", text_col="text", threshold=_INC_THRESHOLD
    )


_register(
    "incremental_neardup",
    _q_incremental_neardup,
    f"""
WITH {_AUG_SQL},
codes AS (SELECT id, list_transform({_SHINGLES.format(w=_W)}, s -> {_code("s")}) AS codes
          FROM aug),
sigs AS (SELECT id, [{_MH_LIST}] AS sig FROM codes),
banded AS (SELECT id, sig, unnest([{_BAND_LIST}]) AS bucket FROM sigs),
cand AS (
  SELECT DISTINCT b.id AS batch_id, c.id AS corpus_id, b.sig AS sig_b, c.sig AS sig_c
  FROM banded c JOIN banded b ON c.bucket = b.bucket
  WHERE c.id < 1000000 AND b.id >= 1000000),
est AS (
  SELECT batch_id, corpus_id,
         round(len(list_filter(range(1, {N_MINHASH} + 1),
                               i -> sig_b[i] = sig_c[i])) / {N_MINHASH}, 6) AS est_jaccard
  FROM cand)
SELECT batch_id, corpus_id, est_jaccard FROM est WHERE est_jaccard >= {_INC_THRESHOLD}
""",
)


# SimHash banded near-dup pairs and canonical-URL dedup — the remaining dedup
# modalities a feed/training-data pipeline needs next to exact / minhash /
# jaccard / embedding near-dup.

# --- SimHash near-dup (banded Hamming ≤ 3) --------------------------------

# light perturbation: one appended token flips at most the low-margin vote
# bits, so true near-dups sit within a small Hamming distance
_AUG_SIM_SQL = """
aug AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 250
  UNION ALL
  SELECT doc_id + 1000000 AS id, text || ' zzz' AS text
  FROM documents WHERE doc_id < 250)
"""


def _aug_sim_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    pert = docs.select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    return docs.select(F.col("doc_id").alias("id"), "text").unionByName(pert)


def _q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_neardup_pairs(
        _aug_sim_docs(spark, sf_dir), id_col="id", text_col="text", max_hamming=3
    )



_SIM_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT id, simhash, {b} AS band, (simhash >> {b * 8}) & 255 AS val FROM fp"
    for b in range(4)
)

_register(
    "simhash_neardup",
    _q_simhash_neardup,
    f"""
WITH {_AUG_SIM_SQL},
codes AS (
  SELECT id,
         list_transform(string_split_regex(trim(lower(text)), '\\s+'), t -> {_code("t")}) AS codes
  FROM aug),
fp AS (SELECT id, {_SIMHASH_BITS} AS simhash FROM codes),
bands AS ({_SIM_BANDS_SQL}),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b, x.simhash AS fa, y.simhash AS fb
  FROM bands x JOIN bands y ON x.band = y.band AND x.val = y.val AND x.id < y.id)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 3
""",
)


# --- incremental exact dedup (batch vs corpus) -----------------------------

# batch = 200 exact re-deliveries of corpus docs (must all drop) + 50
# genuinely new docs (must all survive)
_BATCH_SQL = """
batch AS (
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         text || ' unique suffix ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id < 50)
"""

_NORM_FP = "md5(lower(trim(regexp_replace({t}, '\\s+', ' ', 'g'))))"


def _q_incremental_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    redelivered = docs.filter(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    fresh = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" unique suffix "), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    return dedup.incremental_dedup_exact(docs, redelivered.unionByName(fresh))


_register(
    "incremental_dedup_exact",
    _q_incremental_dedup_exact,
    f"""
WITH {_BATCH_SQL},
fpb AS (SELECT {_NORM_FP.format(t="text")} AS f, doc_id, text FROM batch),
best AS (SELECT f, min(doc_id) AS doc_id, min_by(text, doc_id) AS text
         FROM fpb GROUP BY f)
SELECT doc_id, text FROM best
WHERE f NOT IN (SELECT {_NORM_FP.format(t="text")} FROM documents)
""",
)


# --- leakage-safe train/val/test split --------------------------------------

_LEAK_SALT = "leak-split-v1"
_LEAK_WEIGHTS = {"train": 80, "val": 10, "test": 10}


def _q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _aug_docs(spark, sf_dir).select("id")
    pairs = dedup.minhash_lsh_pairs(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text", n=3, threshold=0.25
    )
    comp = dedup.neardup_components(pairs)
    return sampling.leakage_safe_split(
        docs, comp, key_col="id", weights=_LEAK_WEIGHTS, salt=_LEAK_SALT
    )


_LEAK_BUCKET = _hexfold(f"('{_LEAK_SALT}:' || CAST(lab AS VARCHAR))") + " % 100"
_register(
    "leakage_safe_split",
    _q_leakage_safe_split,
    f"""
WITH {_AUG_SQL},
comps AS (SELECT * FROM ({ORACLES["neardup_components"]})),
lab AS (
  SELECT aug.id AS id, coalesce(c.component_id, aug.id) AS lab
  FROM aug LEFT JOIN comps c ON aug.id = c.id)
SELECT id,
       CASE WHEN {_LEAK_BUCKET} < {_LEAK_WEIGHTS["train"]} THEN 'train'
            WHEN {_LEAK_BUCKET} < {_LEAK_WEIGHTS["train"] + _LEAK_WEIGHTS["val"]}
            THEN 'val'
            ELSE 'test' END AS split
FROM lab
""",
)


# The dedup KEEP side and two more near-dup modalities — semantic
# (embedding-cell) dedup, quality-based canonical survivor per cluster, and
# blocked edit-distance entity matching.
#
# ``semantic_dedup_pairs`` is SemDeDup with deterministic seed cells so the
# cell partition (and therefore the whole query) replays exactly in the
# DuckDB oracle; ``canonical_per_component`` turns the component labels into
# the actual keep-decision (best-quality member survives, not min-id);
# ``levenshtein_blocked_pairs`` is record-linkage blocking + edit distance
# on the customer name master.

# --- canonical survivor per near-dup component ------------------------------


def _q_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _aug_docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs, id_col="id", text_col="text", n=3, threshold=0.25
    )
    comp = dedup.neardup_components(pairs)
    scored = docs.select("id", F.length("text").cast("bigint").alias("len"))
    return dedup.canonical_per_component(comp, scored, id_col="id", score_col="len")


_register(
    "canonical_per_component",
    _q_canonical,
    f"""
WITH {_AUG_SQL},
comps AS (SELECT * FROM ({ORACLES["neardup_components"]})),
m AS (SELECT c.component_id, c.id, length(a.text) AS len
      FROM comps c JOIN aug a ON a.id = c.id)
SELECT component_id, id AS canonical_id,
       CAST(cnt AS BIGINT) AS n_members, CAST(best AS BIGINT) AS best_score
FROM (SELECT component_id, id, len,
             row_number() OVER (PARTITION BY component_id
                                ORDER BY len DESC, id ASC) AS rn,
             count(*) OVER (PARTITION BY component_id) AS cnt,
             max(len) OVER (PARTITION BY component_id) AS best
      FROM m)
WHERE rn = 1
""",
)


# --- blocked edit-distance entity matching ---------------------------------

_FUZZY_DIST = 1
_FUZZY_MAXBLOCK = 10_000


def _q_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = td.load_table(spark, sf_dir, "customer")
    return fuzzy.levenshtein_blocked_pairs(
        cust,
        block=F.substring("c_name", 1, 16),
        id_col="c_custkey",
        text_col="c_name",
        max_dist=_FUZZY_DIST,
        max_block=_FUZZY_MAXBLOCK,
    )


_register(
    "fuzzy_name_pairs",
    _q_fuzzy_names,
    f"""
WITH t AS (SELECT c_custkey AS id, c_name AS nm,
                  substr(c_name, 1, 16) AS block
           FROM customer),
ok AS (SELECT block FROM t GROUP BY 1
       HAVING count(*) BETWEEN 2 AND {_FUZZY_MAXBLOCK})
SELECT a.id AS id_a, b.id AS id_b, a.block AS block,
       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
FROM t a JOIN t b ON a.block = b.block AND a.id < b.id
JOIN ok ON ok.block = a.block
WHERE levenshtein(a.nm, b.nm) <= {_FUZZY_DIST}
""",
)


# --- per-source dedup drop rate ---------------------------------------------


def _q_drop_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _aug_docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        aug, id_col="id", text_col="text", n=3, threshold=0.25
    )
    drops = dedup.neardup_drop_list(pairs)
    keyed = aug.join(
        td.load_table(spark, sf_dir, "documents").select(
            F.col("doc_id"), F.col("source")
        ),
        (F.col("id") % 1_000_000) == F.col("doc_id"),
    ).select("id", "source")
    return dedup.drop_rate_by_key(keyed, drops, key_col="source")


_register(
    "dedup_rate_by_source",
    _q_drop_rate,
    f"""
WITH drops AS (SELECT * FROM ({ORACLES["neardup_drop_list"]}) t),
aug_ids AS (
  SELECT doc_id AS id FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS id FROM documents),
keyed AS (
  SELECT a.id, d.source
  FROM aug_ids a JOIN documents d ON a.id % 1000000 = d.doc_id)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN dr.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       round(sum(CASE WHEN dr.id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 6) AS drop_rate
FROM keyed LEFT JOIN drops dr USING (id)
GROUP BY 1
""",
)


# --- dedup pair recall / reduction ratio ------------------------------------
# Ground truth is structural: every augmented doc (id+1e6) is an 80%-prefix
# near-duplicate of its base doc, so truth pairs are (doc_id, doc_id+1e6).
# Candidates are the pipeline's VERIFIED pair output (the registered
# minhash_lsh_neardup set), so completeness here is end-to-end dedup
# recall: blocking loss + verification loss together.


def _q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _aug_docs(spark, sf_dir)
    cand = dedup.minhash_lsh_pairs(
        aug, id_col="id", text_col="text", n=3, threshold=0.25
    )
    docs = td.load_table(spark, sf_dir, "documents")
    truth = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"),
    )
    return dedup.blocking_quality(cand, truth, records=aug)


_register(
    "dedup_pair_recall",
    _q_blocking_quality,
    f"""
WITH cand AS (SELECT id_a, id_b FROM ({ORACLES["minhash_lsh_neardup"]}) t),
truth AS (SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents),
found AS (SELECT count(*) AS n_found
          FROM truth WHERE EXISTS (SELECT 1 FROM cand
                                   WHERE cand.id_a = truth.id_a
                                     AND cand.id_b = truth.id_b)),
nt AS (SELECT count(*) AS n_truth FROM truth),
nc AS (SELECT count(*) AS n_candidates FROM cand),
nr AS (SELECT CAST(2 * count(*) AS BIGINT) AS n_rec FROM documents)
SELECT CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_found AS BIGINT) AS n_found,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       round(n_found / n_truth, 6) AS pairs_completeness,
       round(1.0 - n_candidates / (n_rec * (n_rec - 1) / 2.0), 6)
         AS reduction_ratio
FROM nt, found, nc, nr
""",
)


# --- paragraph-grain keep-first dedup --------------------------------------

_P_WIDTH = 15


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.paragraph_dedup(
        td.load_table(spark, sf_dir, "documents"), width=_P_WIDTH
    )


_register(
    "paragraph_dedup",
    _q_paragraph_dedup,
    f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
p AS (SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(
               w[CAST(i*{_P_WIDTH}+1 AS INT):CAST((i+1)*{_P_WIDTH} AS INT)], ' ') AS para
      FROM (SELECT doc_id, w,
                   unnest(range(CAST(ceil(len(w)/{_P_WIDTH}.0) AS BIGINT))) AS i
            FROM t)),
r AS (SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY {_hexfold('para')}
                                ORDER BY doc_id, pos) AS rn
      FROM p),
k AS (SELECT doc_id,
             array_to_string(list(para ORDER BY pos), ' ') AS clean_text,
             CAST(count(*) AS BIGINT) AS n_kept
      FROM r WHERE rn = 1 GROUP BY doc_id)
SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
       CAST(ceil(len(t.w)/{_P_WIDTH}.0) AS BIGINT) AS n_paras,
       coalesce(k.n_kept, 0) AS n_kept
FROM t LEFT JOIN k ON t.doc_id = k.doc_id
""",
)


# --- prefix-clone pairs ----------------------------------------------------

_PC_K = 10
_PC_MAX_BUCKET = 10_000


def _q_prefix_clones(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.prefix_clone_pairs(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text",
        k=_PC_K, max_bucket=_PC_MAX_BUCKET,
    )


_register(
    "prefix_clone_pairs",
    _q_prefix_clones,
    f"""
WITH {_AUG_SQL},
t AS (SELECT id, {_W} AS w FROM aug),
c AS (SELECT id, {_hexfold(f"array_to_string(w[1:{_PC_K}], ' ')")} AS code
      FROM t WHERE len(w) >= {_PC_K}),
-- mirror the Spark query's max_bucket cap so guarded and oracle semantics
-- stay identical even when a head bucket crosses the cap
k AS (SELECT code FROM c GROUP BY code
      HAVING count(*) BETWEEN 2 AND {_PC_MAX_BUCKET})
SELECT a.id AS id_a, b.id AS id_b
FROM c a JOIN c b ON a.code = b.code AND a.id < b.id
WHERE a.code IN (SELECT code FROM k)
""",
)


# --- bag-of-words fingerprint dedup -----------------------------------------


def _q_bow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.bow_fingerprint_dedup(td.load_table(spark, sf_dir, "documents"))


_register(
    "bow_fingerprint_dedup",
    _q_bow_dedup,
    """
WITH fp AS (
  SELECT doc_id, text,
         md5(array_to_string(
           list_sort(string_split_regex(lower(trim(text)), '\\s+')), ' ')) AS f
  FROM documents),
r AS (SELECT f, min(doc_id) AS doc_id,
             CAST(count(*) AS BIGINT) AS n_dups
      FROM fp GROUP BY 1)
SELECT r.doc_id, fp.text, r.n_dups
FROM r JOIN fp ON r.doc_id = fp.doc_id
""",
)


# --- sorted-neighborhood blocking -------------------------------------------

_SN_WINDOW = 3
_SN_BLOCK = 3


def _q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = td.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.reverse(F.col("c_name")).alias("rname"),
    )
    return fuzzy.sorted_neighborhood_pairs(
        cust, id_col="id", key_col="rname",
        window=_SN_WINDOW, block_chars=_SN_BLOCK,
    )


_register(
    "sorted_neighborhood_pairs",
    _q_sorted_neighborhood,
    f"""
WITH t AS (
  SELECT c_custkey AS id,
         lower(regexp_replace(reverse(c_name), '[^A-Za-z0-9]', '', 'g')) AS k
  FROM customer),
r AS (SELECT *, substr(k, 1, {_SN_BLOCK}) AS blk,
             row_number() OVER (PARTITION BY substr(k, 1, {_SN_BLOCK})
                                ORDER BY k, id) AS rn
      FROM t)
SELECT DISTINCT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b,
       CAST(levenshtein(a.k, b.k) AS INT) AS edit_distance
FROM r a JOIN r b
  ON a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND {_SN_WINDOW}
""",
)


# Duplicate-cluster size profile — the dedup-impact report built by composing
# the near-dup component pipeline with a size rollup (how much of the corpus
# sits in clusters of 2, 3, …, and how many docs dedup would drop at each
# cluster size).

# --- duplicate-cluster size histogram ----------------------------------------


def _q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text", n=3, threshold=0.25
    )
    comp = dedup.neardup_components(pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.count("*") * F.col("cluster_size")).cast("bigint").alias("n_docs"),
        (F.count("*") * (F.col("cluster_size") - 1)).cast("bigint").alias(
            "n_droppable"
        ),
    )


# composition oracle: the components CTE (itself built on the minhash-LSH
# pair SQL) + a two-level size rollup
_register(
    "dup_cluster_sizes",
    _q_cluster_sizes,
    f"""
WITH RECURSIVE comp AS ({ORACLES["neardup_components"]}),
sizes AS (SELECT component_id, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY 1)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
       CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_droppable
FROM sizes GROUP BY 1
""",
)


# Asymmetric containment dedup (excerpt/subset duplicates) and per-source KL
# language divergence.

# --- containment pairs ------------------------------------------------------

_CT_THRESH = 0.8
_CT_MAXDF = 1000


def _q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_containment_pairs(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text",
        n=3, threshold=_CT_THRESH, max_df=_CT_MAXDF,
    )


_register(
    "ngram_containment_pairs",
    _q_containment,
    f"""
WITH {_AUG_SQL},
sh AS (SELECT id, list_transform({_SHINGLES.format(w=_W)}, x -> {_code("x")}) AS s
       FROM aug),
ex AS (SELECT id, unnest(s) AS shingle FROM sh),
kept AS (SELECT shingle FROM ex GROUP BY shingle
         HAVING count(*) <= {_CT_MAXDF}),
exk AS (SELECT ex.id, ex.shingle FROM ex JOIN kept USING (shingle)),
sz AS (SELECT id, count(*) AS n FROM exk GROUP BY id),
p AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common
      FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2),
d AS (
  SELECT p.id_a AS src, p.id_b AS dst,
         round(common / CAST(sa.n AS DOUBLE), 6) AS containment
  FROM p JOIN sz sa ON sa.id = p.id_a
  UNION ALL
  SELECT p.id_b AS src, p.id_a AS dst,
         round(common / CAST(sb.n AS DOUBLE), 6) AS containment
  FROM p JOIN sz sb ON sb.id = p.id_b)
SELECT src, dst, containment FROM d WHERE containment >= {_CT_THRESH}
""",
)


# The analytic LSH S-curve for the engine's own banding constants, and the
# daily-series correlation matrix across event types.

_STEP = 0.05


def _q_lsh_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_sensitivity_curve(spark)


def _chain(expr: str, n: int) -> str:
    return "*".join([f"({expr})"] * n)


_register(
    "lsh_sensitivity_curve",
    _q_lsh_curve,
    f"""
WITH grid AS (
  SELECT round(CAST(range AS DOUBLE) * {_STEP}, 2) AS s
  FROM range(1, {int(round(1.0 / _STEP))})),
p AS (SELECT s, {_chain('s', _ROWS_PER_BAND)} AS pb FROM grid)
SELECT s, round(pb, 6) AS p_band,
       round(1.0 - {_chain('1.0 - pb', LSH_BANDS)}, 6) AS p_detect
FROM p
""",
)


_SJ_N = 3


def _q_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.source_jaccard_matrix(
        td.load_table(spark, sf_dir, "documents"), n=_SJ_N
    )


_MINS = ", ".join(
    f"min(({a} * c + {b}) % {MOD}) AS m{i}" for i, (a, b) in enumerate(_COEFFS)
)
_UNPIVOT = " UNION ALL ".join(
    f"SELECT src, {i} AS perm, m{i} AS mh FROM sig" for i in range(N_MINHASH)
)

# gram identity = base-31 polynomial of per-token codes over tokens
# i..min(i+n-1, nw) — identical arithmetic to the Spark side's integer
# grams (one md5 per token, no gram strings); short documents keep the
# old behavior (position 1 emits whatever tokens exist).  CASE arms are
# built for _SJ_N = 3.
assert _SJ_N == 3, "oracle CASE arms are written for n = 3"

_register(
    "source_jaccard_matrix",
    _q_source_jaccard,
    rf"""
WITH t AS (
  SELECT source AS src, string_split_regex(trim(text), '\s+') AS w
  FROM documents),
k AS (SELECT src, len(w) AS nw, list_transform(w, x -> {_code('x')}) AS c
      FROM t),
codes AS (
  SELECT src,
         unnest(list_distinct(list_transform(
           range(1, greatest(nw - {_SJ_N - 1}, 1) + 1),
           i -> CASE
                  WHEN i + 2 <= nw
                  THEN ((c[i] * 31 + c[i+1]) % {MOD} * 31 + c[i+2]) % {MOD}
                  WHEN i + 1 <= nw THEN (c[i] * 31 + c[i+1]) % {MOD}
                  ELSE c[i]
                END))) AS c
  FROM k),
sig AS (SELECT src, {_MINS} FROM codes GROUP BY 1),
lng AS ({_UNPIVOT}),
p AS (
  SELECT a.src sa, b.src sb, a.mh ma, b.mh mb
  FROM lng a JOIN lng b ON a.perm = b.perm AND a.src < b.src)
SELECT sa AS source_a, sb AS source_b,
       CAST(count(*) AS BIGINT) AS n_perms,
       round(CAST(sum(CASE WHEN ma = mb THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS est_jaccard
FROM p GROUP BY 1, 2
""",
)


# The capstone curation pipeline (VERDICT r6 #7) — ingest → quality gate →
# exact dedup → near dedup → split + exact decontamination → semantic
# decontamination → mixture weights → sequence packing, composed in
# ``plans/curation_pipeline.py`` and verified end-to-end against ONE DuckDB
# oracle that replays every stage with the SAME SQL fragments the individual
# stage oracles use
# (``_SHINGLES``/``_code``/``_MH_LIST``/``_BAND_LIST``/``_band_sig_sql``/
# ``_cos_sql``/``_hexfold``; the Gopher gate is ``ORACLES
# ["gopher_quality_flags"]`` reused verbatim over the augmented corpus — the
# ``source_scorecard`` compositional technique).
#
# The registered query runs on an AUGMENTED corpus that plants one leak
# family per stage, so the correctness gate exercises every stage with
# nonzero drops (the synthetic corpus alone has no exact duplicates and
# no contamination-grade embedding pairs):
#
# * ``+1M`` — near-dup plants: every 25th token replaced (true Jaccard
#   ~0.7 → caught by the banded MinHash stage);
# * ``+2M`` — exact copies (caught by the fingerprint dedup);
# * ``+3M`` — contamination plants: the first 12 tokens of an EVAL-split
#   original + 43 unique filler tokens (shares >= 3 shingles with the
#   holdout but Jaccard ~0.1, so it sails past near-dedup and dies at
#   the exact-decontamination stage);
# * ``+4M`` — semantic plants: fully unique text whose EMBEDDING is the
#   semantic_split_contamination perturbation (cos ~0.999) of an eval original's vector — no
#   shingle overlap anywhere, caught only by the semantic stage.
#
# Reference anchor: composes the reference's filter → dedup → merge
# pipeline (src/etl/rss_feed_etl.py) into the end-to-end LLM-curation
# shape.

_CUR_SPLIT_SALT = "cur-split-v1"
_CUR_PACK_SALT = "cur-pack-v1"
_CUR_EVAL_PCT = 10
_CUR_MINSTOP = 0  # multilingual corpus: re-threshold the EN stopword rule
_CUR_SEQ = 512
_CUR_MAXDF = 1000
_CUR_MINSHARED = 3
_CUR_MH_THR = 0.25
_CUR_SEM_THR = 0.98
_CUR_SEM_BANDS, _CUR_SEM_ROWS = 6, 16


def _aug_curation(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Augmented (documents, embeddings) with the four plant families."""
    docs = td.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    emb = td.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    w = tokens("text")
    is_eval = (
        md5_bucket(
            F.concat(F.lit(_CUR_SPLIT_SALT + ":"), F.col("doc_id").cast("string"))
        )
        % 100
        < _CUR_EVAL_PCT
    )
    # plant ids are aliased to the OUTPUT name "id" (never back to
    # "doc_id"): Spark's lateral-column-alias resolution would otherwise
    # make the filler expressions below read the shifted alias instead of
    # the input column, while DuckDB reads the input — a measured 103-row
    # text divergence before this rename
    near = docs.select(
        (F.col("doc_id") + 1000000).alias("id"),
        F.array_join(
            F.transform(
                w,
                lambda t, i: F.when(
                    i % 25 == 0,
                    F.concat(F.lit("x"), (i + F.lit(1)).cast("string")),
                ).otherwise(t),
            ),
            " ",
        ).alias("text"),
        "source",
    )
    exact = docs.select(
        (F.col("doc_id") + 2000000).alias("id"), "text", "source"
    )
    filler_c = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(43)),
            lambda j: F.concat(
                F.lit("f"), F.col("doc_id").cast("string"), F.lit("x"),
                j.cast("string"),
            ),
        ),
    )
    contam = docs.filter(is_eval & (F.size(w) >= 12)).select(
        (F.col("doc_id") + 3000000).alias("id"),
        F.concat_ws(" ", F.array_join(F.slice(w, 1, 12), " "), filler_c).alias(
            "text"
        ),
        "source",
    )
    filler_d = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(55)),
            lambda j: F.concat(
                F.lit("g"), F.col("doc_id").cast("string"), F.lit("x"),
                j.cast("string"),
            ),
        ),
    )
    eval_with_emb = docs.filter(is_eval).join(
        emb.select(F.col("vec_id").alias("doc_id")), "doc_id"
    )
    sem = eval_with_emb.select(
        (F.col("doc_id") + 4000000).alias("id"),
        filler_d.alias("text"),
        "source",
    )
    docs_aug = (
        docs.withColumnRenamed("doc_id", "id")
        .unionByName(near)
        .unionByName(exact)
        .unionByName(contam)
        .unionByName(sem)
    )
    # D-plant embeddings: the semantic_split_contamination perturbation
    perturb = F.transform(
        "embedding",
        lambda x, i: (x.cast("double") + 0.001 * ((i % 3) - 1)).cast("float"),
    )
    emb_d = emb.join(
        eval_with_emb.select(F.col("doc_id").alias("vec_id")), "vec_id"
    ).select((F.col("vec_id") + 4000000).alias("vec_id"), perturb.alias("embedding"))
    return docs_aug, emb.unionByName(emb_d)


def _q_curation(
    spark: SparkSession, sf_dir: str, stage_timings: dict | None = None
) -> DataFrame:
    # the trailing kwarg is outside the driver contract (the driver calls
    # with two positionals); bench.py passes a dict to get the per-stage
    # breakdown (VERDICT r7 #5) from the identical registered query
    docs_aug, emb_aug = _aug_curation(spark, sf_dir)
    return curation_pipeline(
        docs_aug,
        emb_aug,
        id_col="id",
        stage_timings=stage_timings,
        eval_pct=_CUR_EVAL_PCT,
        split_salt=_CUR_SPLIT_SALT,
        minhash_threshold=_CUR_MH_THR,
        min_shared=_CUR_MINSHARED,
        max_df=_CUR_MAXDF,
        sem_threshold=_CUR_SEM_THR,
        sem_bands=_CUR_SEM_BANDS,
        sem_rows=_CUR_SEM_ROWS,
        seq_len=_CUR_SEQ,
        pack_salt=_CUR_PACK_SALT,
        min_stopwords=_CUR_MINSTOP,
    )


# --- the oracle -------------------------------------------------------------

_SPLIT_HEX = _hexfold(f"('{_CUR_SPLIT_SALT}:' || CAST(doc_id AS VARCHAR))")
_SPLIT_HEX_ID = _hexfold(f"('{_CUR_SPLIT_SALT}:' || CAST(id AS VARCHAR))")
_PACK_HEX = _hexfold(f"('{_CUR_PACK_SALT}:' || CAST(id AS VARCHAR))")

# Gopher gate reused verbatim over the augmented corpus (keep is
# re-thresholded from the emitted metric columns, the gate's documented
# pattern; _CUR_MINSTOP = 0 disables the EN stopword rule)
_GOPHER_SQL = ORACLES["gopher_quality_flags"]
assert _GOPHER_SQL.count("FROM documents") == 1, "gopher oracle shape changed"
_GOPHER_AUG = _GOPHER_SQL.replace(
    "FROM documents", "FROM (SELECT id AS doc_id, text FROM aug)"
)

_SEM_EBANDS = "\nUNION ALL\n".join(
    f"SELECT eval_id, {b} AS band, {_band_sig_sql(b, _CUR_SEM_ROWS)} AS sig FROM e"
    for b in range(_CUR_SEM_BANDS)
)
_SEM_TBANDS = "\nUNION ALL\n".join(
    f"SELECT train_id, {b} AS band, {_band_sig_sql(b, _CUR_SEM_ROWS)} AS sig FROM t"
    for b in range(_CUR_SEM_BANDS)
)

_register(
    "curation_pipeline",
    _q_curation,
    rf"""
WITH w0 AS MATERIALIZED (
  SELECT doc_id, text, source,
         string_split_regex(trim(text), '\s+') AS w,
         ({_SPLIT_HEX} % 100 < {_CUR_EVAL_PCT}) AS ev
  FROM documents),
aug AS MATERIALIZED (
  SELECT doc_id AS id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(list_transform(range(1, len(w) + 1),
           i -> CASE WHEN (i - 1) % 25 = 0 THEN 'x' || CAST(i AS VARCHAR)
                     ELSE w[i] END), ' '),
         source
  FROM w0
  UNION ALL
  SELECT doc_id + 2000000, text, source FROM documents
  UNION ALL
  SELECT doc_id + 3000000,
         array_to_string(w[1:12], ' ') || ' ' ||
         array_to_string(list_transform(range(1, 44),
           j -> 'f' || CAST(doc_id AS VARCHAR) || 'x' || CAST(j AS VARCHAR)), ' '),
         source
  FROM w0 WHERE ev AND len(w) >= 12
  UNION ALL
  SELECT doc_id + 4000000,
         array_to_string(list_transform(range(1, 56),
           j -> 'g' || CAST(doc_id AS VARCHAR) || 'x' || CAST(j AS VARCHAR)), ' '),
         source
  FROM w0 JOIN embeddings emq ON emq.vec_id = w0.doc_id WHERE ev),
embaug AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT e.vec_id + 4000000,
         list_transform(range(1, 65),
           i -> CAST(CAST(e.embedding[i] AS DOUBLE)
                     + 0.001 * (((i - 1) % 3) - 1) AS FLOAT))
  FROM embeddings e JOIN w0 ON w0.doc_id = e.vec_id WHERE w0.ev),
gq AS MATERIALIZED (
  SELECT doc_id AS id FROM ({_GOPHER_AUG})
  WHERE flag_word_count = 1 AND flag_mean_word_len = 1 AND flag_alpha = 1
        AND n_stopwords >= {_CUR_MINSTOP}),
s1 AS MATERIALIZED (SELECT a.* FROM aug a JOIN gq USING (id)),
fps AS (SELECT id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
        FROM s1),
ew AS (SELECT id FROM (
         SELECT id, row_number() OVER (PARTITION BY f ORDER BY id) AS rn
         FROM fps) WHERE rn = 1),
s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN ew USING (id)),
codes AS (SELECT id, list_transform({_SHINGLES.format(w=_W)}, s -> {_code("s")})
              AS codes
          FROM s2),
sigs AS MATERIALIZED (SELECT id, [{_MH_LIST}] AS sig FROM codes),
banded AS MATERIALIZED (SELECT id, sig, unnest([{_BAND_LIST}]) AS bucket FROM sigs),
bok AS (SELECT bucket FROM banded GROUP BY bucket HAVING count(*) <= 10000),
bk AS (SELECT banded.* FROM banded JOIN bok USING (bucket)),
mcand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id),
nd AS (SELECT DISTINCT id_b AS id FROM mcand
       WHERE round(len(list_filter(range(1, {N_MINHASH} + 1),
                    i -> sig_a[i] = sig_b[i])) / {N_MINHASH}, 6) >= {_CUR_MH_THR}),
s3 AS MATERIALIZED (SELECT s2.* FROM s2 WHERE id NOT IN (SELECT id FROM nd)),
sp AS MATERIALIZED (SELECT s3.*, ({_SPLIT_HEX_ID} % 100 < {_CUR_EVAL_PCT}) AS ev FROM s3),
shq AS MATERIALIZED (SELECT id, ev, unnest({_SHINGLES.format(w=_W)}) AS shingle FROM sp),
hold AS (SELECT id, shingle FROM shq WHERE ev),
keepb AS (SELECT shingle FROM hold GROUP BY 1 HAVING count(*) <= {_CUR_MAXDF}),
pc AS (SELECT t.id AS train_id, count(*) AS shared
       FROM (SELECT id, shingle FROM shq WHERE NOT ev) t
       JOIN (SELECT h.id AS hid, h.shingle
             FROM hold h JOIN keepb USING (shingle)) h USING (shingle)
       GROUP BY t.id, h.hid),
cdrop AS (SELECT DISTINCT train_id AS id FROM pc WHERE shared >= {_CUR_MINSHARED}),
s4 AS MATERIALIZED (SELECT sp.* FROM sp
       WHERE NOT ev AND id NOT IN (SELECT id FROM cdrop)),
e AS MATERIALIZED (SELECT sp.id AS eval_id, em.embedding FROM sp
      JOIN embaug em ON em.vec_id = sp.id WHERE sp.ev),
t AS MATERIALIZED (SELECT s4.id AS train_id, em.embedding FROM s4
      JOIN embaug em ON em.vec_id = s4.id),
ebands AS ({_SEM_EBANDS}),
tbands AS ({_SEM_TBANDS}),
scand AS (SELECT DISTINCT x.eval_id, y.train_id
          FROM ebands x JOIN tbands y ON x.band = y.band AND x.sig = y.sig),
sc AS (SELECT c.eval_id, c.train_id,
              {_cos_sql("ev.embedding", "tv.embedding")} AS cos
       FROM scand c JOIN e ev USING (eval_id) JOIN t tv USING (train_id)),
sbest AS (SELECT *, row_number() OVER (PARTITION BY eval_id
                                       ORDER BY cos DESC, train_id) AS rk
          FROM sc),
sdrop AS (SELECT DISTINCT train_id AS id FROM sbest
          WHERE rk = 1 AND cos >= {_CUR_SEM_THR}),
s5 AS MATERIALIZED (SELECT s4.id, s4.source, s4.text FROM s4
       WHERE id NOT IN (SELECT id FROM sdrop)),
clean AS MATERIALIZED (SELECT id, source,
                 CAST(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END
                      AS BIGINT) AS n_tokens
          FROM s5),
staged AS (SELECT id, source, n_tokens, {_PACK_HEX} AS h FROM clean),
cum AS (SELECT id, source, n_tokens,
               sum(n_tokens) OVER (ORDER BY h % 1024, h, id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) - n_tokens AS strt
        FROM staged),
pk AS MATERIALIZED (SELECT id, source, CAST(floor(strt / {_CUR_SEQ}) AS BIGINT) AS seq_id
       FROM cum),
fr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM aug GROUP BY 1),
f1 AS (SELECT a.source, CAST(count(*) AS BIGINT) AS n_quality
       FROM aug a JOIN gq USING (id) GROUP BY 1),
f2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact FROM s2 GROUP BY 1),
f3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_near FROM s3 GROUP BY 1),
f4 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_train FROM s4 GROUP BY 1),
cl AS (SELECT source, CAST(count(*) AS BIGINT) AS n_clean,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       FROM clean GROUP BY 1),
whc AS (SELECT source, n_clean, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
                   AS wh
        FROM cl),
twh AS (SELECT sum(wh) AS tw FROM whc),
pq2 AS (SELECT source, CAST(count(DISTINCT seq_id) AS BIGINT) AS n_seqs
        FROM pk GROUP BY 1)
SELECT fr.source, fr.n_raw,
       CAST(coalesce(f1.n_quality, 0) AS BIGINT) AS n_quality,
       CAST(coalesce(f2.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(coalesce(f3.n_near, 0) AS BIGINT) AS n_near,
       CAST(coalesce(f4.n_train, 0) AS BIGINT) AS n_train,
       CAST(coalesce(whc.n_clean, 0) AS BIGINT) AS n_clean,
       CAST(coalesce(whc.n_tokens, 0) AS BIGINT) AS n_tokens,
       coalesce(round(CAST(whc.wh AS DOUBLE) / CAST(twh.tw AS DOUBLE), 6), 0.0)
           AS mix_weight,
       CAST(coalesce(pq2.n_seqs, 0) AS BIGINT) AS n_seqs
FROM fr
LEFT JOIN f1 USING (source)
LEFT JOIN f2 USING (source)
LEFT JOIN f3 USING (source)
LEFT JOIN f4 USING (source)
LEFT JOIN whc USING (source)
LEFT JOIN pq2 USING (source)
CROSS JOIN twh
""",
)


# Near-dedup decision analytics — threshold sensitivity and the cross-source
# duplicate-flow matrix, both read off ONE MinHash signature pass.
#
# Reference anchor: the reference dedups blindly at a fixed key
# (run_job_filter.py); these are the diagnostics a pipeline owner reads
# to CHOOSE the near-dup threshold and to see which feeds mirror which.

_SW_THRESHOLDS = (0.25, 0.5, 0.75, 0.9)
_SW_LO = min(_SW_THRESHOLDS)


def _q_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_threshold_sweep(
        _aug_docs(spark, sf_dir), id_col="id", text_col="text",
        thresholds=_SW_THRESHOLDS,
    )


_SW_LIST = ", ".join(f"CAST({t} AS DOUBLE)" for t in sorted(_SW_THRESHOLDS))

_register(
    "minhash_threshold_sweep",
    _q_sweep,
    f"""
WITH {_AUG_SQL},{_mh_ctes(_SW_LO)},
sz AS (SELECT unnest([{_SW_LIST}]) AS threshold)
SELECT threshold,
       CAST(sum(CASE WHEN est_jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pairs
FROM sz CROSS JOIN pairs
GROUP BY 1
""",
)


# --- analytic LSH parameter plan ----------------------------------------------------

_LSH_T = 0.5
_LSH_CAND = ((4, 4), (8, 4), (16, 2), (8, 8), (32, 2), (16, 4), (4, 8), (2, 16))
_LSH_STEP = 0.05


def _q_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_param_plan(
        spark, threshold=_LSH_T, candidates=_LSH_CAND, grid_step=_LSH_STEP
    )


_LSH_VALUES = ", ".join(f"({b}, {r})" for b, r in _LSH_CAND)
_LSH_NMID = int(round(1.0 / _LSH_STEP))

_register(
    "lsh_param_plan",
    _q_lsh_plan,
    f"""
WITH cand AS (SELECT * FROM (VALUES {_LSH_VALUES}) t(bands, rows)),
mids AS (SELECT (CAST(unnest(range({_LSH_NMID})) AS DOUBLE) + 0.5)
                * CAST({_LSH_STEP} AS DOUBLE) AS s),
grid AS (SELECT bands, rows, s,
                round(exp(rows * ln(s)), 9) AS sr
         FROM cand CROSS JOIN mids),
pp AS (SELECT bands, rows, s,
              round(CAST(1.0 AS DOUBLE)
                    - exp(bands * ln(CAST(1.0 AS DOUBLE) - sr)), 9) AS p
       FROM grid),
sc AS (SELECT bands, rows,
              CASE WHEN s < {_LSH_T} THEN p ELSE CAST(0.0 AS DOUBLE) END
                AS fp_t,
              CASE WHEN s >= {_LSH_T} THEN CAST(1.0 AS DOUBLE) - p
                   ELSE CAST(0.0 AS DOUBLE) END AS fn_t
       FROM pp),
agg AS (
  SELECT bands, rows,
         CAST(bands * rows AS BIGINT) AS n_hashes,
         round(CAST(sum(CAST(fp_t AS DECIMAL(30,10))) AS DOUBLE)
               * CAST({_LSH_STEP} AS DOUBLE), 6) AS fp_area,
         round(CAST(sum(CAST(fn_t AS DECIMAL(30,10))) AS DOUBLE)
               * CAST({_LSH_STEP} AS DOUBLE), 6) AS fn_area
  FROM sc GROUP BY 1, 2),
fin AS (SELECT *, round(fp_area + fn_area, 6) AS cost FROM agg)
SELECT CAST(bands AS BIGINT) AS bands, CAST(rows AS BIGINT) AS rows,
       n_hashes, fp_area, fn_area, cost,
       row_number() OVER (ORDER BY cost ASC, n_hashes ASC, bands DESC) = 1
         AS is_best
FROM fin
""",
)
