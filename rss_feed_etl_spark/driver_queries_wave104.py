"""Driver-contract queries, wave 104: product-quantization ANN — the
FAISS-default compression mode (Jégou et al. 2011), trained, encoded,
and ADC-scored entirely in-engine.

The oracle replays the full pipeline in SQL: per-subspace Lloyd
codebooks (the ``kmeans_clusters`` trajectory machinery over sliced
vectors), nearest-codeword encoding, and the ADC estimated-distance sum
— possible because every centroid component is rounded in-engine each
iteration and every distance is the same sequential left fold on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import testdata as td
from .driver_queries import _register
from .driver_queries_corpus import _hexfold
from .operators import similarity

_PQ_QID, _PQ_TOP, _PQ_CAND, _PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM = 0, 10, 100, 4, 16, 1, 64
_PQ_W = _PQ_DIM // _PQ_M
_PQ_NTRAIN, _PQ_SALT = 1024, "pq-train-v1"


def _q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = td.load_table(spark, sf_dir, "embeddings")
    return similarity.pq_ann_topk(
        emb,
        query_id=_PQ_QID,
        k_top=_PQ_TOP,
        candidates=_PQ_CAND,
        m=_PQ_M,
        k_codes=_PQ_K,
        iters=_PQ_ITERS,
        dim=_PQ_DIM,
        n_train=_PQ_NTRAIN,
        train_salt=_PQ_SALT,
    )


def _dist(e: str, c: str, w: int) -> str:
    return (
        f"list_reduce(list_transform(range(1, {w + 1}), "
        f"i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i])), (x, y) -> x + y)"
    )


def _pq_sub(s: int, corpus: str = "emb") -> str:
    """CTEs for one subspace: slice, seed, one Lloyd step, encode, ADC.

    Training CTEs (``tsub/c0/s1/a1/u1/c1``) read the bounded md5-rank
    sample ``samp`` — VERDICT r6 #1: the engine trains codebooks on at
    most ``n_train`` vectors, seeded by the ``k_codes`` smallest ids IN
    the sample.  Encoding (``enc``) and the ADC query slice still read
    the scoring corpus, exactly like the engine's scoring scan.  The corpus
    CTE name is a parameter so wave 108's IVF-PQ oracle reuses this
    builder verbatim with the probed-cell corpus."""
    lo, hi, w = s * _PQ_W + 1, (s + 1) * _PQ_W, _PQ_W
    assert _PQ_ITERS == 1, "oracle CTEs are unrolled for iters = 1"
    return f"""
sub{s} AS (SELECT vec_id, vec[{lo}:{hi}] AS sv FROM {corpus}),
tsub{s} AS (SELECT vec_id, vec[{lo}:{hi}] AS sv FROM samp),
c0_{s} AS (SELECT vec_id AS cid, list_transform(sv, x -> round(x, 6)) AS cvec
           FROM tsub{s} WHERE vec_id IN (SELECT vec_id FROM seeds)),
s1_{s} AS (SELECT e.vec_id, e.sv, c.cid, {_dist("e.sv", "c.cvec", w)} AS dist
           FROM tsub{s} e CROSS JOIN c0_{s} c),
a1_{s} AS (SELECT vec_id, sv, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist ASC, cid ASC) AS rn
             FROM s1_{s}) WHERE rn = 1),
u1_{s} AS (SELECT cid, i AS pos, round(avg(sv[i]), 6) AS cv
           FROM a1_{s} CROSS JOIN (SELECT unnest(range(1, {w + 1})) AS i)
           GROUP BY cid, i),
c1_{s} AS (SELECT cid, list(cv ORDER BY pos) AS cvec FROM u1_{s} GROUP BY cid),
enc{s} AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                                       ORDER BY {_dist("e.sv", "c.cvec", w)} ASC,
                                                c.cid ASC) AS rn
             FROM sub{s} e CROSS JOIN c1_{s} c) WHERE rn = 1),
adc{s} AS (SELECT c.cid, {_dist("q.sv", "c.cvec", w)} AS d
           FROM c1_{s} c CROSS JOIN
                (SELECT vec[{lo}:{hi}] AS sv FROM emb WHERE vec_id = {_PQ_QID}) q),
v{s} AS (SELECT e.vec_id, a.d FROM enc{s} e JOIN adc{s} a USING (cid))"""


_PQ_SUBS = ",".join(_pq_sub(s) for s in range(_PQ_M))
_PQ_SUM = " + ".join(f"v{s}.d" for s in range(_PQ_M))
_PQ_JOINS = " ".join(f"JOIN v{s} USING (vec_id)" for s in range(1, _PQ_M))

_PQ_HK = _hexfold(f"('{_PQ_SALT}:' || CAST(vec_id AS VARCHAR))")

_register(
    "pq_ann_topk",
    _q_pq_ann,
    f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
samp AS (
  SELECT vec_id, vec FROM (
    SELECT vec_id, vec, {_PQ_HK} AS hk FROM emb
    ORDER BY hk, vec_id LIMIT {_PQ_NTRAIN})),
seeds AS (SELECT vec_id FROM samp ORDER BY vec_id LIMIT {_PQ_K}),{_PQ_SUBS},
est AS (
  SELECT v0.vec_id, round({_PQ_SUM}, 6) AS est_sqdist
  FROM v0 {_PQ_JOINS}
  WHERE v0.vec_id <> {_PQ_QID}),
shortlist AS (SELECT vec_id FROM est
              ORDER BY est_sqdist ASC, vec_id ASC LIMIT {_PQ_CAND}),
rer AS (
  SELECT s.vec_id,
         round({_dist("e.vec", "q.vec", _PQ_DIM)}, 6) AS sqdist
  FROM shortlist s JOIN emb e USING (vec_id)
       CROSS JOIN (SELECT vec FROM emb WHERE vec_id = {_PQ_QID}) q),
top AS (SELECT vec_id, sqdist FROM rer
        ORDER BY sqdist ASC, vec_id ASC LIMIT {_PQ_TOP})
SELECT vec_id, sqdist,
       CAST(row_number() OVER (ORDER BY sqdist ASC, vec_id ASC) AS INT)
           AS rank
FROM top
""",
)
