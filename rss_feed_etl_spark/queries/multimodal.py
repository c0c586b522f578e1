"""Media and enrichment queries over ``operators/multimodal.py`` and
``operators/enrichment.py``: image, video and audio decode stubs, perceptual
hashes, media dedup and LLM match scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import testdata as td
from ..driver_queries import _register
from ..operators import dedup, multimodal
from .corpus import _hexfold


# ---------------------------------------------------------------------------
# multimodal decode plumbing (X — beyond ref; stubs are md5-byte math)
# ---------------------------------------------------------------------------


def _media_df(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    docs = td.load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("fake").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("n_chars") % 5000) + 500).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def _q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = multimodal.decode_images(_media_df(spark, sf_dir, "image"))
    return feats.select(
        "media_id", "width", "height", F.size("embedding").alias("emb_dim")
    )


def _hexbyte(h: str, i: int) -> str:
    """byte i of an md5 hex digest, as SQL integer arithmetic."""
    hi = f"(position(substr({h},{2 * i + 1},1) IN '0123456789abcdef')-1)"
    lo = f"(position(substr({h},{2 * i + 2},1) IN '0123456789abcdef')-1)"
    return f"({hi}*16 + {lo})"


# struct.unpack('<HH', md5(content)[:4]) → two little-endian uint16s
_W16 = f"({_hexbyte('h', 0)} + 256*{_hexbyte('h', 1)})"
_H16 = f"({_hexbyte('h', 2)} + 256*{_hexbyte('h', 3)})"

_register(
    "image_decode_meta",
    _q_image_decode,
    f"""
WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents)
SELECT media_id,
       ({_W16} % 1920) + 1 AS width,
       ({_H16} % 1080) + 1 AS height,
       16 AS emb_dim
FROM m
""",
)


def _q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    resized = multimodal.resize_images(_media_df(spark, sf_dir, "image"), max_side=512)
    return resized.select("media_id", "width", "height")


_register(
    "image_resize_meta",
    _q_image_resize,
    f"""
WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents),
dims AS (
  SELECT media_id,
         ({_W16} % 1920) + 1 AS w,
         ({_H16} % 1080) + 1 AS h2
  FROM m),
scaled AS (
  SELECT media_id, least(1.0, 512.0 / CAST(greatest(w, h2) AS DOUBLE)) AS s, w, h2
  FROM dims)
SELECT media_id,
       greatest(CAST(floor(w * s) AS INT), 1) AS width,
       greatest(CAST(floor(h2 * s) AS INT), 1) AS height
FROM scaled
""",
)


def _q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = multimodal.sample_frames(_media_df(spark, sf_dir, "video"), every_ms=1000)
    return frames.select("media_id", "frame_idx")


_register(
    "video_frames_meta",
    _q_video_frames,
    """
SELECT doc_id AS media_id,
       unnest(range(greatest(((n_chars % 5000) + 500) // 1000, 1))) AS frame_idx
FROM documents
""",
)


# ---------------------------------------------------------------------------
# batched external scoring (X3/X4) through the deterministic stub client —
# the full mapInPandas chunking path, oracle-checked because the stub is a
# pure function of the text (same lexicon-overlap semantics as skills_match)
# ---------------------------------------------------------------------------


def _q_llm_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..testdata import LEXICON, RESUME_SKILLS
    from ..operators.enrichment import (
        deterministic_stub_client_factory,
        llm_match_scores,
    )

    docs = td.load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("summary")
    )
    enriched = llm_match_scores(
        docs,
        resume_text="spark join filter stream window hash",
        client_factory=deterministic_stub_client_factory(LEXICON, RESUME_SKILLS),
        batch_size=5,
        token_budget=60_000,
    )
    return enriched.select(
        "doc_id",
        "match_percentage",
        F.concat_ws(",", "matched_skills").alias("matched_skills"),
        F.concat_ws(",", "missing_skills").alias("missing_skills"),
    )


def _llm_match_sql() -> str:
    from ..testdata import LEXICON, RESUME_SKILLS

    lex = ", ".join(f"'{w}'" for w in sorted(LEXICON))
    res = ", ".join(f"'{w}'" for w in sorted(RESUME_SKILLS))
    return f"""
WITH t AS (
  SELECT doc_id,
         list_sort(list_intersect(list_distinct(list_transform(
           string_split_regex(trim(text), '\\s+'), x -> lower(x))), [{lex}])) AS job_skills
  FROM documents)
SELECT doc_id,
       CASE WHEN len(job_skills) > 0
            THEN round(len(list_intersect(job_skills, [{res}])) * 100.0 / len(job_skills), 2)
            ELSE 0.0 END AS match_percentage,
       COALESCE(array_to_string(list_sort(list_intersect(job_skills, [{res}])), ','), '') AS matched_skills,
       COALESCE(array_to_string(list_sort(list_filter(job_skills, s -> s NOT IN ({res}))), ','), '') AS missing_skills
FROM t
"""


_register("llm_match_scores", _q_llm_match, _llm_match_sql())


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The driver canonicalizer hashes cells via pandas sort, which cannot
    # handle raw ARRAY columns — emit the per-window features as a fixed
    # "%.6f" CSV string (bit-safe: every rms value is round(k/255, 6)).
    feats = multimodal.extract_audio_features(
        _media_df(spark, sf_dir, "audio"), window_ms=1000
    )
    rms_csv = F.concat_ws(
        ",", F.transform("rms", lambda x: F.format_string("%.6f", x))
    )
    return feats.select("media_id", "n_windows", rms_csv.alias("rms"))


_register(
    "audio_features",
    _q_audio_features,
    f"""
WITH a AS (
  SELECT doc_id, text,
         CAST(greatest(((n_chars % 5000) + 500) // 1000, 1) AS INT) AS n
  FROM documents)
SELECT doc_id AS media_id, n AS n_windows,
       array_to_string(list_transform(range(0, n),
         i -> printf('%.6f',
              round({_hexbyte("md5(text || CAST(i AS VARCHAR))", 0)} / 255.0, 6))),
         ',') AS rms
FROM a
""",
)


# Video-level embeddings by temporal mean pooling of per-frame features — the
# multimodal frame-sample → encode → pool pipeline, end to end in-engine.
#
# The codec stage is the documented deterministic stub (this environment
# ships no ffmpeg/vision encoder — see operators/multimodal.py); the
# Spark-side plumbing (Arrow mapInPandas explode, decimal-exact pooling,
# bounded collects) is real and oracle-checked: the stub chains md5 over
# hex strings precisely so DuckDB can replay the identical trajectory.

_VP_EVERY_MS, _VP_DIM = 1000, 16

# byte j of a hex digest column hh, as SQL integer arithmetic (the
# column-index twin of _hexbyte, which takes a literal index)
_BYTE_J = (
    "((position(substr(hh, 2*j + 1, 1) IN '0123456789abcdef') - 1) * 16"
    " + (position(substr(hh, 2*j + 2, 1) IN '0123456789abcdef') - 1))"
)


def _q_video_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.video_embedding_pool(
        _media_df(spark, sf_dir, "video"), every_ms=_VP_EVERY_MS, dim=_VP_DIM
    )


_register(
    "video_embedding_pool",
    _q_video_pool,
    f"""
WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS h,
         CAST(greatest(((n_chars % 5000) + 500) // {_VP_EVERY_MS}, 1) AS INT) AS n
  FROM documents),
f AS (
  SELECT media_id, n, md5(h || ':' || CAST(i AS VARCHAR)) AS hh
  FROM m CROSS JOIN LATERAL (SELECT unnest(range(0, n)) AS i) fr),
v AS (
  SELECT media_id, n, j, round({_BYTE_J} / 255.0, 6) AS v
  FROM f CROSS JOIN (SELECT unnest(range(0, {_VP_DIM})) AS j) d),
p AS (
  SELECT media_id, j, CAST(max(n) AS INT) AS n,
         round(CAST(sum(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / count(*), 6)
             AS pv
  FROM v GROUP BY 1, 2)
SELECT media_id, max(n) AS n_frames,
       array_to_string(list_transform(list(pv ORDER BY j),
                                      x -> printf('%.6f', x)), ',') AS pooled
FROM p GROUP BY 1
""",
)


# --- byte-exact media dedup --------------------------------------------------


def _q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_df(spark, sf_dir, "image").select("media_id", "content")
    dup_all = media.select(
        (F.col("media_id") + 1000000).alias("media_id"), "content"
    )
    dup_third = media.filter(F.col("media_id") % 3 == 0).select(
        (F.col("media_id") + 2000000).alias("media_id"), "content"
    )
    aug = media.unionByName(dup_all).unionByName(dup_third)
    return multimodal.media_exact_dedup(aug)


_register(
    "media_exact_dedup",
    _q_media_dedup,
    """
WITH m AS (
  SELECT doc_id AS media_id, md5(text) AS f FROM documents
  UNION ALL
  SELECT doc_id + 1000000, md5(text) FROM documents
  UNION ALL
  SELECT doc_id + 2000000, md5(text) FROM documents WHERE doc_id % 3 = 0),
c AS (SELECT f, min(media_id) AS canonical_id FROM m GROUP BY 1)
SELECT m.media_id, c.canonical_id
FROM m JOIN c USING (f)
WHERE m.media_id <> c.canonical_id
""",
)


# Perceptual-hash media near-dup pairs and their transitive components.
#
# Reference anchor: the reference dedups text rows by exact link key
# (src/rss_feed_etl/core/merge.py); ``media_exact_dedup`` is the
# byte-level media twin, and ``image_phash_neardup`` adds the NEAR-duplicate layer —
# re-encoded/slightly-edited copies that differ in bytes but sit within a
# few perceptual-hash bits.  The planted variants flip 1 bit (caught) and
# 5 bits (correctly excluded at max_hamming=3).

_PH_BITS = 60
_PH_MAXH = 3


def _phash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _media_df(spark, sf_dir, "image")
    base = multimodal.image_phash(media)
    near = base.select(
        (F.col("media_id") + 1000000).alias("media_id"),
        F.col("phash")
        .bitwiseXOR(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(media_id % 60 AS INT))")
        )
        .alias("phash"),
    )
    far = base.filter(F.col("media_id") % 7 == 0).select(
        (F.col("media_id") + 2000000).alias("media_id"),
        F.col("phash")
        .bitwiseXOR(
            F.expr("shiftleft(CAST(31 AS BIGINT), CAST(media_id % 50 AS INT))")
        )
        .alias("phash"),
    )
    return base.unionByName(near).unionByName(far)


def _q_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.phash_hamming_neardup(
        _phash_frame(spark, sf_dir), bits=_PH_BITS, max_hamming=_PH_MAXH
    )


_PH_BAND_BITS = _PH_BITS // (_PH_MAXH + 1)
_PH_MASK = (1 << _PH_BAND_BITS) - 1

_PH_PAIRS_SQL = f"""
base AS (SELECT doc_id AS id, {_hexfold("text")} AS ph FROM documents),
aug AS (
  SELECT id, ph FROM base
  UNION ALL
  SELECT id + 1000000,
         xor(ph, (CAST(1 AS BIGINT) << CAST(id % 60 AS INT)))
  FROM base
  UNION ALL
  SELECT id + 2000000,
         xor(ph, (CAST(31 AS BIGINT) << CAST(id % 50 AS INT)))
  FROM base WHERE id % 7 = 0),
bands AS ({" UNION ALL ".join(
    f"SELECT id, ph, {b} AS band, (ph >> {b * _PH_BAND_BITS}) & {_PH_MASK} AS val FROM aug"
    for b in range(_PH_MAXH + 1))}),
bok AS (SELECT band, val FROM bands GROUP BY 1, 2
        HAVING count(*) BETWEEN 2 AND 10000),
bk AS (SELECT bands.* FROM bands JOIN bok USING (band, val)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.ph AS pha, b.ph AS phb
  FROM bk a JOIN bk b ON a.band = b.band AND a.val = b.val AND a.id < b.id),
ph_pairs AS (
  SELECT id_a, id_b, CAST(bit_count(xor(pha, phb)) AS BIGINT) AS hamming
  FROM cand WHERE bit_count(xor(pha, phb)) <= {_PH_MAXH})
"""

_register(
    "image_phash_neardup",
    _q_phash_pairs,
    f"""
WITH {_PH_PAIRS_SQL}
SELECT id_a, id_b, hamming FROM ph_pairs
""",
)


def _q_phash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = multimodal.phash_hamming_neardup(
        _phash_frame(spark, sf_dir), bits=_PH_BITS, max_hamming=_PH_MAXH
    )
    return dedup.neardup_components(pairs)


_register(
    "phash_neardup_components",
    _q_phash_components,
    f"""
WITH RECURSIVE {_PH_PAIRS_SQL},
edges AS (
  SELECT id_a AS a, id_b AS b FROM ph_pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM ph_pairs),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(src, dst) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
SELECT src AS id, min(dst) AS component_id
FROM reach GROUP BY src
""",
)
