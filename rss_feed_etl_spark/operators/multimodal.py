"""Multimodal column operators (image / audio / video as opaque binary).

Beyond the reference's text-only surface: a training-data pipeline carries
media as ``binary`` columns with typed metadata structs, and runs decode /
feature-extract / resize / frame-sample as Arrow-batched ``mapInPandas``
stages.  The Spark-side plumbing here — schemas, batch iteration, UDF
signatures, partition sizing — is real and tested; the actual codec calls
are STUBBED (this environment ships no PIL/ffmpeg/librosa): each stub
documents the production call and either raises ``NotImplementedError``
(strict mode) or produces a deterministic fake derived from the bytes, so
pipelines remain runnable and oracle-able end-to-end.

Scale notes: media rows are large and skewed — the loaders repartition by a
hash of the id so one oversized asset cannot pin a partition, and decode
stages keep ``maxRecordsPerBatch`` small to bound Arrow batch memory.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.arrays import ordered_pairs

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), nullable=False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def _fake_decode(content: bytes) -> tuple[int, int]:
    """STUB decode: production calls PIL.Image.open(BytesIO(content)).size.

    Deterministic fake: derive (width, height) from the content digest so
    tests can assert exact values without a codec.
    """
    d = hashlib.md5(content or b"").digest()
    w, h = struct.unpack("<HH", d[:4])
    return (w % 1920) + 1, (h % 1080) + 1


def _fake_embedding(content: bytes) -> list[float]:
    """STUB feature extractor: production runs a vision encoder over the
    decoded pixels.  Fake: md5-chained bytes → [0,1) floats."""
    out: list[float] = []
    d = content or b""
    while len(out) < 16:
        d = hashlib.md5(d).digest()
        out.extend(b / 255.0 for b in d)
    return [round(float(x), 6) for x in out[:16]]


def decode_images(media: DataFrame, strict: bool = False) -> DataFrame:
    """image rows → (media_id, width, height, embedding) via mapInPandas.

    ``strict=True`` raises NotImplementedError where the real codec would
    run — use it to verify no stub output silently ships.
    """
    import pandas as pd

    from ..session import ensure_executors_can_import

    spark = media.sparkSession
    ensure_executors_can_import(spark)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "image decode requires PIL/torchvision; not available in this environment"
                )
            rows = []
            for r in pdf.itertuples(index=False):
                w, h = _fake_decode(r.content)
                rows.append(
                    {
                        "media_id": r.media_id,
                        "width": w,
                        "height": h,
                        "embedding": _fake_embedding(r.content),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "embedding"])

    imgs = media.filter(F.col("kind") == "image").select("media_id", "content")
    # salt-repartition so giant assets spread across tasks
    imgs = imgs.repartition(32, F.pmod(F.xxhash64("media_id"), F.lit(32)))
    return imgs.mapInPandas(decode, IMAGE_FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """video rows → exploded frame rows via mapInPandas (UDTF shape: one
    input row yields duration/every_ms output rows).

    Production decodes with ffmpeg; the stub emits md5-derived fake JPEG
    payloads so downstream stages (dedup, feature extraction) see realistic
    shapes."""
    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(media.sparkSession)

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n = max(1, int((r.duration_ms or 0) // every_ms))
                for i in range(n):
                    seed = hashlib.md5((r.content or b"") + str(i).encode()).digest()
                    rows.append(
                        {"media_id": r.media_id, "frame_idx": i, "frame": seed}
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    vids = media.filter(F.col("kind") == "video").select(
        "media_id", "content", F.col("meta.duration_ms").alias("duration_ms")
    )
    return vids.mapInPandas(explode_frames, FRAME_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def resize_images(media: DataFrame, max_side: int = 512, strict: bool = False) -> DataFrame:
    """image rows → aspect-preserving resize so max(w, h) == ``max_side``
    (no-op when already smaller) via mapInPandas.

    Production: ``PIL.Image.open(...).thumbnail((max_side, max_side))`` +
    re-encode.  Stub: target dims computed from the deterministic fake
    decode; resized payload is an md5-derived fake so downstream stages
    (dedup, feature extraction, export) see realistic (media_id, w, h,
    bytes) rows.  Same salt-repartition as decode so oversized assets
    spread across tasks.
    """
    import pandas as pd

    from ..session import ensure_executors_can_import

    spark = media.sparkSession
    ensure_executors_can_import(spark)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if strict:
                raise NotImplementedError(
                    "image resize requires PIL; not available in this environment"
                )
            rows = []
            for r in pdf.itertuples(index=False):
                w, h = _fake_decode(r.content)
                scale = min(1.0, max_side / max(w, h))
                nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                fake = hashlib.md5(
                    (r.content or b"") + f":{nw}x{nh}".encode()
                ).digest()
                rows.append(
                    {"media_id": r.media_id, "width": nw, "height": nh, "content": fake}
                )
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "content"])

    imgs = media.filter(F.col("kind") == "image").select("media_id", "content")
    imgs = imgs.repartition(32, F.pmod(F.xxhash64("media_id"), F.lit(32)))
    return imgs.mapInPandas(resize, RESIZED_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_windows", T.IntegerType()),
        T.StructField("rms", T.ArrayType(T.DoubleType())),
    ]
)


def extract_audio_features(media: DataFrame, window_ms: int = 1000) -> DataFrame:
    """audio rows → (media_id, n_windows, per-window RMS-like features).

    Production decodes with librosa/soundfile and computes per-window RMS;
    the STUB derives one deterministic float per window from
    md5(content || window_idx) so the windowing arithmetic, schema, and
    batch shape are real and oracle-checkable without a codec.
    """
    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(media.sparkSession)

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n = max(1, int((r.duration_ms or 0) // window_ms))
                rms = []
                for i in range(n):
                    d = hashlib.md5((r.content or b"") + str(i).encode()).digest()
                    rms.append(round(d[0] / 255.0, 6))
                rows.append({"media_id": r.media_id, "n_windows": n, "rms": rms})
            yield pd.DataFrame(rows, columns=["media_id", "n_windows", "rms"])

    auds = media.filter(F.col("kind") == "audio").select(
        "media_id", "content", F.col("meta.duration_ms").alias("duration_ms")
    )
    auds = auds.repartition(32, F.pmod(F.xxhash64("media_id"), F.lit(32)))
    return auds.mapInPandas(features, AUDIO_FEATURES_SCHEMA)


FRAME_EMB_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("dim", T.IntegerType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def frame_embeddings(media: DataFrame, every_ms: int = 1000, dim: int = 16) -> DataFrame:
    """video rows → long-format per-frame features ``(media_id,
    frame_idx, dim, v)`` via mapInPandas: sample one frame per
    ``every_ms`` and run the feature extractor on each.

    Production decodes with ffmpeg and runs a vision encoder per frame;
    the stub derives the frame key by md5-chaining HEX STRINGS
    (content digest → per-frame digest → byte features), which keeps the
    trajectory replayable in any engine with a string md5 (DuckDB 1.0 has
    no BLOB md5).  ``dim`` ≤ 16 reads the digest bytes directly.
    """
    import pandas as pd

    from ..session import ensure_executors_can_import

    ensure_executors_can_import(media.sparkSession)
    if dim > 16:
        raise ValueError("stub features read one md5 digest: dim <= 16")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n = max(1, int((r.duration_ms or 0) // every_ms))
                h = hashlib.md5(r.content or b"").hexdigest()
                for i in range(n):
                    hh = hashlib.md5(f"{h}:{i}".encode()).digest()
                    for j in range(dim):
                        # no rounding ties exist: hh[j]*1e6/255 is never
                        # an exact .5 (255 is odd), so Python banker's
                        # rounding == the engines' half-up here
                        rows.append(
                            {
                                "media_id": r.media_id,
                                "frame_idx": i,
                                "dim": j,
                                "v": round(hh[j] / 255.0, 6),
                            }
                        )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "dim", "v"])

    vids = media.filter(F.col("kind") == "video").select(
        "media_id", "content", F.col("meta.duration_ms").alias("duration_ms")
    )
    return vids.mapInPandas(gen, FRAME_EMB_SCHEMA)


def video_embedding_pool(
    media: DataFrame,
    every_ms: int = 1000,
    dim: int = 16,
) -> DataFrame:
    """Video-level embedding by temporal MEAN POOLING of per-frame
    features — the standard frame-sample → encode → pool pipeline a
    multimodal curation stack runs to get one vector per clip (for the
    dedup/ANN operators to consume).

    Output: ``(media_id, n_frames, pooled)`` with the pooled vector as a
    fixed "%.6f" CSV string (the driver canonicalizer cannot hash raw
    arrays — same contract as ``audio_features``).

    Plan / 100 TB: the frame explode + encode is ONE Arrow mapInPandas
    pass (map-only, batch-bounded); pooling is a (media, dim) groupBy
    with map-side partials whose sums accumulate as exact decimals —
    the pooled mean is a pure function of the frame set, never of
    partition order — and the final per-media collect_list holds ``dim``
    values (bounded by the feature width, not by frames or data volume).
    """
    fe = frame_embeddings(media, every_ms=every_ms, dim=dim)
    pooled = fe.groupBy("media_id", "dim").agg(
        F.count("*").cast("int").alias("nf"),
        F.round(
            F.sum(F.col("v").cast("decimal(20,10)")).cast("double") / F.count("*"),
            6,
        ).alias("pv"),
    )
    return pooled.groupBy("media_id").agg(
        F.max("nf").alias("n_frames"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "pv"))),
                lambda s: F.format_string("%.6f", s["pv"]),
            ),
        ).alias("pooled"),
    )


def media_exact_dedup(
    media: DataFrame,
) -> DataFrame:
    """Exact dedup over opaque BINARY media content: group by the md5
    digest of the bytes, keep the smallest id per group, and return the
    DROP decisions — ``(media_id, canonical_id)`` for every non-survivor.
    The byte-level first pass every multimodal curation run starts with
    (re-crawled images, mirrored videos, re-encoded copies are caught by
    the perceptual/feature stages later; byte-identical copies never need
    a decode at all).

    Plan / 100 TB: the digest computes at the scan (map-only over the
    binary column); only ``(id, digest)`` pairs — never the media bytes —
    reach the digest-key exchange.  One partial-agg min per digest and a
    digest-key join back emit the drop list; singleton digests produce no
    row.  This is ``dedup_exact``'s shape with the text fingerprint
    swapped for a byte digest (dedup.py:82).
    """
    fp = media.select(
        F.col("media_id").alias("id"), F.md5(F.col("content")).alias("__fp")
    )
    canon = fp.groupBy("__fp").agg(F.min("id").alias("canonical_id"))
    return (
        fp.join(canon, "__fp")
        .filter(F.col("id") != F.col("canonical_id"))
        .select(F.col("id").alias("media_id"), "canonical_id")
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def image_phash(media: DataFrame) -> DataFrame:
    """image rows → (media_id, phash) perceptual fingerprints via one
    Arrow ``mapInPandas`` pass.  Production computes a dHash: resize to
    9×8 grayscale (PIL), emit 64 horizontal-gradient bits — re-encodes,
    small crops, and watermarks land within a few bits.  STUB (no codec
    in this environment): the first 15 hex digits of md5(content) as a
    60-bit integer — deterministic, oracle-replayable (the hex-chain
    discipline of ``video_embedding_pool``), and byte-identical copies
    still collide exactly.

    Plan / 100 TB: map-only over the binary column (salt-repartitioned
    like ``decode_images``); only (id, 8-byte hash) rows survive the
    stage — the media bytes never reach any exchange.
    """
    import pandas as pd

    from ..session import ensure_executors_can_import

    spark = media.sparkSession
    ensure_executors_can_import(spark)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")

    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [
                        int(
                            hashlib.md5(bytes(c) if c is not None else b"")
                            .hexdigest()[:15],
                            16,
                        )
                        for c in pdf["content"]
                    ],
                }
            )

    imgs = media.filter(F.col("kind") == "image").select("media_id", "content")
    imgs = imgs.repartition(32, F.pmod(F.xxhash64("media_id"), F.lit(32)))
    return imgs.mapInPandas(ph, PHASH_SCHEMA)


def phash_hamming_neardup(
    hashes: DataFrame,
    bits: int = 60,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash Hamming distance ≤
    ``max_hamming`` — ``dedup.simhash_neardup_pairs``'s pigeonhole
    banding (Manku et al.) lifted to a PRECOMPUTED hash column: split
    the ``bits``-bit fingerprint into ``max_hamming + 1`` bands; two
    hashes within distance k must agree exactly on one band, so
    candidates meet in (band, value) buckets and exact
    ``bit_count(xor)`` re-verification admits no false positive and
    misses no pair.  Returns ``(id_a, id_b, hamming)``.

    Plan / 100 TB: the only exchange is the bucket groupBy carrying
    (id, 8-byte hash) — never media bytes; buckets over 10,000 members
    (the degenerate all-same-hash bucket (the ``ngram_jaccard_pairs``
    guard).  Pairs enumerate inside each bucket's sorted member array
    (expression-level, no join explosion).
    """
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = hashes.select(
        F.col("media_id").alias("id"),
        F.col("phash").alias("ph"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("phash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("id", "ph", F.col("bs.band").alias("band"), F.col("bs.val").alias("val"))
    grouped = (
        bands.groupBy("band", "val")
        .agg(F.sort_array(F.collect_list(F.struct("id", "ph"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    grouped = grouped.filter(F.size("members") <= 10_000)
    pair_structs = ordered_pairs(
        F.col("members"),
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.bit_count(x["ph"].bitwiseXOR(y["ph"]))
            .cast("bigint")
            .alias("hamming"),
        ),
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
