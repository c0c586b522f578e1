"""Driver-contract queries, wave 3: Spark-native analytics the reference
lacks (SURVEY §2.10 "absent from reference" — window analytics, grouping
sets/rollup/cube, set operations, as-of join), the multimodal decode
plumbing, and a micro-batch incremental-merge fold.

Registered into ``driver_queries.QUERIES`` / ``ORACLES`` like wave 2.
Determinism rules are the same: every float that crosses an accumulation
boundary is rounded, every window has a total order, and the multimodal
"decode" stub is md5-byte arithmetic both engines compute identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import testdata as td
from .driver_queries import _register
from .operators import multimodal
from .operators.dedup import dedup_by_key
from .operators.joins import asof_join
from .operators.merges import merge_scd1


# ---------------------------------------------------------------------------
# as-of join: latest order per customer as of each event (J — beyond ref)
# ---------------------------------------------------------------------------


def _q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = td.load_table(spark, sf_dir, "orders")
    # one right row per (key, ts): ties broken keep-max-orderkey
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    ords = (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    return asof_join(
        ev,
        ords,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
    ).select("event_id", "user_id", "o_orderkey", "o_totalprice")


_register(
    "asof_latest_order",
    _q_asof_latest_order,
    """
WITH r AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders),
d AS (SELECT * FROM r WHERE rn = 1)
SELECT e.event_id, e.user_id, d.o_orderkey, d.o_totalprice
FROM events e
ASOF LEFT JOIN d ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate
""",
)


# ---------------------------------------------------------------------------
# rollup / cube / grouping sets (A — beyond ref; Catalyst expands to one
# shuffle with grouping-id, partial aggregation map-side)
# ---------------------------------------------------------------------------


def _q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = td.load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = td.load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = td.load_table(spark, sf_dir, "orders")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return (
        joined.withColumn("o_year", F.year("o_orderdate"))
        .rollup("n_name", "o_year")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


_register(
    "revenue_rollup",
    _q_revenue_rollup,
    """
SELECT n.n_name, year(o.o_orderdate) AS o_year,
       round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n_name, o_year)
""",
)


def _q_order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = td.load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_register(
    "order_stats_cube",
    _q_order_cube,
    """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)


_GS_SQL = """
WITH ev AS (SELECT *, user_id % 10 AS user_bucket FROM events)
SELECT event_type, user_bucket, count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM ev
GROUP BY GROUPING SETS ((event_type), (user_bucket), (event_type, user_bucket), ())
"""


def _q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    td.load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_GS_SQL)


_register("events_grouping_sets", _q_events_grouping_sets, _GS_SQL)


# ---------------------------------------------------------------------------
# window analytics: running totals + sessionization (O/F — beyond ref)
# ---------------------------------------------------------------------------


def _q_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    ob = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = ob.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = ob.rowsBetween(-3, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(run), 6).alias("running_total"),
        F.round(F.avg("value").over(mov), 6).alias("moving_avg4"),
    )


_register(
    "running_totals",
    _q_running_totals,
    """
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS running_total,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
         AS moving_avg4
FROM events
""",
)


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization: lag + cumulative sum of new-session
    flags — integer arithmetic on epoch micros, exact in both engines."""
    ev = td.load_table(spark, sf_dir, "events")
    ob = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(ob))
    new_sess = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    run = ob.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.withColumn("__new", new_sess).select(
        "event_id",
        "user_id",
        F.sum("__new").over(run).alias("session_id"),
    )


_register(
    "sessionize",
    _q_sessionize,
    """
WITH g AS (
  SELECT event_id, user_id, ts,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS gap_us
  FROM events)
SELECT event_id, user_id,
       CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM g
""",
)


# ---------------------------------------------------------------------------
# set operations (U — beyond ref: INTERSECT / EXCEPT as table ops)
# ---------------------------------------------------------------------------


def _high_value_users(spark: SparkSession, sf_dir: str, etype: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == etype) & (F.col("value") > 150))
        .select("user_id")
        .distinct()
    )


def _q_users_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _high_value_users(spark, sf_dir, "click").subtract(
        _high_value_users(spark, sf_dir, "purchase")
    )


def _q_users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _high_value_users(spark, sf_dir, "click").intersect(
        _high_value_users(spark, sf_dir, "purchase")
    )


_HV = (
    "SELECT DISTINCT user_id FROM events WHERE event_type = '{t}' AND value > 150"
)
_register(
    "users_click_not_purchase",
    _q_users_except,
    f"{_HV.format(t='click')}\nEXCEPT\n{_HV.format(t='purchase')}",
)
_register(
    "users_click_and_purchase",
    _q_users_intersect,
    f"{_HV.format(t='click')}\nINTERSECT\n{_HV.format(t='purchase')}",
)


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


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path next to brute-force ann_cosine_topk)
# ---------------------------------------------------------------------------


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import similarity

    emb = td.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_lsh(emb, queries, k=5)


_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)
_NRM = (
    "sqrt(list_reduce(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))"
)


def _proj_sql(h: int) -> str:
    # mirrors similarity.banded_signatures: sign(h, j) by the splitmix-style
    # hash of n = h*1024 + j + 1 (DuckDB's range is 1-based so n = h*1024+i);
    # components are integer-quantized (floor(v*2^20) — *2^20 is exact in
    # fp, so the bigint sum matches numpy's int64 GEMM bit-for-bit)
    base = h * 1024
    return (
        "list_reduce(list_transform(range(1, 65), "
        f"i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) * "
        f"(CASE WHEN ((xor(({base}+i)*2654435761, (({base}+i)*2654435761) >> 21) % 2097152)"
        f" * 2246822519 >> 20) % 2 = 0 THEN 1 ELSE -1 END)), "
        "(x, y) -> x + y)"
    )


def _ann_band_sig_sql(b: int) -> str:
    # per-band signature: bit r ← hyperplane h = b*8 + r (mirrors
    # similarity.banded_signatures band b of 8 bits)
    return " + ".join(
        f"(CASE WHEN {_proj_sql(b * 8 + r)} > 0 THEN CAST({2**r} AS BIGINT) ELSE 0 END)"
        for r in range(8)
    )


_ANN_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT vec_id, embedding, {b} AS band, {_ann_band_sig_sql(b)} AS sig FROM embeddings"
    for b in range(4)
)

_register(
    "ann_cosine_topk_lsh",
    _q_ann_lsh,
    f"""
WITH bands AS ({_ANN_BANDS_SQL}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id
  FROM bands e JOIN bands q
    ON e.band = q.band AND e.sig = q.sig
   AND q.vec_id < 10 AND e.vec_id <> q.vec_id),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round({_DOT.format(a='q.embedding', b='e.embedding')} /
               ({_NRM.format(a='q.embedding')} * {_NRM.format(a='e.embedding')}), 4)
           AS cosine_sim
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""",
)


# ---------------------------------------------------------------------------
# batched external scoring (X3/X4) through the deterministic stub client —
# the full mapInPandas chunking path, oracle-checked because the stub is a
# pure function of the text (same lexicon-overlap semantics as skills_match)
# ---------------------------------------------------------------------------


def _q_llm_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .testdata import LEXICON, RESUME_SKILLS
    from .operators.enrichment import (
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
    from .testdata import LEXICON, RESUME_SKILLS

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


# ---------------------------------------------------------------------------
# JSON parse (F14/F15) and event-time tumbling windows (§2.9)
# ---------------------------------------------------------------------------


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json on the props column (reference F15 parses LLM JSON output;
    F14 re-encodes at the sink) — extract k, aggregate per event_type, and
    re-encode a JSON summary string."""
    ev = td.load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "k", F.from_json(F.col("props"), "k INT").getField("k")
    )
    return parsed.groupBy("event_type").agg(
        F.sum("k").alias("k_sum"),
        F.count(F.col("k")).alias("k_n"),
        F.to_json(F.struct(F.min("k").alias("lo"), F.max("k").alias("hi"))).alias(
            "k_range_json"
        ),
    )


_register(
    "json_props_summary",
    _q_json_props,
    """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
       count(json_extract(props, '$.k')) AS k_n,
       '{"lo":' || min(CAST(json_extract(props, '$.k') AS INT))
         || ',"hi":' || max(CAST(json_extract(props, '$.k') AS INT)) || '}'
         AS k_range_json
FROM events
GROUP BY event_type
""",
)


def _q_daily_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation — the batch form of the
    streaming windowed_event_counts (streaming/incremental.py); window()
    here is exactly what the watermarked streaming aggregate runs."""
    ev = td.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_register(
    "daily_event_windows",
    _q_daily_windows,
    """
SELECT date_trunc('day', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events
GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# HTML → text cleaning (X1/F5) through the Arrow-batched pandas UDF
# ---------------------------------------------------------------------------


def _q_html_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap each document in deterministic HTML (tags + a script block +
    entities), clean it with the pandas UDF, and return the text — the
    UDF is regex + entity replacement, so DuckDB replicates it exactly
    (its RE2 lacks backreferences, so the oracle spells the script|style
    alternation out; equivalent on non-nested input)."""
    from .functions.text import html_to_text_udf

    docs = td.load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit('<p>Job: <b>'),
        F.col("text"),
        F.lit('</b> <a href="https://example.com/apply?id='),
        F.col("doc_id").cast("string"),
        F.lit('">apply here</a></p>'
              '<script type="text/javascript">var x = 1;</script>'
              "&amp; more &lt;stuff&gt;"),
    )
    return docs.select("doc_id", html_to_text_udf()(raw).alias("text_clean"))


_register(
    "html_clean",
    _q_html_clean,
    r"""
WITH h AS (
  SELECT doc_id,
         '<p>Job: <b>' || text ||
         '</b> <a href="https://example.com/apply?id=' || CAST(doc_id AS VARCHAR) ||
         '">apply here</a></p>' ||
         '<script type="text/javascript">var x = 1;</script>&amp; more &lt;stuff&gt;'
           AS raw
  FROM documents)
SELECT doc_id,
       trim(regexp_replace(
         replace(replace(replace(replace(replace(replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'g'),
               '(?is)<a\s[^>]*?href="([^"]*)"[^>]*>(.*?)</a>', '\2 (\1)', 'g'),
             '<[^>]+>', ' ', 'g'),
           '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '&quot;', '"'), '&#39;', chr(39)),
         '\s+', ' ', 'g')) AS text_clean
FROM h
""",
)


# ---------------------------------------------------------------------------
# timezone conversion + formatting (F8/F9 — the reference's published-time
# UTC → US/Central conversion, etl.py:129-133)
# ---------------------------------------------------------------------------


def _q_tz_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = td.load_table(spark, sf_dir, "events")
    central = F.from_utc_timestamp(F.col("ts"), "US/Central")
    return ev.select(
        "event_id",
        F.date_format(central, "yyyy-MM-dd HH:mm:ss").alias("central_time"),
    )


_register(
    "tz_convert_format",
    _q_tz_convert,
    """
SELECT event_id,
       strftime(timezone('US/Central', timezone('UTC', ts)), '%Y-%m-%d %H:%M:%S')
         AS central_time
FROM events
""",
)


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
