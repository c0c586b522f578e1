"""Table schemas and schema-repair ("conform") semantics.

The reference hard-codes a canonical 9-column feed-entry schema in three
places (reference: src/rss_feed_etl/core/data_loader.py:47-57,
src/etl/scd1_manager.py:35-38) and *repairs* incoming frames by adding any
missing column as an empty string before each operator
(src/etl/scd1_manager.py:41-53, src/rss_feed_etl/core/data_loader.py:137-141).

Here each table gets an explicit StructType and ``conform`` reproduces the
repair as a single ``select`` — missing columns become typed NULL/empty
literals, extra columns are dropped, order is normalized.  This is pure
projection: Catalyst folds it into the scan (column pruning), so conforming
is free at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- canonical stage table (feed entries) -------------------------------
# reference columns: job_title, link, entry_title, published, feed_title,
# reader, time_window, summary, notes (data_loader.py:47-57).  `published`
# is a real timestamp internally (the reference keeps formatted strings and
# re-parses leniently at every use site; we parse once at ingest).

STAGE_SCHEMA = T.StructType(
    [
        T.StructField("job_title", T.StringType()),
        T.StructField("link", T.StringType(), nullable=False),
        T.StructField("entry_title", T.StringType()),
        T.StructField("published", T.TimestampType()),
        T.StructField("feed_title", T.StringType()),
        T.StructField("reader", T.StringType()),
        T.StructField("time_window", T.StringType()),
        T.StructField("summary", T.StringType()),
        T.StructField("notes", T.StringType()),
    ]
)

# SCD2 history adds version-tracking columns
# (data_loader.py:70-72, scd2_manager.py:42-45)
SCD2_SCHEMA = T.StructType(
    list(STAGE_SCHEMA.fields)
    + [
        T.StructField("effective_start", T.TimestampType()),
        T.StructField("effective_end", T.TimestampType()),  # NULL = current
        T.StructField("current_flag", T.IntegerType()),
    ]
)

# feeds-config catalog table (etl.py:70-72, models/feeder.py:8-25)
FEEDS_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("reader", T.StringType()),
        T.StructField("time", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("worksheet_name", T.StringType()),
        T.StructField("job_title", T.StringType()),
    ]
)

# enrichment output (run_ats_enrichment.py:592-601, 905-906); skills are
# real arrays internally, JSON-encoded only at export (F14).
ENRICHED_SCHEMA = T.StructType(
    list(STAGE_SCHEMA.fields)
    + [
        T.StructField("as_of_dt", T.TimestampType()),
        T.StructField("match_percentage", T.DoubleType()),
        T.StructField("matched_skills", T.ArrayType(T.StringType())),
        T.StructField("missing_skills", T.ArrayType(T.StringType())),
    ]
)

REQUIRED_FEED_CONFIG_COLS = {"title", "reader", "time", "url", "worksheet_name"}


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project ``df`` onto ``schema``: add missing columns, cast, reorder.

    Mirrors the reference's dynamic schema repair (missing columns appear as
    ``""`` for strings — scd1_manager.py:41-53) but stays a single lazy
    ``select`` so it costs nothing beyond the projection itself.
    """
    existing = {f.name for f in df.schema.fields}
    cols = []
    for field in schema.fields:
        if field.name in existing:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        elif isinstance(field.dataType, T.StringType):
            cols.append(F.lit("").alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Header normalization: ``strip().lower()`` (reference etl.py:89)."""
    return df.toDF(*[c.strip().lower() for c in df.columns])


def assert_required_columns(df: DataFrame, required: set[str]) -> None:
    """Config-schema validation (reference etl.py:70-72, rss_feed_etl.py:47-51)."""
    missing = required - set(df.columns)
    if missing:
        raise ValueError(f"config table missing required columns: {sorted(missing)}")


def stringify_for_sink(df: DataFrame) -> DataFrame:
    """Cast every column to string for a string-typed sink.

    The reference stringifies everything before writing to Sheets
    (data_loader.py:415-428); the engine keeps real types internally and
    applies this only at the sink boundary.
    """
    cols = []
    for field in df.schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, T.TimestampType):
            c = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
        elif isinstance(field.dataType, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        else:
            c = c.cast("string")
        cols.append(c.alias(field.name))
    return df.select(*cols)
