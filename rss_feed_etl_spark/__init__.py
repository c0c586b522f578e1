"""rss_feed_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference pipeline (joselrnz/rss-feed-etl),
re-designed Spark-first.

The reference is a single-process pandas + Google Sheets job pipeline
(see SURVEY.md).  This engine re-expresses every operator as a lazy
DataFrame program planned by Catalyst: Parquet storage, explicit schemas,
real types internally (timestamp / array / double), stringification only at
sinks, broadcast-hash merges, and `mapInPandas` only where built-in
expressions genuinely cannot express the semantics (HTML cleaning, external
enrichment clients, multimodal decode).

Layout
------
- ``session``    : tuned SparkSession factory (AQE, UTC, shuffle sizing)
- ``schemas``    : StructTypes + ``conform`` (schema repair)
- ``functions``  : scalar expression helpers (timestamps, text, hashing)
- ``operators``  : filters, merges (SCD1/SCD2/upsert), dedup, joins,
                   similarity, text analysis, multimodal
- ``sources``    : parquet/CSV IO, RSS feed source (injectable fetcher)
- ``plans``      : composed end-to-end pipelines (the reference's entry
                   points as single lazy queries)
- ``streaming``  : Structured Streaming wrappers (foreachBatch merge)
- ``queries``    : the registered driver-contract queries, one module per
                   operator family (``driver_queries`` holds the registry)
"""

__version__ = "0.1.0"
