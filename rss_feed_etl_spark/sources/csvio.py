"""CSV source/sink (reference S5/S6).

S5: ``read_job_descriptions_from_csv`` (src/utils/file_utils.py:62-86) reads
a CSV with header and drops rows whose description column is blank.
S6: enrichment results to CSV (run_ats_enrichment.py:1054-1077).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.text import non_blankish


def read_descriptions_csv(
    spark: SparkSession,
    path: str,
) -> DataFrame:
    df = spark.read.option("header", True).option("inferSchema", False).csv(path)
    return df.filter(non_blankish("description"))


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)
