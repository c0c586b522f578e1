"""The partial oracles for the three rows-only queries (VERDICT r8 #6)
must pass at sf0.001 — guards the checkers themselves (schema drift in
either the operator output or the checker SQL fails here first)."""

import duckdb
import pytest
from conftest import SF_DIR

from rss_feed_etl_spark import driver_queries
from rss_feed_etl_spark.approx_checks import APPROX_CHECKS


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(APPROX_CHECKS))
def test_approx_check_green(spark, con, name):
    spdf = driver_queries.queries()[name](spark, SF_DIR).toPandas()
    ok, detail = APPROX_CHECKS[name](spdf, con, SF_DIR)
    assert ok, detail
