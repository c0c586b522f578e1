"""DuckDB reference results for the ``query_catalog`` output check.

    python3 perfbench/oracle.py DATA_DIR OUT.pickle NAME [NAME ...]

Runs each named query's ``oracle_sql()`` in DuckDB over the parquet tables of
``DATA_DIR`` and pickles ``{name: pandas frame}`` to ``OUT.pickle``.  It runs
in a process of its own, next to the benchmark's first pass, so DuckDB's
memory is given back before the timed phase whose peak memory is measured.
"""

from __future__ import annotations

import os
import pickle
import sys

import duckdb

from rss_feed_etl_spark import driver_queries


def main(data: str, out: str, names: list[str]) -> int:
    sql = driver_queries.oracle_sql()
    con = duckdb.connect(config={"threads": 2})
    for t in os.listdir(data):
        con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM '{data}/{t}'")
    frames = {name: con.sql(sql[name]).fetchdf() for name in names}
    con.close()
    with open(out + ".part", "wb") as f:
        pickle.dump(frames, f)
    os.replace(out + ".part", out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
