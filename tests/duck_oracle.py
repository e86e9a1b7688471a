"""DuckDB as the independent reference for operator tests: run SQL,
or a registry query's own oracle SQL, over pandas frames registered
under the table names the SQL reads."""

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def duck(sql: str, **tables):
    """``sql`` run in a fresh DuckDB connection where each keyword is
    a table name bound to a pandas frame; returns a pandas frame."""
    con = duckdb.connect()
    try:
        for name, pdf in tables.items():
            con.register(name, pdf)
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def oracle(query: str, **tables):
    """The registry's oracle SQL for ``query`` over ``tables``."""
    return duck(entry.oracle_sql()[query], **tables)
