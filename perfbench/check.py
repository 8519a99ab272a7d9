"""Output check: every query's result against DuckDB over the same files.

Registry queries are compared with ``tests/oracle_check.compare_frames``
against their ``ORACLES`` SQL; TPC-DS queries run the same SQL text in
both engines and are compared with ``tests/test_impala_suite._compare``,
as the TPC-DS correctness tests do.
"""

from __future__ import annotations

import os

import duckdb


def registry_views(sf_dir: str):
    from oracle_check import register_duckdb_views

    return lambda con: register_duckdb_views(con, sf_dir)


def tpcds_views(data_dir: str, tables):
    def register(con) -> None:
        for t in tables:
            path = os.path.join(data_dir, t)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")

    return register


def run_checks(queries, produce, expected_sql, compare, register, cleanup) -> dict[str, str | None]:
    """``compare(produce(q), duckdb(expected_sql(q)), q)`` for every query;
    returns the error text of each query, or None where it matched."""
    errors: dict[str, str | None] = {}
    con = duckdb.connect()
    try:
        register(con)
        for name in queries:
            try:
                compare(produce(name), con.execute(expected_sql(name)).df(), name)
                errors[name] = None
            except Exception as e:  # noqa: BLE001 - recorded as a failed query
                errors[name] = f"{type(e).__name__}: {e}"[:500]
            finally:
                cleanup()
    finally:
        con.close()
    return errors
