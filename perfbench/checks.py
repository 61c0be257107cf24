"""Result checks, run outside every timed window.

Registry keys are compared with their DuckDB oracle SQL and templated MySQL
queries with their DuckDB twin (every key in the workloads has an oracle). A
check hands the Spark result to DuckDB as Arrow and requires the same column
names and an empty multiset difference in both directions, so row order does
not matter and floats compare exactly; the engine's rounding discipline makes
them equal.

A registry oracle depends only on the fixed fixture, so its result is kept in
a DuckDB file beside the fixture, keyed by a hash of the SQL, and computed
once per fixture: some oracles take longer than the query they check. The
file goes away when the fixture is regenerated.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

from fixture import TABLES


ORACLE_CACHE = "_oracle_cache.duckdb"


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"ATTACH '{os.path.join(sf_dir, ORACLE_CACHE)}' AS oracle_cache")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _oracle_result(con: duckdb.DuckDBPyConnection, sql: str, cache: bool) -> None:
    """Materialize ``sql``'s rows as the temp table ``oracle_result``; with
    ``cache`` reuse (or first store) them in the oracle cache file."""
    source = sql
    if cache:
        name = "r_" + hashlib.sha256(sql.encode()).hexdigest()[:32]
        known = con.execute(
            "SELECT 1 FROM duckdb_tables() WHERE database_name = 'oracle_cache' AND table_name = ?",
            [name],
        ).fetchone()
        if not known:
            con.execute(f"CREATE TABLE oracle_cache.{name} AS {sql}")
        source = f"SELECT * FROM oracle_cache.{name}"
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_result AS {source}")


def check_sql(df, con: duckdb.DuckDBPyConnection, sql: str, cache: bool = False) -> str | None:
    """None when ``df`` holds the rows ``sql`` returns, else a reason.
    ``cache`` is for SQL whose result depends only on the fixture."""
    con.register("spark_result", df.toArrow())
    _oracle_result(con, sql, cache)
    got = sorted(df.columns)
    want = sorted(d[0] for d in con.execute("SELECT * FROM oracle_result LIMIT 0").description)
    if got != want:
        return f"columns {got} != {want}"
    cols = ", ".join(f'"{c}"' for c in got)
    extra, missing = (
        con.execute(f"SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b}").fetchmany(2)
        for a, b in (("spark_result", "oracle_result"), ("oracle_result", "spark_result"))
    )
    con.unregister("spark_result")
    if extra or missing:
        return f"rows only in spark {extra}, only in oracle {missing}"
    return None
