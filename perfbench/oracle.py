"""DuckDB oracles over the generated inputs, run once during set-up.

The SQL is ``__spark_entry__.oracle_sql()``'s entry of the same name, and
results are compared in ``scripts/correctness_gate.py``'s normalized form.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "correctness_gate", os.path.join(_ROOT, "scripts", "correctness_gate.py")
)
_gate = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_gate)
normalize = _gate.normalize


def _connect(data_dir: str, tables: list[str]):
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def rows(data_dir: str, tables: list[str], sql: str) -> list[tuple]:
    """Rows of ``sql`` over the parquet ``tables`` in ``data_dir``."""
    con = _connect(data_dir, tables)
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def expected(data_dir: str, tables: list[str], names: list[str]) -> dict[str, list[str]]:
    """Normalized oracle rows for each of ``names``, over the parquet
    ``tables`` in ``data_dir``."""
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = _connect(data_dir, tables)
    try:
        out = {}
        for name in names:
            res = con.execute(sql[name])
            out[name] = normalize(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()

