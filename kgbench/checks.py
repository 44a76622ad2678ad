"""Output checks. They run outside every timed span.

Registry outputs are compared with their DuckDB closed form
(``ORACLE_SQL``) over the same generated directory, after the
normalization ``tools/compare_oracle.py`` applies (columns sorted,
object columns as strings, rows sorted).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from tools.compare_oracle import normalize


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in ``sf_dir``."""
    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
    return con


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows; otherwise why not."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False)
    except AssertionError as exc:
        return f"values differ: {str(exc)[:300]}"
    return None


def oracle_mismatch(got: pd.DataFrame, sql: str, sf_dir: str) -> str | None:
    """Compare a Spark result with the DuckDB oracle over ``sf_dir``."""
    con = duck_con(sf_dir)
    try:
        return frame_mismatch(got, con.sql(sql).df())
    finally:
        con.close()
