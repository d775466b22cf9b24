"""DuckDB oracle comparison for the headline queries.

Each registry key has an oracle SQL text (``registry.oracle_sql()``);
DuckDB runs it over the same parquet files the Spark query read, and the
two results are compared order-insensitively after the normalisation
the repository's oracle tests use: columns sorted by name, floats to six
decimals, timestamps without zone, NULL as one token.
"""

from __future__ import annotations

import datetime
import math

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _normalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def compare(df, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """None when the Spark DataFrame equals the oracle result, else why not."""
    sp_cols = df.columns
    sp_rows = [tuple(r) for r in df.collect()]
    res = con.sql(sql)
    dk_cols = list(res.columns)
    dk_rows = res.fetchall()
    if sorted(sp_cols) != sorted(dk_cols):
        return f"columns differ: spark={sorted(sp_cols)} duckdb={sorted(dk_cols)}"
    if len(sp_rows) != len(dk_rows):
        return f"row count differs: spark={len(sp_rows)} duckdb={len(dk_rows)}"
    a, b = _normalize(sp_cols, sp_rows), _normalize(dk_cols, dk_rows)
    if a != b:
        first = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: spark={first[0]} duckdb={first[1]}"
    return None
