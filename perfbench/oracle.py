"""Output check against the catalog's DuckDB oracles.

Same rule as the repository's test harness: column names compared as
sorted sets, then the row count and an order-insensitive hash of the
rows (columns in name order, cells normalised, floats at full
precision). Queries without an oracle must return at least one row.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import duckdb


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        return _norm(v.tolist())
    return str(v)


def digest(pdf) -> tuple[list[str], int, str]:
    """(sorted columns, row count, order-insensitive row hash)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (repr(tuple(_norm(v) for v in row)) for row in pdf[cols].itertuples(index=False))
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return cols, len(rows), h


def check(spark_df, con, oracle_sql: str | None) -> str | None:
    """None when the output is correct, else a one-line reason."""
    pdf = spark_df.toPandas()
    if oracle_sql is None:
        return None if len(pdf) > 0 else "no rows (rows>0 check)"
    got = digest(pdf)
    want = digest(con.execute(oracle_sql).df())
    if got[0] != want[0]:
        return f"columns {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        return f"rows {got[1]} != oracle {want[1]}"
    if got[2] != want[2]:
        return "row values differ from oracle"
    return None
