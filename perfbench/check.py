"""Order-insensitive output comparison against DuckDB.

Both sides are reduced to sorted tuples of normalized values over the
lower-cased column names; floats are compared at 9 decimal places, the
same protocol as ``scripts/check_correctness.py``. A comparison returns
``None`` when the outputs match and a one-line reason when they do not.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb


def _norm_value(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def norm_rows(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Column names sorted, each row's values in that order, rows sorted."""
    lower = [c.lower() for c in cols]
    order = sorted(range(len(lower)), key=lambda i: lower[i])
    out = sorted(tuple(_norm_value(r[i]) for i in order) for r in rows)
    return [lower[i] for i in order], out


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    return norm_rows(df.columns, [tuple(r) for r in df.collect()])


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} vs {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"first difference at sorted row {i}: {a[:6]} vs {b[:6]}"
    return None


class Oracle:
    """A DuckDB connection with one view per source parquet file."""

    def __init__(self, data_dir: str | Path, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        self.con.sql("SET threads TO 2")
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{Path(data_dir) / t}.parquet'")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return norm_rows(rel.columns, rel.fetchall())

    def close(self) -> None:
        self.con.close()
