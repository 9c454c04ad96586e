"""Output checks run outside every timed region.

Query keys are compared with their DuckDB oracle from
``registry.ORACLES``: same column names, same row count and the same
rows, order-insensitively, after the float and timestamp normalisation
the engine's own parity tests use.
"""

from __future__ import annotations

import decimal
import math

import duckdb


def duck_views(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v + 0.0, 9)
        return int(r) if r == int(r) and abs(r) < 2**53 else r
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):
        return repr(v.tolist())
    if isinstance(v, (list, tuple, dict)):
        return repr(v)
    return v


def _rows(pdf, cols: list[str]) -> list[tuple]:
    return sorted(
        (tuple(_norm(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )


def compare_frames(got, want) -> str | None:
    """None when the two pandas frames hold the same rows, else the
    first difference as one line."""
    g_cols, w_cols = sorted(got.columns), sorted(want.columns)
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for i, (a, b) in enumerate(zip(_rows(got, g_cols), _rows(want, w_cols))):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None
