"""Correctness gate: the engine's outputs against its DuckDB oracle SQL.

Runs outside the timed region. The comparison is the one the repository's
correctness sweep makes: same row count, same column names, and equal
values after an order-insensitive sort. Values are compared exactly once
both sides are mapped to plain Python values (the engine renders
floating-point statistics as 7-significant-digit strings for this).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math

import duckdb
import numpy as np
import pandas as pd


def duck(views: dict[str, str], threads: int) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table: name -> parquet glob."""
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for name, glob in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{glob}')")
    return con


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _sort_key(row: tuple) -> tuple:
    # numbers sort by value, so an integer column that DuckDB hands back
    # as float (it had NULLs) pairs up with the engine's ints
    return tuple((0, float(x), "") if isinstance(x, (int, float))
                 and not isinstance(x, bool) else (1, 0.0, repr(x))
                 for x in row)


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Rows (tuples in ``columns`` order) as sorted tuples of plain
    values, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=_sort_key)


def compare(got_cols: list[str], got_rows, want: pd.DataFrame) -> list[str]:
    """Problems found comparing collected engine rows with the oracle's
    frame; empty when they agree."""
    want_cols = list(want.columns)
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != {sorted(want_cols)}"]
    if len(got_rows) != len(want):
        return [f"row count {len(got_rows)} != {len(want)}"]
    a = canon_rows(got_cols, got_rows)
    b = canon_rows(want_cols, want.itertuples(index=False, name=None))
    bad = [f"row {i}: {x!r} != {y!r}" for i, (x, y) in enumerate(zip(a, b))
           if x != y]
    return bad[:5]
