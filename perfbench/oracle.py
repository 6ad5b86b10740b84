"""DuckDB oracles and result comparison."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def connect(data_dir: str, tables=TPCH_TABLES) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return float(f"{v:.9g}")
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    if hasattr(v, "isoformat"):
        return pd.Timestamp(v).isoformat()
    if hasattr(v, "item"):
        return _canon(v.item())
    return v


def canon_rows(pdf: pd.DataFrame, columns=None) -> list[tuple]:
    """Rows as sorted tuples of canonical values (floats to 9 significant
    digits, timestamps as ISO text), columns in the given order."""
    cols = list(columns or pdf.columns)
    rows = [tuple(_canon(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), x) for x in r))


def same_rows(got: pd.DataFrame, want: pd.DataFrame, rel: float = 1e-6) -> bool:
    """Multiset equality of two frames by column name, floats within a
    relative tolerance (Spark and DuckDB sum in different orders)."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    cols = sorted(want.columns)
    a, b = canon_rows(got, cols), canon_rows(want, cols)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
