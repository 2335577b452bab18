"""DuckDB oracle answers and the result comparison rules.

The rules are those of ``tests/test_oracle_parity.py``: same row count,
same column names, and equal values after an order-insensitive sort,
with floats compared at ``rtol = atol = 1e-9``.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from perfbench.fixtures import TABLES


class Oracle:
    """One DuckDB connection with a view per fixture table."""

    def __init__(self, sf_dir: str, threads: int):
        self._con = duckdb.connect()
        self._con.execute(f"PRAGMA threads={int(threads)}")
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def answer(self, sql: str) -> pd.DataFrame:
        return normalize(self._con.execute(sql).df())

    def close(self) -> None:
        self._con.close()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
        elif s.dtype == object:
            pdf[c] = s.astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why ``got`` differs from the normalized oracle ``want``, or None."""
    if sorted(got.columns) != list(want.columns):
        return f"columns {sorted(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    a = normalize(got)
    for c in a.columns:
        x, y = a[c], want[c]
        if pd.api.types.is_float_dtype(x):
            ok = np.isclose(x.to_numpy(), y.to_numpy(), rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (x.to_numpy() == y.to_numpy()) | (x.isna() & y.isna()).to_numpy()
        if not ok.all():
            return f"column {c}: {int((~ok).sum())} values differ"
    return None
