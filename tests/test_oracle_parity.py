"""Local twin of the driver's correctness gate: run every queries()
entry and its oracle_sql() twin on the same parquet, compare row count,
column names, and values (order-insensitive).  Stricter locally than
the driver needs, so driver-side hash mismatches get caught here first.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _duck(sql: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con.execute(sql).df()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
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
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def _compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> None:
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            ok = np.isclose(
                a[c].to_numpy(), b[c].to_numpy(), rtol=1e-9, atol=1e-9, equal_nan=True
            )
            assert ok.all(), f"{name}.{c}: float mismatch at rows {np.where(~ok)[0][:5]}"
        else:
            ok = (a[c].to_numpy() == b[c].to_numpy()) | (a[c].isna() & b[c].isna()).to_numpy()
            assert ok.all(), (
                f"{name}.{c}: mismatch at rows {np.where(~ok)[0][:5]}: "
                f"spark={a[c][~ok].head(3).tolist()} duck={b[c][~ok].head(3).tolist()}"
            )


def _query_names():
    return sorted(entrymod.queries())


@pytest.mark.parametrize("name", _query_names())
def test_query_parity(spark, name):
    qfn = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    sdf = qfn(spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    if name not in oracles:
        # rows-only contract (driver does the same for oracle-less ops)
        assert spark_pdf is not None
        return
    duck_pdf = _duck(oracles[name])
    _compare(name, spark_pdf, duck_pdf)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert df.schema is not None
