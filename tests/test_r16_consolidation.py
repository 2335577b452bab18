"""Round-16 pins for the stats_funcs Arrow kernel: degenerate groups
match the JVM/oracle NULL semantics, and a NULL group key stays its own
group."""

from __future__ import annotations

import pandas as pd

SF = "/root/testdata/sf0.001"


def test_stats_funcs_degenerate_groups_null_like_oracle(spark, monkeypatch):
    """Singleton groups (n<2) and zero-variance corr must come back
    NULL (the JVM stddev_samp/var_samp/corr and the DuckDB oracle's
    behavior), not numpy NaN — NaN hashes differently from NULL in the
    driver's compare."""
    import duckdb

    from s3_manifest_spark.operators import analytics as A

    pdf = pd.DataFrame(
        {
            "l_returnflag": ["S", "C", "C", "C", "N", "N", "N"],
            "l_extendedprice": [10.0, 5.0, 5.0, 5.0, 1.0, 2.0, 3.0],
            "l_quantity": [1.0, 2.0, 2.0, 2.0, 4.0, 5.0, 6.0],
            "l_discount": [0.1, 0.2, 0.2, 0.2, 0.01, 0.02, 0.03],
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        A, "load_table", lambda s, d, n, widen=False: sdf
    )
    got = {
        r["l_returnflag"]: r.asDict()
        for r in A.stats_funcs(spark, SF).collect()
    }
    con = duckdb.connect()
    con.register("lineitem", pdf)
    want = {
        r[0]: dict(
            zip(
                [
                    "l_returnflag",
                    "price_stddev",
                    "disc_var",
                    "qty_price_corr",
                    "qty_price_covar",
                    "price_median",
                    "price_p95",
                ],
                r,
            )
        )
        for r in con.execute(
            """
            SELECT l_returnflag,
                   round(stddev_samp(l_extendedprice), 4),
                   round(var_samp(l_discount), 6),
                   round(corr(l_quantity, l_extendedprice), 6),
                   round(covar_samp(l_quantity, l_extendedprice), 4),
                   round(quantile_cont(l_extendedprice, 0.5), 4),
                   round(quantile_cont(l_extendedprice, 0.95), 4)
            FROM lineitem GROUP BY l_returnflag
            """
        ).fetchall()
    }
    assert set(got) == {"S", "C", "N"}
    # singleton: every sample aggregate NULL on both engines
    for col in (
        "price_stddev",
        "disc_var",
        "qty_price_corr",
        "qty_price_covar",
    ):
        assert got["S"][col] is None, col
        assert want["S"][col] is None, col
    # constant group: zero-variance corr NULL, stddev/var/cov 0.0
    assert got["C"]["qty_price_corr"] is None
    assert want["C"]["qty_price_corr"] is None
    assert got["C"]["price_stddev"] == want["C"]["price_stddev"] == 0.0
    # healthy group: values agree with the oracle
    for col in got["N"]:
        assert got["N"][col] == want["N"][col], (col, got["N"], want["N"])


def test_stats_funcs_keeps_null_keyed_group(spark, monkeypatch):
    """GROUP BY keeps a NULL l_returnflag as its own group on both
    engines — the moments ⋈ percentiles split must too (null-safe
    join; a plain inner join drops it)."""
    from s3_manifest_spark.operators import analytics as A

    pdf = pd.DataFrame(
        {
            "l_returnflag": [None, None, "N", "N", "N"],
            "l_extendedprice": [7.0, 9.0, 1.0, 2.0, 3.0],
            "l_quantity": [1.0, 2.0, 4.0, 5.0, 6.0],
            "l_discount": [0.1, 0.3, 0.01, 0.02, 0.03],
        }
    )
    sdf = spark.createDataFrame(pdf)
    monkeypatch.setattr(A, "load_table", lambda s, d, n, widen=False: sdf)
    got = {r["l_returnflag"]: r.asDict() for r in A.stats_funcs(spark, SF).collect()}
    assert set(got) == {None, "N"}
    assert got[None]["price_median"] == 8.0
    assert got[None]["qty_price_covar"] is not None
