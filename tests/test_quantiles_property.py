"""Property tests for the sort-based distributed exact percentile
(operators/quantiles.py) against numpy's linear-interpolation
percentile — the same index = p·(n-1) rule — on adversarial group
shapes: single-element groups, all-equal values, duplicated values,
groups spanning partition boundaries.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from s3_manifest_spark.operators.quantiles import group_percentiles

PCTS = (0.0, 0.25, 0.5, 0.95, 1.0)

groups = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=groups)
def test_matches_numpy_linear_interpolation(spark, rows):
    df = spark.createDataFrame(rows, schema="g string, v double")
    # small partition count on purpose: groups must straddle partitions
    got = {
        (r["g"], r["p"]): r["q"]
        for r in group_percentiles(df, PCTS, partitions=3).collect()
    }
    by_g: dict[str, list[float]] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        for p in PCTS:
            expect = float(np.percentile(np.array(vals), p * 100))
            assert got[(g, p)] == pytest.approx(expect, rel=1e-12, abs=1e-9), (
                g,
                p,
                sorted(vals),
            )
    assert len(got) == len(by_g) * len(PCTS)


def test_duplicate_values_and_singletons(spark):
    rows = [("a", 5.0)] * 7 + [("b", 1.0)] + [("c", 2.0), ("c", 4.0)]
    got = {
        (r["g"], r["p"]): r["q"]
        for r in group_percentiles(
            spark.createDataFrame(rows, "g string, v double"),
            (0.5,),
            partitions=2,
        ).collect()
    }
    assert got[("a", 0.5)] == 5.0
    assert got[("b", 0.5)] == 1.0
    assert got[("c", 0.5)] == 3.0
