"""Semantic unit tests for the advanced join + vector operators:
as-of tie-breaks, band boundary inclusivity, near-dup invariants.
These encode the operator contracts directly, independent of the
DuckDB parity harness.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from s3_manifest_spark.operators.dedup import EMBED_DUP_THRESHOLD, dedup_embedding
from s3_manifest_spark.operators.joins_advanced import (
    BAND_WIDTH,
    asof_join,
    range_join_bands,
)

SF = "/root/testdata/sf0.001"


def test_asof_picks_latest_order_at_or_before(spark):
    rows = asof_join(spark, SF).collect()
    assert rows, "as-of join produced no rows"
    orders = {
        (r.o_custkey, r.o_orderkey): r
        for r in spark.read.parquet(f"{SF}/orders.parquet").collect()
    }
    by_cust: dict[int, list] = {}
    for (ck, _), o in orders.items():
        by_cust.setdefault(ck, []).append(o)
    for r in rows[:200]:
        cands = [o for o in by_cust[r.user_id] if o.o_orderdate <= r.ts]
        best = max(cands, key=lambda o: (o.o_orderdate, o.o_orderkey))
        assert r.asof_orderkey == best.o_orderkey, (
            f"event {r.event_id}: expected order {best.o_orderkey}, got {r.asof_orderkey}"
        )


def test_asof_one_row_per_matched_event(spark):
    df = asof_join(spark, SF)
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert df.count() == df.select("event_id").distinct().count()
    assert df.count() <= n_events


def test_band_boundaries_half_open(spark):
    out = {r.band_id: r for r in range_join_bands(spark, SF).collect()}
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    # recompute band membership independently: floor(price / width)
    expected = {
        r.band_id: r.n
        for r in orders.groupBy(
            F.floor(F.col("o_totalprice") / BAND_WIDTH).cast("int").alias("band_id")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {b: r.n_orders for b, r in out.items()} == expected
    for r in out.values():
        assert r.hi == r.lo + BAND_WIDTH


def test_dedup_embedding_pairs_ordered_and_above_threshold(spark):
    # sf0.001 may legitimately have zero pairs ≥ threshold; use sf0.01.
    rows = dedup_embedding(spark, "/root/testdata/sf0.01").collect()
    assert rows, "expected near-dup pairs at sf0.01 with threshold 0.4"
    for r in rows:
        assert r.vec_a < r.vec_b
        assert r.cos_sim >= EMBED_DUP_THRESHOLD
