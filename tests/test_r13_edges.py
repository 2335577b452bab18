"""Edge-case pins for the r13 extension operators — the degenerate
shapes the fixtures never isolate: single-member groups, single-row
covariance, identical documents and clique graphs (the kNN-graph
edge cases live in test_knn_graph.py).
All synthetic frames route through monkeypatched loaders and call the
module-level (unmemoized) functions, so nothing poisons the session
plan cache (register() returns the raw fn)."""

from __future__ import annotations

import numpy as np

from s3_manifest_spark.operators import dedup as D
from s3_manifest_spark.operators import graph as G
from s3_manifest_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_centroid_stats_single_member_label(spark, monkeypatch):
    """A label with one member: its centroid IS the member (up to the
    7-dp component rounding), so mean_cos = min_cos = 1.0."""
    rows = [
        (1, [0.3, 0.4, 0.5], 7),
        (2, [1.0, 0.0, 0.0], 8),
        (3, [0.0, 1.0, 0.0], 8),
    ]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    res = {
        int(r["label"]): r
        for r in S.embedding_centroid_stats(spark, SF).collect()
    }
    assert res[7]["n_vecs"] == 1
    assert res[7]["mean_cos"] == 1.0 and res[7]["min_cos"] == 1.0
    # two orthogonal members: each at 45° from the centroid
    assert res[8]["n_vecs"] == 2
    assert abs(res[8]["mean_cos"] - 0.707107) < 2e-6


def test_covariance_single_row_is_zero(spark, monkeypatch):
    """One vector: E[xy] − E[x]E[y] = xy − xy = 0 for every (i, j),
    and the −0.0 canonicalization must leave +0.0 everywhere."""
    rows = [(1, [0.5, -0.25, 2.0], 0)]
    monkeypatch.setattr(
        S, "load_table", lambda s, d, n, widen=False: _emb_df(spark, rows)
    )
    res = S.embedding_covariance(spark, SF).toPandas()
    assert len(res) == 6  # 3*(3+1)/2
    assert (res["cov"] == 0.0).all()
    assert not np.signbit(res["cov"].to_numpy()).any()


def test_containment_identical_docs_both_directions(spark, monkeypatch):
    """Two identical documents contain each other: exactly two rows,
    both with containment 1.0."""
    text = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    monkeypatch.setattr(D, "load_table", lambda s, d, n, widen=False: docs)
    res = D.doc_containment(spark, SF).toPandas()
    got = {
        (int(r["contained"]), int(r["container"])): r["containment"]
        for _, r in res.iterrows()
    }
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_triangles_on_k4_clique(spark, monkeypatch):
    """K4: every node has degree 3 and sits in C(3,2) = 3 triangles;
    Σ triangle_count = 12 = 3 × (4 triangles).  Pins the
    compact-forward join against an independent closed form."""
    from pyspark.sql import functions as F

    pairs = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    monkeypatch.setattr(
        G, "_pagerank_graph_cached", lambda s, d: (sym, deg, 4)
    )
    res = G.graph_triangles(spark, SF).toPandas()
    assert len(res) == 4
    assert (res["degree"] == 3).all()
    assert (res["triangle_count"] == 3).all()
    assert int(res["triangle_count"].sum()) == 12


def test_attribution_all_purchase_user(spark, monkeypatch):
    """A user whose EVERY event is a purchase: all rows kept, all
    attribution columns NULL (the ignorenulls window never finds a
    touch)."""
    import datetime as dt

    from s3_manifest_spark.operators import timeseries as T

    t0 = dt.datetime(2024, 6, 1, 9, 0, 0)
    ev = spark.createDataFrame(
        [
            (i, t0 + dt.timedelta(minutes=i), 42, "purchase", 1.0, "{}")
            for i in range(1, 4)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    monkeypatch.setattr(T, "load_table", lambda s, d, n, widen=False: ev)
    res = T.attribution_touch(spark, SF).toPandas()
    assert len(res) == 3
    assert res["first_touch_type"].isna().all()
    assert res["last_touch_id"].isna().all()

