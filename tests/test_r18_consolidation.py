"""Round-18 consolidation pins: the ADVICE-r17 fixes.

- ``_membership_cached`` must NOT driver-localize corpus-wide
  membership kinds (``localize=False`` keeps a distributed
  checkpoint); query-bounded kinds stay driver-local relations.
- ``_drain``'s no-data-micro-batch skip must not apply to an
  append-mode streaming aggregation (whose finalized windows are only
  emitted in the trailing no-data batch) — the guard re-enables
  Spark's default for that shape.
- the LSH hyperplane matrix has ONE construction point
  (``_lsh_plane_matrix``) shared by driver-side probe derivation and
  the executor kernels.

The corpus-wide kNN membership and fused-certificate pins live in
test_knn_graph.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _plan_node(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_membership_cache_localize_flag(spark, sf_dir):
    """localize=True -> driver-local relation (LocalRelation);
    localize=False -> distributed checkpoint (LogicalRDD), the shape
    the corpus-wide certificate joins need (ADVICE r17)."""
    from s3_manifest_spark.operators.similarity import _membership_cached
    from s3_manifest_spark.registry import clear_model_cache

    clear_model_cache(spark)

    def builder():
        return spark.range(10).select(
            F.col("id").alias("query_id"),
            (F.col("id") + 1).alias("neighbor_id"),
            F.lit(True).alias("should_find"),
        )

    local = _membership_cached(spark, sf_dir, "test_loc", builder)
    assert _plan_node(local) == "LocalRelation"
    dist = _membership_cached(
        spark, sf_dir, "test_dist", builder, localize=False
    )
    assert _plan_node(dist) == "LogicalRDD"
    # cache hit: second call returns the same frame, no rebuild
    again = _membership_cached(
        spark, sf_dir, "test_dist", builder, localize=False
    )
    assert again is dist
    clear_model_cache(spark)


def test_no_data_guard_append_aggregation(spark):
    """_drain_no_data_conf: append + streaming aggregation keeps
    Spark's default (the trailing no-data batch fires); every shape
    registered today (complete/update aggs, append join without
    aggregation) keeps the skip."""
    from s3_manifest_spark.streaming.windows import (
        DRAIN_NO_DATA_BATCHES,
        _drain_no_data_conf,
    )

    agg = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()
    plain = spark.range(10).select("id")
    assert _drain_no_data_conf(agg, "append") == "true"
    assert _drain_no_data_conf(agg, "complete") == DRAIN_NO_DATA_BATCHES
    assert _drain_no_data_conf(agg, "update") == DRAIN_NO_DATA_BATCHES
    assert _drain_no_data_conf(plain, "append") == DRAIN_NO_DATA_BATCHES


def test_lsh_plane_matrix_single_construction_point(spark):
    """Driver probes and executor kernels must derive the SAME plane
    matrix — the shared helper is the construction point, and its
    output matches the canonical RandomState recipe."""
    from s3_manifest_spark.operators.similarity import (
        LSH_SEED,
        _lsh_plane_matrix,
    )

    got = _lsh_plane_matrix(6, 8)
    want = np.random.RandomState(LSH_SEED).standard_normal((6, 8))
    assert np.array_equal(got, want)
    shifted = _lsh_plane_matrix(6, 8, seed_offset=3)
    assert not np.array_equal(shifted, want)
