#!/usr/bin/env python
"""Measure the irreducible floor legs under the perf-weak bench rows
(VERDICT r12 item 3) and write PROBE_FLOORS.json at the repo root.

Each weak row's wall is decomposed into a NAMED floor leg — the cost a
null-work pipeline of the same shape pays before the query's own logic
does anything — measured min-of-N in the same session, interleaved
with the query itself so every (floor, query) pair shares one noise
environment (the drain-floor treatment from tools/probe_drain_floor.py
applied to batch rows):

- ``documents_python_pass``  — scan documents(doc_id, text) → identity
  Arrow kernel → 1-row agg.  The floor of every trained-model scoring
  query over documents (lm_perplexity): text must reach Python once.
- ``embeddings_python_pass`` — same over embeddings(vec_id, embedding)
  (semdedup's assign pass, dedup_embedding_lsh_hi's verify kernel).
- ``manifest_project_raw_collect`` — the widened scan + Arrow collect
  of a 5-column, output-width-matched copy of the full 600k-row
  listing WITHOUT the manifest projection logic: manifest_project's
  output IS the dataset, so this leg is its wall's floor by
  construction.
- ``manifest_prune_model_agg``   — a 1-row count over the session
  listing model: the two-tiny-jobs floor under manifest_prune's
  single-aggregation plan.
- ``skew_perkey_agg``            — the per-key count shuffle + 1-row
  rollup under skew_report (its plan adds only a TakeOrdered on top).

bench.py attaches these to queries_meta.floor_decomposition so the
committed artifact itemizes each weak row the way the streaming drains
got machinery_floor_sec.  Run me after fixture or plan changes:

    python tools/probe_perf_floors.py            # sf0.1, local[32]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = int(os.environ.get("FLOOR_PROBE_RUNS", "3"))


def main() -> int:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import functions as F

    from s3_manifest_spark.session import get_spark

    spark = get_spark(
        app_name="probe-perf-floors",
        master=f"local[{cpus}]",
        extra_confs={
            "spark.driver.memory": "24g",
            "spark.sql.shuffle.partitions": cpus,
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    from s3_manifest_spark.sources.tables import (
        listing_model,
        load_table,
        synth_listing,
    )

    # Warm engine constants out of the measurement (same as bench.py).
    spark.read.parquet(f"{sf}/nation.parquet").groupBy("n_regionkey").count().toPandas()
    spark.range(32).repartition(32).mapInPandas(lambda it: it, schema="id long").count()

    def identity_docs():
        docs = load_table(spark, sf, "documents", widen=True).select("doc_id", "text")

        def k(batches):
            for pdf in batches:
                yield pdf[["doc_id"]]

        docs.mapInPandas(k, schema="doc_id long").agg(F.count(F.lit(1))).toPandas()

    def identity_emb():
        v = load_table(spark, sf, "embeddings", widen=True).select("vec_id", "embedding")

        def k(batches):
            for pdf in batches:
                yield pdf[["vec_id"]]

        v.mapInPandas(k, schema="vec_id long").agg(F.count(F.lit(1))).toPandas()

    def raw_listing_collect():
        # Output-WIDTH-matched collect (5 columns, same Arrow volume as
        # the manifest) with the projection logic replaced by column
        # copies: what remains is scan + widen + Arrow collect of the
        # full 600k-row result — manifest_project's output IS the
        # dataset, so this is its wall's floor by construction.
        synth_listing(spark, sf).select(
            F.lit("floor-probe").alias("Bucket"),
            F.col("key").alias("Key"),
            F.col("key").alias("FileName"),
            F.col("size").alias("Size"),
            F.to_timestamp("last_modified").alias("LastModified"),
        ).toPandas()

    def prefix_filter_raw_collect():
        # manifest_prefix_filter's floor: the same widened scan +
        # startswith filter + output-width-matched Arrow collect,
        # minus the manifest projection logic — like manifest_project,
        # its output IS the (filtered) dataset.
        synth_listing(spark, sf).filter(
            F.col("key").startswith("data/A")
        ).select(
            F.lit("floor-probe").alias("Bucket"),
            F.col("key").alias("Key"),
            F.col("key").alias("FileName"),
            F.col("size").alias("Size"),
            F.to_timestamp("last_modified").alias("LastModified"),
        ).toPandas()

    def prune_model_agg():
        listing_model(spark, sf).agg(F.count(F.lit(1))).toPandas()

    def local_relation_roundtrip():
        # the createDataFrame + Arrow toPandas constant for a tiny
        # LOCAL relation — the whole warm wall of queries that serve a
        # session-trained table back as their result (bpe_train's 12
        # merge rows): pure engine machinery, no plan to optimize.
        spark.createDataFrame(
            [(0, "a", "b", "ab", 1)],
            "step long, lhs string, rhs string, merged string, pair_count long",
        ).toPandas()

    def skew_perkey_agg():
        (
            load_table(spark, sf, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .agg(F.count(F.lit(1)), F.sum("n_rows"))
            .toPandas()
        )

    def stats_pandas_groups_pass():
        # stats_funcs minus the statistics: the same 4-column fact
        # scan + group shuffle + Arrow group pass with the per-group
        # numpy work replaced by a length — the floor any exact
        # per-group-buffering plan of that shape pays.
        import pandas as pd

        def count_only(pdf):
            return pd.DataFrame(
                {
                    "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                    "n": [float(len(pdf))],
                }
            )

        (
            load_table(spark, sf, "lineitem")
            .select(
                "l_returnflag", "l_extendedprice", "l_quantity",
                "l_discount",
            )
            .groupBy("l_returnflag")
            .applyInPandas(count_only, schema="l_returnflag string, n double")
            .toPandas()
        )

    def range_join_scan_agg():
        # range_join_bands minus the join: the same orders scan +
        # 20-group combinable aggregation (banding key derived as a
        # scalar) — the floor any band-join plan pays.  The bucketed
        # equi-join rewrite was A/B'd SLOWER than the 20-row BNLJ
        # (0.40 vs 0.35 s min-of-6), so the BNLJ stays.
        from s3_manifest_spark.operators.joins_advanced import BAND_WIDTH

        (
            load_table(spark, sf, "orders")
            .groupBy(
                F.floor(F.col("o_totalprice") / F.lit(float(BAND_WIDTH))).alias("b")
            )
            .agg(F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2))
            .toPandas()
        )

    def trigram_expand_count():
        # ngram_corpus_topk minus the distinct-agg/top-K: the widened
        # scan + token split + interpreted trigram transform + explode
        # + 1-row count — the expansion cost ANY plan of this shape
        # pays before aggregation logic starts.
        toks = (
            load_table(spark, sf, "documents", widen=True)
            .select(F.split(F.col("text"), " ", -1).alias("t"))
        )
        (
            toks.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(t) >= 3 THEN "
                        "transform(sequence(1, size(t) - 2), "
                        "i -> concat(element_at(t, i), ' ', "
                        "element_at(t, i + 1), ' ', element_at(t, i + 2))) "
                        "ELSE array() END"
                    )
                ).alias("g")
            )
            .agg(F.count(F.lit(1)))
            .toPandas()
        )

    def chunk_expand_count():
        # chunk_dedup_boilerplate minus freq-join/rollup/doc-join: the
        # widened scan + md5 chunk expansion + 1-row count.
        toks = (
            load_table(spark, sf, "documents", widen=True)
            .select(F.split(F.col("text"), " ", -1).alias("t"))
        )
        (
            toks.select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(t) >= 10 THEN "
                        "transform(sequence(0, CAST(floor(size(t) / 10) AS INT) - 1), "
                        "i -> md5(concat_ws(' ', slice(t, i*10+1, 10)))) "
                        "ELSE array() END"
                    )
                ).alias("h")
            )
            .agg(F.count(F.lit(1)))
            .toPandas()
        )

    def bigram_unigram_expand_count():
        # bigram_lift_topk minus joins/top-K: BOTH token expansions
        # (unigram explode + bigram transform-explode), each to a
        # 1-row count — the two corpus passes the lift statistic
        # inherently needs.
        docs = load_table(spark, sf, "documents", widen=True)
        docs.select(
            F.explode(F.split(F.col("text"), " ", -1)).alias("u")
        ).agg(F.count(F.lit(1))).toPandas()
        (
            docs.select(F.split(F.col("text"), " ", -1).alias("t"))
            .select(
                F.explode(
                    F.expr(
                        "CASE WHEN size(t) >= 2 THEN "
                        "transform(sequence(1, size(t) - 1), "
                        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
                        "ELSE array() END"
                    )
                ).alias("b")
            )
            .agg(F.count(F.lit(1)))
            .toPandas()
        )

    def window_orders_sort_collect():
        # window_lead_lag minus the navigation functions: the same
        # orders scan, the same one keyed shuffle + in-partition sort,
        # and an output-WIDTH-matched Arrow collect of the full result
        # (the output IS the table + 4 derived columns) with lag/lead/
        # first/row_number replaced by column copies — the floor any
        # navigation-window plan of this shape pays.
        (
            load_table(spark, sf, "orders")
            .repartition(F.col("o_custkey"))
            .sortWithinPartitions("o_orderdate", "o_orderkey")
            .select(
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                F.col("o_totalprice").alias("prev_price"),
                F.col("o_totalprice").alias("next_price"),
                F.col("o_totalprice").alias("first_price"),
                F.col("o_orderkey").alias("order_seq"),
            )
            .toPandas()
        )

    def asof_union_sort_collect():
        # asof_join minus the running last(ignorenulls) pair: both
        # scans (events + orders — serialized on single-row-group
        # fixtures, the scan_ceiling note), the same tagged union, the
        # same one keyed shuffle + 3-key in-partition sort, the events-
        # only filter, and the width-matched collect of the event-count
        # result.  What the real query adds on top is exactly the two
        # O(1)-state window columns.
        ev = load_table(spark, sf, "events").select(
            F.col("user_id").alias("k"),
            F.col("ts").alias("t"),
            F.lit(0).alias("is_order"),
            F.lit(None).cast("long").alias("o_orderkey"),
            F.lit(None).cast("double").alias("o_totalprice"),
            "event_id",
        )
        od = load_table(spark, sf, "orders").select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("t"),
            F.lit(1).alias("is_order"),
            "o_orderkey",
            "o_totalprice",
            F.lit(None).cast("long").alias("event_id"),
        )
        (
            od.unionByName(ev)
            .repartition(F.col("k"))
            .sortWithinPartitions(
                F.col("t").asc(),
                F.col("is_order").desc(),
                F.col("o_orderkey").asc(),
            )
            .filter(F.col("is_order") == 0)
            .select(
                "event_id",
                F.col("k").alias("user_id"),
                F.col("t").alias("ts"),
                F.col("k").alias("asof_orderkey"),
                F.col("o_totalprice").alias("asof_totalprice"),
            )
            .toPandas()
        )

    def run_query(name):
        def f():
            getattr(spark, "_smsp_plan_cache", {}).clear()
            qs[name](spark, sf).toPandas()

        return f

    # Certificate-cost segmentation (VERDICT r12 item 8): the
    # registered ANN queries return completeness CERTIFICATES — exact
    # top-k + membership + falsifiable flags — while their raw ANN
    # neighbor relations are separate library entry points.  Timing
    # both (warm, same session) splits each bench row's wall into "the
    # ANN search a consumer pays" vs "the exact-baseline verification
    # the certificate deliberately recomputes".
    from s3_manifest_spark.operators.similarity import (
        ann_neighbors,
        knn_graph_ann_neighbors,
    )

    def run_neighbors(fn, *args):
        def f():
            fn(spark, sf, *args).toPandas()

        return f

    # knn_graph_ann_sampled split (VERDICT r14 item 2): the sampled
    # certificate's wall decomposes into (a) the served-index candidate
    # sweep — the cost knn_graph_ann ALSO pays warm, (b) the sampled
    # exact-BLAS side (one broadcast-query corpus pass, served from the
    # session cache on the warm path — measured here as a fresh build),
    # and (c) the membership joins (ditto).  Legs (b)/(c) evict their
    # model-cache entries first so the timing is the honest rebuild,
    # then leave the rebuilt cache in place for the interleaved warm
    # query leg.
    from s3_manifest_spark.operators.similarity import (
        _knn_ann_index_cached,
        _knn_ann_membership,
        _knn_exact_sampled,
        _knn_query_pack_cached,
    )
    from s3_manifest_spark.registry import session_model_cache

    def served_index_sweep():
        knn_graph_ann_neighbors(
            spark, sf, index=_knn_ann_index_cached(spark, sf)
        ).toPandas()

    def sampled_sweep():
        # the sampled certificate's actual warm sweep: broadcast the
        # session-cached query pack against the served index
        idx = _knn_ann_index_cached(spark, sf)
        exact = _knn_exact_sampled(spark, sf)
        knn_graph_ann_neighbors(
            spark,
            sf,
            index=idx,
            probing_pack=_knn_query_pack_cached(spark, sf, exact, idx[1]),
        ).toPandas()

    def sampled_exact_blas():
        session_model_cache(spark).pop(("knn_exact_sampled", sf), None)
        _knn_exact_sampled(spark, sf).toPandas()

    def sampled_membership():
        # pop + rebuild THROUGH the caching wrapper so the leg times
        # the honest rebuild but leaves the cache populated for the
        # interleaved warm query leg
        from s3_manifest_spark.operators.similarity import (
            _knn_ann_index_cached,
            _membership_cached,
        )

        session_model_cache(spark).pop(("ann_membership_knn_s", sf), None)
        exact = _knn_exact_sampled(spark, sf)
        idx = _knn_ann_index_cached(spark, sf)
        # planes must match the query leg's (r16): a planes-less
        # rebuild stores a legacy 1-tuple the query leg's planes check
        # rejects — the warm leg would silently re-pay the rebuild
        # every alternation (the r15 wrapper-rebuild trap, again).
        _membership_cached(
            spark, sf, "knn_s",
            lambda: _knn_ann_membership(spark, sf, exact, planes=idx[1]),
            planes=idx[1],
        ).toPandas()

    def sampled_query_pack_build():
        session_model_cache(spark).pop(("knn_query_pack", sf), None)
        idx = _knn_ann_index_cached(spark, sf)
        exact = _knn_exact_sampled(spark, sf)
        _knn_query_pack_cached(spark, sf, exact, idx[1]).toPandas()

    legs = {
        "documents_python_pass": identity_docs,
        "embeddings_python_pass": identity_emb,
        "manifest_project_raw_collect": raw_listing_collect,
        "manifest_prefix_raw_collect": prefix_filter_raw_collect,
        "q:manifest_prefix_filter": run_query("manifest_prefix_filter"),
        "manifest_prune_model_agg": prune_model_agg,
        "skew_perkey_agg": skew_perkey_agg,
        "stats_pandas_groups_pass": stats_pandas_groups_pass,
        "q:stats_funcs": run_query("stats_funcs"),
        "range_join_scan_agg": range_join_scan_agg,
        "q:range_join_bands": run_query("range_join_bands"),
        "local_relation_roundtrip": local_relation_roundtrip,
        "trigram_expand_count": trigram_expand_count,
        "chunk_expand_count": chunk_expand_count,
        "bigram_unigram_expand_count": bigram_unigram_expand_count,
        "window_orders_sort_collect": window_orders_sort_collect,
        "q:window_lead_lag": run_query("window_lead_lag"),
        "asof_union_sort_collect": asof_union_sort_collect,
        "q:asof_join": run_query("asof_join"),
        "q:ngram_corpus_topk": run_query("ngram_corpus_topk"),
        "q:chunk_dedup_boilerplate": run_query("chunk_dedup_boilerplate"),
        "q:bigram_lift_topk": run_query("bigram_lift_topk"),
        # the weak queries themselves, same session, same interleaving
        "q:tfidf_topterms": run_query("tfidf_topterms"),
        "q:dedup_embedding": run_query("dedup_embedding"),
        "q:bpe_train": run_query("bpe_train"),
        "q:lm_perplexity": run_query("lm_perplexity"),
        "q:semdedup": run_query("semdedup"),
        "q:dedup_embedding_lsh_hi": run_query("dedup_embedding_lsh_hi"),
        "q:manifest_project": run_query("manifest_project"),
        "q:manifest_prune": run_query("manifest_prune"),
        "q:skew_report": run_query("skew_report"),
        # raw-ANN vs certificate split
        "ann:lsh": run_neighbors(ann_neighbors, "lsh"),
        "ann:ivf": run_neighbors(ann_neighbors, "ivf"),
        "ann:pq": run_neighbors(ann_neighbors, "pq"),
        "ann:ivf_pq": run_neighbors(ann_neighbors, "ivf_pq"),
        "ann:knn_graph_ann_neighbors": run_neighbors(knn_graph_ann_neighbors),
        "ann:knn_graph_ann_neighbors_served": served_index_sweep,
        "ann:knn_sampled_sweep": sampled_sweep,
        "cert:knn_sampled_exact_blas": sampled_exact_blas,
        "cert:knn_sampled_membership": sampled_membership,
        "cert:knn_query_pack_build": sampled_query_pack_build,
        "q:knn_graph_ann": run_query("knn_graph_ann"),
        "q:knn_graph_ann_sampled": run_query("knn_graph_ann_sampled"),
        "q:similarity_ann_lsh": run_query("similarity_ann_lsh"),
        "q:similarity_ivf": run_query("similarity_ivf"),
        "q:similarity_pq": run_query("similarity_pq"),
        "q:similarity_ivf_pq": run_query("similarity_ivf_pq"),
    }
    samples: dict[str, list] = {n: [] for n in legs}
    for _ in range(RUNS):
        for name, fn in legs.items():
            t0 = time.perf_counter()
            fn()
            samples[name].append(round(time.perf_counter() - t0, 4))

    out = {
        "sf_dir": sf,
        "cpus": int(cpus),
        "runs": RUNS,
        "samples": samples,
        "min": {n: min(s) for n, s in samples.items()},
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "PROBE_FLOORS.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out["min"], indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
