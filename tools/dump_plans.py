#!/usr/bin/env python
"""Physical-plan dumps of registered queries.

Headline audit — regenerate PLANS.md: formatted physical plans of the
headline queries with one-line commentary, the `.explain("formatted")`
audit trail for the plans the engine actually produces:

    python tools/dump_plans.py > PLANS.md

Before/after warm plans — write DIR/<query>_<tag>.txt for a change's
plan diff.  Each query runs once cold (the first call builds session
caches and models), then its WARM plan — the shape the benchmarks time
— is captured, so before/after diffs compare serving plans, not
one-off builds.  Run the `before` leg from a checkout of the parent
commit (copy this script into it) with the same --out:

    python tools/dump_plans.py --queries q1,q2 --tag after --out plans/x
    SPARK_GRAFT_SF_DIR=<fixture dir> python tools/dump_plans.py --queries ...

The warm-plan mode reads SPARK_GRAFT_SF_DIR (default: the sf0.01 fixture
next to SF).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

#: query -> why this plan is the one you'd want at 100 TB
HEADLINERS = {
    "manifest_project": "single codegen'd projection; the one Exchange "
    "is the gated scan-widening for single-row-group fixture files — "
    "self-disabling when row groups >= cores (production layouts), "
    "pinned by test_widen_gate_disables_at_scale",
    "star_join_revenue": "dimension chain broadcast, fact scans filtered "
    "at the source, one shuffled agg",
    "skew_salted_join": "fact salted / dim replicated: the hot key "
    "spreads over N reducers instead of one straggler",
    "vocab_topk": "explode stays in-task; ONE combinable shuffle of "
    "(token, partial) pairs; TakeOrdered on the aggregate",
    "dedup_minhash_lsh": "signature agg + banded buckets: shuffle is "
    "O(docs x bands), never all-pairs",
    "dedup_embedding": "packed block rows cross-joined upper-triangular; "
    "BLAS per pair in mapInPandas; no driver collect",
    "similarity_topk": "corpus never shuffles: per-batch partial top-k "
    "under the final ordering, window merges k*batches rows",
    "percentile_dist_exact": "range sort + metadata-guided straddle "
    "pick: exact quantiles with no per-group buffering",
    "asof_join": "union + per-key running last(): ONE shuffle keyed by "
    "the join key, no per-interval explosion",
    "ohlc_hourly": "min_by/max_by on an encoded monotone key: pure "
    "partial agg, no window, no per-key sort",
    "manifest_apply_changes": "CDC apply over the session-shared "
    "per-key state (r8): the InMemoryTableScan IS the maintained "
    "snapshot state — built once by ONE conditional aggregation "
    "(old/feed maxima in the same groupBy, packed-key, "
    "repartition-first because listing keys are near-unique), then "
    "served to diff AND apply; the merge cases are a stateless "
    "projection with ZERO further exchanges (pinned)",
    "dedup_embedding_lsh_hi": "warm ANN-index serving shape (r8): "
    "candidates + candidate-filtered vectors come from the "
    "session-cached LSH index (InMemoryTableScans), so the plan is "
    "two AQE-broadcast joins + one Arrow-batched exact-verify kernel "
    "— the signature matmul, bucket exchange and corpus scan appear "
    "only in the index build (cold_sec in BENCH_FULL.json)",
    "manifest_stats": "string round-trips fused out by hand "
    "(substring_index(concat(...)) == concat('data/', rf); "
    "to_timestamp(date_format(ts)) == ms-truncated ts): a 3-group "
    "map-combinable aggregate straight over the source columns, "
    "equality with the unfused composition pinned by "
    "test_stats_fusion_equals_unfused",
    "contamination_screen": "joinless screen: sorted probe-fingerprint "
    "array broadcast inside the membership kernel (searchsorted + "
    "reduceat); per-doc hit counts final in-kernel — no join, no "
    "aggregation exchange, only the widen-gate repartition",
    "contamination_bloom": "certificate form: ONE fused dual-screen "
    "kernel (exact searchsorted + bloom bit test per fingerprint "
    "batch); the corpus never shuffles — the only exchanges are the "
    "widen gate and the tiny totals broadcast",
    "bpe_tokenize": "trained tokenizer folded into the plan (r9): "
    "single Scan->Project, the 12 learned merges are nested literal "
    "replaces, token count is a symbol-array size — zero shuffles, "
    "zero Python, 2-column pruned scan",
    "bm25_topk": "two corpus scans total (r9): ONE combinable stats "
    "aggregate (N/avgdl/per-term df) broadcast over a shuffle-free "
    "scoring projection; global top-k is a TakeOrdered merge of "
    "per-partition partials",
    "zorder_layout": "the 32-term Morton interleave folds into ONE "
    "whole-stage-codegen projection + a 256-key combinable rollup: "
    "no Python, no wide shuffle — OPTIMIZE ZORDER planning as a "
    "metadata job",
    "vacuum_plan": "pure CDC-state consumer (r11): InMemoryTableScan "
    "of the shared per-key snapshot state with the dangling filter "
    "pushed into the cache scan — no re-scan, no keyed exchange of "
    "its own; mtime strings rebuilt per RESULT row after the rollup",
    "manifest_prune": "two-level scan planning: per-prefix stats "
    "partials combine map-side; the final decision aggregates the "
    "TINY group relation, never the file list",
    "graph_pagerank": "fixed-K power iteration unrolled into ONE lazy "
    "plan (r10): per round a tiny node-keyed pr⋈deg pre-join "
    "(AQE-broadcast) then a SINGLE |E|-touching join + one dst-keyed "
    "partial-agg exchange — no per-round persist/count barrier, edges "
    "and degrees cached once",
    "embedding_quantize_int8": "one codegen projection of array "
    "higher-order functions (r9): scale/codes/saturation/MSE all "
    "derived in-task; no shuffle, no Python",
    "dedup_canonical": "serves the session component-label model "
    "(r13): the scanned checkpoint IS the converged labeling, so the "
    "election is a left join over the docs scan + one co-keyed "
    "max_by aggregation + the keeper join-back — the propagation "
    "loop runs only at fit time (priced in cold_sec)",
    "tfidf_topterms": "zero-exchange scoring (r7/r13): dfreq model "
    "broadcast under TFIDF_VOCAB_BROADCAST_CAP feeds one Arrow "
    "kernel pass — per-doc tf, idf gather, and in-batch top-k all "
    "local; over the cap the model stays relational and the plan "
    "switches to term-join + doc-window (pinned by "
    "test_tfidf_relational_plan_is_two_keyed_exchanges)",
    "ngram_corpus_topk": "token array materialized BEFORE the "
    "interpreted transform lambda (r13 — slice(split(text)) inside "
    "the lambda re-splits per window, O(tokens²)/doc, measured 15× "
    "slower); explode stays in-task, ONE combinable (ngram, partial) "
    "shuffle, TakeOrdered top-K",
    "knn_graph": "exact corpus kNN graph (r13): packed block rows "
    "cross-joined into B² ordered pairs, one BLAS A@Bᵀ per pair with "
    "per-row local top-k under the final order, window merges ≤k·B "
    "candidates per vector — corpus never broadcast, no driver "
    "collect",
    "embedding_covariance": "two-phase Gram reduction (r13): one "
    "Eᵀ@E per Arrow batch emits dim(dim+1)/2 partial rows; the only "
    "keyed exchange carries ~2080 rows/batch regardless of corpus "
    "size (a posexplode pair-join would ship dim²× the corpus)",
    "doc_containment": "join-free asymmetric dedup (r13): the "
    "jaccard shape's shingle-keyed exchange + pair-keyed count, then "
    "direction fan-out as a post-agg explode — zero Join operators",
    "attribution_touch": "ONE user-keyed exchange (r13): all four "
    "first/last(ignorenulls) attribution columns share a single "
    "window frame; purchase filter is post-window codegen",
    "knn_graph_ann": "production kNN graph (r14): bucket-keyed packed "
    "blocks EQUI-joined on the probed bucket id ((1+planes)·2^planes "
    "candidate pairs, no CartesianProduct — pinned by "
    "test_knn_graph_ann_is_candidate_bounded), same per-pair BLAS "
    "scorer + window merge as the exact sweep; plane count scales "
    "log2(N/occ) so the pair relation grows ~linearly with the corpus",
    "knn_ann_tuning_curve": "ANN configuration evidence (r15): ONE "
    "aggregate pass over the session-cached k·N exact relation (Scan "
    "ExistingRDD — never a rebuilt O(N²d) sweep), 18 (planes, radius) "
    "configs as 36 agg columns + stack unpivot; no Join anywhere "
    "(pinned by test_knn_ann_tuning_curve_is_one_agg_pass)",
}


def dump_warm(qs, spark, queries: list[str], tag: str, out: str) -> None:
    """Write each query's warm serving plan to ``out/<query>_<tag>.txt``."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(SF), "sf0.01"))
    os.makedirs(out, exist_ok=True)
    for name in queries:
        qs[name](spark, sf).count()  # warm session caches / models
        spark._smsp_plan_cache.clear()  # noqa: SLF001 — rebuild the plan warm
        df = qs[name](spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — {tag} (warm serving plan, {sf})\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--queries", help="comma-separated registered query names")
    ap.add_argument("--tag", default="after", help="file suffix, e.g. before|after")
    ap.add_argument("--out", help="output directory for <query>_<tag>.txt")
    args = ap.parse_args()
    if bool(args.queries) != bool(args.out):
        ap.error("--queries and --out go together")

    from s3_manifest_spark.session import get_spark

    spark = get_spark(app_name="dump-plans", extra_confs={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args.queries:
        dump_warm(qs, spark, args.queries.split(","), args.tag, args.out)
        return 0
    print("# PLANS — physical-plan audit of the headline queries")
    print()
    print("Generated by `python tools/dump_plans.py` at sf0.001 (plan shape")
    print("is scale-independent; AQE may further coalesce at runtime).")
    print("`tests/test_plans.py` pins the load-bearing properties.")
    for name, why in HEADLINERS.items():
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        # keep the tree; drop the verbose per-node field dumps
        tree = plan.split("\n\n")[0]
        # unrolled iterative plans (graph_pagerank: K chained rounds
        # over the pair-relation subtree) format to thousands of
        # lines; the audit value is the top-of-tree shape, so elide
        lines = tree.strip().split("\n")
        if len(lines) > 120:
            lines = lines[:120] + [
                f"   ... ({len(lines) - 120} more lines — unrolled "
                "iteration subtree repeats the shape above)"
            ]
            tree = "\n".join(lines)
        print()
        print(f"## {name}")
        print()
        print(f"*{why}*")
        print()
        print("```")
        print(tree.strip())
        print("```")
    return 0


if __name__ == "__main__":
    sys.exit(main())
