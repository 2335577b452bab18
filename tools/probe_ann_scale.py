"""sf1-equivalent probe for the SIMILARITY/ANN family and
dedup_clusters (SCALE.md): the two families whose 100 TB claims were
analytic-only before r9.  Construction mirrors the manifest/text
probes (a76c8d3/1a55e1c): ten disjoint-id-shifted copies of the sf0.1
fixture, written as real parquet so every operator runs UNMODIFIED
through its registered (spark, sf_dir) surface.

Design choices that make the 10x row measure CORPUS-side cost only:

- embeddings: copy 0 keeps the original vec_ids; copies 1..9 get
  ``100000*i + 100*orig + 1`` — congruent 1 (mod QUERY_STRIDE), so the
  stride-100 query-selection picks EXACTLY the same 20 query vectors
  at 1x and 10x.  Fixed query load, 10x corpus: the scaling question.
- copies 1..9 are re-normalized with seeded Gaussian perturbation
  (RandomState(i), sigma 0.1) so the 10x geometry is non-degenerate
  (clone-only buckets would understate LSH/IVF scoring cost).
- documents: copies 1..9 tag every token with the copy index, so
  cross-copy 3-gram Jaccard is ~0 and the near-dup pair graph scales
  exactly 10x (same per-copy density) — dedup_clusters then labels a
  10x graph, not a pathological 10-clique blowup.

Reports cold (rep 1: includes model/index builds) and warm (rep 2:
session-cached codebooks/centroids) walls, plus the PQ-vs-IVF-Flat
index memory story.  Usage: python tools/probe_ann_scale.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
COPIES = 10

from s3_manifest_spark.session import get_spark

spark = get_spark(
    app_name="ann-scale-probe",
    master=f"local[{CPUS}]",
    extra_confs={
        "spark.driver.memory": "24g",
        "spark.sql.shuffle.partitions": CPUS,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")

from s3_manifest_spark import registry  # noqa: E402
from s3_manifest_spark.operators.dedup import (  # noqa: E402
    dedup_clusters,
    dedup_ngram_jaccard,
)
from s3_manifest_spark.operators.similarity import (  # noqa: E402
    PQ_M,
    ann_neighbors,
    similarity_topk,
)

registry.load_all()


def synth_10x(base: str) -> str:
    """Write the 10x embeddings+documents fixture dirs; returns dir."""
    out = os.path.join(base, "x10")
    os.makedirs(out, exist_ok=True)

    # each copy is its own part file (dir-shaped table, as Spark
    # writes them): ten scans parallelize, mirroring the manifest
    # probe's union-of-ten construction — a single 1-row-group file
    # would serialize every Arrow kernel onto one task and measure
    # partitioning pathology, not operator scaling
    edir = os.path.join(out, "embeddings.parquet")
    os.makedirs(edir, exist_ok=True)
    e = pd.read_parquet(os.path.join(SF, "embeddings.parquet"))
    mat = np.stack(e["embedding"].to_numpy()).astype("float64")
    e.to_parquet(os.path.join(edir, "part-0.parquet"), index=False)
    for i in range(1, COPIES):
        p = mat + np.random.RandomState(i).standard_normal(mat.shape) * 0.1
        p /= np.linalg.norm(p, axis=1, keepdims=True)
        c = e.copy()
        c["vec_id"] = 100_000 * i + 100 * e["vec_id"].to_numpy() + 1
        c["embedding"] = list(p.astype("float32"))
        c.to_parquet(os.path.join(edir, f"part-{i}.parquet"), index=False)

    ddir = os.path.join(out, "documents.parquet")
    os.makedirs(ddir, exist_ok=True)
    d = pd.read_parquet(os.path.join(SF, "documents.parquet"))
    d.to_parquet(os.path.join(ddir, "part-0.parquet"), index=False)
    for i in range(1, COPIES):
        c = d.copy()
        c["doc_id"] = 100_000 * i + d["doc_id"].to_numpy()
        # tag every token: cross-copy shingle overlap -> 0, per-copy
        # pair-graph density unchanged -> edges scale exactly 10x
        c["text"] = (f"k{i}" + d["text"].str.replace(" ", f" k{i}", regex=False))
        c.to_parquet(os.path.join(ddir, f"part-{i}.parquet"), index=False)
    return out


def wall(fn):
    t0 = time.perf_counter()
    n = fn().count()
    return time.perf_counter() - t0, n


def probe(sf_dir: str, tag: str) -> dict:
    res = {}
    cases = {
        "similarity_topk (brute BLAS)": lambda: similarity_topk(spark, sf_dir),
        "ann_neighbors(lsh)": lambda: ann_neighbors(spark, sf_dir, "lsh"),
        "ann_neighbors(ivf)": lambda: ann_neighbors(spark, sf_dir, "ivf"),
        "ann_neighbors(pq)": lambda: ann_neighbors(spark, sf_dir, "pq"),
        "dedup_ngram_jaccard (pair relation)": lambda: dedup_ngram_jaccard(
            spark, sf_dir
        ),
        "dedup_clusters (pairs + labeling)": lambda: dedup_clusters(
            spark, sf_dir
        ),
        # r9 trained-model scorers (mid-class bench rows): measured
        # here to back their model_scoring_floor annotation
        "lm_perplexity (bigram-LM scoring)": lambda: registry.QUERIES[
            "lm_perplexity"
        ](spark, sf_dir),
        "semdedup (cluster-then-prune)": lambda: registry.QUERIES[
            "semdedup"
        ](spark, sf_dir),
    }
    for name, fn in cases.items():
        registry.clear_model_cache(spark)
        cold, n = wall(fn)
        warm, _ = wall(fn)
        res[name] = (cold, warm, n)
        print(
            f"[{tag}] {name}: cold {cold:.2f}s warm {warm:.2f}s rows={n}",
            flush=True,
        )
    return res


def main() -> int:
    base = tempfile.mkdtemp(prefix="ann-scale-")
    try:
        x10 = synth_10x(base)
        nrows = pd.read_parquet(os.path.join(x10, "embeddings.parquet"))
        print(f"synth: {len(nrows)} vectors, dim "
              f"{len(nrows['embedding'].iloc[0])} -> {x10}", flush=True)
        # JVM/codegen warmup so "cold" means model-build cost, not
        # first-job machinery
        similarity_topk(spark, SF).count()
        dedup_clusters(spark, SF).count()
        registry.clear_model_cache(spark)
        r1 = probe(SF, "1x")
        r10 = probe(x10, "10x")
        dim = len(nrows["embedding"].iloc[0])
        print("\n| operator | 1x cold | 1x warm | 10x cold | 10x warm | "
              "10x/1x (warm) |")
        print("|---|---|---|---|---|---|")
        for name in r1:
            c1, w1, _ = r1[name]
            c10, w10, _ = r10[name]
            print(
                f"| {name} | {c1:.2f} s | {w1:.2f} s | {c10:.2f} s | "
                f"{w10:.2f} s | {w10 / w1:.1f}x |"
            )
        print(
            f"\nindex memory: PQ codes {PQ_M} B/vector vs IVF-Flat "
            f"{dim * 4} B/vector (float32) = {dim * 4 / PQ_M:.0f}x smaller"
        )
        return 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
