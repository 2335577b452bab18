"""100x scaling probe for the headline dedup + ANN paths (VERDICT r11
item 4): dedup_minhash_lsh end-to-end and the similarity_pq ADC scan.

Method: the synthesized-union approach of probe_r10/r11_scale.py taken
to 100 copies (sf0.1 documents 5k -> 500k docs; embeddings 5k -> 500k
vectors).  For the text corpus each copy's tokens are prefixed with a
copy tag (one regexp at BUILD time, excluded from timing), so shingle
spaces are disjoint across copies: duplicate DENSITY stays constant
and candidate volume must scale ~linearly — a corpus where every doc
has 99 extra near-dups would instead measure a deliberately
pathological quadratic regime.  For PQ the query set is held FIXED
(production: query load does not grow with corpus size); the scan,
window merge, and exact refine all run over the 100x corpus.

Shuffle volume per timed run is read from the AppStatusStore (sum of
stage shuffle-write bytes), so superlinear shuffle growth is measured,
not inferred.  Usage: python tools/probe_r12_scale100.py [copies]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s3_manifest_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
COPIES = int(sys.argv[1]) if len(sys.argv) > 1 else 100

spark = get_spark(
    app_name="r12-scale100-probe",
    master=f"local[{CPUS}]",
    extra_confs={
        "spark.driver.memory": "48g",
        "spark.sql.shuffle.partitions": CPUS,
        # UI stays ON here (unlike the bench sessions): the probe reads
        # per-stage shuffle-write bytes from the local REST API.
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from s3_manifest_spark.operators.dedup import (  # noqa: E402
    JACCARD_THRESHOLD,
    LSH_BANDS,
    MINHASH_K,
    MINHASH_MAX_DF,
    _PAIRS,
    cap_document_frequency,
    shingle_fingerprints,
)
from s3_manifest_spark.operators.similarity import (  # noqa: E402
    PQ_M,
    PQ_REFINE,
    _merge,
    _pq_codebooks,
    _QueryState,
    _refine,
    _scan,
)
from s3_manifest_spark.sources.tables import load_table  # noqa: E402

spark.read.parquet(f"{SF}/nation.parquet").groupBy("n_regionkey").count().collect()
spark.range(32).repartition(32).mapInPandas(lambda it: it, schema="id long").count()


def shuffle_write_bytes() -> int:
    """Total shuffle-write bytes across all stages so far (local UI
    REST API — the same numbers the Spark UI's stage table shows)."""
    import json as _json
    import urllib.request

    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages", timeout=10
        ) as r:
            stages = _json.load(r)
        return int(sum(s.get("shuffleWriteBytes", 0) for s in stages))
    except Exception:
        return -1


def timed(fn, reps: int = 3):
    best, best_shuf, n = None, None, None
    for _ in range(reps):
        s0 = shuffle_write_bytes()
        t0 = time.perf_counter()
        n = fn()
        dt = time.perf_counter() - t0
        shuf = shuffle_write_bytes() - s0 if s0 >= 0 else -1
        if best is None or dt < best:
            best, best_shuf = dt, shuf
    return best, best_shuf, n


# --------------------------------------------------------------------------
# dedup_minhash_lsh end-to-end over a parameterized docs relation
# --------------------------------------------------------------------------
def minhash_lsh_core(docs, n_docs: int) -> int:
    raw_sh = shingle_fingerprints(docs, with_count=True)
    # Cap ALWAYS on here (the operator skips it below MINHASH_MAX_DF
    # docs): at 100x it's mandatory, so running it at 1x too keeps the
    # growth factor like-with-like instead of charging the whole cap
    # shuffle to the scaled side.
    raw_sh = cap_document_frequency(raw_sh, MINHASH_MAX_DF, col="fp")
    sh = raw_sh.persist()
    try:
        sig = sh.groupBy("doc_id").agg(
            F.first("n").alias("n"),
            *[
                F.min(F.xxhash64(F.lit(i), F.col("fp"))).alias(f"h{i}")
                for i in range(MINHASH_K)
            ],
        )
        rows_per_band = MINHASH_K // LSH_BANDS
        band_cols = [
            F.struct(
                F.lit(b).alias("band"),
                F.hash(
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("bh"),
            )
            for b in range(LSH_BANDS)
        ]
        buckets = sig.select(
            "doc_id", "n", F.explode(F.array(*band_cols)).alias("bb")
        ).select(
            "doc_id", "n", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
        )
        grouped = (
            buckets.groupBy("band", "bh")
            .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
            .filter(F.size("ds") >= 2)
        )
        candidates = (
            grouped.select(F.explode(F.expr(_PAIRS.format(c="ds"))).alias("p"))
            .select(
                F.col("p.a.doc_id").alias("doc_a"),
                F.col("p.a.n").alias("na"),
                F.col("p.b.doc_id").alias("doc_b"),
                F.col("p.b.n").alias("nb"),
            )
            .distinct()
        )
        sa = sh.select(F.col("doc_id").alias("doc_a"), "fp")
        sb = sh.select(F.col("doc_id").alias("doc_b"), "fp").join(
            F.broadcast(candidates.select("doc_b").distinct()), "doc_b"
        )
        inter = (
            sa.join(F.broadcast(candidates), "doc_a")
            .join(sb, ["doc_b", "fp"])
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count(F.lit(1)).alias("inter"),
                F.first("na").alias("na"),
                F.first("nb").alias("nb"),
            )
        )
        jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        return inter.filter(jac >= JACCARD_THRESHOLD).count()
    finally:
        sh.unpersist(blocking=False)


d1 = load_table(spark, SF, "documents").select("doc_id", "text")
n1 = d1.count()
print(f"building {COPIES}x corpus ({n1 * COPIES} docs, copy-tagged tokens)...",
      flush=True)
parts = []
for i in range(COPIES):
    parts.append(
        d1.select(
            (F.col("doc_id") + F.lit(i * 10**9)).alias("doc_id"),
            # disjoint shingle spaces per copy: tag every token
            F.regexp_replace("text", r"(^|\s)(\S)", f"$1c{i}_$2").alias("text"),
        )
    )
dN = parts[0]
for p in parts[1:]:
    dN = dN.unionAll(p)
dN = dN.repartition(int(CPUS)).localCheckpoint(eager=True)
nN = dN.count()

t1, s1, pairs1 = timed(lambda: minhash_lsh_core(d1, n1))
tN, sN, pairsN = timed(lambda: minhash_lsh_core(dN, nN))
print(
    f"dedup_minhash_lsh e2e: 1x={t1:.2f}s ({pairs1} pairs, "
    f"shuffle {s1 / 1e6:.0f} MB) {COPIES}x={tN:.2f}s ({pairsN} pairs, "
    f"shuffle {sN / 1e6:.0f} MB) growth={tN / t1:.1f}x "
    f"shuffle_growth={sN / max(s1, 1):.1f}x "
    f"(df-cap engaged at {COPIES}x: {MINHASH_MAX_DF < nN})",
    flush=True,
)

# --------------------------------------------------------------------------
# similarity_pq ADC scan + window merge + exact refine, fixed query set
# --------------------------------------------------------------------------
books = _pq_codebooks(spark, SF)  # trained once on the base corpus
e1 = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
qpdf = (
    e1.filter(F.col("vec_id") % 100 == 0).orderBy("vec_id").limit(64).toPandas()
)
qids = qpdf["vec_id"].to_numpy(dtype="int64")
qm = np.stack(qpdf["embedding"].to_numpy()).astype("float64")
qm /= np.linalg.norm(qm, axis=1, keepdims=True)
dsub = books.shape[2]
lut = np.stack(
    [qm[:, m * dsub : (m + 1) * dsub] @ books[m].T for m in range(PQ_M)], axis=1
)
# the protocol's query state for the fixed query set: no routing, ADC
# scorer (the "pq" family), so the timed plan is the operator's own
# scan + window merge + exact refine
bc = spark.sparkContext.broadcast(_QueryState(qids, qm, None, None, books, lut))


def pq_scan_core(v) -> int:
    return _refine(v, bc, _merge(_scan(v, bc, PQ_REFINE), PQ_REFINE)).count()


print(f"building {COPIES}x embedding corpus...", flush=True)
eparts = [
    e1.select((F.col("vec_id") + F.lit(i * 10**9)).alias("vec_id"), "embedding")
    for i in range(COPIES)
]
eN = eparts[0]
for p in eparts[1:]:
    eN = eN.unionAll(p)
eN = eN.repartition(int(CPUS)).localCheckpoint(eager=True)

t1, s1, k1 = timed(lambda: pq_scan_core(e1))
tN, sN, kN = timed(lambda: pq_scan_core(eN))
print(
    f"similarity_pq ADC scan+refine (fixed {len(qids)} queries): "
    f"1x={t1:.2f}s ({k1} rows, shuffle {s1 / 1e6:.1f} MB) "
    f"{COPIES}x={tN:.2f}s ({kN} rows, shuffle {sN / 1e6:.1f} MB) "
    f"growth={tN / t1:.1f}x shuffle_growth={sN / max(s1, 1):.1f}x",
    flush=True,
)
