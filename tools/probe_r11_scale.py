"""10x scaling probe for the r11 additions (SCALE.md rows):
profile_table_approx, dataset_split, heavy_hitters_cms,
embedding_matryoshka.  Standard method: operator core over the sf0.1
input and a 10x synthesized union (disjoint-shifted copies),
min-of-3.  Usage: python tools/probe_r11_scale.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s3_manifest_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
COPIES = 10

spark = get_spark(
    app_name="r11-scale-probe",
    master=f"local[{CPUS}]",
    extra_confs={
        "spark.driver.memory": "24g",
        "spark.sql.shuffle.partitions": CPUS,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")

from pyspark.sql import functions as F  # noqa: E402

from s3_manifest_spark.sources.tables import load_table  # noqa: E402

spark.read.parquet(f"{SF}/nation.parquet").groupBy("n_regionkey").count().collect()
spark.range(32).repartition(32).mapInPandas(lambda it: it, schema="id long").count()


def timed(fn):
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        n = fn()
        best = min(best or 9e9, time.perf_counter() - t0)
    return best, n


def copies(df, shifts: dict):
    out = None
    for i in range(COPIES):
        c = df
        for col, mk in shifts.items():
            c = c.withColumn(col, mk(i))
        out = c if out is None else out.unionAll(c)
    return out


# ---- profile_table_approx core (wide agg incl. 5 HLL sketches) ------------
from s3_manifest_spark.operators.lakehouse import PROFILE_COLS  # noqa: E402


def profile_approx_core(li):
    aggs = [F.count(F.lit(1)).alias("_total")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
            F.hll_sketch_estimate(F.hll_sketch_agg(c))
            .cast("long")
            .alias(f"ad_{c}"),
        ]
    return li.agg(*aggs).count()


li1 = load_table(spark, SF, "lineitem").select(*PROFILE_COLS)
li10 = copies(
    li1, {"l_orderkey": lambda i: F.col("l_orderkey") + F.lit(i * 10**10)}
).localCheckpoint(eager=True)
t1, _ = timed(lambda: profile_approx_core(li1))
t10, _ = timed(lambda: profile_approx_core(li10))
print(f"profile_table_approx (sketch agg): 1x={t1:.2f}s 10x={t10:.2f}s "
      f"growth={t10 / t1:.1f}x")

# ---- dataset_split core ----------------------------------------------------
from s3_manifest_spark.operators.curation import (  # noqa: E402
    _SPLIT_HASH_SPARK,
    _split_case,
)


def split_core(docs):
    return (
        docs.selectExpr(
            f"{_split_case(_SPLIT_HASH_SPARK)} AS split",
            "lang",
            "doc_id",
            "length(text) AS text_len",
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("text_len").alias("text_mass"),
        )
        .count()
    )


d1 = load_table(spark, SF, "documents").select("doc_id", "text", "lang")
d10 = copies(
    d1, {"doc_id": lambda i: F.col("doc_id") + F.lit(i * 10**9)}
).localCheckpoint(eager=True)
t1, _ = timed(lambda: split_core(d1))
t10, _ = timed(lambda: split_core(d10))
print(f"dataset_split: 1x={t1:.2f}s 10x={t10:.2f}s growth={t10 / t1:.1f}x")

# ---- heavy_hitters_cms core (explode + CMS agg + exact top-N) -------------
from s3_manifest_spark.operators.curation import (  # noqa: E402
    CMS_CONF,
    CMS_EPS,
    CMS_SEED,
    HH_TOP_N,
    _TOKENS,
)


def cms_core(docs):
    toks = docs.select(F.explode(F.expr(_TOKENS)).alias("token"))
    (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(HH_TOP_N)
        .collect()
    )
    raw = toks.agg(
        F.count_min_sketch(
            "token", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
        ).alias("sk")
    ).collect()[0]["sk"]
    return len(bytes(raw))


t1, n1 = timed(lambda: cms_core(d1))
t10, n10 = timed(lambda: cms_core(d10))
print(f"heavy_hitters_cms: 1x={t1:.2f}s 10x={t10:.2f}s "
      f"growth={t10 / t1:.1f}x (sketch bytes {n1} -> {n10}, flat)")

# ---- embedding_matryoshka truncated pass over a 10x corpus ----------------
from s3_manifest_spark.operators.similarity import (  # noqa: E402
    MRL_DIM,
    TOP_K,
    _batch_vectors,
    _merge,
    _query_pdf,
    _QueryState,
    _scan,
)

e1 = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
e10_path = None


def mrl_core(v):
    return _mrl_prefix_topk(v).count()


def _mrl_prefix_topk(v):
    # the operator's own exact-family scan + merge at the MRL_DIM
    # prefix, with the query state built from ``v``'s own query set
    qids, _, qn = _batch_vectors(_query_pdf(v), MRL_DIM)
    bc = spark.sparkContext.broadcast(
        _QueryState(qids, qn, None, None, None, None, MRL_DIM)
    )
    return _merge(_scan(v, bc, TOP_K), TOP_K)


e10 = copies(
    e1, {"vec_id": lambda i: F.col("vec_id") + F.lit(i * 10**9)}
).localCheckpoint(eager=True)
t1, n1 = timed(lambda: mrl_core(e1))
t10, n10 = timed(lambda: mrl_core(e10))
print(f"embedding_matryoshka truncated pass: 1x={t1:.2f}s ({n1} rows) "
      f"10x={t10:.2f}s ({n10}; 10x corpus AND 10x queries) "
      f"growth={t10 / t1:.1f}x")
