"""10x scaling probe for the sort_offsets metadata-pattern operators
(SCALE.md): compaction_plan's bin assignment and
percentile_dist_exact's selection, run over the sf0.1 input and a 10x
synthesized union (ten disjoint-key-shifted copies — same construction
as the other probes), plus dedup_canonical's labels-join linear term.

Evidences the pattern's scale claims with numbers:
- the driver metadata stays P×G short rows at ANY data size (printed);
- wall scales ~linearly in the sorted bytes (the range-sort shuffle is
  the designed linear term) — NOT in group count or group size, which
  is the point vs the window form that buffers whole groups per task.

Usage: python tools/probe_sort_offsets_scale.py
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s3_manifest_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
COPIES = 10

spark = get_spark(
    app_name="sort-offsets-scale-probe",
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

from s3_manifest_spark.operators.quantiles import group_percentiles  # noqa: E402
from s3_manifest_spark.sources.tables import load_table, synth_listing  # noqa: E402

# warm codegen + python worker pool so 1x isn't billed startup
spark.read.parquet(f"{SF}/nation.parquet").groupBy("n_regionkey").count().collect()
spark.range(32).repartition(32).mapInPandas(lambda it: it, schema="id long").count()


def timed(fn):
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        n = fn()
        best = min(best or 9e9, time.perf_counter() - t0)
    return best, n


def copies(df, key_col, shift_expr):
    """Union of COPIES disjoint-shifted copies of df (10x rows)."""
    out = None
    for i in range(COPIES):
        c = df.withColumn(key_col, shift_expr(i))
        out = c if out is None else out.unionAll(c)
    return out


# ---- compaction_plan core at 1x and 10x ---------------------------------
# run through the registered query path for 1x; for 10x, rebuild the
# same plan over the copied listing (the registered fn is sf_dir-bound).
from s3_manifest_spark.operators.manifest_queries import (  # noqa: E402
    COMPACTION_TARGET_BYTES,
)
from s3_manifest_spark.operators.sort_offsets import (  # noqa: E402
    exclusive_offsets,
    partition_weights,
    pinned_range_sort,
)


def compaction_core(pf):
    import numpy as np

    parts = int(CPUS)
    data = pinned_range_sort(pf, parts, ["prefix", "key", "size"])
    meta = partition_weights(data, ["prefix"], F.sum("size"))
    offsets, _ = exclusive_offsets(meta, "prefix")
    b_off = spark.sparkContext.broadcast(offsets)
    target = COMPACTION_TARGET_BYTES

    def binner(batches):
        import numpy as np
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        running: dict[str, int] = {}
        for pdf in batches:
            sizes = pdf["size"].to_numpy(dtype="int64")
            prefixes = pdf["prefix"].to_numpy()
            bins = np.empty(len(pdf), dtype="int64")
            starts = np.flatnonzero(
                np.concatenate(([True], prefixes[1:] != prefixes[:-1]))
            )
            bounds = np.append(starts, len(pdf))
            for i, j in zip(bounds[:-1], bounds[1:]):
                p = prefixes[i]
                base = running.get(p)
                if base is None:
                    base = b_off.value.get((pid, p), 0)
                seg = sizes[i:j]
                excl = np.cumsum(seg) - seg + base
                bins[i:j] = excl // target
                running[p] = int(excl[-1] + seg[-1])
            out = pdf[["prefix", "key", "size"]].copy()
            out["bin_id"] = bins
            yield out

    binned = data.mapInPandas(
        binner, schema="prefix string, key string, size long, bin_id long"
    )
    plan = binned.groupBy("prefix", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files"), F.sum("size").alias("total_bytes")
    )
    n = plan.count()
    return n, len(meta)


li1 = synth_listing(spark, SF, widen=False).select(
    F.substring_index("key", "/", 2).alias("prefix"), "key", "size"
)
li10 = copies(
    li1, "key", lambda i: F.concat(F.lit(f"c{i}/"), F.col("key"))
).select(F.substring_index("key", "/", 2).alias("prefix"), "key", "size")

t1, (bins1, meta1) = timed(lambda: compaction_core(li1)[0:2])
t10, (bins10, meta10) = timed(lambda: compaction_core(li10)[0:2])
rows1 = li1.count()
rows10 = li10.count()
print(
    f"compaction_plan core: 1x rows={rows1} bins={bins1} meta_rows={meta1} "
    f"wall={t1:.2f}s | 10x rows={rows10} bins={bins10} meta_rows={meta10} "
    f"wall={t10:.2f}s | wall ratio={t10 / t1:.1f}x (data 10x)"
)

# ---- percentile_dist_exact core at 1x and 10x ----------------------------
gv1 = load_table(spark, SF, "lineitem").select(
    F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v")
)
gv10 = copies(gv1, "v", lambda i: F.col("v") + F.lit(i) * F.lit(0.0000001))


def pct_core(df):
    out = group_percentiles(df)
    return out.count(), None


tp1, (n1, _) = timed(lambda: pct_core(gv1))
tp10, (n10, _) = timed(lambda: pct_core(gv10))
print(
    f"percentile_dist_exact core: 1x rows={rows1} out={n1} wall={tp1:.2f}s | "
    f"10x out={n10} wall={tp10:.2f}s | wall ratio={tp10 / tp1:.1f}x (data 10x)"
)

# ---- dedup_canonical linear term: labels ⋈ corpus at 1x / 10x docs -------
from s3_manifest_spark.operators.dedup import dedup_clusters  # noqa: E402

docs1 = load_table(spark, SF, "documents").select("doc_id", "text")
labels = dedup_clusters(spark, SF).select("doc_id", "component_id")
labels.persist().count()


def canon_core(docs):
    joined = docs.join(labels, "doc_id").withColumn(
        "doclen", F.length("text")
    )
    elected = joined.groupBy("component_id").agg(
        F.max_by("doc_id", F.struct(F.col("doclen"), F.col("doc_id"))).alias(
            "canonical"
        ),
        F.count(F.lit(1)).alias("members"),
    )
    return elected.count(), None


docs10 = None
for i in range(COPIES):
    c = docs1.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
    docs10 = c if docs10 is None else docs10.unionAll(c)
# labels only match copy 0 doc_ids for i>0 shifts — to keep the join
# 10x-sized on BOTH sides, shift labels identically
labels10 = None
labels_base = labels
for i in range(COPIES):
    c = labels_base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
    labels10 = c if labels10 is None else labels10.unionAll(c)


def canon_core10():
    joined = docs10.join(labels10, "doc_id").withColumn(
        "doclen", F.length("text")
    )
    elected = joined.groupBy("component_id", (F.col("doc_id") / 10_000_000).cast("long").alias("copy")).agg(
        F.max_by("doc_id", F.struct(F.col("doclen"), F.col("doc_id"))).alias(
            "canonical"
        ),
        F.count(F.lit(1)).alias("members"),
    )
    return elected.count(), None


tc1, (e1, _) = timed(lambda: canon_core(docs1))
tc10, (e10, _) = timed(canon_core10)
print(
    f"dedup_canonical labels-join: 1x elected={e1} wall={tc1:.2f}s | "
    f"10x elected={e10} wall={tc10:.2f}s | wall ratio={tc10 / tc1:.1f}x (data 10x)"
)
