"""Exact distributed percentiles via sort-based selection
(SURVEY.md §2B companion to ``stats_funcs``/``outlier_filter``).

Spark's built-in exact ``percentile`` aggregate BUFFERS every value of
a group in one aggregation state — at 100 TB a single group's values
can exceed executor memory, which is why the stats docstrings punt to
``approx_percentile`` for scale.  This operator is the third option:
EXACT interpolated quantiles with bounded memory everywhere, the
classic external-selection plan:

1. one global range sort of (group, value) — Spark's distributed sort:
   range-partitioned, spilled TimSort within partitions, skewed groups
   simply span multiple partitions;
2. one metadata pass: per-(partition, group) row counts, collected to
   the driver (P×G short rows — the same bookkeeping RDD.zipWithIndex
   does; bounded by partition count × group cardinality, NOT by rows);
3. one broadcast-guided pick pass: each partition knows which
   partition-local ordinal positions are wanted (the floor/ceil
   straddle rows of each target rank) and emits only those — a few
   rows per group, never a buffered column;
4. a tiny distributed interpolation join (lo + (hi-lo)·frac, the same
   ``index = p·(n-1)`` rule Spark's percentile and DuckDB's
   quantile_cont share).

Cost: sort shuffle of the projected (group, value) pairs + one
metadata aggregation — O(rows) network once, O(P×G) driver memory,
O(1) executor state per task beyond the sort spill.
"""

from __future__ import annotations

import math
from collections import defaultdict
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.registry import register
from s3_manifest_spark.sources.tables import load_table

PCTS = (0.5, 0.95)
# Range-sort width: sized to the data volume in production (so each
# sorted partition spills comfortably); at fixture scale extra
# partitions are pure task overhead (measured: 8 beats 32 by ~25%).
SORT_PARTITIONS = 8


def group_percentiles(
    df: DataFrame,
    pcts: Sequence[float] = PCTS,
    partitions: int = SORT_PARTITIONS,
    model_key: tuple | None = None,
) -> DataFrame:
    """Exact interpolated percentiles of ``v`` per group ``g`` with NO
    per-group value buffering (module docstring has the plan).

    ``df`` must have a string column ``g`` and numeric column ``v``.
    Returns one row per (g, p): ``g string, p double, q double``.

    The sorted frame's partition layout MUST stay frozen until the
    pick pass runs: the metadata pass keyed the ``want`` map by
    partition id, and a recomputed ``repartitionByRange`` may
    re-sample different range boundaries, silently misaligning the
    picks.  :func:`~s3_manifest_spark.registry.pin_partitions` pins it
    for the caller's query scope (the registry module docstring has
    the contract).
    """
    import numpy as np
    import pandas as pd

    from s3_manifest_spark.operators.sort_offsets import (
        cached_sort_meta,
        partition_weights,
        pinned_range_sort,
    )

    spark = df.sparkSession
    proj = df.select("g", F.col("v").cast("double").alias("v"))
    if model_key is not None:
        # session-model-cached sorted layout + counts (r11): repeated
        # percentile queries over one relation pay the sort once —
        # see cached_sort_meta's docstring for the lifetime contract
        data, meta = cached_sort_meta(
            proj,
            partitions,
            ["g", "v"],
            ["g"],
            F.count(F.lit(1)),
            model_key,
        )
    else:
        data = pinned_range_sort(proj, partitions, ["g", "v"])
        meta = partition_weights(data, ["g"], F.count(F.lit(1)))

    # ---- metadata pass: per-(partition, group) counts → target picks
    per_group: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for r in meta:
        per_group[r["g"]].append((r["pid"], r["w"]))

    # want[pid] = [(g, partition-local ordinal, p, role)], role ∈ lo/hi
    want: dict[int, list[tuple[str, int, float, str]]] = defaultdict(list)
    fracs: dict[str, dict[float, float]] = defaultdict(dict)  # g -> p -> frac
    for g, lst in per_group.items():
        lst.sort()
        n = sum(c for _, c in lst)
        for p in pcts:
            pos = p * (n - 1)
            lo, hi = math.floor(pos), math.ceil(pos)
            fracs[g][float(p)] = pos - lo
            for role, k in (("lo", lo), ("hi", hi)):
                off = 0
                for pid, c in lst:
                    if k < off + c:
                        want[pid].append((g, k - off, p, role))
                        break
                    off += c
    bwant = spark.sparkContext.broadcast(dict(want))

    # ---- pick pass: emit only the straddle rows, vectorized per batch.
    # Within a partition the sort makes each group's rows one contiguous
    # run (possibly spanning batches); a running per-group offset maps
    # batch positions to partition-local ordinals.
    def pick(batches):
        from pyspark import TaskContext

        targets = list(bwant.value.get(TaskContext.get().partitionId(), []))
        seen: dict[str, int] = {}
        rows: list[tuple[str, float, str, float]] = []
        for b in batches:
            gs = b["g"].to_numpy()
            if len(gs) == 0:
                continue
            vs = b["v"].to_numpy()
            change = np.nonzero(gs[1:] != gs[:-1])[0] + 1
            starts = np.concatenate(([0], change))
            ends = np.concatenate((change, [len(gs)]))
            runs = {gs[s]: (s, e - s) for s, e in zip(starts, ends)}
            if targets:
                left = []
                for g, k, p, role in targets:
                    base = seen.get(g, 0)
                    run = runs.get(g)
                    if run is not None and base <= k < base + run[1]:
                        rows.append((g, p, role, float(vs[run[0] + (k - base)])))
                    else:
                        left.append((g, k, p, role))
                targets = left
            for g, (_, c) in runs.items():
                seen[g] = seen.get(g, 0) + c
        yield pd.DataFrame(rows, columns=["g", "p", "role", "v"]).astype(
            {"g": "str", "p": "float64", "role": "str", "v": "float64"}
        )

    pick_schema = "g string, p double, role string, v double"
    picked = data.mapInPandas(pick, schema=pick_schema)

    # ---- interpolation: one tiny aggregation; fracs attach as a
    # nested literal map (g -> p -> frac, driver-known metadata like
    # the counts above) instead of a join — the p doubles round-trip
    # bit-exactly through the pick pass, so map lookup by double
    # equality is safe.
    frac_map = F.create_map(
        *[
            col
            for g, by_p in fracs.items()
            for col in (
                F.lit(g),
                F.create_map(
                    *[c for p, f in by_p.items() for c in (F.lit(p), F.lit(f))]
                ),
            )
        ]
    )
    straddle = picked.groupBy("g", "p").agg(
        F.max(F.when(F.col("role") == "lo", F.col("v"))).alias("lo"),
        F.max(F.when(F.col("role") == "hi", F.col("v"))).alias("hi"),
    )
    frac = F.element_at(F.element_at(frac_map, F.col("g")), F.col("p"))
    return straddle.select(
        "g",
        "p",
        (F.col("lo") + (F.col("hi") - F.col("lo")) * frac).alias("q"),
    )


@register(
    "percentile_dist_exact",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS price_median,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_dist_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95 of ``l_extendedprice`` per ``l_returnflag`` with
    NO per-group value buffering (see module docstring for the plan).

    Equivalent results to the ``percentile`` path in ``stats_funcs``;
    different physical contract: memory is bounded by the sort's spill
    machinery, not by max-group size.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("v")
    )
    quant = group_percentiles(li, PCTS, model_key=("pct_lineitem", sf_dir))
    return (
        quant.groupBy(F.col("g").alias("l_returnflag"))
        .agg(
            F.round(F.max(F.when(F.col("p") == PCTS[0], F.col("q"))), 4).alias(
                "price_median"
            ),
            F.round(F.max(F.when(F.col("p") == PCTS[1], F.col("q"))), 4).alias(
                "price_p95"
            ),
        )
    )
