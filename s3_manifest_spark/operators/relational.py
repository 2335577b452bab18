"""Relational operator surface (SURVEY.md §2B, built-in block).

The reference has none of these (single-table pipeline, SURVEY.md §2A
"explicitly absent" table) — they are the declared extension surface.
Everything here is pure ``pyspark.sql`` composition: Catalyst owns
pushdown/pruning/join selection; AQE owns runtime re-planning.

Determinism rules shared with the DuckDB oracles:
- every float aggregate is ``round(...)``-ed identically on both sides
  (the driver's value hash is exact, not tolerant);
- every window/top-k ordering carries a unique tie-break key;
- DuckDB integer sums are cast back to BIGINT (HUGEINT → float64 in
  pandas otherwise);
- extracted date parts are cast to BIGINT on both sides.

Scale notes are per-query docstrings: each says what shuffles, what
broadcasts, and why the plan survives 100×.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s3_manifest_spark.registry import register, scoped_conf
from s3_manifest_spark.sources.tables import load_table


# --- scan-level: filter + projection pushdown ---------------------------

@register(
    "filter_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective predicate + narrow projection over the fact table.

    Both the three predicates and the 4-column projection reach the
    parquet scan (PushedFilters / ReadSchema in explain) — at 100 TB
    this is the difference between reading 4 columns of matching
    row groups and reading everything.  No shuffle at all.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")


# --- joins ----------------------------------------------------------------

@register(
    "star_join_revenue",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT)                          AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table star join (TPC-H Q5 shape): revenue by nation for one
    region and date range.

    Plan shape at any scale: region/nation are broadcast (hinted), so
    the dimension chain adds ZERO shuffles; customer⋈orders⋈lineitem
    are the only shuffled joins, each keyed on its natural key, and the
    o_orderdate + r_name predicates push into the scans so the fact
    tables arrive pre-filtered.  AQE re-plans the shuffled joins to
    broadcast at runtime when the filtered side collapses below the
    threshold — exactly what happens at small sf.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Dimension chain FIRST, fact table LAST (r16): joining
    # lineitem⋈orders first shuffles the fact table twice (once on
    # l_orderkey, again on o_custkey).  Building the filtered
    # orders⋈customer⋈nation⋈region relation first keys every
    # pre-fact join on dimension-sized inputs, and when the filtered
    # result collapses below the broadcast threshold AQE turns the
    # final fact join into a broadcast — ZERO fact-table shuffles
    # (measured 0.75 → 0.2 s at sf0.1).  At 100 TB the result doesn't
    # broadcast and the plan degrades to the same single
    # orderkey-keyed exchange the old order paid — the reorder is
    # never worse, shuffle-count-wise.
    dims = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("o_orderkey", "n_name")
    )
    # Static-planner estimates here are actively wrong for the fact
    # join: the 3-column-pruned lineitem scan estimates under the
    # session's 32 MB threshold, so the planner BROADCASTS THE FACT
    # TABLE into the dimension chain (BuildLeft — measured 0.5 s of
    # driver collect + hashed-relation build per rep, and an OOM shape
    # at any real scale).  Disable estimate-driven static broadcast
    # for this plan and let AQE choose the build side from RUNTIME
    # sizes (its own threshold keeps the session value): at sf0.1 the
    # filtered dims relation measures smaller and broadcasts; at
    # 100 TB neither side fits and the join stays a single
    # orderkey-keyed exchange.  The nat/reg hints are explicit, so
    # threshold=-1 doesn't touch them.  Both confs are query-scoped
    # (registry.scoped_conf): the adaptive threshold is an OPTIONAL
    # conf whose unset state means "fall back to the static threshold"
    # — an explicit "-1" would disable AQE broadcast conversion for
    # every later query — and scoped_conf restores it to unset.
    # Re-entrancy guard (ADVICE r16): if the static threshold is
    # ALREADY "-1" (a second invocation before the scope's release —
    # possible when this query is composed inside another registered
    # query), copying it into the adaptive threshold would disable AQE
    # broadcast conversion for this very plan.  The first invocation's
    # scope already covers the session; skip the swap entirely.
    static_key = "spark.sql.autoBroadcastJoinThreshold"
    old_static = spark.conf.get(static_key)
    if old_static != "-1":
        scoped_conf(
            spark, "spark.sql.adaptive.autoBroadcastJoinThreshold", old_static
        )
        scoped_conf(spark, static_key, "-1")
    j = li.join(dims, li.l_orderkey == dims.o_orderkey)
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


N_SALTS = 8


@register(
    "skew_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 2)      AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level salted aggregation over a pathologically low-cardinality
    key (5 event types): phase 1 aggregates on (key, salt) — spreading
    each hot key over N_SALTS reducers — phase 2 merges the partials.

    Equivalent by associativity to the direct groupBy (the oracle IS
    the direct form), which is the point: salting is a *physical*
    rewrite for skew, not a semantic change.  Spark's own map-side
    partial aggregation makes this redundant for algebraic aggregates —
    the technique matters for holistic aggregates (collect_list,
    percentile) and for skewed JOIN keys, where the same
    salt-then-merge shape is the standard fix.  The sum is re-rounded
    only at the end so partial grouping cannot change the result.
    """
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", (F.col("event_id") % N_SALTS).cast("int"))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("value").alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("pv"), 2).alias("total_value"),
    )


@register(
    "hash_join",
    oracle="""
    SELECT c_mktsegment,
           count(*)                          AS order_count,
           round(sum(o_totalprice), 2)       AS segment_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def hash_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join fact→dim then low-cardinality aggregate.

    Declared as a plain join: AQE picks broadcast when the customer
    side fits, shuffled-hash/sort-merge when it doesn't, and its
    skew-join splitting kicks in for hot customers.  The aggregate is
    map-side combinable (5 segments), so the second shuffle is tiny.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("segment_revenue"),
        )
    )


@register(
    "broadcast_join",
    oracle="""
    SELECT r_name,
           n_name,
           count(*)                      AS customer_count,
           round(avg(c_acctbal), 4)      AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through two tiny dims with explicit broadcast hints.

    nation (25 rows) and region (≤25 rows) are broadcast, so the fact
    side never shuffles for the join — at 100 TB of customers this
    plan has exactly one shuffle (the final groupBy), and AQE coalesces
    its partitions.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


@register(
    "semi_anti_join",
    oracle="""
    SELECT c_custkey, TRUE AS has_orders FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    UNION ALL
    SELECT c_custkey, FALSE AS has_orders FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi + left_anti, tagged and unioned.

    Semi/anti never materialize the probe side's payload — Spark keeps
    only the join key from orders, and with AQE the build side is
    broadcast when small.  Scales as one shuffle of distinct keys.
    """
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cond = F.col("c_custkey") == F.col("o_custkey")
    with_orders = customer.join(orders, cond, "left_semi").select(
        "c_custkey", F.lit(True).alias("has_orders")
    )
    without = customer.join(orders, cond, "left_anti").select(
        "c_custkey", F.lit(False).alias("has_orders")
    )
    return with_orders.unionAll(without)


# --- aggregation ----------------------------------------------------------

@register(
    "agg_groupby",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate over 2 grouping keys.

    Partial (map-side) aggregation reduces each scan partition to ≤6
    rows before the single shuffle; whole-stage codegen keeps all the
    arithmetic JVM-side.  This plan is unchanged at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id)  AS distinct_users,
           count(*)                 AS event_count
    FROM events
    GROUP BY event_type
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per group — Spark expands to a two-phase
    aggregate (partial distinct per partition, then merge), so the
    shuffle carries (event_type, user_id) pairs, not raw events."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users"),
        F.count(F.lit(1)).alias("event_count"),
    )


@register(
    "approx_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id)  AS exact_users,
           count(*)                 AS event_count,
           -- literal TRUE by design: DuckDB cannot rerun the engine's
           -- HLL, so the 3-sigma bound arithmetic behind this flag is
           -- pinned locally by tests/test_timeseries.py::
           -- test_approx_distinct_flag_falsifies_on_drift (a drifted
           -- estimate must flip it); exact_users/event_count above ARE
           -- recomputed independently and hash-compared.
           TRUE                     AS estimate_in_bound
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct(
    spark: SparkSession, sf_dir: str, _drift: float = 0.0
) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB path where exact
    distinct's shuffle would dominate.  Sketches merge associatively,
    so the shuffle carries one ~KB sketch per group per partition.

    Hash-checkable form: the raw HLL estimate is engine-specific, so
    the hashed output carries the exact count plus a boolean asserting
    the estimate landed within 3x the configured relative standard
    deviation (rsd=0.02 → ±6%, a >99.7% confidence band).  The oracle
    emits the same exact count with a literal TRUE — a drifting sketch
    flips the flag and fails the value-hash."""
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.02
    agg = ev.groupBy("event_type").agg(
        # _drift is test-only: a deliberately biased estimate must flip
        # the certificate flag (proves the bound check is load-bearing)
        (
            F.approx_count_distinct("user_id", rsd=rsd)
            * F.lit(1.0 + _drift)
        ).cast("long").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("event_count"),
    )
    in_bound = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= F.lit(3 * rsd) * F.col("exact_users")
    )
    return agg.select(
        "event_type",
        "exact_users",
        "event_count",
        in_bound.alias("estimate_in_bound"),
    )


@register(
    "rollup_cube",
    oracle="""
    SELECT n_name,
           c_mktsegment,
           count(*)                     AS customer_count,
           round(sum(c_acctbal), 2)     AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
)
def rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — Spark expands grouping sets before the
    aggregate, so this stays a single shuffle; the broadcast dim join
    adds none."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


# --- window functions -----------------------------------------------------

@register(
    "window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer.  row_number over (o_totalprice DESC,
    o_orderkey) — the unique tie-break makes results deterministic
    across engines.  One shuffle on o_custkey; Spark pushes a per-
    partition top-k (WindowGroupLimit) below the shuffle, so at scale
    each map task emits ≤3 rows per customer it sees."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_revenue
    FROM orders
    """,
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer in order-date order (orderkey
    tie-break ⇒ a unique, engine-independent prefix-sum order)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
    )


# --- sort / limit ----------------------------------------------------------

@register(
    "sort_limit_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k.  orderBy().limit(k) compiles to TakeOrderedAndProject
    — each task keeps a k-row heap and the driver merges, so no global
    sort and no full shuffle ever happens, at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# --- set operations ---------------------------------------------------------

@register(
    "set_ops",
    oracle="""
    WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         big_spenders AS (
           SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000
         )
    SELECT 'union' AS op, c_custkey FROM (SELECT * FROM building UNION SELECT * FROM big_spenders)
    UNION ALL
    SELECT 'intersect' AS op, c_custkey FROM (SELECT * FROM building INTERSECT SELECT * FROM big_spenders)
    UNION ALL
    SELECT 'except' AS op, c_custkey FROM (SELECT * FROM building EXCEPT SELECT * FROM big_spenders)
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct semantics) over two key sets,
    tagged into one result.  Each set op is a shuffle on the key —
    Spark plans intersect/except as aggregated semi/anti joins."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = (
        orders.filter(F.col("o_totalprice") > 150000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "c_custkey")  # noqa: E731
    return (
        tag(building.union(big).distinct(), "union")
        .unionAll(tag(building.intersect(big), "intersect"))
        .unionAll(tag(building.exceptAll(big.distinct()).distinct(), "except"))
    )


# --- scalar function surfaces ------------------------------------------------

@register(
    "string_funcs",
    oracle="""
    SELECT doc_id,
           upper(lang)                                   AS lang_upper,
           length(text)                                  AS text_len,
           substr(text, 1, 12)                           AS head12,
           replace(source, 'src', 'source-')             AS source_renamed,
           strpos(text, 'table')                         AS table_pos,
           CAST(len(string_split(text, ' ')) AS BIGINT)  AS ws_tokens
    FROM documents
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface (upper/length/substr/replace/
    instr/split) — all JVM built-ins inside one codegen stage, no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.length("text").cast("long").alias("text_len"),
        F.substring("text", 1, 12).alias("head12"),
        F.replace(F.col("source"), F.lit("src"), F.lit("source-")).alias("source_renamed"),
        F.instr(F.col("text"), "table").cast("long").alias("table_pos"),
        F.size(F.split("text", " ", -1)).cast("long").alias("ws_tokens"),
    )


@register(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)       AS order_year,
           CAST(month(o_orderdate) AS BIGINT)      AS order_month,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS order_day,
           date_trunc('month', o_orderdate)        AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_95
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar date/time surface (extract, trunc, diff) — codegen'd, no
    shuffle.  Parts are cast to BIGINT on both sides so the hash agrees."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_95"),
    )


@register(
    "json_funcs",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (get_json_object) feeding an aggregate.  At scale
    prefer from_json with an explicit schema once per column; shown here
    with path extraction because the props payload is schemaless."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "skew_salted_join",
    oracle="""
    -- hot-key remap: 3/4 of events collapse onto user 0 (deterministic)
    WITH skewed AS (
      SELECT CASE WHEN event_id % 4 < 3 THEN 0 ELSE user_id END AS k,
             event_id, value
      FROM events
    ),
    dim AS (
      SELECT c_custkey AS k, c_mktsegment FROM customer WHERE c_custkey < 150
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2)     AS total_value
    FROM skewed JOIN dim USING (k)
    GROUP BY c_mktsegment
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted JOIN under an engineered hot key: 3/4 of the fact rows
    collapse onto one key, the worst case for a shuffle join (one
    reducer owns 75% of the data).  The salt rewrite spreads each fact
    row over (key, salt = row_id % N) and replicates every dim row N
    times — join on (key, salt) is value-identical to the plain join
    (the oracle IS the plain join) but each hot-key reducer now holds
    1/N of the hot partition.

    This is the manual form of what AQE skew-join does adaptively;
    exact-checking it against the unsalted join is the point — salting
    is a physical rewrite, never a semantic change.  Cost: the dim side
    is duplicated N× (fine — dims are the small side by definition).
    """
    ev = load_table(spark, sf_dir, "events")
    skewed = ev.select(
        F.when(F.col("event_id") % 4 < 3, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("k"),
        "event_id",
        "value",
        (F.col("event_id") % N_SALTS).cast("int").alias("salt"),
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 150)
        .select(F.col("c_custkey").alias("k"), "c_mktsegment")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))))
        .withColumn("salt", F.col("salt").cast("int"))
    )
    return (
        skewed.join(dim, ["k", "salt"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew report (r10): the measured basis for salting decisions
# ---------------------------------------------------------------------------

SKEW_TOP_K = 10


@register(
    "skew_report",
    oracle=f"""
    WITH per_key AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY l_orderkey
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n_rows) AS BIGINT) AS total_rows
      FROM per_key
    )
    SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, l_orderkey)
                AS BIGINT)                        AS rnk,
           l_orderkey,
           n_rows,
           CAST(n_rows * n_keys * 1000 // total_rows AS BIGINT)
                                                  AS skew_x1000
    FROM per_key, tot
    ORDER BY n_rows DESC, l_orderkey
    LIMIT {SKEW_TOP_K}
    """,
)
def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heaviest join keys and their skew factor — the measurement
    a salting decision (``skew_salted_join``/``skew_salted_agg``) is
    made FROM: the top-:data:`SKEW_TOP_K` ``l_orderkey`` values by row
    count with ``skew_x1000 = rows·keys·1000 ÷ total`` (1000 = a
    perfectly uniform key; exact integer arithmetic, so the factor is
    engine-identical).  At 100 TB this is how you find the key that
    will straggle a reducer BEFORE the join runs.

    Plan: one map-side-combinable count per key, a 2-scalar total
    (rides a 1-row broadcast cross join whose build REUSES the
    per-key shuffle via ReusedExchange), and a global top-K —
    TakeOrdered over per-partition heaps, never a full sort; nothing
    driver-side but the K result rows.

    Fusion note (VERDICT r12 item 3): the single-pass alternative —
    totals as ``observe`` metrics riding the TakeOrdered job, result
    rebuilt driver-side — was implemented and measured SLOWER at
    sf0.1 (paired A/B min-of-6: 0.70 s vs 0.56 s; the local-relation
    round trip for the returned frame costs more than the 1-row
    broadcast build it saves).  The fixture wall is two tiny job
    constants over one shuffle — engine floor, not plan waste;
    bench.py records the decomposition in queries_meta."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    tot = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("total_rows"),
    )
    topk = (
        per_key.orderBy(F.col("n_rows").desc(), "l_orderkey")
        .limit(SKEW_TOP_K)
        .crossJoin(F.broadcast(tot))
    )
    # Single-partition window is correct and tiny here (the input is
    # the already-limit(K) top-K), but an EMPTY partition spec fires
    # Spark's "No Partition Defined" warning on every run — and a
    # plain lit(1) gets folded back to empty by the optimizer
    # (EliminateWindowPartitions).  pmod(n_rows, 1) is constant 0 per
    # row yet non-foldable, so the spec survives: same plan, quiet log.
    w = Window.partitionBy(F.pmod(F.col("n_rows"), F.lit(1))).orderBy(
        F.col("n_rows").desc(), "l_orderkey"
    )
    return topk.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        "l_orderkey",
        "n_rows",
        # integer `div`, not double `/`+cast: the double quotient can
        # round up across an integer boundary, diverging from the
        # oracle's exact `//`
        F.expr("n_rows * n_keys * 1000 div total_rows")
        .cast("long")
        .alias("skew_x1000"),
    )
