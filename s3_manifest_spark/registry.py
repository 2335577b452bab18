"""Central query registry backing ``__spark_entry__.py``.

Every operator module registers its ``queries()`` entries (and, where
SQL-expressible, the DuckDB oracle twin) via :func:`register`.  The
driver contract requires identical column names between the Spark
DataFrame and the oracle result — alias both sides, always.

Query scope
-----------
A registered query returns a LAZY plan that its caller evaluates after
the function has returned, so state the plan still needs — persisted
intermediates, scratch spools, session-conf overrides — cannot be
released by the query itself.  Each caller (thread) owns one release
list instead:

- :func:`track_persist`, :func:`defer_cleanup`, :func:`scoped_conf`
  (and :func:`pin_partitions` inside a query) append a release
  callback to the CALLING thread's list;
- that caller's next OUTERMOST registered call runs its list, last
  added first, before building anything — by then the caller has
  materialized its previous result — and touches no other caller's
  list;
- a registered call made while the caller's scope is already open (a
  certificate composing another registered query) is nested: it
  releases nothing, and its callbacks join the open list;
- lists left by threads that have since exited are released by the
  next outermost registered call on any thread.

Session confs set through :func:`scoped_conf` are session-wide: a
concurrent caller's plan may be built under another caller's override,
which changes plan shape, never answers.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


class _Scope:
    """One caller's query scope (module docstring): its pending release
    callbacks, and whether an outermost registered call is running."""

    __slots__ = ("open", "releases")

    def __init__(self) -> None:
        self.open = False
        self.releases: list[Callable[[], None]] = []


_SCOPES: dict[threading.Thread, _Scope] = {}
_SCOPES_LOCK = threading.Lock()


def _scope() -> _Scope:
    with _SCOPES_LOCK:
        return _SCOPES.setdefault(threading.current_thread(), _Scope())


def _release_scope(scope: _Scope) -> None:
    """Run ``scope``'s release list and those of exited threads."""
    with _SCOPES_LOCK:
        orphans = [_SCOPES.pop(t) for t in list(_SCOPES) if not t.is_alive()]
    for s in (scope, *orphans):
        while s.releases:
            s.releases.pop()()


def defer_cleanup(fn: Callable[[], None]) -> None:
    """Run ``fn`` when the caller's query scope is released (module
    docstring).  For query-scoped state — scratch spools, temp views —
    that the caller's lazy evaluation still needs after the query
    function returns."""
    _scope().releases.append(fn)


def track_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and unpersist it when the caller's query scope is
    released.

    Registry queries must use this instead of bare ``.persist()`` so
    that exactly these blocks are released — not the whole session
    cache (``clearCache`` would also evict caches the driver or
    embedding application created outside the registry).
    """
    df.persist()
    defer_cleanup(lambda: df.unpersist(blocking=False))
    return df


def pin_partitions(df: DataFrame) -> DataFrame:
    """Freeze a frame's partition layout for plans whose later passes
    key off ``spark_partition_id()`` (the sort-based percentile and
    global-ordinal operators): a recomputation could re-sample
    ``repartitionByRange`` boundaries and silently misalign the
    metadata the driver already collected.

    Inside a registered query the frame is persisted with
    :func:`track_persist` and released with the caller's query scope.
    Outside one there is no scope to release it, so it is
    ``localCheckpoint``-ed: partitions materialize in executor storage
    with lineage truncated, so the layout can never be recomputed
    differently, nothing routes through the driver, and the blocks
    free when the frame is garbage-collected.  (localCheckpoint is not
    executor-loss-tolerant; at production scale prefer a registered
    query or a reliable checkpoint dir.)
    """
    if _scope().open:
        return track_persist(df)
    return df.localCheckpoint(eager=True)


def scoped_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set session conf ``key`` to ``value`` for the caller's query
    scope: the override stays live while the caller evaluates the lazy
    result, and the scope's release restores the old value — or unsets
    the key if it was unset (an optional conf's "unset" can mean
    something an explicit value does not).  Does nothing when ``key``
    already holds ``value``, so a nested call never restores the
    override itself.  ``conf.get(key, None)`` reads without Spark 4's
    default-value type validation."""
    old = spark.conf.get(key, None)
    if old == value:
        return
    spark.conf.set(key, value)

    def _restore() -> None:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    defer_cleanup(_restore)


def prefer_parallel_exchanges(spark: SparkSession) -> None:
    """Query-scoped opt-out of size-driven AQE partition coalescing
    (the session default since r17): restore Spark's
    parallelism-first policy for THIS query's execution
    (:func:`scoped_conf`).

    For plans whose exchanges are CPU-DENSE PER BYTE — fingerprint /
    shingle-hash aggregations where a kilobyte of shuffle rows carries
    seconds of aggregate evaluation — byte-sized coalescing collapses
    the post-shuffle stage onto one or two tasks and serializes the
    CPU (measured 2x on dedup_ngram_jaccard / doc_containment /
    lsh_tuning_curve, FLOOR_CONF_AB.json); parallelism-first keeps
    those stages wide.
    """
    scoped_conf(
        spark, "spark.sql.adaptive.coalescePartitions.parallelismFirst", "true"
    )


def release(df: DataFrame) -> None:
    """Free a frame's executor storage, whichever kind holds it:
    ``unpersist`` covers CacheManager entries (persisted frames, e.g.
    models.py's store-loaded ones); a ``localCheckpoint``-ed frame
    never registers there — its blocks hang off the LogicalRDD's
    backing RDD and would otherwise linger until the ContextCleaner
    GCs it (ADVICE r11).  Each is a no-op for the other shape.  On a
    stopped session both raise ``Py4JJavaError``: nothing is left to
    free."""
    try:
        df.unpersist(blocking=False)
        analyzed = df._jdf.queryExecution().analyzed()
        if analyzed.getClass().getSimpleName() == "LogicalRDD":
            analyzed.rdd().unpersist(False)
    except Py4JJavaError:
        pass


def session_model_cache(spark: SparkSession) -> dict:
    """The session model cache (``spark._smsp_model_cache``), created
    on first use.  Trainers key it by ``(prefix, sf_dir)`` tuples;
    release entries with :func:`clear_model_cache`, never a bare
    ``.clear()`` (see that function's docstring)."""
    mc = getattr(spark, "_smsp_model_cache", None)
    if mc is None:
        mc = {}
        spark._smsp_model_cache = mc
    return mc


def clear_model_cache(spark: SparkSession) -> None:
    """Release the session model cache (trained quantizers, LSH
    indexes, CDC state, broadcast filters) WITHOUT leaking its
    payloads: cached and checkpointed DataFrames are released
    (:func:`release`), broadcasts destroyed (payloads may be bare
    objects, DataFrames, Broadcasts, or tuples of them).  This — not
    ``spark._smsp_model_cache.clear()`` — is the supported way to drop
    models (a bare ``clear()`` orphans the persisted blocks in the
    BlockManager with no reachable handle).  The plan memo is dropped
    WITH the models: memoized plans may reference the destroyed
    broadcasts/persisted frames, and serving one after this call would
    fail at evaluation time."""
    getattr(spark, "_smsp_plan_cache", {}).clear()
    mc = getattr(spark, "_smsp_model_cache", None)
    if not mc:
        return
    for value in mc.values():
        parts = value if isinstance(value, tuple) else (value,)
        for p in parts:
            if isinstance(p, DataFrame):
                release(p)
            elif hasattr(p, "destroy") and hasattr(p, "value"):  # Broadcast
                p.destroy()
    mc.clear()


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Query scope (module docstring): only the caller's
            # OUTERMOST call releases its previous call's state — a
            # nested registered call (the certificate pattern) must not
            # tear down state its composing query is still building on.
            scope = _scope()
            nested = scope.open
            if not nested:
                _release_scope(scope)
            # Plan memoization (prepared-statement reuse): DataFrames
            # are immutable LAZY plans, so re-serving one is
            # semantically identical to rebuilding it, while skipping
            # the per-call py4j expression construction + analysis
            # (50-700 ms — up to half a floor-class query's wall).
            # Stored on the session object like the reader cache, so
            # entries die with the session.  A call that added release
            # callbacks during construction is NOT cached: its returned
            # plan depends on query-scoped state (scratch spools, conf
            # overrides, persisted intermediates) that the caller's
            # next outermost registry call tears down.
            cache = getattr(spark, "_smsp_plan_cache", None)
            if cache is None:
                cache = {}
                spark._smsp_plan_cache = cache
            # The cache key carries every piece of session state a
            # plan CONSTRUCTION reads: the session TIMEZONE (manifest
            # timestamp fusions branch on it via _utc_session),
            # shuffle.partitions (widen_scan / _keyed_parts bake it
            # into repartition widths), and defaultParallelism
            # (row-aware widening caps at it).  A session that changes
            # any of these gets a fresh plan, not a stale one.
            # IMMUTABLE-FIXTURE ASSUMPTION (documented limit): plans
            # may also capture driver-collected fixture data (e.g.
            # similarity_topk's broadcast query matrix) and parquet
            # footer metadata; rewriting files under sf_dir mid-
            # session serves a stale plan — the harness fixtures are
            # read-only by contract (TESTDATA.md), so this is safe
            # here; an embedding application mutating its inputs must
            # clear spark._smsp_plan_cache itself.
            key = (
                name,
                sf_dir,
                spark.conf.get("spark.sql.session.timeZone", "UTC"),
                spark.conf.get("spark.sql.shuffle.partitions", "200"),
                spark.sparkContext.defaultParallelism,
            )
            cached = cache.get(key)
            if cached is not None:
                return cached
            added = len(scope.releases)
            scope.open = True
            try:
                df = fn(spark, sf_dir)
            finally:
                scope.open = nested
            if len(scope.releases) == added:
                cache[key] = df
            return df

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module for its registration side effects."""
    from s3_manifest_spark.operators import (  # noqa: F401
        manifest_queries,
        lakehouse,
        ingest,
        corpus,
        relational,
        bpe,
        dedup,
        graph,
        retrieval,
        semdedup,
        similarity,
        text,
        multimodal,
        joins_advanced,
        ml,
        analytics,
        timeseries,
        curation,
        quantiles,
    )
    from s3_manifest_spark.functions import scalar  # noqa: F401
    from s3_manifest_spark.streaming import (  # noqa: F401
        boilerplate,
        cdc,
        heavy_hitters,
        index_update,
        knn_index,
        windows,
    )
