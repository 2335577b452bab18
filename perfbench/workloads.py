"""Workloads, the measurement loop and the metrics of one benchmark run.

A run starts one Spark session on ``local[nproc]``, builds its inputs
(the sf0.1 tables, which are the same for every seed, or the seeded fake
bucket), performs every operation of the workload's panel once
untimed (this fills the session model cache and warms the workers),
then times whole passes over the panel in a seeded order.  Every
result is checked outside the timed window.  With tracing on, the run
makes as many traced passes as untraced ones, interleaved; the traced
ones record spans and read Spark's status stores by job tag, and their
per-operation means are the per-layer metrics.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import fake_s3, fixtures
from perfbench.trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p75_ms": "ms",
    "ops_per_s": "1/s",
    "rss_mb": "MB",
}

# Span layers, named after the modules whose public functions they time.
LAYERS = ("bench", "registry", "spark_catalyst", "spark_collect", "s3_listing",
          "manifest", "streaming")


def load_config() -> dict:
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# process and session


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def rss_mb(pids: list[int]) -> float:
    """Resident memory (``VmRSS``) of the given processes, summed."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return kb / 1024.0


def start_session(cfg: dict, work: str):
    from s3_manifest_spark.session import get_spark

    n = nproc()
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        extra_confs={
            "spark.driver.memory": cfg["host"]["driver_memory"],
            "spark.sql.shuffle.partitions": str(n),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM, and with it the Python
    worker daemon, has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of input
        proc.wait(timeout=60)


def warm_workers(spark) -> None:
    """Start the Python worker pool and pay the first shuffle and Arrow
    round trip before anything is timed."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInPandas(lambda it: it, schema="id long").toPandas()


# --------------------------------------------------------------------------
# statistics


def _span_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def per_op_ms(walls: dict[str, list[float]], pct: float) -> float:
    """The ``pct`` percentile of each operation's walls, combined over the
    panel by geometric mean.  A pooled percentile would jump between the
    few operations of the fixed panel from run to run."""
    return 1000.0 * math.exp(statistics.fmean(
        math.log(float(np.percentile(v, pct))) for v in walls.values()))


# --------------------------------------------------------------------------
# operations


@dataclass
class Ctx:
    spark: object
    cfg: dict
    work: str
    tracer: Tracer
    status: object = None  # StatusReader in traced passes
    sf_dir: str = ""
    layer: dict = field(default_factory=dict)  # per-layer sums over traced ops
    traced_ops: int = 0
    failures: list = field(default_factory=list)
    last_files: tuple = (0, 0)  # (files, bytes) of the last manifest written

    def add(self, name: str, value: float) -> None:
        self.layer[name] = self.layer.get(name, 0.0) + float(value)


class QueryOp:
    """One registered-query call: construct, then a full ``toPandas``."""

    def __init__(self, name: str, oracle_sql: str):
        self.name = name
        self.oracle_sql = oracle_sql
        self.want = None
        self.drain = name.endswith("_live")

    def prepare(self, ctx: Ctx, oracle) -> None:
        self.want = oracle.answer(self.oracle_sql)

    def run(self, ctx: Ctx, traced: bool, seq: int):
        from s3_manifest_spark import registry
        from s3_manifest_spark.streaming import metrics as stream_metrics

        spark, tr = ctx.spark, ctx.tracer
        getattr(spark, "_smsp_plan_cache", {}).clear()
        if not traced:
            t0 = time.perf_counter()
            pdf = registry.QUERIES[self.name](spark, ctx.sf_dir).toPandas()
            return time.perf_counter() - t0, pdf
        sc = spark.sparkContext
        sc.clearJobTags()  # a failed traced call may have left its tag set
        tags = (f"pb-{seq}-construct", f"pb-{seq}-collect")
        models_before = set(getattr(spark, "_smsp_model_cache", {}))
        stream_metrics.LAST_PROGRESS.clear()
        t0 = time.perf_counter()
        with tr.span("bench", self.name) as root:
            sc.addJobTag(tags[0])
            with tr.span("streaming" if self.drain else "registry", "construct") as c:
                df = registry.QUERIES[self.name](spark, ctx.sf_dir)
            sc.removeJobTag(tags[0])
            sc.addJobTag(tags[1])
            with tr.span("spark_catalyst", "executedPlan") as p:
                df._jdf.queryExecution().executedPlan()
            with tr.span("spark_collect", "toPandas") as x:
                pdf = df.toPandas()
            sc.removeJobTag(tags[1])
        wall = time.perf_counter() - t0
        ms = _span_ms
        ctx.status.drain()
        ctx.add("registry.construct_ms", ms(c))
        ctx.add("registry.construct_jobs", len(ctx.status.job_ids(tags[0])))
        ctx.add("registry.model_cache_builds",
                len(set(getattr(spark, "_smsp_model_cache", {})) - models_before))
        ctx.add("spark.catalyst.plan_ms", ms(p))
        ctx.add("spark.execute_collect_ms", ms(x))
        ctx.add("result.rows", len(pdf))
        for k, v in ctx.status.metrics(list(tags)).items():
            ctx.add(k, v)
        ctx.add("op_wall_ms", ms(root))
        ctx.add("n.query", 1)
        if self.drain:
            ctx.add("n.drain", 1)
            self._drain_metrics(ctx, ms(c), stream_metrics.LAST_PROGRESS)
        return wall, pdf

    @staticmethod
    def _drain_metrics(ctx: Ctx, drain_ms: float, progress: dict) -> None:
        rows = [r for family in progress.values() for r in family]
        dur = lambda r, k: float((r.get("durationMs") or {}).get(k, 0))  # noqa: E731
        trig = sum(dur(r, "triggerExecution") for r in rows)
        ctx.add("streaming.triggers", len(rows))
        ctx.add("streaming.add_batch_ms", sum(dur(r, "addBatch") for r in rows))
        ctx.add("streaming.log_commit_ms",
                sum(dur(r, "walCommit") + dur(r, "commitOffsets") for r in rows))
        ctx.add("streaming.state_commit_ms", sum(
            float(op.get("commitTimeMs", 0)) for r in rows for op in r.get("stateOperators") or []))
        ctx.add("streaming.machinery_ms", drain_ms - trig)

    def check(self, ctx: Ctx, pdf) -> str | None:
        from perfbench.oracle import mismatch

        return mismatch(pdf, self.want)


class BuildOp:
    """The reference's whole job: list the fake bucket, derive the
    manifest, write it as Parquet."""

    name = "manifest_build"

    def __init__(self, spec: fake_s3.BucketSpec, target_shards: int):
        self.spec = spec
        self.target_shards = target_shards
        self.want = None

    def prepare(self, ctx: Ctx, oracle=None) -> None:
        keys, sizes, mtimes = fake_s3.build_bucket(self.spec)
        self.want = (len(keys), int(sizes.sum()), _row_hash(pd.DataFrame({
            "Key": keys,
            "FileName": [k.rsplit("/", 1)[-1] for k in keys],
            "Size": sizes,
            "LastModified": mtimes,
        })))
        self.out = os.path.join(ctx.work, "manifest-out")
        self.stats_dir = os.path.join(ctx.work, "s3-stats")
        os.makedirs(self.stats_dir, exist_ok=True)
        self._offsets: dict[str, int] = {}

    def run(self, ctx: Ctx, traced: bool, seq: int):
        from s3_manifest_spark.manifest.core import derive_manifest, write_manifest
        from s3_manifest_spark.sources import s3_listing

        spark, tr = ctx.spark, ctx.tracer
        tag = f"pb-{seq}"
        factory = fake_s3.client_factory(self.spec, self.stats_dir if traced else None, tag)
        if not traced:
            t0 = time.perf_counter()
            listing = s3_listing.list_objects_df(
                spark, fake_s3.BUCKET, "", factory, "/", self.target_shards)
            write_manifest(derive_manifest(listing, fake_s3.BUCKET, ""), self.out)
            return time.perf_counter() - t0, None
        # Traced: materialise the listing first, so listing and the
        # derive+write path are timed apart.
        real_discover = s3_listing.discover_shards
        shards: list = []

        def discover(*a, **kw):
            with tr.span("s3_listing", "discover_shards"):
                found = real_discover(*a, **kw)
            shards.append(len(found[0]))
            return found

        sc = spark.sparkContext
        sc.clearJobTags()
        sc.addJobTag(tag)
        t0 = time.perf_counter()
        s3_listing.discover_shards = discover
        try:
            with tr.span("bench", self.name) as root:
                with tr.span("s3_listing", "list_objects_df") as lst:
                    listing = s3_listing.list_objects_df(
                        spark, fake_s3.BUCKET, "", factory, "/", self.target_shards
                    ).localCheckpoint(eager=True)
                with tr.span("manifest", "derive_manifest+write_manifest") as wr:
                    write_manifest(derive_manifest(listing, fake_s3.BUCKET, ""), self.out)
        finally:
            s3_listing.discover_shards = real_discover
            sc.removeJobTag(tag)
        wall = time.perf_counter() - t0
        ms = _span_ms
        disc = next(s for s in tr.spans[lst["id"]:] if s["name"] == "discover_shards")
        ctx.add("s3_listing.discover_ms", ms(disc))
        ctx.add("s3_listing.list_ms", ms(lst) - ms(disc))
        ctx.add("s3_listing.shards", shards[0] if shards else 0)
        ctx.add("manifest.write_ms", ms(wr))
        ctx.add("op_wall_ms", ms(root))
        ctx.add("n.build", 1)
        self._request_metrics(ctx, tag)
        ctx.status.drain()
        for k, v in ctx.status.metrics([tag]).items():
            ctx.add(k, v)
        return wall, None

    def _request_metrics(self, ctx: Ctx, tag: str) -> None:
        reqs = []
        for name in sorted(os.listdir(self.stats_dir)):
            path = os.path.join(self.stats_dir, name)
            with open(path) as f:
                f.seek(self._offsets.get(path, 0))
                reqs += [r for r in map(json.loads, f) if r["tag"] == tag]
                self._offsets[path] = f.tell()
        per_shard: dict[str, list[float]] = {}
        for r in reqs:
            if not r["d"]:
                span = per_shard.setdefault(r["p"], [r["t0"], r["t1"]])
                span[0], span[1] = min(span[0], r["t0"]), max(span[1], r["t1"])
        shard_ms = sorted((b - a) * 1000.0 for a, b in per_shard.values())
        ctx.add("s3_listing.requests", len(reqs))
        ctx.add("s3_listing.retries", sum(r["throttled"] for r in reqs))
        ctx.add("s3_listing.server_ms", sum((r["t1"] - r["t0"]) * 1000.0 for r in reqs))
        ctx.add("s3_listing.useful_requests", sum(r["n"] > 0 for r in reqs))
        if shard_ms:
            ctx.add("s3_listing.slowest_shard_ms", shard_ms[-1])
            ctx.add("s3_listing.shard_skew", shard_ms[-1] / statistics.median(shard_ms))

    def check(self, ctx: Ctx, _result) -> str | None:
        import pyarrow.parquet as pq

        from s3_manifest_spark.manifest.core import MANIFEST_SCHEMA

        files = [f for f in os.listdir(self.out) if f.endswith(".parquet")]
        ctx.last_files = (len(files), sum(
            os.path.getsize(os.path.join(self.out, f)) for f in files))
        table = pq.read_table(self.out)
        want_types = {"StringType()": "string", "LongType()": "int64",
                      "TimestampType()": "timestamp[ms, tz=UTC]"}
        got = [(f.name, str(f.type), f.nullable) for f in table.schema]
        want = [(f.name, want_types[repr(f.dataType)], f.nullable) for f in MANIFEST_SCHEMA.fields]
        if got != want:
            return f"schema {got} != {want}"
        pdf = table.to_pandas()
        pdf["LastModified"] = table.column("LastModified").cast("int64").to_numpy()
        if not (pdf["Bucket"] == fake_s3.BUCKET).all():
            return "Bucket column differs"
        got_sum = (len(pdf), int(pdf["Size"].sum()),
                   _row_hash(pdf[["Key", "FileName", "Size", "LastModified"]]))
        if got_sum != self.want:
            return f"(rows, sum Size, row hash) {got_sum} != {self.want}"
        return None


def _row_hash(pdf: pd.DataFrame) -> int:
    """Order-insensitive hash of a frame's rows (wrapping uint64 sum)."""
    pdf = pdf.astype({"Size": "int64", "LastModified": "int64"})
    return int(pd.util.hash_pandas_object(pdf, index=False).to_numpy().sum(dtype=np.uint64))


# --------------------------------------------------------------------------
# the run


def isolate(root: str, work: str) -> None:
    """Point every scratch location of the engine, Spark and its Python
    workers into ``work`` and let the workers import from ``root``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None  # re-read TMPDIR


def run(workload: str, seed: int, seconds: float, traced: bool, root: str) -> dict:
    """One benchmark run; returns the result object the command prints."""
    cfg = load_config()
    work = os.path.join(root, ".perfbench", f"{workload}-{seed}-{os.getpid()}")
    isolate(root, work)
    try:
        return _run(cfg, workload, seed, seconds, traced, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(cfg, workload, seed, seconds, traced, root, work) -> dict:
    from s3_manifest_spark import registry

    registry.load_all()
    phases = {"imports_s": process_age_s()}
    wcfg = cfg["workloads"][workload]
    ctx = Ctx(spark=None, cfg=cfg, work=work, tracer=Tracer(f"{workload}-{seed}", traced),
              sf_dir=os.path.join(work, "sf"))
    if workload == "manifest_build":
        ops = [BuildOp(fake_s3.BucketSpec(seed=seed, **cfg["fake_s3"]), cfg["target_shards"])]
    else:
        ops = [QueryOp(n, registry.ORACLES[n]) for n in wcfg["panel"]]
    with ThreadPoolExecutor(1) as pool:
        # Inputs and their expected answers are built while the JVM starts.
        inputs = pool.submit(_prepare, ctx, ops)
        t0 = time.perf_counter()
        ctx.spark = start_session(cfg, work)
        ctx.add("session.start_ms", (time.perf_counter() - t0) * 1000.0)
        phases["session_s"] = process_age_s()
        try:
            warm_workers(ctx.spark)
            phases["warm_s"] = process_age_s()
            inputs.result()
        except BaseException:
            stop_session(ctx.spark)
            raise
    try:
        return _measure(ctx, workload, wcfg, ops, random.Random(seed), seconds, traced, root,
                        phases)
    finally:
        stop_session(ctx.spark)


def _prepare(ctx: Ctx, ops: list) -> None:
    if isinstance(ops[0], BuildOp):
        for op in ops:
            op.prepare(ctx)
        return
    from perfbench.oracle import Oracle

    fixtures.generate(ctx.sf_dir)
    oracle = Oracle(ctx.sf_dir, nproc())
    try:
        for op in ops:
            op.prepare(ctx, oracle)
    finally:
        oracle.close()


def _measure(ctx: Ctx, workload, wcfg, ops, rng, seconds, traced, root, phases) -> dict:
    spark = ctx.spark
    phases["inputs_s"] = process_age_s()
    spec = ops[0].spec if isinstance(ops[0], BuildOp) else None

    attempted = failed = 0

    def attempt(op, traced_op: bool, seq: int) -> float | None:
        """Run and check one operation; its wall in s, or None if it failed."""
        nonlocal attempted, failed
        attempted += 1
        try:
            wall, result = op.run(ctx, traced_op, seq)
            why = op.check(ctx, result)
        except Exception:  # a failed operation is counted, not fatal
            why = traceback.format_exc(limit=4)
        if why is not None:
            failed += 1
            ctx.failures.append(f"{op.name}: {why}")
            return None
        return wall

    # Untimed first call of every operation: fills the model cache.
    first_ms = {}
    for i, op in enumerate(ops):
        t0 = time.perf_counter()
        attempt(op, False, -1 - i)
        first_ms[op.name] = round((time.perf_counter() - t0) * 1000.0)
    if traced:
        from perfbench.status import StatusReader

        ctx.status = StatusReader(spark)
    phases["first_calls_s"] = process_age_s()
    phases["first_call_ms"] = first_ms
    setup_s = process_age_s()

    # Fixed work per run: whole passes, so every run of a workload has
    # the same operations and the same sample count.
    passes = max(2, round(seconds / wcfg["nominal_pass_s"]))
    walls: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    seq = 0
    for p in range(passes * (2 if traced else 1)):
        # Traced and untraced passes in ABBA order, so neither side gets
        # all the early (least warm) passes.
        traced_pass = traced and p % 4 in (0, 3)
        for op in rng.sample(ops, len(ops)):
            seq += 1
            wall = attempt(op, traced_pass, seq)
            if wall is None:
                continue
            walls[traced_pass].setdefault(op.name, []).append(wall)
            if traced_pass:
                ctx.traced_ops += 1
                if spec is not None:
                    ctx.add("manifest.objects", op.want[0])
                    ctx.add("manifest.files_written", ctx.last_files[0])
                    ctx.add("manifest.bytes_written", ctx.last_files[1])

    # Resident footprint after the passes: a full GC, then a pause for
    # G1's concurrent uncommit, so heap-growth timing does not show.
    spark._jvm.System.gc()
    time.sleep(1.0)
    resident_mb = rss_mb([os.getpid(), jvm_pid(spark)])
    untraced = [w for ws in walls[False].values() for w in ws]
    detail = {
        "run": ctx.tracer.run_id, "passes": passes,
        "panel": [op.name for op in ops], "samples": len(untraced),
        "measured_s": sum(untraced),
        "op_walls_ms": {k: [round(w * 1000.0, 1) for w in v] for k, v in walls[False].items()},
        "setup_phases_end_s": phases, "failures": ctx.failures[:20],
    }
    if spec is not None and untraced:  # the reference's own figure
        detail["objects_per_s"] = ops[0].want[0] * len(untraced) / sum(untraced)
    metrics = {}
    if traced:
        metrics = _layer_metrics(ctx, walls, detail)
        trace_dir = os.path.join(root, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        ctx.tracer.dump(os.path.join(trace_dir, f"{ctx.tracer.run_id}.jsonl"))
    elif untraced:
        values = {
            "setup_s": setup_s,
            "op_p50_ms": per_op_ms(walls[False], 50),
            # A run holds 3-10 calls per operation: too few for any
            # percentile with ten calls beyond it, so the upper figure
            # is the 75th.
            "op_p75_ms": per_op_ms(walls[False], 75),
            "ops_per_s": len(untraced) / sum(untraced),
            "rss_mb": resident_mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    print(json.dumps({"detail": detail}), flush=True)
    for f in ctx.failures:
        print(f, file=sys.stderr)
    return {"correct": failed == 0 and bool(metrics), "attempted": attempted,
            "failed": failed, "metrics": metrics}


#: Per-layer metric -> unit; summed over traced operations and reported
#: per operation unless _layer_metrics says otherwise.
PER_LAYER_UNITS = {
    "session.start_ms": "ms",
    "registry.construct_ms": "ms",
    "registry.construct_jobs": "count",
    "registry.model_cache_builds": "count",
    "registry.model_cache_entries": "count",
    "spark.catalyst.plan_ms": "ms",
    "spark.scheduler.jobs": "count",
    "spark.scheduler.stages": "count",
    "spark.scheduler.tasks": "count",
    "spark.scheduler.delay_ms": "ms",
    "spark.executor.run_ms": "ms",
    "spark.executor.cpu_ms": "ms",
    "spark.executor.gc_ms": "ms",
    "spark.executor.cpu_util": "ratio",
    "spark.shuffle.write_bytes": "B",
    "spark.shuffle.read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.python.rows_sent": "count",
    "spark.python.bytes_sent": "B",
    "spark.execute_collect_ms": "ms",
    "result.rows": "count",
    "s3_listing.discover_ms": "ms",
    "s3_listing.requests": "count",
    "s3_listing.retries": "count",
    "s3_listing.list_ms": "ms",
    "s3_listing.shards": "count",
    "s3_listing.server_ms": "ms",
    "s3_listing.useful_request_ratio": "ratio",
    "s3_listing.slowest_shard_ms": "ms",
    "s3_listing.shard_skew": "ratio",
    "manifest.write_ms": "ms",
    "manifest.files_written": "count",
    "manifest.bytes_written": "B",
    "manifest.bytes_per_object": "B",
    "manifest.objects_per_s": "1/s",
    "streaming.triggers": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.log_commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.machinery_ms": "ms",
    **{f"self_ms.{layer}": "ms" for layer in LAYERS},
    "trace.overhead_pct": "%",
}


def _layer_metrics(ctx: Ctx, walls, detail) -> dict:
    """Per-layer metrics of the traced operations: means per registered
    query call (``registry``), per drain (``streaming``), per manifest
    build (``s3_listing``, ``manifest``) and per operation (the rest)."""
    L = ctx.layer
    per = {"registry": L.get("n.query", 0.0), "streaming": L.get("n.drain", 0.0),
           "s3_listing": L.get("n.build", 0.0), "manifest": L.get("n.build", 0.0)}
    n_ops = float(ctx.traced_ops)
    out = {}
    for k in PER_LAYER_UNITS:
        d = per.get(k.split(".")[0], n_ops)
        out[k] = L.get(k, 0.0) / d if d else 0.0
    out["session.start_ms"] = L["session.start_ms"]
    out["registry.model_cache_builds"] = L.get("registry.model_cache_builds", 0.0)
    out["registry.model_cache_entries"] = float(
        len(getattr(ctx.spark, "_smsp_model_cache", {})))
    wall = L.get("op_wall_ms", 0.0)
    out["spark.executor.cpu_util"] = L.get("spark.executor.cpu_ms", 0.0) / wall / nproc() if wall else 0.0
    reqs = L.get("s3_listing.requests", 0.0)
    out["s3_listing.useful_request_ratio"] = L.get("s3_listing.useful_requests", 0.0) / reqs if reqs else 0.0
    objs = L.get("manifest.objects", 0.0)
    out["manifest.bytes_per_object"] = L.get("manifest.bytes_written", 0.0) / objs if objs else 0.0
    out["manifest.objects_per_s"] = objs / L["op_wall_ms"] * 1000.0 if objs else 0.0
    for layer, ms in ctx.tracer.self_ms().items():
        out[f"self_ms.{layer}"] = ms / n_ops if n_ops else 0.0
    # Tracing overhead: per operation, median traced wall over median
    # untraced wall from the interleaved passes; the median of those.
    ratios = [statistics.median(walls[True][k]) / statistics.median(walls[False][k])
              for k in walls[True] if walls[False].get(k)]
    out["trace.overhead_pct"] = (statistics.median(ratios) - 1.0) * 100.0 if ratios else 0.0
    detail["traced_ops"] = ctx.traced_ops
    return {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in out.items()}
