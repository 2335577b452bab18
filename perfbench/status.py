"""Reader of Spark's own status stores, keyed by Spark job tag.

Everything comes from the driver's ``AppStatusStore`` (jobs, stages,
tasks) and ``SQLAppStatusStore`` (per-operator SQL metrics), which
Spark fills whether or not the web UI is enabled.  Records are fetched
as JSON through Spark's bundled Jackson, one py4j call per object.
"""

from __future__ import annotations

import json
import re

# Plan nodes whose SQL metrics describe the JVM/Python boundary.
_PYTHON_NODES = re.compile(r"Python|Pandas|Arrow")
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}

STAGE_KEYS = (
    "spark.scheduler.jobs", "spark.scheduler.stages", "spark.scheduler.tasks",
    "spark.scheduler.delay_ms", "spark.executor.run_ms", "spark.executor.cpu_ms",
    "spark.executor.gc_ms", "spark.shuffle.write_bytes", "spark.shuffle.read_bytes",
    "spark.spill_bytes", "spark.python.rows_sent", "spark.python.bytes_sent",
)


def metric_total(text: str) -> float:
    """Total of one SQL metric as ``executionMetrics`` renders it: a bare
    count (``"1,234"``) or ``"total (min, med, max ...)\\n3.1 KiB (...)"``."""
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def _rows_out(nodes: dict, feeds: dict, nid: int) -> float:
    """Rows a plan node produces: its own row metric, else (for nodes
    such as Project that keep none) the sum over the nodes feeding it."""
    ms = nodes[nid][1]
    text = ms.get("number of output rows") or ms.get("records read")
    if text is not None:
        return metric_total(text)
    return sum(_rows_out(nodes, feeds, child) for child in feeds.get(nid, []))


class StatusReader:
    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._last_execution = -1

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def job_ids(self, tag: str) -> list[int]:
        return [j["jobId"] for j in self._json(self._store.jobsList(None))
                if tag in (j.get("jobTags") or [])]

    def metrics(self, tags: list[str]) -> dict[str, float]:
        """Sum the stage, task and Python SQL metrics of every job that
        carries one of ``tags``.  Call :meth:`drain` first."""
        jobs = [j for j in self._json(self._store.jobsList(None))
                if set(tags) & set(j.get("jobTags") or [])]
        out = dict.fromkeys(STAGE_KEYS, 0.0)
        out["spark.scheduler.jobs"] = float(len(jobs))
        job_ids = {j["jobId"] for j in jobs}
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            st = self._json(self._store.lastStageAttempt(sid))
            if st["status"] != "COMPLETE":  # skipped: its shuffle output was reused
                continue
            out["spark.scheduler.stages"] += 1
            out["spark.scheduler.tasks"] += st["numTasks"]
            out["spark.executor.run_ms"] += st["executorRunTime"]
            out["spark.executor.cpu_ms"] += st["executorCpuTime"] / 1e6
            out["spark.executor.gc_ms"] += st["jvmGcTime"]
            out["spark.shuffle.write_bytes"] += st["shuffleWriteBytes"]
            out["spark.shuffle.read_bytes"] += st["shuffleReadBytes"]
            out["spark.spill_bytes"] += st["diskBytesSpilled"]
            tasks = self._json(self._store.taskList(sid, st["attemptId"], 1 << 20))
            out["spark.scheduler.delay_ms"] += sum(t.get("schedulerDelay") or 0 for t in tasks)
        rows, sent = self._python_metrics(job_ids)
        out["spark.python.rows_sent"] = rows
        out["spark.python.bytes_sent"] = sent
        return out

    def _python_metrics(self, job_ids: set[int]) -> tuple[float, float]:
        """Rows and bytes sent to Python workers by the SQL executions
        that ran ``job_ids``.  Rows sent to a Python node are the rows
        the node feeding it produced (or, for a shuffle, read)."""
        execs = self._sql.executionsList()
        rows = sent = 0.0
        newest = self._last_execution
        for i in range(execs.size() - 1, -1, -1):  # ascending by id
            ex = execs.apply(i)
            if int(ex.executionId()) <= self._last_execution:
                break
            newest = max(newest, int(ex.executionId()))
            if not set(self._json(ex.jobs())) & {str(j) for j in job_ids}:
                continue
            values = self._json(self._sql.executionMetrics(ex.executionId()))
            graph = self._sql.planGraph(ex.executionId())
            nodes = {n["id"]: (n["name"], {m["name"]: values.get(str(m["accumulatorId"]))
                                           for m in n["metrics"]})
                     for n in self._json(graph.allNodes())}
            feeds: dict[int, list[int]] = {}
            for e in self._json(graph.edges()):
                feeds.setdefault(e["toId"], []).append(e["fromId"])
            for nid, (name, ms) in nodes.items():
                if not _PYTHON_NODES.search(name) or "data sent to Python workers" not in ms:
                    continue
                sent += metric_total(ms["data sent to Python workers"] or "0")
                rows += sum(_rows_out(nodes, feeds, child) for child in feeds.get(nid, []))
        self._last_execution = newest
        return rows, sent
