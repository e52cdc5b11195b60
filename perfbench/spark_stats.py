"""Readers for Spark's status stores, attributed by time interval.

Jobs are attributed to a query by the interval they were submitted in,
not by job group: pool threads in ``plans.pipeline`` and streaming
execution threads submit jobs without the caller's group. The benchmark
runs one client, so every job submitted between a query's build start
and its action end belongs to that query. Job ids are sequential, so the
DAG scheduler's job counter before and after a query bounds its jobs.

The status-store objects are read as JSON through Jackson: one py4j
call per object instead of one per field.
"""

from __future__ import annotations

import json
import re

from py4j.protocol import Py4JJavaError

PYTHON_METRICS = {
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'1,000'``, ``'13 ms'``,
    ``'8.4 KiB'`` or the multi-line ``'total (min, med, max ...)\\n9.2 s
    (...)'`` form, in ms for timings and bytes for sizes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def jobs_submitted(spark) -> int:
    """Jobs the DAG scheduler has accepted so far (the next job id)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


class StatusReader:
    """Reads jobs, stages and SQL executions out of the live status
    stores. Each stage attempt is counted once, for the first job that
    lists it; later jobs that reuse its shuffle output see it skipped."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._seen_stages: set[int] = set()
        self.next_execution = self._first_free_execution()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _first_free_execution(self) -> int:
        executions = self._sql.executionsList()
        n = executions.length()
        return executions.apply(n - 1).executionId() + 1 if n else 0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int) -> list[dict]:
        out = []
        for job_id in range(first, end):
            try:
                out.append(self._json(self._store.job(job_id)))
            except Py4JJavaError:  # evicted from the store: counted, not detailed
                out.append({"jobId": job_id, "stageIds": [], "missing": True})
        return out

    def new_stage_attempts(self, stage_ids) -> list[dict]:
        out = []
        for sid in stage_ids:
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            try:
                attempts = self._json(self._store.stageData(
                    sid, False, self._no_status, False, self._no_quantiles))
            except Py4JJavaError:  # never submitted (skipped) or evicted
                continue
            out.extend(a for a in attempts if a.get("status") not in ("SKIPPED", "PENDING"))
        return out

    def new_executions(self) -> list[dict]:
        """Python/Arrow boundary metrics of each SQL execution started
        since the last call, summed over its Python nodes."""
        out = []
        misses = 0
        eid = self.next_execution
        while misses < 3:  # tolerate ids the store never recorded
            if self._sql.execution(eid).isDefined():
                out.append(self._python_metrics(eid))
                misses = 0
                self.next_execution = eid + 1
            else:
                misses += 1
            eid += 1
        return out

    def _python_metrics(self, eid: int) -> dict:
        nodes = self._json(self._sql.planGraph(eid).allNodes())
        python_nodes = [
            n for n in nodes
            if any(m["name"] in PYTHON_METRICS for m in n.get("metrics", ()))
        ]
        if not python_nodes:
            return {}
        values = self._json(self._sql.executionMetrics(eid))
        out: dict[str, float] = {}
        for node in python_nodes:
            for m in node["metrics"]:
                key = PYTHON_METRICS.get(m["name"])
                if key is None and m["name"] == "number of output rows":
                    key = "python.rows_received"
                text = values.get(str(m["accumulatorId"]))
                if key is not None and text is not None:
                    out[key] = out.get(key, 0.0) + parse_metric(text)
        return out


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded by the DataFrame's
    ``QueryPlanningTracker`` (analysis at build, optimization and
    planning at the action)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
