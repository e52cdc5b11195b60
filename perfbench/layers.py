"""Per-layer figures of a traced pass, from the spans and the status
stores. Every figure is summed over the queries of a pass; the run
reports the mean over its traced passes.

Attribution rules:
- a job belongs to the query whose build or action interval it was
  submitted in (job-id bounds taken around each query), and to the build
  phase when its id precedes the action's first job;
- ``truncate``/``probe``/``sources.read``/``sources.write`` jobs are the
  jobs submitted while a span of that kind was open; ``<layer>.jobs``
  counts a job for the innermost open package span;
- ``calls`` count entries into a layer (spans whose parent is outside the
  layer); ``self_s`` is span time minus the union of child intervals; the
  inclusive times (``truncate.s``, ``sources.read_s``, ``semantic.s``)
  sum the outermost spans of the kind.
"""

from __future__ import annotations

from collections import defaultdict

from spark_stats import PYTHON_METRICS
from tracing import self_times, union_length

OPERATORS = ("clean", "distinct", "enrich", "mapping", "relational", "dedup",
             "linkage", "graph", "similarity", "cdc", "textstats")
LAYERED = tuple(f"operators.{m}" for m in OPERATORS) + ("plans",)

SETUP = (
    ("session.start_s", "s"), ("session.cold_pass_s", "s"),
    ("session.jvm_peak_rss_mb", "MB"), ("session.py_peak_rss_mb", "MB"),
    ("calibration.job_s", "s"), ("calibration.shuffle_job_s", "s"),
)
PER_PASS = (
    ("driver.build_s", "s"), ("driver.action_s", "s"), ("driver.gap_s", "s"),
    ("scheduler.jobs_build", "count"), ("scheduler.jobs_action", "count"),
    ("scheduler.stages", "count"), ("scheduler.stages_skipped", "count"),
    ("scheduler.tasks", "count"), ("scheduler.busy_s", "s"), ("scheduler.slot_util", "ratio"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"),
    ("failures.tasks_failed", "count"), ("failures.stages_retried", "count"),
    ("sources.read_calls", "count"), ("sources.read_s", "s"), ("sources.read_jobs", "count"),
    ("sources.write_calls", "count"), ("sources.write_s", "s"),
    ("sources.input_bytes", "bytes"), ("sources.output_bytes", "bytes"),
    ("truncate.calls", "count"), ("truncate.s", "s"), ("truncate.jobs", "count"),
    ("probe.calls", "count"), ("probe.s", "s"), ("probe.jobs", "count"),
    *((f"{layer}.{k}", u) for layer in LAYERED
      for k, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))),
    ("semantic.calls", "count"), ("semantic.s", "s"), ("semantic.errors", "count"),
    ("streaming.calls", "count"), ("streaming.self_s", "s"), ("streaming.batches", "count"),
    ("streaming.input_rows", "count"), ("streaming.state_rows", "count"),
    ("streaming.batch_ms", "ms"),
    ("python.total_ms", "ms"), ("python.boot_ms", "ms"), ("python.bytes_sent", "bytes"),
    ("python.bytes_received", "bytes"), ("python.rows_received", "count"),
)
# span kind -> (calls, inclusive seconds, jobs) figure names
KIND_KEYS = {
    "read": ("sources.read_calls", "sources.read_s", "sources.read_jobs"),
    "write": ("sources.write_calls", "sources.write_s", None),
    "truncate": ("truncate.calls", "truncate.s", "truncate.jobs"),
    "probe": ("probe.calls", "probe.s", "probe.jobs"),
}


def stream_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append((p.numInputRows, p.batchDuration,
                                sum(s.numRowsTotal for s in p.stateOperators)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def take(self):
            out, self.events = self.events, []
            return out

    return Progress()


def kind_figures(spans, kind: str, jobs_at) -> tuple[int, float, int]:
    """(calls, inclusive seconds, jobs) for spans of one kind, counting
    only the outermost span of the kind on each call path."""
    by_id = {s.id: s for s in spans}

    def nested(s):
        p = by_id.get(s.parent)
        while p is not None:
            if p.kind == kind:
                return True
            p = by_id.get(p.parent)
        return False

    outer = [s for s in spans if s.kind == kind and s.end is not None and not nested(s)]
    jobs = sum(1 for t in jobs_at if any(s.start - 0.001 <= t <= s.end + 0.001 for s in outer))
    return len(outer), sum(s.end - s.start for s in outer), jobs


def innermost_package_layer(spans, t: float) -> str | None:
    best = None
    for s in spans:
        if s.layer != "pyspark" and s.end is not None and s.start - 0.001 <= t <= s.end + 0.001:
            if best is None or s.start > best.start:
                best = s
    return best.layer if best is not None else None


def query_figures(rec: dict, jobs: list[dict], stages: list[dict], spans) -> dict:
    """Figures for one query execution."""
    m: dict[str, float] = defaultdict(float)
    e0, e1, e3 = rec["epochs"]
    _, j1, _ = rec["job_ids"]
    m["driver.build_s"] = rec["build_s"]
    m["driver.action_s"] = rec["action_s"]
    build_iv, action_iv = [], []
    for job in jobs:
        build = job["jobId"] < j1
        m["scheduler.jobs_build" if build else "scheduler.jobs_action"] += 1
        m["scheduler.stages_skipped"] += job.get("numSkippedStages", 0)
        start, end = job.get("submissionTime"), job.get("completionTime")
        if start is not None and end is not None:
            lo, hi = (e0, e1) if build else (e1, e3)
            a, b = max(start / 1000.0, lo), min(end / 1000.0, hi)
            if b > a:
                (build_iv if build else action_iv).append((a, b))
    busy_build, busy_action = union_length(build_iv), union_length(action_iv)
    m["scheduler.busy_s"] = busy_build + busy_action
    m["driver.gap_s"] = max(rec["build_s"] - busy_build, 0.0) + max(rec["action_s"] - busy_action, 0.0)
    for st in stages:
        m["scheduler.stages"] += 1
        m["scheduler.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"] + st["numKilledTasks"]
        m["executor.run_s"] += st["executorRunTime"] / 1e3
        m["executor.cpu_s"] += st["executorCpuTime"] / 1e9
        m["executor.gc_s"] += st["jvmGcTime"] / 1e3
        m["shuffle.write_bytes"] += st["shuffleWriteBytes"]
        m["shuffle.read_bytes"] += st["shuffleReadBytes"]
        m["shuffle.spill_bytes"] += st["diskBytesSpilled"]
        m["sources.input_bytes"] += st["inputBytes"]
        m["sources.output_bytes"] += st["outputBytes"]
        m["failures.tasks_failed"] += st["numFailedTasks"]
        m["failures.stages_retried"] += st["attemptId"] > 0
    for k, v in rec.get("catalyst", {}).items():
        m[k] += v

    job_times = [j["submissionTime"] / 1000.0 for j in jobs if j.get("submissionTime") is not None]
    for kind, keys in KIND_KEYS.items():
        for key, value in zip(keys, kind_figures(spans, kind, job_times)):
            if key is not None:
                m[key] += value

    own = self_times(spans)
    by_id = {s.id: s for s in spans}
    errors = set()
    for s in spans:
        if s.end is None:
            continue
        parent = by_id.get(s.parent)
        entry = parent is None or parent.layer != s.layer
        if s.layer in LAYERED or s.layer == "streaming":
            m[f"{s.layer}.calls"] += entry
            m[f"{s.layer}.self_s"] += own[s.id]
        elif s.layer == "semantic":
            m["semantic.calls"] += entry
            if entry:
                m["semantic.s"] += s.end - s.start
            if s.error is not None:
                errors.add(s.error[1])
    m["semantic.errors"] += len(errors)
    for t in job_times:
        layer = innermost_package_layer(spans, t)
        if layer in LAYERED:
            m[f"{layer}.jobs"] += 1
    return m


class LayerCollector:
    """Accumulates per-layer figures over the traced passes of a run."""

    def __init__(self, status, spark, tracer):
        self.status = status
        self.tracer = tracer
        self.cores = spark.sparkContext.defaultParallelism
        self.listener = stream_listener()
        spark.streams.addListener(self.listener)
        self.passes: list[dict[str, float]] = []

    def skip_untraced(self) -> None:
        """Discard what an untraced pass left in the stores."""
        self.status.drain()
        self.status.new_executions()
        self.listener.take()

    def add_pass(self, recs: list[dict], first_span: int) -> None:
        self.status.drain()
        spans = self.tracer.spans[first_span:]
        by_query = defaultdict(list)
        for s in spans:
            by_query[s.query].append(s)
        total: dict[str, float] = defaultdict(float)
        for rec in recs:
            if "epochs" not in rec:
                continue
            j0, _, j2 = rec["job_ids"]
            jobs = self.status.jobs(j0, j2)
            stage_ids = [sid for j in jobs for sid in j.get("stageIds", ())]
            stages = self.status.new_stage_attempts(stage_ids)
            for k, v in query_figures(rec, jobs, stages, by_query[rec["query"]]).items():
                total[k] += v
        for ex in self.status.new_executions():
            for key in list(PYTHON_METRICS.values()) + ["python.rows_received"]:
                total[key] += ex.get(key, 0.0)
        for rows, batch_ms, state_rows in self.listener.take():
            total["streaming.batches"] += 1
            total["streaming.input_rows"] += rows
            total["streaming.batch_ms"] += batch_ms
            total["streaming.state_rows"] += state_rows
        busy = total["scheduler.busy_s"]
        total["scheduler.slot_util"] = total["executor.run_s"] / (busy * self.cores) if busy else 0.0
        self.passes.append(total)

    def per_pass(self) -> dict[str, float]:
        """Mean over traced passes of every per-pass figure."""
        n = len(self.passes)
        return {name: sum(p.get(name, 0.0) for p in self.passes) / n if n else 0.0
                for name, _ in PER_PASS}
