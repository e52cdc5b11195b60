"""One benchmark run in a fresh process: set up, run timed passes, check
every result, and write the run's figures as JSON.

Started by ``run.py``; not meant to be run by hand. A pass runs every
query of the workload once, in an order shuffled by the seed; a run
makes a fixed number of timed passes after set-up. A
query is timed the way ``bench.py`` times it: the registry call
(build), then ``collect()`` (action). Signatures, job counts and trace bookkeeping are
taken between queries, outside the timed intervals.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from check import rows_signature  # noqa: E402
from spark_stats import StatusReader, catalyst_ms, jobs_submitted  # noqa: E402
from workloads import DATA_DIR, TIMED_PASSES, WORKLOADS, oracle_path  # noqa: E402

CALIBRATION_REPEATS = 3


def _collect_method():
    # bound before tracing patches DataFrame.collect, so the final action
    # is never counted as a probe
    from pyspark.sql.classic.dataframe import DataFrame

    return vars(DataFrame)["collect"]


class Runner:
    def __init__(self, spark, data_dir: str, oracle: dict, tracer=None):
        self.spark = spark
        self.data_dir = data_dir
        self.oracle = oracle
        self.timezone = spark.conf.get("spark.sql.session.timeZone")
        self.collect = _collect_method()
        self.tracer = tracer
        self.status = StatusReader(spark) if tracer is not None else None
        import __spark_entry__ as entry

        self.registry = entry.queries()

    def run_query(self, name: str, traced: bool = False) -> dict:
        spark, tracer = self.spark, self.tracer
        rec = {"query": name, "ok": False}
        j0 = jobs_submitted(spark)
        if traced:
            tracer.query, tracer.phase = name, "build"
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            df = self.registry[name](spark, self.data_dir)
            t1 = time.perf_counter()
            e1 = time.time()
            j1 = jobs_submitted(spark)
            if traced:
                tracer.phase = "action"
            t2 = time.perf_counter()
            rows = self.collect(df)
            t3 = time.perf_counter()
        except Exception as exc:  # a failing query counts as failed, the run goes on
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            rec["jobs"] = jobs_submitted(spark) - j0
            return rec
        finally:
            if traced:
                tracer.query = tracer.phase = None
        e3 = time.time()
        j2 = jobs_submitted(spark)
        rec.update(build_s=t1 - t0, action_s=t3 - t2, jobs=j2 - j0, jobs_build=j1 - j0,
                   epochs=(e0, e1, e3), job_ids=(j0, j1, j2))
        try:
            sig = rows_signature(rows, df.schema, self.timezone)
        except (TypeError, ValueError) as exc:
            rec["error"] = f"signature: {type(exc).__name__}: {exc}"
            return rec
        rec["signature"] = sig
        rec["ok"] = sig == self.oracle.get(name)
        if not rec["ok"]:
            rec["error"] = f"signature {sig} != oracle {self.oracle.get(name)}"
        if traced:
            rec["catalyst"] = catalyst_ms(df)
        return rec

    def run_pass(self, order: list[str], traced: bool = False) -> list[dict]:
        return [self.run_query(name, traced) for name in order]


def calibrate(spark) -> dict[str, float]:
    """Fixed cost of the box: a trivial one-task job and a job with one
    shuffle, each the median of a few repeats."""
    trivial, shuffle = [], []
    for _ in range(CALIBRATION_REPEATS):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        trivial.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(0, 1000, 1, 2).repartition(2).collect()
        shuffle.append(time.perf_counter() - t0)
    return {"job_s": trivial, "shuffle_job_s": shuffle}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=20)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--started", type=float, required=True,
                    help="epoch at which the parent spawned this process")
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args(argv)

    from ai_etl_pipeline_spark.session import get_session

    import __spark_entry__  # noqa: F401  (import cost is part of set-up)

    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_ready = time.time()
    try:
        result = measure(spark, args, session_ready)
    finally:
        jvm_mb = jvm_peak_rss_mb(spark)
        stop_spark(spark)
    result["per_layer_setup"]["session.jvm_peak_rss_mb"] = jvm_mb
    result["per_layer_setup"]["session.py_peak_rss_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
    tmp = args.out + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, args.out)
    return 0


def measure(spark, args, session_ready: float) -> dict:
    names = WORKLOADS[args.workload]
    with open(oracle_path(DATA_DIR)) as fh:
        oracle = json.load(fh)
    rng = random.Random(args.seed)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    runner = Runner(spark, DATA_DIR, oracle, tracer)

    spark.read.parquet(os.path.join(DATA_DIR, "lineitem.parquet")).count()
    # Set-up ends with two untimed passes in a fixed order: what the JIT
    # compiles first shapes the whole process's speed and must not vary
    # with the seed, and the pass after the cold one still runs 10-30%
    # slower than the next.
    t0 = time.perf_counter()
    cold = runner.run_pass(names)
    cold_pass_s = time.perf_counter() - t0
    warm = runner.run_pass(names)
    setup_s = time.time() - args.started
    cal = calibrate(spark)

    passes: list[dict] = []
    collector = None
    patch = None
    if tracer is not None:
        from layers import LayerCollector
        from tracing import install

        collector = LayerCollector(runner.status, spark, tracer)
        runner.status.drain()
        runner.status.new_executions()
    n_passes = TIMED_PASSES
    if tracer is not None:
        n_passes = max(4, n_passes)  # two untraced and two traced at least
    try:
        for i in range(n_passes):
            order = names[:]
            rng.shuffle(order)
            # a traced run interleaves untraced and traced passes as
            # U T T U, so the tracing overhead is measured in the same
            # process and a steady warm-up trend cancels out
            traced = tracer is not None and i % 4 in (1, 2)
            if traced:
                patch = install(tracer)
                first_span = len(tracer.spans)
            recs = runner.run_pass(order, traced)
            if traced:
                patch.undo()
                patch = None
                collector.add_pass(recs, first_span)
            elif collector is not None:
                collector.skip_untraced()
            passes.append({"traced": traced, "queries": recs,
                           "pass_s": sum(r.get("build_s", 0) + r.get("action_s", 0) for r in recs)})
    finally:
        if patch is not None:
            patch.undo()
    cal_end = calibrate(spark)
    for k in cal:
        cal[k] += cal_end[k]

    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "setup_s": setup_s,
        "per_layer_setup": {
            "session.start_s": session_ready - args.started,
            "session.cold_pass_s": cold_pass_s,
            "calibration.job_s": statistics.median(cal["job_s"]),
            "calibration.shuffle_job_s": statistics.median(cal["shuffle_job_s"]),
        },
        "setup_failures": [r["query"] for r in cold + warm if not r["ok"]],
        "passes": [{"traced": p["traced"], "pass_s": p["pass_s"],
                    "queries": [{k: v for k, v in r.items() if k in (
                        "query", "ok", "error", "build_s", "action_s", "jobs", "jobs_build")}
                        for r in p["queries"]]} for p in passes],
    }
    if collector is not None:
        result["per_layer"] = collector.per_pass()
        if args.spans:
            with open(args.spans, "w") as fh:
                for span in tracer.spans:
                    fh.write(json.dumps(span.as_dict()) + "\n")
    return result


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
