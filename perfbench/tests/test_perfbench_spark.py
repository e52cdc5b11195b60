"""Job attribution and an sf0.001 smoke of every workload, untraced and
traced, against the stored oracle signatures."""

import json
from concurrent.futures import ThreadPoolExecutor

from layers import LayerCollector
from spark_stats import StatusReader, jobs_submitted
from tracing import Tracer, install
from worker import Runner
from workloads import SMOKE_DATA_DIR, WORKLOADS, oracle_path


def test_interval_attribution_counts_pool_thread_jobs(spark):
    sc = spark.sparkContext

    def query(spark, data_dir):
        sc.setJobGroup("perfbench-test", "pool threads")
        spark.range(10).count()
        # pool threads do not inherit the caller's job group
        with ThreadPoolExecutor(2) as pool:
            list(pool.map(lambda _: spark.range(5).collect(), range(2)))
        return spark.range(3)

    runner = Runner(spark, SMOKE_DATA_DIR, {})
    runner.registry = {"q_pool": query}
    j0 = jobs_submitted(spark)
    try:
        rec = runner.run_query("q_pool")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    StatusReader(spark).drain()
    grouped = len(sc.statusTracker().getJobIdsForGroup("perfbench-test"))
    assert rec["jobs"] == jobs_submitted(spark) - j0
    assert rec["jobs"] >= grouped + 2


def test_smoke_every_workload_matches_oracle_traced_and_untraced(spark):
    with open(oracle_path(SMOKE_DATA_DIR)) as fh:
        oracle = json.load(fh)
    tracer = Tracer()
    runner = Runner(spark, SMOKE_DATA_DIR, oracle, tracer)
    collector = LayerCollector(runner.status, spark, tracer)
    figures = {}
    for workload, names in WORKLOADS.items():
        plain = runner.run_pass(names)
        collector.skip_untraced()
        patch = install(tracer)
        first = len(tracer.spans)
        try:
            traced = runner.run_pass(names, traced=True)
        finally:
            patch.undo()
        collector.add_pass(traced, first)
        figures[workload] = collector.passes[-1]
        failed = [(r["query"], r.get("error")) for r in plain + traced if not r["ok"]]
        assert failed == [], workload
        assert [r["signature"] for r in plain] == [r["signature"] for r in traced]
        # the status-store detail agrees with the interval job counts
        f = figures[workload]
        assert f["scheduler.jobs_build"] + f["scheduler.jobs_action"] == sum(r["jobs"] for r in traced)
    assert figures["iterative"]["truncate.calls"] > 0
    assert figures["relational"]["truncate.calls"] == 0
    assert figures["relational"]["sources.read_calls"] > 0
    assert figures["etl"]["streaming.batches"] > 0
    assert figures["etl"]["python.total_ms"] > 0
    assert figures["etl"]["operators.textstats.calls"] > 0
    assert figures["iterative"]["operators.graph.calls"] > 0
    assert figures["iterative"]["operators.linkage.calls"] > 0
