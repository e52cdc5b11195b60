"""Spark job counts of the graph tier's iterative operators.

With AQE on, every lazy ``localCheckpoint`` runs the stages below it
while the result frame is being built, so a lineage cut is a
synchronous job, not a free plan edit. Each case builds one operator on
a small fixed graph and collects it, counting the jobs the DAG
scheduler accepts in between (job-id bounds, as perfbench counts a
query). A change to the round loop may lower a count; it must never
raise one above the ceiling below.
"""

from __future__ import annotations

import pytest

from ai_etl_pipeline_spark.operators import graph

# two components, a directed sink (10), a self-loop and a duplicate edge
EDGES = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
    (2, 10), (7, 8), (8, 9), (9, 7), (9, 9), (1, 2),
]

CASES = {
    "pagerank_symmetric": lambda e, s: graph.pagerank(e, iterations=8),
    "pagerank_directed": lambda e, s: graph.pagerank(e, iterations=8, symmetric=False),
    "pagerank_directed_delta": lambda e, s: graph.pagerank(
        e, iterations=8, symmetric=False, delta_receipt=True
    ),
    "label_propagation_receipt": lambda e, s: graph.label_propagation(
        e, iterations=6, change_receipt=True
    ),
    "hits": lambda e, s: graph.hits(e, iterations=6),
    "k_core": lambda e, s: graph.k_core(e, 2, iterations=4),
    "k_hop_distances": lambda e, s: graph.k_hop_distances(e, s, max_hops=4),
}

# jobs per build + collect (local[4], 4 shuffle partitions, AQE on), as
# measured before the three fixed-round loops shared one helper
JOB_CEILING = {
    "pagerank_symmetric": 35,
    "pagerank_directed": 62,
    "pagerank_directed_delta": 71,
    "label_propagation_receipt": 36,
    "hits": 126,
    "k_core": 19,
    "k_hop_distances": 22,
}


def count_jobs(spark, case: str) -> int:
    """Jobs submitted while building and collecting ``case`` on a cold
    cache (no cached relation left over from an earlier case)."""
    spark.catalog.clearCache()
    edges = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1,)], "node bigint")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.numTotalJobs()
    CASES[case](edges, seeds).collect()
    return dag.numTotalJobs() - j0


@pytest.mark.parametrize("case", sorted(CASES))
def test_graph_operator_job_count_not_above_ceiling(spark, case):
    assert count_jobs(spark, case) <= JOB_CEILING[case]
