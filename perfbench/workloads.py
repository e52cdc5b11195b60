"""The benchmark's workloads: fixed slices of the ``__spark_entry__``
registry, run over the tables committed under ``perfbench/data``.

Each slice stresses different engine layers, so that a change to one
layer has a workload that exercises it and one that bypasses it. The
slices are small (a warm pass takes about four seconds at sf0.01 on
local[4], six on iterative) because a run pays JVM start, its warm-up
passes and its timed passes, and a comparison needs many runs of every
workload.
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
SMOKE_DATA_DIR = os.path.join(HERE, "data", "sf0.001")

# Which end-to-end metric each layer's per-layer figures should move,
# written down before any change is measured:
# - sources.read_jobs/read_s -> jobs_per_pass and query_p50_s on
#   relational (one schema-inference job per parquet read); flat on
#   iterative, which reads few tables.
# - truncate.*, probe.*, scheduler.jobs_build, driver.gap_s -> pass_s and
#   jobs_per_pass on iterative; near zero on relational.
# - semantic.*, plans.self_s, operators.distinct/clean.*, python.*,
#   streaming.*, sources.write_s -> pass_s on etl; absent on relational.
# - catalyst.* -> query_p50_s on relational and etl.
# - executor.cpu_s, shuffle.* -> query_p90_s on relational, pass_s on
#   iterative (k-hop BFS: a join and an aggregate per hop).
# - operators.graph.*, operators.dedup/linkage.* -> pass_s on iterative;
#   operators.textstats.* -> pass_s on etl.
# - calibration.*, session.* -> setup_s; they also flag a slow host.
WORKLOADS: dict[str, list[str]] = {
    # The paper's pipeline: clean -> translate -> map -> write. Stresses
    # operators.clean/distinct/enrich/mapping, semantic, plans.pipeline
    # (pool-thread sampling jobs), sources writes (orc round trip,
    # versioned upsert), streaming micro-batches and the Python/Arrow
    # boundary, plus a textstats language-mix report; almost no shuffle.
    "etl": [
        "q_pipeline_translation", "q_translate_distributed", "q_map_split_tables",
        "q_source_orc", "q_merge_upsert", "q_events_stream_enrich", "q_text_language_mix",
    ],
    # Read-only TPC-H-shaped scans, joins, aggregates, windows and set
    # operations: sources reads (one schema-inference job per parquet
    # read), Catalyst, executor compute and shuffle; no Python UDFs and
    # no iteration.
    "relational": [
        "q_pricing_summary", "q_market_share", "q_join_broadcast_part", "q_join_semi",
        "q_agg_stats", "q_agg_rollup", "q_window_topk_per_customer", "q_set_union",
        "q_pivot_status",
    ],
    # Iterative loops whose wall time is mostly DataFrame construction:
    # an entity-resolution loop (blocking, pairwise similarity,
    # clustering) and a multi-source k-hop BFS over the trade graph. Both
    # truncate lineage and submit nearly all of their jobs before the
    # final action; the BFS adds a shuffle join per hop. It stands in for
    # the PageRank queries, which cost twice as much per pass.
    "iterative": ["q_entity_resolution", "q_graph_khop"],
}

# Timed passes per run. The count is fixed rather than derived from
# --seconds or the host's speed: a count that varied would change which
# warm-up state the median sees, and with it the metric. A warm pass
# takes about 4 s on etl and relational and 6 s on iterative (4-vCPU
# Xeon VM, local[4]).
TIMED_PASSES = 2


def oracle_path(data_dir: str) -> str:
    """Stored oracle signatures for the tables in ``data_dir``."""
    return os.path.join(HERE, "oracle", os.path.basename(os.path.normpath(data_dir)) + ".json")
