"""Focused tests for the r17 OPTIMIZATION-round operator changes.

Each change promised identical results with less work; these tests pin
the promise independently of the registry's oracle gate:

- dedup.near_duplicate_clusters: the seeded label init (min of own id
  and direct neighbors — one propagation step ahead) must produce the
  same clusters as a driver-side union-find on adversarial shapes
  (chains, blocks, singletons, string ids).
- graph.pagerank: the directed-mode per-iteration lineage truncation
  and the folded loop-invariant seed columns must leave ranks
  bit-identical to a driver-side replay of the integer iteration —
  uniform, seeded (personalized), warm-started and with the
  ``max_delta`` receipt, symmetric and directed.
- sources.versioned.versioned_upsert: the coalesce-on-write rewrite
  must keep snapshot contents and the change feed identical, and the
  rewrite must still produce real part files.
- embedstats.second_moments (r16 ADVICE #1): the public guarded kernel
  raises on an empty/all-invalid corpus instead of yielding NaN stats.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_etl_pipeline_spark.operators import dedup, embedstats, graph


def _union_find(pairs, ids):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve to component minimum
    return {i: find(i) for i in ids}


@pytest.mark.parametrize(
    "pairs, ids",
    [
        # long chain (the pointer-halving stress shape)
        ([(i, i + 1) for i in range(1, 12)], list(range(1, 13))),
        # two dense blocks + a bridge + singletons
        (
            [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
            list(range(1, 16)),
        ),
        # empty pair set: every doc a singleton
        ([], [1, 2, 3]),
    ],
)
def test_cc_seeded_init_matches_union_find(spark, pairs, ids):
    p = spark.createDataFrame(
        pairs or [(None, None)], "id_a bigint, id_b bigint"
    )
    if not pairs:
        p = p.where(F.lit(False))
    all_ids = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    out = dedup.near_duplicate_clusters(p, all_ids, "doc_id")
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    want = _union_find(pairs, ids)
    assert got == want
    sizes = {r["doc_id"]: r["cluster_size"] for r in out.collect()}
    from collections import Counter

    csize = Counter(want.values())
    assert sizes == {i: csize[want[i]] for i in ids}


def test_cc_seeded_init_string_ids(spark):
    pairs = [("a", "b"), ("b", "c"), ("x", "y")]
    ids = ["a", "b", "c", "x", "y", "lone"]
    p = spark.createDataFrame(pairs, "id_a string, id_b string")
    all_ids = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    out = dedup.near_duplicate_clusters(p, all_ids, "doc_id")
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "lone": "lone"}


_PR_EDGES = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 4), (6, 1), (2, 6)]
# adds a pure sink (7) in directed mode and a self-loop that must drop
_PR_EDGES_SINK = _PR_EDGES + [(3, 7), (7, 7)]


def _pagerank_reference(
    edges, iterations, damping_pct, base, symmetric, seeds=None, init=None
):
    """Driver-side replay of the integer iteration: uniform or seeded
    (personalized) teleport, directed sink mass redistributed uniformly
    or onto the seeds, optional warm-start ranks. Returns the final
    ranks, the out-degrees and the penultimate ranks."""
    es = set()
    for s, d in edges:
        if s != d:
            es.add((s, d))
            if symmetric:
                es.add((d, s))
    if symmetric:
        nodes = sorted({s for s, _ in es})
    else:
        nodes = sorted({x for e in es for x in e})
    deg = {}
    for s, _ in es:
        deg[s] = deg.get(s, 0) + 1
    init = init or {}
    rank = {n: init.get(n, base) for n in nodes}
    teleport = (100 - damping_pct) * base
    seed_set = set(seeds or ()) & set(nodes)
    if seeds is not None:
        tele = teleport * len(nodes) // len(seed_set)
    prev = None
    for _ in range(iterations):
        prev = rank
        incoming = {n: 0 for n in nodes}
        for s, d in es:
            incoming[d] += rank[s] // deg[s]
        sink_sum = sum(rank[n] for n in nodes if n not in deg)
        if seeds is not None:
            share = 0 if symmetric else sink_sum // len(seed_set)
            rank = {
                n: ((n in seed_set) * (tele + damping_pct * share)
                    + damping_pct * incoming[n]) // 100
                for n in nodes
            }
        else:
            share = 0 if symmetric else sink_sum // len(nodes)
            rank = {
                n: (teleport + damping_pct * (incoming[n] + share)) // 100
                for n in nodes
            }
    return rank, deg, prev


@pytest.mark.parametrize(
    "edges, iterations, symmetric, seeds, init, delta",
    [
        pytest.param(_PR_EDGES, 5, True, None, None, False, id="True"),
        pytest.param(_PR_EDGES, 5, False, None, None, False, id="False"),
        pytest.param(_PR_EDGES_SINK, 5, True, [2, 5, 42], None, False, id="seeded-symmetric"),
        pytest.param(_PR_EDGES_SINK, 5, False, [2, 5, 42], None, False, id="seeded-directed"),
        pytest.param(
            _PR_EDGES_SINK, 4, True, None, {1: 700_000, 2: 1_400_000, 99: 5}, False,
            id="warm-start-symmetric",
        ),
        pytest.param(
            _PR_EDGES_SINK, 3, False, [7], {3: 2_000_000, 7: 10}, False,
            id="warm-start-seeded-directed",
        ),
        # iterations 4 with the symmetric cadence of 3: the cadence cut
        # and the receipt snapshot land on the same round
        pytest.param(_PR_EDGES_SINK, 4, True, None, None, True, id="delta-symmetric"),
        pytest.param(_PR_EDGES_SINK, 5, False, None, None, True, id="delta-directed"),
        pytest.param(_PR_EDGES_SINK, 1, False, [1], None, True, id="delta-one-round"),
    ],
)
def test_pagerank_r17_shape_matches_reference(
    spark, edges, iterations, symmetric, seeds, init, delta
):
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    kwargs = {}
    if seeds is not None:
        kwargs["seeds"] = spark.createDataFrame([(s,) for s in seeds], "node bigint")
    if init is not None:
        kwargs["init_ranks"] = spark.createDataFrame(
            list(init.items()), "node bigint, rank bigint"
        )
    out = graph.pagerank(
        e,
        iterations=iterations,
        damping_pct=85,
        base=1_000_000,
        symmetric=symmetric,
        delta_receipt=delta,
        **kwargs,
    )
    rank, deg, prev = _pagerank_reference(
        edges, iterations, 85, 1_000_000, symmetric, seeds, init
    )
    rows = out.collect()
    got = {r["node"]: (r["rank"], r["degree"]) for r in rows}
    assert got == {n: (rank[n], deg.get(n, 0)) for n in rank}
    if delta:
        want = max(abs(rank[n] - prev[n]) for n in rank)
        assert {r["max_delta"] for r in rows} == {want}


def test_versioned_upsert_coalesce_contents_and_files(spark, tmp_path):
    from ai_etl_pipeline_spark.sources import versioned

    base = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 101)], "k bigint, val string"
    )
    versioned.versioned_write(df, base, n_files=4)
    upd = spark.createDataFrame(
        [(1, "patched"), (999, "new")], "k bigint, val string"
    )
    v2 = versioned.versioned_upsert(spark, base, upd, ["k"])
    snap = {r["k"]: r["val"] for r in versioned.snapshot_read(spark, base, v2).collect()}
    assert snap[1] == "patched" and snap[999] == "new" and len(snap) == 101
    # the rewrite produced REAL part files and the manifest carries
    # untouched files by reference (count > rewritten set)
    import json
    import os

    mf = json.load(open(os.path.join(base, "_manifests", f"v{v2}.json")))
    assert all(os.path.exists(f) for f in mf["files"])
    new_files = [f for f in mf["files"] if f"/v{v2}/" in f]
    assert 1 <= len(new_files)
    feed = versioned.change_feed(spark, base, 1, v2, ["k"])
    rows = {(r["k"], r["change_type"]) for r in feed.collect()}
    assert rows == {(1, "update"), (999, "insert")}


def test_second_moments_public_guard(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0],), ([3.0, 4.0],)], "vec array<double>"
    )
    g, s, n = embedstats.second_moments(df, "vec", 2)
    assert n == 2 and s[0] == 4.0 and g[0][0] == 10.0
    empty = df.where(F.lit(False))
    with pytest.raises(ValueError, match="no valid"):
        embedstats.second_moments(empty, "vec", 2)
