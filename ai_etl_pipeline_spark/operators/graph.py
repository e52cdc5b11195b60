"""Graph / centrality operators (north-star extension; ABSENT in the
reference, which has no relational surface at all — SURVEY.md §2.4).

Connected components (the dedup workhorse) lives in
``dedup.near_duplicate_clusters``; this module holds the ranking and
census side: damped random-walk centrality (PageRank) and triangle
counting over an edge relation.

Scale shape: every iteration is one contribution projection + one
destination-keyed aggregate + one join back to the node set — all
edge-/node-sized shuffles, nothing corpus-quadratic, and the iteration
count is FIXED (power iteration), so no operator here runs a
convergence probe or a ``count()``/``first()``. It is NOT free of
build-time jobs: with AQE on (the session default) every
``localCheckpoint(eager=False)`` plans its frame adaptively, which runs
the shuffle stages below it while the operator is still building the
result — each lineage cut is one or more synchronous Spark jobs before
the caller's action.

Arithmetic is INTEGER micro-units (rank scaled by ``base``) with
integer division everywhere: floating-point PageRank is
accumulation-order-dependent (different engines, different partition
orders → different low bits), which would make cross-engine
verification a tolerance argument. Integer ranks make the fixpoint
iteration BIT-EXACT — the DuckDB oracle unrolls the same iterations
and hash-matches the ranks, something float centrality cannot offer.
The cost is bounded truncation drift (≤ 1 unit per division at
base=1e6 — i.e. ≤ 1e-6 of a rank per hop), irrelevant for ordering
entities by importance.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Lineage-cut cadence of the fixed-round loops: rounds between lazy
# localCheckpoints of the carried frame (see _fixed_rounds).
# Symmetric pagerank, 3: PySpark analyzes eagerly per transformation, so
# plan-build cost is quadratic between cuts; swept on the 8-iteration
# trade graph, cadence 1/2/3/4 = 10.0/7.3/6.5-7.3/7.6 s (r17; r12 had 3
# ~25% faster than 6) — every cut also pays a full physical planning.
_PAGERANK_CUT_EVERY = 3
# Directed pagerank, 1: the rank frame is read TWICE per round (the
# contribution projection and the dangling scalar), so an uncut chain is
# genuinely recomputed — the r17 directed-personalized plan carried 168
# BroadcastExchanges and zero ReusedExchange; per-round cuts 8.0→4.3 s.
_PAGERANK_DIRECTED_CUT_EVERY = 1
# Label propagation, 2: swept against 1 in r17 — components 2.71 s vs
# 3.05-3.26 s, communities flat (exchange reuse covers the label frame's
# doubled reference inside a round).
_LABEL_PROP_CUT_EVERY = 2
# HITS, 4: each half-step already cuts its raw aggregate (the
# doubling-plan fix, 41.5→11.8 s at sf0.001), so the hub frame
# grows by two node-sized joins per round; 4 is the cadence it shipped
# with, no sweep recorded.
_HITS_CUT_EVERY = 4


def _fixed_rounds(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    cut_every: int,
    snapshot: bool = False,
) -> tuple[DataFrame, DataFrame | None]:
    """Apply ``step`` ``rounds`` times to ``state``, lazily
    ``localCheckpoint``-ing the carried frame at the start of every
    ``cut_every``-th round — never after the last round, whose output
    is the caller's to plan. ``snapshot=True`` also cuts the frame that
    enters the LAST round and returns it as the penultimate state (the
    receipt columns diff it against the final one); one cut serves both
    when the cadence already lands there. Returns ``(final, penultimate
    or None)``."""
    prev = None
    for r in range(rounds):
        last = r == rounds - 1
        if (r and r % cut_every == 0) or (snapshot and last):
            state = state.localCheckpoint(eager=False)
        if snapshot and last:
            prev = state
        state = step(state)
    return state, prev


def _undirected_edges(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Normalized undirected edge set ``(a, b)`` with ``a < b``: each
    unordered pair once, self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _undirected_degrees(e: DataFrame) -> DataFrame:
    """``(n, d)`` node degrees of a normalized ``(a, b)`` edge set."""
    return (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 8,
    damping_pct: int = 85,
    base: int = 1_000_000,
    symmetric: bool = True,
    seeds: DataFrame | None = None,
    delta_receipt: bool = False,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Damped random-walk centrality over an edge relation: fixed
    ``iterations`` of ``rank'(u) = ((100 - d)·base + d·(Σ_{v→u}
    (rank(v) div out_deg(v)) + dangling_share)) div 100`` with integer
    micro-unit arithmetic (see module docstring). ``symmetric=True``
    unions the reversed edges first — the undirected-graph rendering,
    which guarantees no dangling nodes (every node that appears has at
    least one out-edge), so the dangling term is identically zero and
    is compiled out of the plan.

    ``symmetric=False`` is the genuinely directed mode: the node set is
    the union of BOTH endpoints (pure sinks — nodes with only in-edges
    — get output rows), and the rank mass sitting on sinks each
    iteration is redistributed uniformly (``dangling_share =
    Σ_sink rank div n_nodes``, one scalar aggregate per iteration —
    the standard dangling-node treatment, kept in integer units so the
    iteration stays bit-exact and oracle-matchable).

    ``seeds`` (a one-column frame of node ids) switches to PERSONALIZED
    PageRank: the teleport mass — ``(100-d)·base·n_nodes`` per
    iteration, the same total the uniform mode spreads — lands entirely
    on the seed set (``div n_seeds`` each), so ranks measure proximity
    TO THE SEEDS along the graph (related-entity retrieval). Seeds not
    present in the edge set are ignored. With ``symmetric=False``
    (directed PPR — the link-graph related-page retrieval mode) the
    dangling mass is TELEPORT-CONSISTENT: rank sitting on pure sinks
    re-enters on the seed set (``d·Σ_sink rank div n_seeds`` per seed,
    damped like any other hop), not uniformly — a random surfer who
    hits a dead end restarts at a seed.

    Node set = all edge endpoints; ranks start at ``base`` each.
    Returns ``(node, rank, degree)`` — rank in micro-units, degree =
    out-degree (0 for pure sinks in directed mode).

    The rank frame is lazily ``localCheckpoint``-ed every
    ``_PAGERANK_CUT_EVERY`` (3) iterations when symmetric and EVERY
    iteration when directed, where it is read twice per round (the
    reasons sit with the constants). Each cut runs its stages as a
    build-time job under AQE (module docstring).

    ``delta_receipt`` (r9, the k-core certificate's sibling) appends a
    ``max_delta`` column: the max absolute rank change between the
    final two iterations, in micro-units — the fixpoint-proximity
    receipt that says whether the FIXED iteration count was enough
    (one extra node-sized join + scalar aggregate and one cut of the
    penultimate rank frame; same scalar on every row).

    ``weight_col`` (r9): WEIGHTED random walk — each out-edge receives
    rank proportional to its (positive integer) weight: ``contrib(v→u)
    = rank(v)·w(v,u) div Σ_out w(v)``, computed per edge in the one
    edge join (parallel edges collapse by summing weights; the
    unweighted path keeps its original expressions bit-for-bit, so
    existing oracles are untouched). ``degree`` in the output becomes
    the out-STRENGTH (weight sum). Symmetric mode mirrors each edge
    with its weight.
    """
    if iterations < 1:
        raise ValueError(f"pagerank: iterations must be >= 1, got {iterations}")
    if not 1 <= damping_pct <= 99:
        raise ValueError(f"pagerank: damping_pct must be in [1, 99], got {damping_pct}")
    if weight_col is not None:
        e = edges.select(
            F.col(src_col).alias("__src"),
            F.col(dst_col).alias("__dst"),
            F.col(weight_col).cast("bigint").alias("__w"),
        )
    else:
        e = edges.select(
            F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
        )
    if symmetric:
        e = e.unionByName(
            e.select(
                F.col("__dst").alias("__src"),
                F.col("__src").alias("__dst"),
                *([F.col("__w")] if weight_col is not None else []),
            )
        )
    # lazy localCheckpoint the iteration's working set ONCE: every
    # iteration references edges/deg/nodes, and without truncation each
    # reference re-executes the whole upstream edge derivation (a
    # fact-fact join in the trade-graph query) — 8 iterations paid the
    # base join ~16×. Blocks are reclaimed by the ContextCleaner when
    # the result is dropped.
    # hash-partition the edge relation on the join key BEFORE the
    # checkpoint: LogicalRDD preserves outputPartitioning, so the
    # per-iteration contribution join reuses the layout instead of
    # re-shuffling the (big) edge side every round — only the
    # node-sized contribution frame moves per iteration
    e = e.where(F.col("__src") != F.col("__dst"))
    if weight_col is not None:
        # parallel edges collapse by SUMMING weights (the natural
        # multigraph semantics); zero/negative weights rejected in-plan
        e = e.groupBy("__src", "__dst").agg(
            F.sum(
                F.when(
                    F.col("__w") <= 0,
                    F.raise_error(
                        F.lit("pagerank: edge weights must be positive")
                    ).cast("bigint"),
                ).otherwise(F.col("__w"))
            ).alias("__w")
        )
    else:
        e = e.distinct()
    # STATIC relations (edges, degrees, node set): cache(), not a lazy
    # localCheckpoint — a checkpoint physically plans its frame at BUILD
    # time (the r12 recall_report finding), while InMemoryRelation defers
    # to the first action, is a LEAF to every later optimization pass,
    # and preserves outputPartitioning the same way. Checkpoints remain
    # on the ITERATION frames below, where lineage truncation (not just
    # reuse) is the point. Empirical boundary (r12, measured both ways):
    # cache wins for MANY-referenced or node-sized frames (pagerank's 8
    # reads of e amortize the columnar encode), while ops that reference
    # an edge-sized string-heavy frame only 2-3 times in one heavy job
    # (triangle census, components-mode label propagation, HITS) measured
    # 2-3x SLOWER cached — the columnar encode/decode outweighs the
    # planning saved — and keep lazy checkpoints instead.
    e = e.repartition(F.col("__src")).cache()
    if weight_col is not None:
        deg = (
            e.groupBy("__src")
            .agg(F.sum("__w").alias("__deg"))
            .cache()
        )
    else:
        deg = (
            e.groupBy("__src")
            .agg(F.count("*").alias("__deg"))
            .cache()
        )
    if symmetric:
        # after symmetrization every endpoint appears as a source —
        # src-only is the complete node set and reads e once
        nodes = e.select(F.col("__src").alias("__node")).distinct()
    else:
        nodes = (
            e.select(F.col("__src").alias("__node"))
            .unionByName(e.select(F.col("__dst").alias("__node")))
            .distinct()
        )
    nodes = nodes.cache()
    # (node, out_degree) carried IN the rank frame for the whole run
    # (r12): the previous shape re-joined ranks⋈deg every iteration —
    # checkpointed RDD frames lose their output partitioning, so that
    # node-sized join re-shuffled BOTH sides each round. With __deg a
    # rank-frame column, the contribution is a filter+project, sinks
    # are ``__deg IS NULL`` (no per-iteration semi-join), and the
    # output degree column is free.
    nd = nodes.join(
        deg.select(F.col("__src").alias("__node"), F.col("__deg")),
        "__node",
        "left",
    )
    if not symmetric:
        # scalar node count for the per-iteration dangling share
        n_nodes = (
            nodes.agg(F.count("*").cast("bigint").alias("__n"))
            .cache()
        )
    if seeds is not None:
        seed_nodes = (
            seeds.select(F.col(seeds.columns[0]).alias("__node"))
            .distinct()
            .join(nodes, "__node", "left_semi")
            .cache()
        )
        # per-seed teleport = (100-d)·base·n_nodes div n_seeds — the
        # SAME total mass the uniform mode spreads, concentrated on the
        # seeds. (Empty/disjoint seed sets fail loudly on div-by-zero.)
        seed_tele = (
            nodes.agg(F.count("*").cast("bigint").alias("__n"))
            .crossJoin(
                F.broadcast(
                    seed_nodes.agg(F.count("*").cast("bigint").alias("__s"))
                )
            )
            .select(
                F.expr(
                    f"cast({(100 - damping_pct) * base} as bigint) * __n div __s"
                ).alias("__tele")
            )
        )
        # STATIC per-node iteration inputs ride the cached node frame
        # (r17): the seed membership flag and the one-row teleport
        # scalar were previously re-attached EVERY iteration (one
        # node-sized join + one broadcast crossJoin per round); both
        # are loop-invariant, so they are folded into ``nd`` once and
        # the per-iteration plan loses a join and a broadcast.
        nd = nd.join(
            seed_nodes.withColumn("__is_seed", F.lit(1)), "__node", "left"
        ).crossJoin(F.broadcast(seed_tele))
        if not symmetric:
            # directed PPR: the sink mass is divided by the SEED count
            # (teleport-consistent dangling)
            n_seeds = (
                seed_nodes.agg(F.count("*").cast("bigint").alias("__s"))
                .cache()
            )
    nd = nd.cache()
    if init_ranks is not None:
        # WARM START (incremental maintenance): resume from a previous
        # run's (node, rank) output instead of the uniform ``base``.
        # Because the iteration is a deterministic pure function of the
        # rank frame, pagerank(init=pagerank(edges, k), m) is BIT-EQUAL
        # to pagerank(edges, k + m) on an unchanged graph — the
        # equivalence the incremental registry query's oracle exploits —
        # and on a mutated graph it converges from the warm point
        # instead of from scratch. Nodes new since the snapshot start at
        # ``base``; departed nodes' rows are dropped by the node-set
        # join.
        prev = init_ranks.select(
            F.col(init_ranks.columns[0]).alias("__node"),
            F.col(init_ranks.columns[1]).cast("bigint").alias("__prev_rank"),
        )
        ranks = (
            nd.join(prev, "__node", "left")
            .select(
                *[F.col(c) for c in nd.columns],
                F.coalesce(F.col("__prev_rank"), F.lit(base).cast("bigint"))
                .alias("__rank"),
            )
            .localCheckpoint(eager=False)
        )
    else:
        ranks = nd.withColumn("__rank", F.lit(base).cast("bigint"))
    teleport = (100 - damping_pct) * base
    if symmetric and seeds is not None:
        rank_sql = (
            "(coalesce(__is_seed, 0) * __tele + "
            f"{damping_pct} * "
            "coalesce(__incoming, cast(0 as bigint))) div 100"
        )
    elif symmetric:
        rank_sql = (
            f"(cast({teleport} as bigint) + {damping_pct} * "
            "coalesce(__incoming, cast(0 as bigint))) div 100"
        )
    elif seeds is not None:
        # directed PERSONALIZED: teleport AND dangling mass both land on
        # the seed set — a surfer at a dead end restarts at a seed
        # (damped like any hop)
        rank_sql = (
            "(coalesce(__is_seed, 0) * "
            f"(__tele + {damping_pct} * __sink_share) + "
            f"{damping_pct} * "
            "coalesce(__incoming, cast(0 as bigint))) div 100"
        )
    else:
        # dangling mass: ranks sitting on nodes with no out-edge,
        # redistributed uniformly
        rank_sql = (
            f"(cast({teleport} as bigint) + {damping_pct} * "
            "(coalesce(__incoming, cast(0 as bigint)) + __sink_share)) "
            "div 100"
        )
    # directed modes divide the sink mass by the seed count (PPR) or
    # the node count — a one-row scalar computed once
    sink_den = None
    if not symmetric:
        sink_den = n_seeds if seeds is not None else n_nodes
    # loop-invariant per-node columns (__deg, and in seed mode
    # __is_seed/__tele) ride the rank frame through every iteration's
    # select, so no per-iteration re-attachment join is needed
    keep = [F.col(c) for c in nd.columns]

    def step(ranks: DataFrame) -> DataFrame:
        # per-NODE contribution first (node-sized join of two node-keyed
        # frames), then a single edge join — the edge relation is the
        # big side and should be touched exactly once per iteration.
        # (r17 note: fusing this aggregate with the node-set join-back
        # into one union+groupBy exchange was tried and MEASURED SLOWER
        # — 7.5→8.6 s on q_graph_pagerank — because it shuffles the
        # whole node frame per round where the join-back is a
        # tiny-build broadcast probe; the join-back stays.)
        if weight_col is not None:
            # weighted: the per-edge share needs the edge weight, so
            # carry (rank, strength) to the edge join and split there.
            # __deg rides in the rank frame — no per-iteration deg join
            node_side = ranks.where(F.col("__deg").isNotNull()).select(
                F.col("__node").alias("__src"), F.col("__rank"), F.col("__deg")
            )
            incoming = (
                e.join(node_side, "__src")
                .groupBy("__dst")
                .agg(
                    F.sum(F.expr("(__rank * __w) div __deg")).alias("__incoming")
                )
            )
        else:
            node_contrib = ranks.where(F.col("__deg").isNotNull()).select(
                F.col("__node").alias("__src"),
                F.expr("__rank div __deg").alias("__contrib"),
            )
            incoming = (
                e.join(node_contrib, "__src")
                .groupBy("__dst")
                .agg(F.sum("__contrib").alias("__incoming"))
            )
        new_ranks = nd.join(incoming, nd["__node"] == incoming["__dst"], "left")
        if sink_den is not None:
            # scalar payload only (the one-row broadcast crossJoin rule:
            # scalars yes, arrays never)
            sink_share = (
                ranks.where(F.col("__deg").isNull())
                .agg(
                    F.coalesce(F.sum("__rank"), F.lit(0))
                    .cast("bigint")
                    .alias("__sink_sum")
                )
                .crossJoin(F.broadcast(sink_den))
                .select(
                    F.expr(f"__sink_sum div {sink_den.columns[0]}")
                    .alias("__sink_share")
                )
            )
            new_ranks = new_ranks.crossJoin(F.broadcast(sink_share))
        return new_ranks.select(*keep, F.expr(rank_sql).alias("__rank"))

    ranks, prev_ranks = _fixed_rounds(
        ranks,
        step,
        iterations,
        _PAGERANK_CUT_EVERY if symmetric else _PAGERANK_DIRECTED_CUT_EVERY,
        snapshot=delta_receipt,
    )
    out = ranks.select(
        F.col("__node").alias("node"),
        F.col("__rank").alias("rank"),
        F.coalesce(F.col("__deg"), F.lit(0)).cast("bigint").alias("degree"),
    )
    if delta_receipt:
        delta = (
            ranks.join(
                prev_ranks.select(
                    F.col("__node"), F.col("__rank").alias("__prev")
                ),
                "__node",
            )
            .agg(
                F.coalesce(
                    F.max(F.abs(F.col("__rank") - F.col("__prev"))), F.lit(0)
                )
                .cast("bigint")
                .alias("max_delta")
            )
        )
        out = out.crossJoin(F.broadcast(delta))
    return out


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 6,
    mode: str = "components",
    change_receipt: bool = False,
) -> DataFrame:
    """Fixed-round label propagation over an undirected edge relation
    — the third member of the fixed-iteration graph tier (PageRank's
    and k-core's sibling; no reference counterpart, SURVEY.md §2.4).

    ``mode='components'`` is min-label propagation: each round every
    node takes the minimum of its own label and its neighbors' labels,
    so after R rounds two nodes share a label iff they are within
    graph distance R of the component minimum — connected components
    for any graph whose component RADIUS (from the min-id node) is
    ≤ R. This is the receipt-style twin of
    ``dedup.near_duplicate_clusters``: same answer, completely
    different algorithm (flat per-round relabel vs pointer-halving
    contraction), which makes it the natural cross-check.

    ``mode='communities'`` is majority-vote label propagation (classic
    LPA community detection): each round every node adopts its
    neighbors' most frequent label, ties broken deterministically by
    (count DESC, label ASC) — dense neighborhoods lock onto one label
    within a few rounds, sparse cut edges don't carry enough votes to
    cross. Synchronous updates with a total tiebreak order keep the
    result engine-independent (classic LPA randomizes update order;
    that would be unverifiable).

    Edges are symmetrized, self-loops dropped; the node set is all
    endpoints and every node starts with its own id as label.

    Scale shape: per round, one edge-sized equi-join (edges are
    hash-partitioned on the join key once, before a lazy
    localCheckpoint, so each round re-shuffles only the node-sized
    label frame) + one destination-keyed aggregate (components: MIN —
    map-side combinable; communities: per-(node,label) counts + one
    row_number window). Fixed round count, no convergence probes; the
    label frame is cut every ``_LABEL_PROP_CUT_EVERY`` (2) rounds, and
    like every cut here each runs as a build-time job under AQE (module
    docstring).

    ``change_receipt`` appends ``n_changed``: how many labels the
    FINAL round changed (same scalar every row, broadcast crossJoin —
    scalars only). 0 proves the fixed round count reached the
    fixpoint; >0 says the result is the R-round approximation — the
    k-core ``is_converged`` contract.

    Returns ``(node, label[, n_changed])``.
    """
    if iterations < 1:
        raise ValueError(
            f"label_propagation: iterations must be >= 1, got {iterations}"
        )
    if mode not in ("components", "communities"):
        raise ValueError(
            "label_propagation: mode must be 'components' or 'communities', "
            f"got {mode!r}"
        )
    from pyspark.sql import Window

    e = edges.select(F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst"))
    e = e.unionByName(
        e.select(F.col("__dst").alias("__src"), F.col("__src").alias("__dst"))
    )
    e = (
        e.where(F.col("__src") != F.col("__dst"))
        .distinct()
        .repartition(F.col("__src"))
        .localCheckpoint(eager=False)
    )
    # symmetrized: src alone covers every endpoint
    nodes = (
        e.select(F.col("__src").alias("__node")).distinct().localCheckpoint(eager=False)
    )

    def step(labels: DataFrame) -> DataFrame:
        lab_src = labels.select(F.col("__node").alias("__src"), F.col("__label"))
        if mode == "components":
            nbr = (
                e.join(lab_src, "__src")
                .groupBy("__dst")
                .agg(F.min("__label").alias("__nbr"))
            )
            return labels.join(nbr, labels["__node"] == nbr["__dst"], "left").select(
                F.col("__node"),
                F.least(
                    F.col("__label"), F.coalesce(F.col("__nbr"), F.col("__label"))
                ).alias("__label"),
            )
        cnt = (
            e.join(lab_src, "__src")
            .groupBy("__dst", "__label")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        w = Window.partitionBy("__dst").orderBy(
            F.col("__c").desc(), F.col("__label").asc()
        )
        win = (
            cnt.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(F.col("__dst"), F.col("__label").alias("__win"))
        )
        return labels.join(win, labels["__node"] == win["__dst"], "left").select(
            F.col("__node"),
            F.coalesce(F.col("__win"), F.col("__label")).alias("__label"),
        )

    labels, prev_labels = _fixed_rounds(
        nodes.withColumn("__label", F.col("__node")),
        step,
        iterations,
        _LABEL_PROP_CUT_EVERY,
        snapshot=change_receipt,
    )
    out = labels.select(F.col("__node").alias("node"), F.col("__label").alias("label"))
    if change_receipt:
        changed = (
            labels.join(
                prev_labels.select(
                    F.col("__node"), F.col("__label").alias("__prev")
                ),
                "__node",
            )
            .agg(
                F.coalesce(
                    F.sum((F.col("__label") != F.col("__prev")).cast("bigint")),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_changed")
            )
        )
        out = out.crossJoin(F.broadcast(changed))
    return out


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 8,
) -> DataFrame:
    """k-core decomposition by iterative peeling over an undirected
    edge relation: repeatedly drop nodes whose degree (within the
    surviving subgraph) is below ``k``. The density filter of a
    near-dup match graph — chains and stars peel away, genuine
    duplicate cliques survive — and the classic cheap preconditioner
    before clique-ish analyses (every triangle lives in the 2-core).

    ``iterations`` is a FIXED peel count, not a convergence probe (no
    ``count()``/``first()``; each round's two lazy cuts still run as
    build-time jobs under AQE — module docstring): each round is one
    edge-sized semi-join pass + one node-sized degree aggregate, and
    the DuckDB oracle can unroll the same rounds. Each
    round removes every node currently under-degree, so ``iterations``
    bounds the peel DEPTH (longest chain of cascading removals), which
    is tiny for real graphs; if the fixpoint needs more rounds the
    result is a superset — and SAYS SO: one extra peel round (the same
    peel step) proves or refutes the fixpoint, emitted as the
    ``is_converged`` column (true iff the extra round removed nothing).
    A long dependency chain can no longer silently over-report its
    core.

    Returns ``(node, degree, is_converged)`` for surviving nodes —
    degree within the surviving subgraph; ``is_converged`` is the same
    scalar on every row (a broadcast one-row flag, computed in the
    caller's action)."""
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    if iterations < 1:
        raise ValueError(f"k_core: iterations must be >= 1, got {iterations}")

    def peel(alive_e: DataFrame) -> DataFrame:
        keep = (
            _undirected_degrees(alive_e)
            .where(F.col("d") >= k)
            .select("n")
            .localCheckpoint(eager=False)
        )
        return alive_e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi").join(
            keep.withColumnRenamed("n", "b"), "b", "left_semi"
        )

    alive_e = _undirected_edges(edges, src_col, dst_col).cache()
    for _ in range(iterations):
        alive_e = peel(alive_e).localCheckpoint(eager=False)
    # convergence certificate: one extra peel round — the peel is a
    # monotone contraction (next_e ⊆ alive_e), so equal EDGE COUNTS
    # prove the fixpoint; one scalar-only broadcast crossJoin
    converged = (
        alive_e.agg(F.count(F.lit(1)).alias("__before"))
        .crossJoin(F.broadcast(peel(alive_e).agg(F.count(F.lit(1)).alias("__after"))))
        .select((F.col("__before") == F.col("__after")).alias("is_converged"))
    )
    final_deg = _undirected_degrees(alive_e).select(
        F.col("n").alias("node"), F.col("d").alias("degree")
    )
    return final_deg.where(F.col("degree") >= k).crossJoin(F.broadcast(converged))


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Global triangle count over an undirected edge relation — the
    cluster-cohesion measure of a near-dup graph (cliques from true
    duplicate families close their triangles; chains from borderline
    matches don't). DEGREE-ORDERED orientation (the standard
    hub-skew-proof rendering): orient every edge from its
    lower-(degree, id) endpoint to the higher, generate wedges only
    from each node's OUT-neighbors, and close them with a semi-join
    against the oriented set. A triangle's three vertices have a
    unique (degree, id) total order u < v < w, so it is generated
    exactly once (as the wedge (v, w) at u) — the count is exact —
    while every node's out-degree is bounded by ~sqrt(2m), bounding
    total wedges to O(m^1.5) REGARDLESS of hub skew (a star graph
    produces zero wedges instead of O(deg²)). Three candidate-sized
    equi-joins + one node-sized degree aggregate. Returns one row
    ``(n_nodes, n_edges, n_triangles)``."""
    # lazy checkpoint: the edge set feeds the degree aggregate, the
    # orientation join and the census; the oriented set is referenced
    # three times (two wedge sides + the closure semi-join) — without
    # truncation each reference re-executes the whole upstream pair
    # generator (minhash pipeline in the near-dup query — measured 7 s
    # for a 2 s graph)
    e = _undirected_edges(edges, src_col, dst_col).localCheckpoint(eager=False)
    deg = _undirected_degrees(e).localCheckpoint(eager=False)
    ed = e.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("__da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("__db")), "b")
    # a < b lexically (normalized above), so on a degree tie a wins the
    # (degree, id) order — a_first collapses to __da <= __db
    a_first = F.col("__da") <= F.col("__db")
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("__db")).otherwise(F.col("__da")).alias("__ddst"),
    ).localCheckpoint(eager=False)
    o1 = oriented.select("src", F.col("dst").alias("v"), F.col("__ddst").alias("__dv"))
    o2 = oriented.select("src", F.col("dst").alias("w"), F.col("__ddst").alias("__dw"))
    # pair out-neighbors in (degree, id) order so each unordered pair
    # appears once, oriented the same way the closing edge v→w is
    wedges = o1.join(o2, "src").where(
        (F.col("__dv") < F.col("__dw"))
        | ((F.col("__dv") == F.col("__dw")) & (F.col("v") < F.col("w")))
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 6,
    base: int = 1_000_000,
) -> DataFrame:
    """Hubs-and-authorities (HITS / Kleinberg) over a directed edge
    relation: fixed ``iterations`` of the coupled power iteration
    ``auth(j) = Σ_{i→j} hub(i)`` then ``hub(i) = Σ_{i→j} auth(j)``,
    each half-step L1-renormalized to total mass ``n_nodes·base`` in
    INTEGER micro-units (``score·n·base div Σ score`` — the module's
    bit-exact cross-engine contract; classic HITS L2-normalizes, but
    any positive rescaling has the same fixpoint directions and L1
    keeps the arithmetic in exact integers).

    A hub is a node that points at many good authorities (a curator /
    broad buyer); an authority is pointed at by many good hubs (a
    canonical source / widely-bought supplier) — the complementary
    centrality pair PageRank's single score can't separate, and the
    natural ranking for bipartite-ish interaction graphs.

    Scale shape: the deduplicated edge relation is hash-partitioned
    and lazily checkpointed TWICE — once on ``src`` (the auth
    half-step joins hubs on src) and once on ``dst`` (the hub
    half-step joins auths on dst) — so each half-step reuses a
    co-located layout instead of re-shuffling the big edge side;
    only the node-sized score frame moves per iteration. The L1 total
    is one scalar aggregate per half-step (broadcast as a scalar —
    the one-row crossJoin rule), each half-step's raw aggregate is
    lazily cut, and the hub frame is cut every ``_HITS_CUT_EVERY`` (4)
    rounds like :func:`pagerank` — every cut a build-time job under AQE
    (module docstring). The renormalization product (≈ n²·base²) runs in
    exact decimal(38,0) — wide enough past a quadrillion nodes — and
    the quotient drops back to bigint.

    An empty edge set (after self-loop removal) has an empty node set
    and returns an EMPTY frame — zero rows, not silent zero scores.

    Returns one row per node (union of BOTH endpoints): ``node``,
    ``hub``, ``auth`` (micro-unit bigints).
    """
    if iterations < 1:
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")
    e = (
        edges.select(F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst"))
        .where(F.col("__src") != F.col("__dst"))
        .distinct()
    )
    e_src = e.repartition(F.col("__src")).localCheckpoint(eager=False)
    e_dst = e_src.repartition(F.col("__dst")).localCheckpoint(eager=False)
    nodes = (
        e_src.select(F.col("__src").alias("__node"))
        .unionByName(e_src.select(F.col("__dst").alias("__node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # scalar total mass for the renormalization — computed once
    total = nodes.agg(
        F.expr(f"count(*) * cast({base} as bigint)").alias("__total")
    ).localCheckpoint(eager=False)

    def half_step(
        e_part: DataFrame, scores: DataFrame, on: str, to: str, src_score: str, score: str
    ) -> DataFrame:
        # push ``src_score`` along the edge copy partitioned on ``on``,
        # then rescale to Σ = n·base and re-attach the zero-score nodes.
        # raw is referenced TWICE (the scalar sum + the values) — lazily
        # checkpoint so the plan is truncated to a LogicalRDD instead of
        # DOUBLING per half-step (2^(2·iterations) leaf expansion
        # otherwise; planning alone dominated the wall time)
        raw = (
            e_part.join(scores, e_part[on] == scores["__node"])
            .groupBy(to)
            .agg(F.sum(src_score).alias(score))
            .select(F.col(to).alias("__node"), F.col(score))
            .localCheckpoint(eager=False)
        )
        s = raw.agg(F.sum(score).cast("bigint").alias("__sum"))
        return (
            nodes.join(raw, "__node", "left")
            .crossJoin(F.broadcast(s))
            .crossJoin(F.broadcast(total))
            .select(
                F.col("__node"),
                # the rescale product needs ~2× the bits of the scores:
                # score ≤ total = n·base, so score·total ≈ n²·base² —
                # overflowed int64 at 8M nodes in the scale bench. The
                # multiply runs in exact decimal(38,0) (good to 1e38);
                # the quotient is back ≤ total and fits bigint
                F.expr(
                    f"cast(cast(coalesce({score}, 0) as decimal(38, 0)) "
                    "* __total div __sum as bigint)"
                ).alias(score),
            )
        )

    # the loop carries the hub frame; each round's auth frame is only
    # read by that round's hub half-step and, after the last round, by
    # the output join
    auths = None

    def step(hubs: DataFrame) -> DataFrame:
        nonlocal auths
        auths = half_step(e_src, hubs, "__src", "__dst", "__hub", "__auth")
        return half_step(e_dst, auths, "__dst", "__src", "__auth", "__hub")

    hubs, _ = _fixed_rounds(
        nodes.withColumn("__hub", F.lit(base).cast("bigint")),
        step,
        iterations,
        _HITS_CUT_EVERY,
    )
    return hubs.join(auths, "__node").select(
        F.col("__node").alias("node"),
        F.col("__hub").alias("hub"),
        F.col("__auth").alias("auth"),
    )


def k_hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 4,
    symmetric: bool = False,
) -> DataFrame:
    """Multi-source BFS to a FIXED depth: the minimum hop distance
    from any seed to every node reachable within ``max_hops`` — the
    traversal primitive under "how far is this document/account/page
    from a trusted (or contaminated) set", k-hop neighborhood
    extraction, and blast-radius reports. Nodes beyond ``max_hops``
    are absent (distance is a certificate only up to the fixed depth —
    the k-core precedent: fixed rounds, no convergence probe; each
    hop's lazy cut still runs as a build-time job under AQE — module
    docstring).

    Per hop: one join of the FRONTIER (nodes first reached on the
    previous hop — not the whole settled set) against the
    pre-partitioned, cached edge relation, then an anti-join against
    the settled set to keep only newly-reached nodes. Unit edge
    weights make this exact: a node's distance is final the moment it
    is first reached (BFS level order), so settled nodes can never
    propagate a smaller distance later and re-relaxing them is pure
    waste — the r16 optimization replaced the relax-everything shape
    (which re-joined ALL settled nodes against the edge relation every
    hop, ~4 full edge passes at depth 4 even after the reachable set
    saturates) with textbook frontier BFS: the edge join touches only
    frontier-adjacent edges and the per-hop aggregate is
    frontier-sized. Result rows are identical (asserted against the
    driver-side BFS property test). ``symmetric=True`` unions reversed
    edges (undirected reach).

    Returns ``(node, dist)``, one row per reached node, ``dist`` in
    ``[0, max_hops]`` with seeds at 0.
    """
    if max_hops < 1:
        raise ValueError(f"k_hop_distances: max_hops must be >= 1, got {max_hops}")
    e = (
        edges.select(F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst"))
        .where(F.col("__src") != F.col("__dst"))
        .distinct()
    )
    if symmetric:
        e = e.unionByName(
            e.select(F.col("__dst").alias("__src"), F.col("__src").alias("__dst"))
        ).distinct()
    e = e.repartition(F.col("__src")).cache()
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("__node"))
        .distinct()
        .withColumn("__dist", F.lit(0).cast("int"))
        .cache()
    )
    frontier = dist
    for _ in range(max_hops):
        relaxed = e.join(frontier, e["__src"] == frontier["__node"]).select(
            F.col("__dst").alias("__node"),
            (F.col("__dist") + F.lit(1)).cast("int").alias("__dist"),
        )
        # every distance produced this hop is the same (hop index), so
        # the min-agg is a frontier-sized dedup, and the anti-join drops
        # nodes already settled on an earlier (strictly smaller) hop —
        # the settled set itself is never re-relaxed
        newly = (
            relaxed.groupBy("__node")
            .agg(F.min("__dist").alias("__dist"))
            .join(dist, "__node", "left_anti")
            # referenced twice (next hop's edge join + the settled
            # union) — lazy checkpoint keeps the plan linear in max_hops
            .localCheckpoint(eager=False)
        )
        dist = dist.unionByName(newly)
        frontier = newly
    return dist.select(F.col("__node").alias("node"), F.col("__dist").alias("dist"))


def link_prediction(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 2,
    max_src_degree: int = 256,
) -> DataFrame:
    """Bipartite link prediction: score every RIGHT-node pair (dst)
    sharing at least ``min_common`` LEFT neighbors (src) with the three
    classic neighborhood measures — common-neighbor count, Jaccard
    over dst neighborhoods, and Adamic-Adar (rarer shared neighbors
    weigh more: ``Σ_z 1/ln(deg(z))`` over shared src ``z``). The
    recommender primitive over the engine's co-occurrence graphs
    (customer→supplier, doc→shard, user→item): a high-scoring absent
    pair is the "customers who buy from A also buy from B" candidate.

    Scores are integers for the hash gate: Adamic-Adar floors each
    term to micro-units BEFORE summing (an exact integer sum — the two
    engines only have to agree on floor(1e6/ln(d)) for small-int d),
    Jaccard is the usual exact micro-ratio.

    Scale contract: pair generation is a self-join keyed on src, so it
    is quadratic in src degree — src hubs above ``max_src_degree`` are
    EXCLUDED from wedge generation (the max_df idiom from the n-gram
    Jaccard tier: a customer connected to every supplier predicts
    nothing) but still count toward dst degrees, keeping Jaccard
    denominators honest. Everything else is candidate- or degree-sized;
    no driver actions. In a bipartite relation a dst-dst edge cannot
    exist, so no existing-edge exclusion is needed (unipartite callers
    should anti-join their edge set on (node_a, node_b) afterwards).

    Returns ``(node_a, node_b, common_neighbors, jaccard_micro,
    adamic_adar_micro)`` with ``node_a < node_b``.

    ABSENT in the reference (no graph surface; SURVEY.md §2.4 joins
    family — wedge join + bounded aggregates).
    """
    e = (
        edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
        .where(F.col("__s").isNotNull() & F.col("__d").isNotNull())
        .distinct()
        .cache()
    )
    sdeg = e.groupBy("__s").agg(F.count(F.lit(1)).cast("bigint").alias("__sd"))
    ddeg = e.groupBy("__d").agg(F.count(F.lit(1)).cast("bigint").alias("__dd"))
    wedge = e.join(sdeg, "__s").where(
        (F.col("__sd") >= 2) & (F.col("__sd") <= max_src_degree)
    )
    a = wedge.select("__s", F.col("__d").alias("node_a"), "__sd")
    b = wedge.select("__s", F.col("__d").alias("node_b"))
    scored = (
        a.join(b, "__s")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum(
                F.expr("cast(floor(1000000.0 / ln(__sd)) as bigint)")
            ).alias("adamic_adar_micro"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    return (
        scored.join(
            ddeg.select(F.col("__d").alias("node_a"), F.col("__dd").alias("__da")),
            "node_a",
        )
        .join(
            ddeg.select(F.col("__d").alias("node_b"), F.col("__dd").alias("__db")),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            "common_neighbors",
            F.expr(
                "common_neighbors * 1000000 div (__da + __db - common_neighbors)"
            ).alias("jaccard_micro"),
            "adamic_adar_micro",
        )
    )


def degree_distribution(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Log₂-bucketed degree histogram of the undirected graph — the
    skew X-ray every graph operator's cost model starts from (a heavy
    tail says: salt the joins, cap the wedges). Bucket =
    ``floor(log2(degree))`` — log2 of a positive integer is exact at
    powers of two in IEEE, so the floor is engine-stable. One edge
    normalization, one node-sized degree aggregate, one bounded
    (≤ ~63-row) histogram aggregate.

    Returns ``(bucket, n_nodes, min_degree, max_degree)`` where bucket
    b covers degrees in [2^b, 2^(b+1))."""
    return (
        _undirected_degrees(_undirected_edges(edges, src_col, dst_col))
        .select(
            F.expr("cast(floor(log2(cast(d as double))) as int)").alias("bucket"),
            "d",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("d").cast("bigint").alias("min_degree"),
            F.max("d").cast("bigint").alias("max_degree"),
        )
    )
