"""Iterative graph analytics beyond connected components (which lives
with the dedup family in dedup.py, where its users are).

PageRank here is the standard power-iteration formulation (public
algorithm, Page et al. 1999) expressed as DataFrame joins — the shape
GraphX/GraphFrames use internally, without their dependency:

* one shuffle per iteration (contribution groupBy on dst) plus the
  rank join — both keyed on the node id, so a cluster co-partitions
  them after the first iteration;
* dangling-node mass (nodes with no out-edges) is redistributed
  uniformly each iteration, keeping the rank vector a probability
  distribution (sums to 1 — asserted in tests);
* lineage is truncated every few iterations — an iterative plan
  otherwise grows a join tree Catalyst re-analyzes quadratically.

Every iterative operator here runs its rounds through
``materialize.fixpoint`` (HITS and Katz, which keep more than one frame
per round, call ``materialize``/``release`` directly): each round's
state is materialized once, and the round it replaces is freed. Inside
a ``query_scope()`` nothing an operator materialized outlives the
query.

Scale: rank state is 2 columns × |V|; each iteration's shuffle volume
is |E| contributions. That is the irreducible cost of power iteration;
at 100 TB-of-edges scale, pre-partition the edge table by src (bucketed
layout) so only the contribution aggregation shuffles.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import counted, fixpoint, materialize, release

# Partition count of the most recent pagerank() edge materialization —
# a test observable (see the comment at the assignment site).
_LAST_EDGE_PARTITIONS: int | None = None
# Shuffle-exchange count in the most recent edge-materialization plan —
# >=1 on the repartition path, 0 when a src-bucketed table feeds
# pre_partitioned=True (the test observable for the bucketed layout).
_LAST_EDGE_EXCHANGES: int | None = None
# hits() twins of the two observables above (separate names so a test
# interleaving pagerank and hits reads the right one).
_LAST_HITS_EDGE_EXCHANGES: int | None = None
_LAST_HITS_ITER_EXCHANGES: int | None = None


def _ensure_exchange_ids(df: DataFrame) -> set[str]:
    """Unique plan_ids of ENSURE_REQUIREMENTS exchanges in a frame's
    physical plan. Dedup matters: an InMemoryRelation reprints its
    cached build plan (initial + final) at every reference, so a plain
    substring count over a plan that scans cached tables counts the
    build's exchanges several times over."""
    import re

    s = df._jdf.queryExecution().executedPlan().toString()
    return set(re.findall(r"ENSURE_REQUIREMENTS, \[plan_id=(\d+)\]", s))
# Runtime (ENSURE_REQUIREMENTS) exchange count of the first iteration's
# contribution plan — 2 with the cached hash-partitioned edge table
# (state-side + dst aggregation), 3 if the edge side ever loses its
# partitioning and re-shuffles |E| per iteration (the local-checkpoint
# regression this file used to have: LogicalRDD drops outputPartitioning).
_LAST_ITER_EXCHANGES: int | None = None

# Exchange count of triangle_counts' canonical-edge frame — 0 when the
# caller serves a pre-canonical bucketed edge table (assume_canonical),
# >=1 when the operator canonicalized raw pairs itself.
_LAST_TRI_CANON_EXCHANGES: int | None = None


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge set (a < b, distinct, no self-loops or
    nulls), lazy: callers materialize it or hand it to ``fixpoint``."""
    return (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Materialized adjacency: each canonical edge in both directions."""
    und = _undirected(edges, src, dst)
    return materialize(
        und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )


def _by_src(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(src, dst) hash-partitioned on src at defaultParallelism, lazy.
    Repartition BEFORE materializing: a materialized plan freezes its
    partitioning and is exempt from AQE coalescing, so freezing at the
    session's shuffle.partitions (e.g. a vanilla session's 200) would pin
    every iteration to hundreds of near-empty tasks — measured 15s → 272s
    at sf0.01 with a plain .cache(). defaultParallelism is cluster-
    proportional, and hashing on src co-partitions the edges with the
    per-iteration src-keyed join."""
    par = max(edges.sparkSession.sparkContext.defaultParallelism, 1)
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).repartition(
        par, "src"
    )


def _nodes(e: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Distinct endpoints of an edge frame, as one ``node`` column."""
    return (
        e.select(F.col(a).alias("node")).unionByName(e.select(F.col(b).alias("node"))).distinct()
    )


def _degrees(und: DataFrame, out: str) -> DataFrame:
    """(node, ``out``) degree per endpoint of an (a, b) edge frame."""
    return (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias(out))
    )


def _contribs(e: DataFrame, state: DataFrame) -> DataFrame:
    """Power-iteration contributions: each node's rank split over its
    out-edges, summed per destination."""
    return (
        e.join(state, e["src"] == state["node"])
        .filter(F.col("deg") > 0)
        .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("contrib"))
    )


def _power_step(e: DataFrame, state: DataFrame, rank) -> DataFrame:
    """One (personalized) PageRank round: ``rank`` is the caller's update
    expression over the round's ``contrib`` and dangling mass ``dm``; the
    state's other columns ride along."""
    contribs = _contribs(e, state)
    # mass parked on dangling nodes redistributes (uniformly, or to the
    # restart distribution)
    dangling = state.filter(F.col("deg") == 0).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
    )
    return (
        state.join(contribs, state["node"] == contribs["dst"], "left")
        .crossJoin(F.broadcast(dangling))
        .select(*[c for c in state.columns if c != "rank"], rank.alias("rank"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 2,
    pre_partitioned: bool = False,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list. Returns
    (node, rank) with ranks summing to 1. Deterministic up to
    floating-point summation order (use tolerances, not hashes, when
    comparing).

    ``init_ranks`` (node, rank) warm-starts the iteration from a
    previous run's output — the incremental-recompute path for a
    recurring job on a slowly-evolving graph: nodes keep their prior
    rank, NEW nodes enter at 1/n, and the vector is renormalized to a
    distribution (one aggregate + 1-row broadcast). Power iteration
    contracts at rate ``damping`` toward the unique fixed point of the
    CURRENT graph regardless of the start vector, so a warm start
    changes only how many iterations remain — measured in
    tests/test_graph.py: after a small edge perturbation, 2 warm
    iterations land closer to the new fixed point than 2 cold ones,
    and a converged vector fed back is already at the fixed point.

    ``checkpoint_every=2`` is measured, not arbitrary: each iteration
    references the previous state THREE times (contributions, dangling
    mass, next state), so an unmaterialized segment of length L
    re-derives its head up to 3^L times. At sf0.1 (6 iterations,
    ~590 k edges): every-4 = 4.7 s, every-2 = 4.1 s, every-1 = 4.0 s
    but with per-iteration checkpoint overhead that grows with |V| and
    higher variance — every-2 bounds the branching at 3² while paying
    half the checkpoints."""
    # Materialize the edge list ONCE (lineage severed): every iteration
    # joins it, and without this the upstream plan (scans, joins,
    # distinct) re-executes per iteration. _by_src repartitions it first.
    # pre_partitioned=True: the caller vouches the input is already
    # hash-distributed on src — e.g. a src-bucketed table scan, whose
    # bucket hash IS the shuffle hash — so the |E|-sized repartition is
    # skipped entirely. At 100 TB that per-run edge shuffle is the
    # single biggest one-time stage PageRank pays; a bucketed layout
    # pays it once at ingest and amortizes it over every later run
    # (SCALE.md §graph).
    pre = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        if pre_partitioned
        else _by_src(edges, src, dst)
    )
    global _LAST_EDGE_EXCHANGES
    _LAST_EDGE_EXCHANGES = pre._jdf.queryExecution().executedPlan().toString().count(
        "Exchange"
    )
    # Two edge-materialization modes, measured at sf0.1 local[32]:
    #
    # In-session edge frames: a local checkpoint stores raw rows and
    #   re-scans them for free, BUT its LogicalRDD drops
    #   outputPartitioning, so every iteration's rank join re-shuffles
    #   the edge table on src (one extra ENSURE_REQUIREMENTS exchange
    #   per iteration). In LOCAL mode that shuffle is a cheap disk spill
    #   and this path wins: 5.2 s vs 8.4 s.
    #
    # pre_partitioned (a bucketed layout): a persist, whose
    #   InMemoryRelation preserves the input's HashPartitioning, so the
    #   per-iteration edge-side exchange DISAPPEARS — only the
    #   partial-aggregated contribution shuffle and (at most) the
    #   |V|-sized state shuffle remain (asserted via
    #   _LAST_ITER_EXCHANGES in tests/test_graph).
    #   Locally the columnar decode per iteration costs more than the
    #   shuffle it saves; on a 1000-executor cluster the saved exchange
    #   is |E| over the NETWORK per iteration, which dominates — use a
    #   src-bucketed edge table at cluster scale. A raw persist, not
    #   ``materialize``: a local checkpoint would drop the very
    #   partitioning this path keeps. The ``finally`` below frees it.
    if pre_partitioned:
        e = pre.persist()
        e.count()
    else:
        e = materialize(pre)
    try:
        # Observable for the regression test: the materialized edge
        # partition count drives every iteration's task count. If this ever
        # reads shuffle.partitions (e.g. 200 in a vanilla session) instead
        # of defaultParallelism, the 15s -> 272s trap is back.
        global _LAST_EDGE_PARTITIONS
        _LAST_EDGE_PARTITIONS = e.rdd.getNumPartitions()
        nodes = _nodes(e)
        n_nodes = nodes.count()
        if n_nodes == 0:
            return nodes.withColumn("rank", F.lit(0.0))

        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # degree rides with the rank vector so the per-iteration join is
        # rank ⋈ edges only
        base = nodes.join(out_deg, nodes["node"] == out_deg["src"], "left").select(
            "node", F.coalesce("deg", F.lit(0)).alias("deg")
        )
        # fixpoint materializes the initial state, and with it base (|V|
        # rows: node, deg) (r15): every iteration references the previous
        # state THREE times (contributions, dangling mass, next state), so
        # an unmaterialized first segment would re-derive the nodes-distinct
        # ⋈ out-degree build — two |E|-sized shuffling aggregations — up to
        # 3^L times. Measured at sf0.1 local[32], interleaved fresh-process
        # rounds: 7.0-7.8 s → 5.1-5.6 s warm min for the full supplier
        # query. A local checkpoint, not persist: measured faster locally
        # (6.1/5.6 s vs 7.4/7.8 s — columnar decode again); the trade it
        # makes at scale — iteration 0's contribution join may re-shuffle
        # the |V|-row state once where the lazy plan's partitioning would
        # have been reused — is |V|-sized and paid once.
        if init_ranks is None:
            state = base.withColumn("rank", F.lit(1.0 / n_nodes))
        else:
            prev = init_ranks.select(F.col("node"), F.col("rank").alias("_prev"))
            s0 = (
                base.join(prev, "node", "left")
                .withColumn("rank", F.coalesce("_prev", F.lit(1.0 / n_nodes)))
                .drop("_prev")
            )
            # renormalize to a probability vector (prior ranks of departed
            # nodes are gone; new nodes injected mass) — one tiny agg
            total = s0.agg(F.sum("rank").alias("_t"))
            state = s0.crossJoin(F.broadcast(total)).select(
                "node", "deg", (F.col("rank") / F.col("_t")).alias("rank")
            )
        rank = F.lit((1.0 - damping) / n_nodes) + F.lit(damping) * (
            F.coalesce("contrib", F.lit(0.0)) + F.col("dm") / n_nodes
        )

        def step(state: DataFrame, r: int) -> DataFrame:
            global _LAST_ITER_EXCHANGES
            if r == 1:
                # ENSURE_REQUIREMENTS counts only runtime exchanges (the
                # cached edge build's one-time repartition is tagged
                # REPARTITION_BY_NUM inside the InMemoryRelation subtree)
                _LAST_ITER_EXCHANGES = (
                    _contribs(e, state)._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                    .count("ENSURE_REQUIREMENTS")
                )
            return _power_step(e, state, rank)

        state, _ = fixpoint(state, step, iters, every=checkpoint_every)
        return state.select("node", "rank")
    finally:
        # fixpoint materialized the last round, which severs the returned
        # frame's lineage from the edge frame, so it can be freed here:
        # CacheManager entries are NOT reclaimed by GC (unlike local
        # checkpoints), and a long-lived session running recurring
        # PageRank jobs would otherwise pin one |E|-sized cache per run.
        if pre_partitioned:
            e.unpersist()


def personalized_pagerank(
    edges: DataFrame,
    teleport: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Personalized PageRank (random walk with restart): the teleport
    step jumps to the given ``teleport`` node set (column ``node``,
    uniform over its members present in the graph) instead of uniformly
    to all nodes — rank concentrates around the seed set, the standard
    similarity/recommendation walk (Haveliwala, "Topic-sensitive
    PageRank", WWW 2002). Dangling mass also restarts at the seeds, so
    ranks still sum to 1.

    Same measured plan discipline as ``pagerank`` (repartition before
    materializing, ``fixpoint`` materializing every ``checkpoint_every``
    rounds) and the same round step; the teleport vector rides the state
    frame as a constant column, so the per-iteration shape is identical
    — one |E| contribution shuffle +
    one |V| state join, nothing teleport-sized is ever broadcast except
    the 1-row dangling aggregate."""
    e = materialize(_by_src(edges, src, dst))
    nodes = _nodes(e)
    seeds = teleport.select(F.col("node")).distinct().join(nodes, "node", "left_semi")
    m = seeds.count()
    if m == 0:
        raise ValueError("personalized_pagerank: no teleport node exists in the graph")
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = (
        nodes.join(out_deg, nodes["node"] == out_deg["src"], "left")
        .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
        .join(seeds.withColumn("_s", F.lit(1)), "node", "left")
        # p(v): the restart distribution, constant across iterations
        .select(
            "node", "deg", (F.coalesce("_s", F.lit(0)) / m).alias("p")
        )
    )
    rank = F.lit(1.0 - damping) * F.col("p") + F.lit(damping) * (
        F.coalesce("contrib", F.lit(0.0)) + F.col("dm") * F.col("p")
    )
    # start AT the restart distribution (the conventional PPR start;
    # the fixed point is start-independent regardless)
    state, _ = fixpoint(
        base.withColumn("rank", F.col("p")),
        lambda state, r: _power_step(e, state, rank),
        iters,
        every=checkpoint_every,
    )
    return state.select("node", "rank")


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    (edge direction and duplicates in the input are ignored). Returns
    (node, triangles) for every node incident to at least one triangle.

    Algorithm: degree-ordered edge orientation (the standard MapReduce
    triangle scheme, Suri & Vassilvitskii 2011 "Counting Triangles and
    the Curse of the Last Reducer"). Each undirected edge is oriented
    from its lower-(degree, id) endpoint to its higher one; wedges are
    enumerated only at each edge pair's LOWEST-ordered vertex and
    closed with a semi-join against the oriented edge set, so every
    triangle is generated exactly once.

    Scale posture: orientation caps the out-degree of every vertex at
    O(sqrt(|E|)) — the wedge self-join therefore generates
    O(|E|^{3/2}) candidates worst-case instead of sum(deg^2), which is
    what kills the naive scheme on power-law hubs ("the curse of the
    last reducer"). All steps are equi-joins / groupBys keyed on node
    or (node, node) ids: canonical-edge distinct (1 shuffle), degree
    agg (1), two orientation joins (node-keyed), wedge self-join on the
    pivot node, and the closing join on the (v, w) pair. No cross
    join, no driver collect.

    The canonical edge set and the oriented edge set are each
    materialized once (``materialize``, same idiom as pagerank):
    ``und`` feeds degree counting plus both orientation joins and
    ``oriented`` is referenced three times (two wedge spokes + the
    closing lookup), so an unmaterialized plan re-derives the edge
    build ~15x (measured: 94 shuffle exchanges in the audited plan vs
    5 after). Unlike pagerank's edge table, partitioning is NOT pinned
    down to defaultParallelism here: this op is one-shot (no
    per-iteration task-count amplification), and the wedge stage is
    the memory hot spot — coalescing a dense graph's wedges into a
    handful of partitions OOMs a small-heap session, so the session's
    shuffle layout / AQE keeps sizing those exchanges, and the
    checkpoints are stored DISK_ONLY — resident edge blocks would
    compete with the wedge sort for the same heap.

    ``assume_canonical=True`` declares the input ALREADY canonical
    (a<b on (src, dst), distinct, no nulls/self-loops) AND stable/
    cheap to re-scan — i.e. a bucketed edge-table scan, the
    pay-at-ingest layout x_pagerank_bucketed_edges models. The
    canonicalize-distinct shuffle and its checkpoint are skipped
    entirely (the table IS the materialization); only the oriented
    frame is checkpointed. _LAST_TRI_CANON_EXCHANGES records the
    exchange count of the canonical-edge frame — 0 from a table scan,
    >=1 when the operator had to canonicalize.
    """
    global _LAST_TRI_CANON_EXCHANGES
    if assume_canonical:
        und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        _LAST_TRI_CANON_EXCHANGES = len(_ensure_exchange_ids(und))
    else:
        pre = _undirected(edges, src, dst)
        # count on the PRE-checkpoint plan: the checkpointed frame is a
        # LogicalRDD scan that no longer shows the canonicalize shuffle
        _LAST_TRI_CANON_EXCHANGES = len(_ensure_exchange_ids(pre))
        und = materialize(pre, StorageLevel.DISK_ONLY)
    deg = _degrees(und, "deg")
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    with_deg = und.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = materialize(
        with_deg.select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.struct("b", "db")).otherwise(F.struct(F.col("a").alias("b"), F.col("da").alias("db"))).alias("vs"),
        ).select("u", F.col("vs.b").alias("v"), F.col("vs.db").alias("dv")),
        StorageLevel.DISK_ONLY,
    )
    # wedges pivoting at u; order the two spokes by the SAME (deg, id)
    # total order so the closing edge lookup is oriented v -> w
    left = oriented.select("u", F.col("v"), F.col("dv"))
    right = oriented.select(
        F.col("u"), F.col("v").alias("w"), F.col("dv").alias("dw")
    )
    wedges = left.join(right, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closing, ["v", "w"], "inner").select("u", "v", "w")
    # one explode, not a 3-way union of projections — a union would
    # re-execute the wedge+closing joins once per corner
    corners = tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 10,
) -> DataFrame:
    """Capped-round k-core peeling over an undirected graph (direction
    and duplicate edges in the input are ignored): repeatedly drop
    every node whose degree in the surviving subgraph is < k, for AT
    MOST ``max_rounds`` rounds. Returns (node, core_degree, converged)
    — the node's degree within the surviving subgraph and whether a
    fixpoint was reached within the cap (constant across rows).

    The capped-round DEFINITION (rather than "iterate to fixpoint") is
    deliberate: it makes the operator a total, deterministic function
    of (graph, k, max_rounds) that an oracle can replay by unrolling
    exactly ``max_rounds`` peels — if a pathological graph needs more
    rounds, both the engine and the oracle emit the same intermediate
    state with converged=false instead of silently diverging. Peeling
    removes at least one node per non-converged round, so
    ``max_rounds >= |V|`` always converges; callers pick a small cap
    with measured margin (a social-graph core settles in a handful of
    rounds) and watch the flag.

    Scale: each round is one degree aggregation + two semi-joins, all
    keyed on node ids — 3 exchanges/round on co-partitioned data, |E|
    rows max. The engine early-exits on fixpoint (identical result to
    running the full cap, since peeling is monotone and idempotent at
    the fixpoint). ``fixpoint`` materializes each round's edge set once,
    reads its size from that same job, and frees the round it replaces —
    an unmaterialized round-over-round plan re-derives every prior peel
    per reference (tests assert convergence, not plan shape, because the
    graph here is small; the exchange discipline is pagerank's, already
    pinned).
    """

    def peel(cur: DataFrame, r: int) -> DataFrame:
        keep = _degrees(cur, "d").filter(F.col("d") >= k).select("node")
        return (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
        )

    cur, converged = fixpoint(
        _undirected(edges, src, dst), peel, max_rounds, until=F.count(F.lit(1))
    )
    return _degrees(cur, "core_degree").withColumn("converged", F.lit(converged))


def label_propagation(
    edges: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over an undirected graph, run for EXACTLY ``rounds``
    synchronized rounds: labels start as node ids; each round every
    node adopts the most frequent label among its neighbors, ties
    broken to the smallest label. Returns (node, community).

    The fixed-round synchronous definition (not "until stable") is
    deliberate, same contract as k_core's cap: asynchronous/converged
    LPA is order-dependent and can oscillate on bipartite structures,
    while R synchronous rounds with a total tie-break are a pure
    function of (graph, R) that an oracle replays by unrolling R
    blocks. Callers pick small R — community structure emerges in a
    handful of rounds and long LPA runs famously wash out to one giant
    label anyway.

    Scale: per round one |2E|-row neighbor-label join (node-keyed) +
    one (node,label) count + one per-node argmax window — all
    hash-partitioned on node, so a cluster co-partitions every stage;
    state is 2 columns x |V|. ``fixpoint`` materializes each round's
    labels and frees the round they replace."""
    und = materialize(_undirected(edges, src, dst))
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lbl"))

    def propagate(labels: DataFrame, r: int) -> DataFrame:
        nbr = und.join(
            labels.select(F.col("node").alias("b"), "lbl"), "b"
        ).select(F.col("a").alias("node"), "lbl").unionByName(
            und.join(
                labels.select(F.col("node").alias("a"), "lbl"), "a"
            ).select(F.col("b").alias("node"), "lbl")
        )
        cnt = nbr.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        return (
            cnt.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "lbl")
        )

    labels0 = _nodes(und, "a", "b").select("node", F.col("node").alias("lbl"))
    labels, _ = fixpoint(labels0, propagate, rounds)
    return labels.select("node", F.col("lbl").alias("community"))


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    center_deg_cap: int = 64,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected graph: for every
    non-adjacent node pair (a, b) sharing at least one neighbor, the
    score Σ_z 1/ln(deg(z)) over common neighbors z. Returns
    (a, b, common_neighbors, score) with a < b, unquantized.

    ``center_deg_cap`` bounds the wedge fan-out: a center of degree d
    emits d·(d−1)/2 candidate pairs, so one hub can dominate the whole
    enumeration while contributing ~nothing to any score (its weight is
    1/ln(d) → 0, and pairs "linked" only through a hub are noise — the
    reason the weight exists at all). Capping centers at ``deg ≤ cap``
    is therefore part of the operator's DEFINITION (pinned identically
    in oracles), not an approximation knob bolted on for scale; it
    turns the worst case from O(Δ²) per hub into O(cap²).

    Scale: one degree aggregation, one join of the (capped) adjacency
    with itself keyed on the CENTER node, one (a,b) aggregation, one
    anti-join against the edge set — all hash-partitioned exchanges,
    no iteration, no driver state. Centers of degree < 2 are dropped
    up front (they form no wedge, and ln(1) = 0 would divide by zero).
    The normalized edge set and the weighted adjacency are each
    referenced more than once (self-join sides + the anti-join), so
    both are materialized (``materialize``) — the standard graph-op
    idiom; an unmaterialized frame re-derives its whole
    subtree per reference (measured here: 41 → 8 plan exchanges).
    """
    und = materialize(_undirected(edges, src, dst))
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    centers = deg.filter((F.col("d") >= 2) & (F.col("d") <= center_deg_cap)).select(
        "z", (1.0 / F.log(F.col("d"))).alias("w")
    )
    wadj = materialize(adj.join(centers, "z"))
    left = wadj.select("z", F.col("x").alias("xa"), "w")
    right = wadj.select("z", F.col("x").alias("xb"))
    pairs = (
        left.join(right, "z")
        .filter(F.col("xa") < F.col("xb"))
        .groupBy(F.col("xa").alias("a"), F.col("xb").alias("b"))
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("w").alias("score"),
        )
    )
    return pairs.join(und, ["a", "b"], "left_anti")


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    checkpoint_every: int = 2,
    pre_partitioned: bool = False,
) -> DataFrame:
    """HITS (Kleinberg 1999) hubs-and-authorities over a directed edge
    list, run for EXACTLY ``iters`` synchronized iterations and
    sum-normalized ONCE at the output (each vector rescaled to sum 1).
    Returns (node, authority, hub); nodes unreachable by the
    respective propagation carry score 0.

    Normalization placement is deliberate: scalars factor through the
    linear updates, so end-normalization gives the IDENTICAL
    sum-normalized vectors the textbook per-iteration rescale does —
    while (a) early iterations stay EXACT INTEGERS (sums < 2^53 are
    order-independent, shrinking cross-engine float jitter to the last
    couple of iterations) and (b) each state frame is referenced once
    per iteration instead of twice per rescale, which would branch the
    unmaterialized lineage 4× per iteration (measured: 120 → 17 plan
    exchanges at 4 iterations). Raw magnitudes grow like
    (d_in·d_out)^iters — for small fixed ``iters`` that is nowhere
    near double overflow on any real graph; long runs should rescale
    periodically (at ``checkpoint_every`` boundaries) before adding
    iterations.

    Fixed-iteration contract, same reasoning as pagerank/k_core: a
    total deterministic function of (graph, iters) the oracle unrolls
    exactly — power iteration contracts toward the principal
    eigenvectors of AᵀA / AAᵀ, so what little float jitter exists
    stays at rounding scale and quantized outputs match.

    Scale: per iteration one |E|-row hub-score join grouped on dst
    (authority update) + one |E|-row authority-score join grouped on
    src (hub update), both hash-partitioned on node ids — the pagerank
    exchange discipline, with edge materialization and
    per-``checkpoint_every`` lineage truncation inherited verbatim.

    ``pre_partitioned`` follows pagerank's bucketed edge storage
    (VERDICT r7 #3), with a HITS-specific twist: the two per-iteration
    joins key on DIFFERENT columns (src for the authority update, dst
    for the hub update), so the persisted path caches TWO
    hash-partitioned copies of the edge list — e_src and e_dst — each
    co-partitioned with its join. A src-bucketed table
    (``pre_partitioned=True``) feeds e_src with ZERO setup exchanges
    (``distinct`` on (src,dst) is satisfied by HashPartitioning(src) —
    the bucket hash clusters a superset-keyed aggregation, so no
    exchange is inserted); e_dst always costs one |E| shuffle at setup,
    paid ONCE from the already-cached e_src and amortized over every
    iteration. In-session edge frames get a local checkpoint (the
    local-mode choice, same measured trade as pagerank): one copy and lets each iteration
    re-shuffle the edge side as spilled-disk exchanges."""
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1 (got {iters})")
    pre = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    par = max(edges.sparkSession.sparkContext.defaultParallelism, 1)
    global _LAST_HITS_EDGE_EXCHANGES, _LAST_HITS_ITER_EXCHANGES
    if pre_partitioned:
        # raw persists, freed by the ``finally`` below: a local
        # checkpoint would drop the partitioning this path keeps
        _LAST_HITS_EDGE_EXCHANGES = (
            pre._jdf.queryExecution().executedPlan().toString().count("Exchange")
        )
        e_src = pre.persist()
        e_src.count()
        # dst-partitioned twin, built once FROM the cached copy (no
        # upstream re-derivation), so the hub-update join is edge-side
        # exchange-free too
        e_dst = e_src.repartition(par, "dst").persist()
        e_dst.count()
    else:
        e_src = materialize(_by_src(pre))
        _LAST_HITS_EDGE_EXCHANGES = 1
        e_dst = e_src
    try:
        nodes, n_nodes = counted(_nodes(e_src))
        if n_nodes == 0:
            return nodes.withColumn("authority", F.lit(0.0)).withColumn("hub", F.lit(0.0))
        hub = nodes.withColumn("s", F.lit(1.0))

        auth = None
        held: list[DataFrame] = []  # the last boundary's (auth, hub)
        for i in range(iters):
            auth = (
                e_src.join(hub.withColumnRenamed("node", "src"), "src")
                .groupBy("dst")
                .agg(F.sum("s").alias("s"))
                .withColumnRenamed("dst", "node")
            )
            # Checkpoint placement (r15): at a boundary, materialize auth
            # BEFORE building hub from it. The previous shape checkpointed
            # (auth, hub) as a pair AFTER both were built, so hub's plan
            # still referenced the pre-checkpoint auth subtree and the hub
            # checkpoint re-derived the whole auth chain of the segment a
            # second time — the final post-loop pair paid a full extra
            # segment. The final iteration is now a boundary too (it
            # replaces the post-loop double checkpoint, same frames, same
            # math). Measured at sf0.1 local[32], interleaved fresh-process
            # rounds on the supplier query shape: 7.98/6.60 s → 5.82/5.62 s.
            boundary = ((i + 1) % checkpoint_every == 0) or i == iters - 1
            if boundary:
                # the new auth severs the lineage to the last boundary's
                # frames, so they are freed here
                auth = materialize(auth)
                for df in held:
                    release(df)
                held = [auth]
            hub = (
                e_dst.join(auth.withColumnRenamed("node", "dst"), "dst")
                .groupBy("src")
                .agg(F.sum("s").alias("s"))
                .withColumnRenamed("src", "node")
            )
            if i == 0:
                # runtime-exchange observable (pagerank's ENSURE_REQUIREMENTS
                # convention, plan_id-deduped): the persisted path must show
                # strictly fewer — both |E|-row edge sides arrive
                # pre-partitioned from cache. The cached builds' own
                # exchanges (the distinct + the dst repartition) are
                # subtracted: they are one-time setup, reprinted into every
                # referencing plan by the InMemoryRelation dump.
                noise: set[str] = set()
                if pre_partitioned:
                    noise = _ensure_exchange_ids(e_src) | _ensure_exchange_ids(e_dst)
                _LAST_HITS_ITER_EXCHANGES = len(_ensure_exchange_ids(hub) - noise)
            if boundary:
                # auth was already materialized above, so this checkpoint
                # reads it instead of re-deriving the segment's auth chain.
                # The final boundary also covers the normalizer below: the
                # final frames are each read twice (normalizer agg + output
                # join), and the checkpoint severs lineage from the cached
                # edge tables so the persisted path can release them
                # (CacheManager entries are not GC-reclaimed — pagerank's
                # recurring-job discipline).
                hub = materialize(hub)
                held.append(hub)
    finally:
        if pre_partitioned:
            e_src.unpersist()
            e_dst.unpersist()

    def _normalized(scored: DataFrame, out: str) -> DataFrame:
        total = scored.agg(F.sum("s").alias("_t"))
        return scored.crossJoin(F.broadcast(total)).select(
            "node", (F.col("s") / F.col("_t")).alias(out)
        )

    return (
        nodes.join(_normalized(auth, "authority"), "node", "left")
        .join(_normalized(hub, "hub"), "node", "left")
        .select(
            "node",
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
    )


def modularity(edges: DataFrame, labels: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Newman modularity Q of a node partition over an undirected simple
    graph (edges assumed deduped with src < dst; ``labels`` maps
    (node, community)). Returns ONE row (n_edges, n_communities,
    modularity) — modularity unquantized; callers quantize at the edge.

    Uses the algebraic identity Q = e_in/m − (Σ_c d_c²)/(4m²) so every
    distributed aggregate is an INTEGER (intra-community edge count,
    degree sums) — order-independent and bit-stable across engines —
    and the float math collapses to one driver-side expression.
    Σ d_c² is carried as BIGINT: it overflows only past ~3e9 total
    degree within one community, at which point the input belongs on
    the decimal(38) variant rather than silently losing precision.

    Scale: two node-keyed label joins on the edge list + one degree
    aggregation + one per-community sum — all hash-co-partitioned on
    node/community; the three 1-row aggregates cross-join via
    broadcast. Nothing is quadratic and nothing is collected."""
    la = labels.select(F.col("node").alias(src), F.col("community").alias("_ca"))
    lb = labels.select(F.col("node").alias(dst), F.col("community").alias("_cb"))
    e2 = edges.select(src, dst).join(la, src).join(lb, dst)
    intra = e2.filter(F.col("_ca") == F.col("_cb")).agg(F.count(F.lit(1)).alias("e_in"))
    deg = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = deg.join(labels, "node").groupBy("community").agg(F.sum("d").alias("d_c"))
    dc_tot = dc.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"),
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    one = m.crossJoin(F.broadcast(intra)).crossJoin(F.broadcast(dc_tot))
    return one.select(
        F.col("m").cast("long").alias("n_edges"),
        F.col("n_communities").cast("long").alias("n_communities"),
        (
            F.col("e_in").cast("double") / F.col("m")
            - F.col("sum_dc2").cast("double") / (4 * F.col("m") * F.col("m"))
        ).alias("modularity"),
    )


def degree_assortativity(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of an undirected
    simple graph (edges deduped, src < dst): the Pearson correlation of
    endpoint degrees over the DOUBLED edge list. Returns one row
    (n_edges, assortativity), assortativity unquantized (NULL for a
    degree-regular graph where the variance is 0).

    The doubled-edge symmetry collapses the Pearson formula to
    r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) with n = 2m, Σx = Σ(dₐ+d_b),
    Σxy = 2·Σ(dₐ·d_b), Σx² = Σ(dₐ²+d_b²) — every distributed aggregate
    an INTEGER, so the result is order-independent and hash-stable;
    float math is one final 1-row expression (the modularity
    discipline). Plan: degree agg + two node-keyed degree joins + one
    global integer agg. Σ(dₐ·d_b) needs the decimal(38) variant past
    ~3e9 summed degree products."""
    deg = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias(src), F.col("d").alias("_da"))
    db = deg.select(F.col("node").alias(dst), F.col("d").alias("_db"))
    s = (
        edges.select(src, dst)
        .join(da, src)
        .join(db, dst)
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum(F.col("_da") + F.col("_db")).alias("sx"),
            (2 * F.sum(F.col("_da") * F.col("_db"))).alias("sxy"),
            F.sum(F.col("_da") * F.col("_da") + F.col("_db") * F.col("_db")).alias("sxx"),
        )
    )
    num = (2 * F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = (2 * F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        F.col("m").cast("long").alias("n_edges"),
        (num / F.nullif(den, F.lit(0.0))).alias("assortativity"),
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 4,
) -> DataFrame:
    """Capped-round multi-source BFS over an undirected graph
    (direction and duplicate edges in the input are ignored): hop
    distance from the nearest seed, expanding the frontier for AT MOST
    ``max_rounds`` rounds. ``seeds`` is a one-column (``node``) frame.
    Returns (node, hops, converged) for every node reached within the
    cap — hops 0 for the seeds themselves; ``converged`` (constant
    across rows) is true iff the round-``max_rounds`` frontier is
    empty, i.e. the cap covered the whole reachable set.

    Like k_core/label_propagation, the capped-round DEFINITION makes
    this a total deterministic function of (graph, seeds, max_rounds)
    that an oracle replays by unrolling exactly ``max_rounds``
    frontier expansions; a graph with a longer diameter yields the
    same partial distance map on both engines with converged=false
    instead of silently diverging. Early exit on an empty frontier is
    result-identical to running the full cap (an empty frontier stays
    empty).

    Scale: per round, one node-keyed equi-join of the frontier against
    the symmetrized edge list + one distinct + one anti-join against
    the settled set — all exchanges keyed on node ids, frontier-sized
    (not graph-sized) probe side, broadcastable while the frontier is
    small. The state is the one distance map: round r's frontier is its
    ``hops == r-1`` slice, and the round appends the newly reached
    nodes. ``fixpoint`` materializes each round's map once, reads its
    size from that same job (an unchanged size is an empty frontier),
    and frees the map it replaces.
    """
    und = _symmetric(edges, src, dst)

    def expand(dist: DataFrame, r: int) -> DataFrame:
        frontier = dist.filter(F.col("hops") == r - 1).select(F.col("node").alias("a"))
        new = (
            und.join(frontier, "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(r))
        )
        return dist.unionByName(new)

    seeds0 = seeds.select(F.col("node")).distinct().withColumn("hops", F.lit(0))
    dist, converged = fixpoint(seeds0, expand, max_rounds, until=F.count(F.lit(1)))
    return dist.withColumn("converged", F.lit(converged))


def wl_refinement(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Weisfeiler–Leman label refinement over an undirected graph
    (direction/duplicates ignored): nodes start as their degree, and
    each round every node's label becomes
    ``md5(own_label | ',' -joined SORTED neighbor labels)`` — after r
    rounds two nodes share a label only if their r-hop neighborhood
    trees are isomorphic. The per-node labels are the classic WL
    features behind graph kernels and structural dedup of
    graph-shaped records (two product neighborhoods that refine to
    the same label histogram are structurally interchangeable).

    Fixed-round TOTAL definition like k_core/label_propagation: the
    oracle unrolls exactly ``rounds`` refinements, and every step is
    engine-portable by construction — md5 of a canonical string, with
    the neighbor multiset ordered lexicographically (Spark
    ``array_sort + concat_ws`` ≡ SQL ``string_agg(... ORDER BY ...)``)
    so no collect order can leak in. Per round: one |2E| neighbor-label
    join + one node-keyed string fold — node-co-partitioned exchanges,
    label state 2 columns × |V|, each round materialized once by
    ``fixpoint``. Collision caveat: labels are 128-bit md5 —
    collisions are cryptographically negligible and identical on both
    engines anyway."""
    und = _symmetric(edges, src, dst)

    def refine(labels: DataFrame, r: int) -> DataFrame:
        nbr = und.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "lbl")
        folded = nbr.groupBy("node").agg(
            F.concat_ws(",", F.array_sort(F.collect_list("lbl"))).alias("_ns")
        )
        return labels.join(folded, "node").select(
            "node",
            F.md5(F.concat_ws("|", F.col("lbl"), F.col("_ns"))).alias("lbl"),
        )

    labels0 = (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .select("node", F.col("d").cast("string").alias("lbl"))
    )
    return fixpoint(labels0, refine, rounds)[0]


def jaccard_links(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    center_deg_cap: int = 64,
) -> DataFrame:
    """Jaccard-coefficient link prediction over an undirected graph:
    for every non-adjacent pair (a, b) sharing at least one neighbor,
    |N(a)∩N(b)| / |N(a)∪N(b)| = cn / (deg(a) + deg(b) − cn). Returns
    (a, b, common_neighbors, score) with a < b; the score is ONE exact
    division of integers, so it is bit-identical across engines
    unquantized (unlike Adamic–Adar's log-weight sum).

    Same wedge shape and ``center_deg_cap`` discipline as
    :func:`adamic_adar` — a hub center emits O(Δ²) wedge pairs while
    its common-neighbor EVIDENCE is weak, so capping is part of the
    score's semantics on both engines. Endpoint degrees are UNCAPPED
    (they are the denominator's truth); only wedge centers are capped.

    Scale: one |E| degree agg, the capped wedge self-join keyed on the
    center, two broadcast-size degree joins for the endpoints, one
    anti-join against the edge set — node-keyed exchanges throughout,
    the adamic_adar/triangle discipline."""
    und = materialize(_undirected(edges, src, dst))
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    deg = materialize(adj.groupBy("z").agg(F.count(F.lit(1)).alias("d")))
    centers = deg.filter((F.col("d") >= 2) & (F.col("d") <= center_deg_cap)).select("z")
    wadj = materialize(adj.join(centers, "z"))
    left = wadj.select("z", F.col("x").alias("xa"))
    right = wadj.select("z", F.col("x").alias("xb"))
    pairs = (
        left.join(right, "z")
        .filter(F.col("xa") < F.col("xb"))
        .groupBy(F.col("xa").alias("a"), F.col("xb").alias("b"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .join(und, ["a", "b"], "left_anti")
    )
    da = deg.select(F.col("z").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("z").alias("b"), F.col("d").alias("_db"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            (
                F.col("common_neighbors")
                * 1.0
                / (F.col("_da") + F.col("_db") - F.col("common_neighbors"))
            ).alias("score"),
        )
    )


def degree_distribution(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree histogram of an undirected graph (direction/duplicates
    ignored): one row per observed degree, (degree, n_nodes) — the
    first diagnostic of any production graph (a power-law tail says
    hub mitigation is needed; see the hub-skew smoke cases). Exact
    integers only. Two node-keyed aggregations past the CHECKPOINTED
    edge list — the symmetrizing union references it twice, and
    without the checkpoint the whole upstream edge build re-derives
    per side (measured 11 → 7 exchanges on the co-purchase query)."""
    und = materialize(_undirected(edges, src, dst))
    adj = und.select(F.col("a").alias("z")).unionByName(und.select(F.col("b").alias("z")))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 4,
    alpha_inv: int = 20,
) -> DataFrame:
    """Truncated Katz centrality over a DIRECTED edge list:
    c(v) = Σ_{k=1..iters} α^k · walks_k(v), with walks_k(v) the number
    of length-k walks ENDING at v and α = 1/alpha_inv (symmetrize the
    edges first for the undirected reading). Returns (node, katz) plus
    the per-length walk counts (w1..w{iters}).

    The exact-integer-iteration discipline (the modularity/Mann-Whitney
    posture applied to an iterative kernel): the walk recurrence
    walks_k(v) = Σ_{(u,v)∈E} walks_{k-1}(u) is pure int64 arithmetic —
    order-independent by construction, so the iterated state carries
    ZERO float jitter, unlike PageRank/HITS whose per-iteration float
    sums force tolerance-based comparison. Float enters only in the
    final per-node combine Σ w_k/alpha_inv^k — a fixed-length chain of
    correctly-rounded IEEE ops on exact integers, bit-identical across
    engines, which is what lets the query layer hash-check an
    ITERATIVE centrality exactly. α as 1/alpha_inv (integer) rather
    than a float keeps the divisors exact powers (20² = 400.0 exactly;
    a float alpha**k accumulates power-evaluation error and breaks
    oracle parity).

    Bounds: walks_k ≤ Δ^k (Δ = max in-degree); with the default 4
    iterations int64 overflows only past Δ ≈ 55 000 — beyond any graph
    this engine's hub-skew smokes model; past that, cap hub degrees
    first (the documented posture for all the quadratic-adjacent
    paths). Truncation at ``iters`` is the same capped-round contract
    as k_core/bfs_hops: a total deterministic function an oracle
    replays by unrolling.

    Scale: per iteration, ONE |E|-row join keyed on src against the
    |V|-row walk state + ONE dst-keyed integer aggregation — pagerank's
    exchange shape exactly, with the edge table repartitioned on the
    join key once and materialized, and each round's walk state
    materialized too (see the loop for why every round)."""
    if iters < 1:
        raise ValueError(f"katz_centrality: iters must be >= 1, got {iters}")
    if alpha_inv < 2:
        raise ValueError(f"katz_centrality: alpha_inv must be >= 2, got {alpha_inv}")
    e = materialize(_by_src(edges, src, dst))
    nodes = materialize(_nodes(e))
    # walks_1 = in-degree (walks_0 ≡ 1 everywhere).
    w = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    walks = []
    for k in range(1, iters + 1):
        if k > 1:
            w = e.join(w, e["src"] == w["node"]).groupBy(
                F.col("dst").alias("node")
            ).agg(F.sum("w").cast("long").alias("w"))
        # Every w_k has TWO consumers — the k+1 recurrence and the final
        # per-node combine — so an unmaterialized w_k is re-derived by
        # whichever consumer runs after the other's action (the final
        # combine re-paid w1 and w3 under the old cadence-only rule).
        # Materialize each round (r15; measured interleaved at sf0.1:
        # 5.58/5.94 s → 5.31/5.50 s for x_katz_copurchase's shape).
        w = materialize(w)
        walks.append(w.withColumnRenamed("w", f"w{k}"))
    out = nodes
    for k, wk in enumerate(walks, start=1):
        out = out.join(wk, "node", "left").na.fill({f"w{k}": 0})
    katz = None
    for k in range(1, iters + 1):
        term = F.col(f"w{k}") / float(alpha_inv**k)
        katz = term if katz is None else katz + term
    return out.withColumn("katz", katz)
