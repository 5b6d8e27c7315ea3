"""PageRank power iteration: hand-computable graphs, probability-mass
conservation, dangling redistribution."""

from __future__ import annotations

import math

from cse_datapipeline_and_mls_spark.operators.graph import pagerank


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_two_node_cycle_is_uniform(spark):
    r = _ranks(spark, [(1, 2), (2, 1)], iters=20)
    assert math.isclose(r[1], 0.5, abs_tol=1e-9)
    assert math.isclose(r[2], 0.5, abs_tol=1e-9)


def test_star_graph_center_dominates_and_mass_conserved(spark):
    # 4 leaves all point at the hub; hub is dangling -> its mass
    # redistributes uniformly
    edges = [(i, 99) for i in range(1, 5)]
    r = _ranks(spark, edges, iters=30)
    assert math.isclose(sum(r.values()), 1.0, abs_tol=1e-6)
    assert r[99] > r[1] > 0
    # leaves are symmetric
    assert all(math.isclose(r[i], r[1], abs_tol=1e-12) for i in range(2, 5))
    # closed form for this graph at convergence: leaves get
    # (1-d)/n + d*hub/n (only dangling mass), hub gets that + d*sum(leaf/1)
    d, n = 0.85, 5
    leaf = r[1]
    assert math.isclose(r[99], (1 - d) / n + d * (4 * leaf + r[99] / n), rel_tol=1e-4)


def test_chain_ranks_increase_downstream(spark):
    r = _ranks(spark, [(1, 2), (2, 3), (3, 4)], iters=40)
    assert r[1] < r[2] < r[3] < r[4]
    assert math.isclose(sum(r.values()), 1.0, abs_tol=1e-6)


def test_pagerank_edge_partitions_pin_to_default_parallelism(spark):
    """Regression guard for the measured 15s→272s trap: the materialized
    edge table must be partitioned at defaultParallelism, NOT at
    spark.sql.shuffle.partitions — a materialized plan freezes its
    partitioning and is exempt from AQE coalescing, so inheriting a
    vanilla session's 200 would pin every iteration to hundreds of
    near-empty tasks (graph.py docstring)."""
    from cse_datapipeline_and_mls_spark.operators import graph as G

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        df = spark.createDataFrame(
            [(i, (i * 7) % 50) for i in range(200)], "src long, dst long"
        )
        ranks = pagerank(df, iters=3)
        total = sum(r["rank"] for r in ranks.collect())
        assert math.isclose(total, 1.0, abs_tol=1e-6)
        par = spark.sparkContext.defaultParallelism
        assert G._LAST_EDGE_PARTITIONS == par, (
            f"edges materialized at {G._LAST_EDGE_PARTITIONS} partitions, "
            f"expected defaultParallelism={par} (shuffle.partitions leak)"
        )
        assert G._LAST_EDGE_PARTITIONS != 200
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# -- triangle counting -------------------------------------------------------

from cse_datapipeline_and_mls_spark.operators.graph import triangle_counts  # noqa: E402


def _tri(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}


def test_k4_every_node_in_three_triangles(spark):
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    t = _tri(spark, edges)
    assert t == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_with_pendant_edge(spark):
    # triangle 1-2-3 plus pendant 3-4: pendant node closes nothing
    t = _tri(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    assert t == {1: 1, 2: 1, 3: 1}


def test_chain_has_no_triangles(spark):
    assert _tri(spark, [(1, 2), (2, 3), (3, 4)]) == {}


def test_direction_duplicates_and_self_loops_ignored(spark):
    # same triangle stated with reversed duplicates and a self loop
    t = _tri(spark, [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)])
    assert t == {1: 1, 2: 1, 3: 1}


def test_two_triangles_sharing_an_edge(spark):
    # 1-2-3 and 2-3-4 share edge 2-3
    t = _tri(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    assert t == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_counts_match_bruteforce_on_random_graph(spark):
    import itertools
    import random

    rng = random.Random(7)
    nodes = list(range(30))
    edges = sorted(
        {(a, b) for a in nodes for b in nodes if a < b and rng.random() < 0.2}
    )
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                expected[n] = expected.get(n, 0) + 1
    assert _tri(spark, edges) == expected


def test_pagerank_from_bucketed_edges_skips_the_edge_shuffle(spark):
    """A src-bucketed edge table feeds pagerank(pre_partitioned=True)
    with ZERO exchanges in the edge materialization (the bucket hash IS
    the shuffle hash), vs >=1 on the repartition path — the pay-at-
    ingest layout SCALE.md prescribes for 100 TB edge tables. Ranks
    must be identical either way."""
    from cse_datapipeline_and_mls_spark.operators import graph as G
    from cse_datapipeline_and_mls_spark.sources.sinks import write_bucketed

    edges = spark.createDataFrame(
        [(a, b) for a in range(40) for b in range(40) if (a * 7 + b) % 5 == 0 and a != b],
        "src long, dst long",
    )
    plain = {r["node"]: r["rank"] for r in G.pagerank(edges, iters=4).collect()}
    assert G._LAST_EDGE_EXCHANGES >= 1
    # default checkpoint storage drops partitioning → the edge side
    # re-shuffles per iteration
    ckpt_iter_exchanges = G._LAST_ITER_EXCHANGES

    # persist storage keeps the hash partitioning → the per-iteration
    # edge-side exchange is gone (only state + contribution agg remain),
    # identical ranks
    persisted = {
        r["node"]: r["rank"]
        for r in G.pagerank(edges, iters=4, edge_storage="persist").collect()
    }
    # at most two runtime exchanges remain — the contribution
    # aggregation, plus (on graphs too big to broadcast the state) the
    # |V|-sized state join against the r15 materialized base, whose
    # LogicalRDD forgets its partitioning; on this tiny graph the
    # planner broadcasts the state, leaving 1 — strictly fewer than
    # checkpoint either way
    assert G._LAST_ITER_EXCHANGES == 1
    assert G._LAST_ITER_EXCHANGES < ckpt_iter_exchanges
    assert all(abs(plain[k] - persisted[k]) < 1e-12 for k in plain)

    spark.sql("DROP TABLE IF EXISTS t_pr_edges_b")
    try:
        write_bucketed(edges, "t_pr_edges_b", "src", 8)
        bucketed = {
            r["node"]: r["rank"]
            for r in G.pagerank(
                spark.table("t_pr_edges_b"), iters=4, pre_partitioned=True
            ).collect()
        }
        assert G._LAST_EDGE_EXCHANGES == 0  # no ingest-side shuffle at all
        # bucket hash survives the cache: same reduced exchange count as
        # the persisted in-session path
        assert G._LAST_ITER_EXCHANGES == 1
        assert G._LAST_ITER_EXCHANGES < ckpt_iter_exchanges
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pr_edges_b")
    assert set(plain) == set(bucketed)
    assert all(abs(plain[k] - bucketed[k]) < 1e-12 for k in plain)


def test_triangle_counts_from_canonical_table_skips_canonicalize(spark):
    """triangle_counts(assume_canonical=True) over a pre-canonical
    bucketed edge table must produce identical counts with ZERO
    exchanges in the canonical-edge frame (the raw path pays >=1 for
    its canonicalize-distinct) — the shared-layout contract behind
    x_triangle_copurchase / x_clustering_coefficient."""
    from pyspark.sql import functions as F

    from cse_datapipeline_and_mls_spark.operators import graph as G
    from cse_datapipeline_and_mls_spark.sources.sinks import write_bucketed

    edges = spark.createDataFrame(
        [(a, b) for a in range(25) for b in range(25) if a < b and (a * 3 + b) % 4 != 0],
        "src long, dst long",
    )
    raw = {
        r["node"]: r["triangles"] for r in G.triangle_counts(edges).collect()
    }
    assert G._LAST_TRI_CANON_EXCHANGES >= 1
    spark.sql("DROP TABLE IF EXISTS t_tri_edges_b")
    try:
        write_bucketed(edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
                       "t_tri_edges_b", "a", 4)
        canon = {
            r["node"]: r["triangles"]
            for r in G.triangle_counts(
                spark.table("t_tri_edges_b"), src="a", dst="b", assume_canonical=True
            ).collect()
        }
        assert G._LAST_TRI_CANON_EXCHANGES == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_tri_edges_b")
    assert canon == raw


def test_copurchase_tri_stats_shared_and_memoized(spark, sf_dir):
    """The shared (node, degree, triangles) frame: matches the raw
    triangle_counts path on the same graph, and the second consumer in
    a session gets the SAME memoized frame (no second wedge sweep)."""
    from pyspark.sql import functions as FF

    from cse_datapipeline_and_mls_spark.operators.graph import triangle_counts
    from cse_datapipeline_and_mls_spark.queries.coverage_q import (
        _copurchase_tri_stats,
    )
    from cse_datapipeline_and_mls_spark.sources import load_table

    s1 = _copurchase_tri_stats(spark, sf_dir)
    s2 = _copurchase_tri_stats(spark, sf_dir)
    assert s1 is s2  # memo hit: one oriented-wedge sweep per session

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(FF.col("l_orderkey").alias("k"), FF.col("l_partkey").alias("src"))
    b = li.select(FF.col("l_orderkey").alias("k"), FF.col("l_partkey").alias("dst"))
    raw_edges = (
        a.join(b, "k").filter(FF.col("src") < FF.col("dst")).select("src", "dst").distinct()
    )
    raw = {
        r["node"]: r["triangles"] for r in triangle_counts(raw_edges).collect()
    }
    got = {r["node"]: r["triangles"] for r in s1.collect()}
    assert got == raw


def test_pagerank_warm_start_converges_faster_after_perturbation(spark):
    """Warm-start contract: a converged vector fed back is already at
    the fixed point (2 iterations move it < 1e-9), and after a small
    edge change, warm iterations land closer to the NEW fixed point
    than the same number of cold ones."""
    edges = [(a, (a * 3 + 1) % 25) for a in range(25)] + [
        (a, (a * 7 + 2) % 25) for a in range(25)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    converged = pagerank(df, iters=40)
    c = {r["node"]: r["rank"] for r in converged.collect()}

    warm_same = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=2, init_ranks=converged).collect()
    }
    assert max(abs(warm_same[k] - c[k]) for k in c) < 1e-9
    assert math.isclose(sum(warm_same.values()), 1.0, abs_tol=1e-9)

    # perturb: rewire two edges and add a brand-new node
    df2 = spark.createDataFrame(
        edges[2:] + [(1, 26), (26, 3)], "src long, dst long"
    )
    target = {r["node"]: r["rank"] for r in pagerank(df2, iters=40).collect()}

    def l1(ranks):
        return sum(abs(ranks.get(k, 0.0) - v) for k, v in target.items())

    cold = {r["node"]: r["rank"] for r in pagerank(df2, iters=2).collect()}
    warm = {
        r["node"]: r["rank"]
        for r in pagerank(df2, iters=2, init_ranks=converged).collect()
    }
    assert math.isclose(sum(warm.values()), 1.0, abs_tol=1e-9)
    assert l1(warm) < l1(cold), (l1(warm), l1(cold))


def test_pagerank_empty_graph_releases_persist(spark, persistent_ids):
    """ADVICE r5: the empty-graph early return on the persist path must
    unpersist the edge cache, not leave a catalog-held entry per call.
    Compared by RDD ID, not catalog SIZE: earlier tests' caches
    unpersist ASYNCHRONOUSLY, so the count can legitimately drop while
    this test runs (r14 close saw 52 → 44) — the invariant is that no
    NEW entry created by this call survives it."""
    from cse_datapipeline_and_mls_spark.operators.graph import pagerank

    before = persistent_ids()
    empty = spark.createDataFrame([], "src long, dst long")
    out = pagerank(empty, iters=2, edge_storage="persist")
    assert out.count() == 0
    leaked = persistent_ids() - before
    assert not leaked, f"empty-graph pagerank left persistent RDDs: {leaked}"


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """PPR over a small undirected path graph: ranks sum to 1, the seed
    outranks every other node, and rank decays with distance from the
    seed; empty teleport set raises."""
    import pytest as _pytest

    from cse_datapipeline_and_mls_spark.operators.graph import personalized_pagerank

    # path 1-2-3-4 plus an isolated pair 5-6, undirected
    und = [(1, 2), (2, 3), (3, 4), (5, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    ranks = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(edges, seeds, iters=20).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # rank decays with distance from the seed PAST its immediate
    # neighbor (node 2 may legitimately outrank the seed: the degree-1
    # seed sends it ALL its mass while 2 splits its own both ways)
    assert ranks[2] > ranks[3] > ranks[4]
    assert ranks[1] > ranks[3]
    # the seed always keeps at least the restart share (1-d)·p = 0.15
    assert ranks[1] > 0.15
    # the disconnected component is unreachable from the seed
    assert ranks[5] == 0.0 and ranks[6] == 0.0

    ghost = spark.createDataFrame([(99,)], "node long")
    with _pytest.raises(ValueError):
        personalized_pagerank(edges, ghost, iters=2)


def test_k_core_peels_to_fixpoint(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle,
    pendant nodes peel off over two rounds; converged=True."""
    from cse_datapipeline_and_mls_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    rows = {r["node"]: (r["core_degree"], r["converged"]) for r in k_core(edges, k=2).collect()}
    assert rows == {1: (2, True), 2: (2, True), 3: (2, True)}


def test_k_core_cap_reports_nonconvergence(spark):
    """A long chain under k=2 peels one endpoint pair per round; with a
    cap smaller than the rounds needed, the capped intermediate state is
    returned with converged=False (the oracle-replayable contract)."""
    from cse_datapipeline_and_mls_spark.operators.graph import k_core

    chain = [(i, i + 1) for i in range(12)]
    out = k_core(spark.createDataFrame(chain, "src long, dst long"), k=2, max_rounds=2)
    rows = out.collect()
    assert rows and all(r["converged"] is False for r in rows)
    # two peels remove two nodes from each end: nodes 2..10 remain
    assert sorted(r["node"] for r in rows) == list(range(2, 11))


def test_k_core_empty_core(spark):
    """A star graph has no 2-core: result is empty, converged=True."""
    from cse_datapipeline_and_mls_spark.operators.graph import k_core

    star = [(0, i) for i in range(1, 6)]
    out = k_core(spark.createDataFrame(star, "src long, dst long"), k=2, max_rounds=10)
    assert out.count() == 0


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: labels converge to the
    min node id of each clique; the bridge does not merge them."""
    from cse_datapipeline_and_mls_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    com = {r["node"]: r["community"] for r in label_propagation(edges, rounds=4).collect()}
    assert {com[n] for n in range(4)} == {0}
    assert {com[n] for n in range(10, 14)} == {10}


def test_adamic_adar_scores_and_center_cap(spark):
    import math

    from cse_datapipeline_and_mls_spark.operators.graph import adamic_adar

    # square 1-2-3-4-1: non-adjacent diagonals (1,3) and (2,4), each
    # with two degree-2 common neighbors -> score 2/ln(2)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (4, 3)], "src long, dst long"
    )
    got = {(r["a"], r["b"]): r for r in adamic_adar(edges).collect()}
    assert set(got) == {(1, 3), (2, 4)}
    assert got[(1, 3)]["common_neighbors"] == 2
    assert math.isclose(got[(1, 3)]["score"], 2 / math.log(2))

    # add a hub adjacent to all four: with the cap below the hub's
    # degree the hub is not a wedge center (its pairs are noise);
    # raising the cap admits it
    hub = spark.createDataFrame(
        [(9, 1), (9, 2), (9, 3), (9, 4)], "src long, dst long"
    )
    both = edges.unionByName(hub)
    # (the hub also raises nodes 2 and 4 to degree 3, so the diagonal
    # weight becomes 2/ln(3) in both variants)
    capped = {(r["a"], r["b"]): r for r in adamic_adar(both, center_deg_cap=3).collect()}
    assert math.isclose(capped[(1, 3)]["score"], 2 / math.log(3))
    assert capped[(1, 3)]["common_neighbors"] == 2
    full = {(r["a"], r["b"]): r for r in adamic_adar(both, center_deg_cap=64).collect()}
    assert math.isclose(full[(1, 3)]["score"], 2 / math.log(3) + 1 / math.log(4))
    assert full[(1, 3)]["common_neighbors"] == 3
    # adjacent pairs never appear, with or without the hub
    assert (1, 2) not in full and (9, 1) not in full


def test_hits_two_iteration_closed_form(spark):
    import math

    from cse_datapipeline_and_mls_spark.operators.graph import hits

    # u1->{v1,v2}, u2->{v1}; hand-unrolled sum-normalized HITS:
    # iter1: a=(2/3,1/3)  h=(3/5,2/5)
    # iter2: a=(5/8,3/8)  h=(8/13,5/13)
    edges = spark.createDataFrame(
        [(-1, 10), (-1, 20), (-2, 10)], "src long, dst long"
    )
    got = {r["node"]: r for r in hits(edges, iters=2).collect()}
    assert math.isclose(got[10]["authority"], 5 / 8)
    assert math.isclose(got[20]["authority"], 3 / 8)
    assert math.isclose(got[-1]["hub"], 8 / 13)
    assert math.isclose(got[-2]["hub"], 5 / 13)
    # no in-edges -> authority 0; no out-edges -> hub 0
    assert got[-1]["authority"] == 0.0 and got[10]["hub"] == 0.0


def test_hits_rejects_zero_iterations(spark):
    import pytest

    from cse_datapipeline_and_mls_spark.operators.graph import hits

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iters must be >= 1"):
        hits(edges, iters=0)


def test_bfs_hops_path_graph(spark):
    """Path 0-1-2-3-4-5 from seed {0}: hops are exact distances;
    node 5 is 5 hops out, beyond the 4-round cap -> absent,
    converged=False (round-4 frontier {4} is non-empty... it IS
    reached at round 4; the non-empty 4th frontier flags that a 5th
    round COULD still discover more)."""
    from cse_datapipeline_and_mls_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    rows = {r["node"]: (r["hops"], r["converged"]) for r in bfs_hops(edges, seeds, max_rounds=4).collect()}
    assert rows == {0: (0, False), 1: (1, False), 2: (2, False), 3: (3, False), 4: (4, False)}


def test_bfs_hops_multi_source_and_convergence(spark):
    """Two seeds on a small graph: each node takes the hop count of
    the NEAREST seed; disconnected node never appears; frontier
    empties within the cap -> converged=True."""
    from cse_datapipeline_and_mls_spark.operators.graph import bfs_hops

    #  0-1-2-3   and isolated edge 8-9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (8, 9)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (3,)], "node long")
    rows = {r["node"]: (r["hops"], r["converged"]) for r in bfs_hops(edges, seeds, max_rounds=4).collect()}
    assert rows == {0: (0, True), 1: (1, True), 2: (1, True), 3: (0, True)}


def test_bfs_hops_undirected_and_duplicate_edges(spark):
    """Direction and duplicates are ignored: a reversed edge reaches
    backwards; self-loops never extend the frontier."""
    from cse_datapipeline_and_mls_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(2, 1), (2, 1), (1, 1), (3, 2)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    rows = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_rounds=3).collect()}
    assert rows == {1: 0, 2: 1, 3: 2}


def test_wl_refinement_symmetry_and_distinction(spark):
    """Path 1-2-3: the two endpoints are structurally equivalent at
    every round (same label), the center differs; a triangle's nodes
    all refine identically; and the md5-canonical label is replayable
    by hand."""
    import hashlib

    from cse_datapipeline_and_mls_spark.operators.graph import wl_refinement

    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r["node"]: r["lbl"] for r in wl_refinement(path, rounds=1).collect()}
    assert got[1] == got[3] != got[2]
    # hand replay: endpoint = md5("1|2"), center = md5("2|1,1")
    assert got[1] == hashlib.md5(b"1|2").hexdigest()
    assert got[2] == hashlib.md5(b"2|1,1").hexdigest()

    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    lbls = {r["lbl"] for r in wl_refinement(tri, rounds=2).collect()}
    assert len(lbls) == 1


def test_wl_refinement_separates_nonisomorphic_neighborhoods(spark):
    """Star(4) vs path(4): every star leaf sees a degree-3 hub, a path
    inner node sees mixed degrees — after one round no star label
    coincides with a path label except where neighborhoods genuinely
    match."""
    from cse_datapipeline_and_mls_spark.operators.graph import wl_refinement

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 4)], "src long, dst long"
    )
    path = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13)], "src long, dst long"
    )
    s_lbls = {r["node"]: r["lbl"] for r in wl_refinement(star, rounds=1).collect()}
    p_lbls = {r["node"]: r["lbl"] for r in wl_refinement(path, rounds=1).collect()}
    # star leaves identical; hub unique
    assert s_lbls[1] == s_lbls[2] == s_lbls[3] != s_lbls[0]
    # path endpoints identical, inner pair identical, ends != inner
    assert p_lbls[10] == p_lbls[13] and p_lbls[11] == p_lbls[12]
    assert p_lbls[10] != p_lbls[11]
    # no structural class is shared between the two graphs at round 1
    assert not set(s_lbls.values()) & set(p_lbls.values())


def test_hits_from_bucketed_edges_skips_the_edge_shuffle(spark):
    """hits(pre_partitioned=True) from a src-bucketed table: zero
    setup exchanges on the src copy (distinct on (src,dst) is clustered
    by the bucket hash), strictly fewer runtime exchanges per iteration
    than the checkpoint path (both |E| edge sides arrive from cache),
    identical scores either way (VERDICT r7 #3)."""
    from cse_datapipeline_and_mls_spark.operators import graph as G
    from cse_datapipeline_and_mls_spark.sources.sinks import write_bucketed

    edges = spark.createDataFrame(
        [(a, b) for a in range(40) for b in range(40) if (a * 7 + b) % 5 == 0 and a != b],
        "src long, dst long",
    )
    # |E| never broadcasts at production scale: with broadcast on, the
    # tiny test edge list rides a BroadcastHashJoin and the edge-side
    # exchange difference this test pins would be invisible (same
    # forcing the LPA hub-skew smoke applies)
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = {r["node"]: r for r in G.hits(edges, iters=4).collect()}
        assert G._LAST_HITS_EDGE_EXCHANGES >= 1
        ckpt_iter_exchanges = G._LAST_HITS_ITER_EXCHANGES

        persisted = {
            r["node"]: r
            for r in G.hits(edges, iters=4, edge_storage="persist").collect()
        }
        persist_iter_exchanges = G._LAST_HITS_ITER_EXCHANGES
        assert persist_iter_exchanges < ckpt_iter_exchanges

        spark.sql("DROP TABLE IF EXISTS t_hits_edges_b")
        try:
            write_bucketed(edges, "t_hits_edges_b", "src", 8)
            bucketed = {
                r["node"]: r
                for r in G.hits(
                    spark.table("t_hits_edges_b"), iters=4, pre_partitioned=True
                ).collect()
            }
            # no ingest-side shuffle: the bucket hash satisfies both the
            # (src,dst) distinct and the src-copy partitioning
            assert G._LAST_HITS_EDGE_EXCHANGES == 0
            assert G._LAST_HITS_ITER_EXCHANGES <= persist_iter_exchanges
        finally:
            spark.sql("DROP TABLE IF EXISTS t_hits_edges_b")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    assert set(plain) == set(persisted) == set(bucketed)
    for k in plain:
        for col in ("authority", "hub"):
            assert abs(plain[k][col] - persisted[k][col]) < 1e-12
            assert abs(plain[k][col] - bucketed[k][col]) < 1e-12


# --- katz_centrality: exact integer walk counts, closed-form graphs ---


def _katz(spark, edges, **kw):
    from cse_datapipeline_and_mls_spark.operators.graph import katz_centrality

    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r for r in katz_centrality(df, **kw).collect()}


def test_katz_path_graph_walk_counts_exact(spark):
    # directed path 1->2->3: walks ending at 3 are (2,3) len1 and
    # (1,2,3) len2; at 2 just (1,2); node 1 receives nothing.
    k = _katz(spark, [(1, 2), (2, 3)], iters=4, alpha_inv=20)
    assert (k[1]["w1"], k[1]["w2"]) == (0, 0)
    assert (k[2]["w1"], k[2]["w2"]) == (1, 0)
    assert (k[3]["w1"], k[3]["w2"], k[3]["w3"], k[3]["w4"]) == (1, 1, 0, 0)
    assert k[3]["katz"] == 1 / 20.0 + 1 / 400.0


def test_katz_two_cycle_closed_form(spark):
    # symmetric 2-cycle: exactly one walk of each length ends at each
    # node, so katz = sum alpha^k for k=1..4.
    k = _katz(spark, [(1, 2), (2, 1)], iters=4, alpha_inv=20)
    expect = 1 / 20.0 + 1 / 400.0 + 1 / 8000.0 + 1 / 160000.0
    assert k[1]["katz"] == expect
    assert k[2]["katz"] == expect


def test_katz_star_hub_beats_leaves(spark):
    # undirected star, hub 0 with 4 leaves: hub collects 4 length-1
    # walks, each leaf only 1 — path-weighted influence orders them.
    half = [(0, i) for i in range(1, 5)]
    edges = half + [(b, a) for a, b in half]
    k = _katz(spark, edges, iters=4, alpha_inv=20)
    assert k[0]["w1"] == 4
    assert all(k[i]["w1"] == 1 for i in range(1, 5))
    # length-2 walks into a leaf come through the hub from all leaves
    assert all(k[i]["w2"] == 4 for i in range(1, 5))
    assert k[0]["katz"] > k[1]["katz"] > 0


def test_katz_iters_guard(spark):
    import pytest

    from cse_datapipeline_and_mls_spark.operators.graph import katz_centrality

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        katz_centrality(df, iters=0)
    with pytest.raises(ValueError):
        katz_centrality(df, alpha_inv=1)


# -- materialization ownership -------------------------------------------


def test_k_core_holds_one_round_of_state(spark, persistent_ids):
    """fixpoint frees the round each round replaces: on a long path,
    k_core(k=2) peels two nodes a round and never converges within the
    cap, yet holds the same number of persistent RDDs (counted with the
    scope still open) after 3 rounds as after 8."""
    from cse_datapipeline_and_mls_spark.materialize import query_scope
    from cse_datapipeline_and_mls_spark.operators.graph import k_core

    path = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    held = {}
    for rounds in (3, 8):
        before = persistent_ids()
        with query_scope():
            out = k_core(path, k=2, max_rounds=rounds)
            assert out.filter("converged").count() == 0
            held[rounds] = len(persistent_ids() - before)
        assert not persistent_ids() - before
    assert held[3] == held[8] > 0, held


def _graph_rows() -> list[str]:
    """Registry rows that call an operators/graph.py operator, directly
    or through the shared triangle-stats frame."""
    import inspect

    from cse_datapipeline_and_mls_spark.queries import QUERIES

    return [
        name
        for name, fn in QUERIES.items()
        if "operators.graph import" in inspect.getsource(fn)
        or "_copurchase_tri_stats(" in inspect.getsource(fn)
    ]


def test_graph_rows_leave_no_persistent_rdds(spark, sf_dir, persistent_ids):
    """Every graph row, built and noop-written inside query_scope(),
    leaves no persistent RDD behind once the scope exits. The triangle
    rows may keep only their declared session fixture, the memoized
    stats frame."""
    from cse_datapipeline_and_mls_spark.materialize import query_scope
    from cse_datapipeline_and_mls_spark.queries import QUERIES
    from cse_datapipeline_and_mls_spark.queries.coverage_q import _TRI_STATS_MEMO

    names = _graph_rows()
    assert len(names) == 17, names  # stale scan guard
    leaks = {}
    for name in names:
        before = persistent_ids()
        with query_scope():
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        memo = {
            df._jdf.queryExecution().analyzed().rdd().id() for df in _TRI_STATS_MEMO.values()
        }
        left = persistent_ids() - before - memo
        if left:
            leaks[name] = left
    assert not leaks, f"graph rows left persistent RDDs: {leaks}"


def test_dropping_tri_stats_memo_releases_its_blocks(spark, sf_dir, persistent_ids):
    """_drop_copurchase_artifacts forgets the memoized triangle stats
    AND frees its DISK_ONLY checkpoint, so a cold rebuild does not pin
    one more stats frame per call."""
    from cse_datapipeline_and_mls_spark.queries.coverage_q import (
        _copurchase_tri_stats,
        _drop_copurchase_artifacts,
    )

    _drop_copurchase_artifacts(spark, sf_dir)
    before = persistent_ids()
    stats = _copurchase_tri_stats(spark, sf_dir)
    memo_id = stats._jdf.queryExecution().analyzed().rdd().id()
    assert memo_id in persistent_ids() - before
    _drop_copurchase_artifacts(spark, sf_dir)
    assert memo_id not in persistent_ids()
