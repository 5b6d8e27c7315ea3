"""Materialization has one owner (cse_datapipeline_and_mls_spark/materialize.py):
no raw checkpoint, persist or cache call outside it but the declared
session fixtures, and no persistent RDD outlives any registry query."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "cse_datapipeline_and_mls_spark"

# The raw calls the package is allowed, as (module, enclosing function,
# method): session fixtures that must outlive the query that built them,
# and the bucketed graph path's persists (a local checkpoint would drop
# the hash partitioning they keep; both functions unpersist them).
EXEMPT = {
    ("queries/coverage_q.py", "_copurchase_tri_stats", "localCheckpoint"): 1,
    ("operators/similarity.py", "_cached_index", "persist"): 1,
    ("operators/graph.py", "pagerank", "persist"): 1,
    ("operators/graph.py", "hits", "persist"): 2,
}


def _raw_materializations() -> dict:
    found: dict = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "materialize.py":
            continue

        def visit(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, fn or child.name)
                    continue
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("localCheckpoint", "persist", "cache")
                ):
                    key = (rel, fn, child.func.attr)
                    found[key] = found.get(key, 0) + 1
                visit(child, fn)

        visit(ast.parse(path.read_text()), None)
    return found


def test_no_unowned_materialization_in_package():
    """Every eager materialization goes through materialize.py; the
    exempt calls are listed by name, and a stale exemption fails too."""
    assert _raw_materializations() == EXEMPT


def _fixture_rdd_ids(spark) -> set:
    """Ids of the persistent RDDs held by the two declared session memos."""
    from cse_datapipeline_and_mls_spark.operators.similarity import _INDEX_CACHE
    from cse_datapipeline_and_mls_spark.queries.coverage_q import _TRI_STATS_MEMO

    ids = {
        df._jdf.queryExecution().analyzed().collectLeaves().head().rdd().id()
        for df in _TRI_STATS_MEMO.values()
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    for df in _INDEX_CACHE.values():
        hit = cache.lookupCachedData(df._jdf)
        if not hit.isEmpty():
            ids.add(hit.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id())
    return ids


def test_registry_rows_leave_no_persistent_rdds(spark, sf_dir, persistent_ids):
    """Every registry row, built and noop-written inside query_scope(),
    leaves no persistent RDD behind once the scope exits, except the
    blocks of the two declared session memos (the triangle stats and the
    vector-index cache), found by id."""
    from cse_datapipeline_and_mls_spark.materialize import query_scope
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    leaks = {}
    for name in sorted(QUERIES):
        before = persistent_ids()
        with query_scope():
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        left = persistent_ids() - before - _fixture_rdd_ids(spark)
        if left:
            leaks[name] = left
    assert not leaks, f"{len(leaks)} registry rows left persistent RDDs: {leaks}"


def test_release_frees_als_factor_frames(spark, persistent_ids):
    """release frees the RDD at the frame's plan leaf, which reaches the
    ExternalRDD under ALS's persisted factor frames as well as a local
    checkpoint's LogicalRDD."""
    from pyspark.ml.recommendation import ALS

    from cse_datapipeline_and_mls_spark.materialize import release

    ratings = spark.createDataFrame(
        [(u, i, float((u * i) % 5 + 1)) for u in range(20) for i in range(15) if (u + i) % 3],
        "user int, item int, rating float",
    )
    before = persistent_ids()
    model = ALS(rank=2, maxIter=2, seed=1, userCol="user", itemCol="item").fit(ratings)
    assert len(persistent_ids() - before) == 2, "the fit pinned no factors; test is stale"
    release(model.userFactors)
    release(model.itemFactors)
    assert not persistent_ids() - before


def test_connected_components_holds_one_round_of_labels(spark, persistent_ids):
    """Label propagation frees the round each round replaces: a path
    that takes 8 rounds to converge leaves as many persistent RDDs (with
    the scope still open) as one that takes 3."""
    from cse_datapipeline_and_mls_spark.materialize import query_scope
    from cse_datapipeline_and_mls_spark.operators import dedup as D

    held, rounds = {}, {}
    for n in (3, 8):
        path = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
        before = persistent_ids()
        with query_scope():
            labels = D.connected_components(path, small_graph_max_edges=0)
            assert {r["label"] for r in labels.collect()} == {0}
            rounds[n] = D._LAST_CC_ROUNDS
            held[n] = len(persistent_ids() - before)
        assert not persistent_ids() - before
    assert rounds[3] < rounds[8], rounds
    assert held[3] == held[8] > 0, held


def test_merge_upsert_parquet_frees_its_checkpoint(spark, tmp_path, persistent_ids):
    """The partitioned upsert materializes the merged rows before the
    overwrite and frees them after it, with no scope open by the caller
    (as in a foreachBatch sink)."""
    from cse_datapipeline_and_mls_spark.sources.sinks import merge_upsert_parquet

    path = str(tmp_path / "t")
    rows = spark.createDataFrame([(1, 1, 1.0), (2, 2, 2.0)], "id long, day int, v double")
    rows.write.partitionBy("day").parquet(path)
    before = persistent_ids()
    upd = spark.createDataFrame([(2, 2, 9.0), (3, 3, 3.0)], "id long, day int, v double")
    assert merge_upsert_parquet(spark, path, upd, ["id"], partition_col="day") == 2
    assert not persistent_ids() - before
    assert sorted(tuple(r) for r in spark.read.parquet(path).select("id", "v").collect()) == [
        (1, 1.0),
        (2, 9.0),
        (3, 3.0),
    ]
