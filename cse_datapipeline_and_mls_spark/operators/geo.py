"""Geospatial operators: grid-bucketed spatial self-joins, k-NN within
a radius, rectangle containment, and grid hot-spot aggregation.

The engine treats spatial joins the way it treats near-dup detection
(operators/dedup.py) and vector ANN (operators/similarity.py): NEVER
all-pairs. Points land in fixed-size grid cells; a radius-r query with
cell size >= r only ever compares a point against its own and the 8
adjacent cells, so the candidate set is local by construction and the
join is an equi-join on the cell key — shuffle-partitionable, AQE-skew-
splittable, broadcast-able when one side is small. The brute-force
O(n^2) form exists only as the test/oracle twin.

Coordinates here are PLANAR degrees (squared-degree distance, pure
IEEE +,-,* arithmetic — bit-identical across engines; no trig, so no
libm variance). Geodesic metrics (haversine) drop in by swapping the
distance expression; the bucketing contract is unchanged, with cell
size chosen at the worst-case latitude.

The test tables carry no coordinates, so query-layer callers derive
deterministic pseudo-coordinates from integer keys via modular
arithmetic (`pseudo_lat` / `pseudo_lon`) — exact int64 ops that both
engines reproduce bit-for-bit (same stance as the md5 hash split).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import fixpoint, materialize


def _hash_mod(key: Column, salt: str, mod: int) -> Column:
    """md5-hex-prefix hash of (key, salt) reduced mod ``mod`` — the
    x_hash_split_train_test convention. Two INDEPENDENT salts give
    genuinely 2-D-scattered coordinates; a multiplicative congruential
    map would put every point on one lattice line (tested: zero radius
    pairs at sf0.01) — the classic LCG spectral defect."""
    hx = F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8)
    return F.conv(hx, 16, 10).cast("bigint") % mod


def pseudo_lat(key: Column) -> Column:
    """Deterministic latitude in [-90, 90) from an integer key:
    (md5_prefix(key, '-lat') % 1_800_000) / 10000 - 90. Exact int64
    ops + one IEEE division (identical bits on both engines)."""
    return _hash_mod(key, "-lat", 1800000) / 10000.0 - 90.0


def pseudo_lon(key: Column) -> Column:
    """Deterministic longitude in [-180, 180), same construction with
    an independent salt."""
    return _hash_mod(key, "-lon", 3600000) / 10000.0 - 180.0


PSEUDO_LAT_SQL = (
    "(('0x' || substring(md5(CAST({k} AS VARCHAR) || '-lat'), 1, 8))::BIGINT"
    " % 1800000) / 10000.0 - 90.0"
)
PSEUDO_LON_SQL = (
    "(('0x' || substring(md5(CAST({k} AS VARCHAR) || '-lon'), 1, 8))::BIGINT"
    " % 3600000) / 10000.0 - 180.0"
)


def grid_cell(lat: Column, lon: Column, cell_deg: float) -> tuple[Column, Column]:
    """Integer grid-cell coordinates for a fixed cell size in degrees.
    floor((x + offset) / cell) of exact-decimal doubles — deterministic."""
    cy = F.floor((lat + 90.0) / cell_deg).cast("long")
    cx = F.floor((lon + 180.0) / cell_deg).cast("long")
    return cx, cy


def with_point_cell(
    df: DataFrame, key: str, cell_deg: float
) -> DataFrame:
    """Attach pseudo-coordinates and grid cell for integer-keyed rows."""
    lat = pseudo_lat(F.col(key))
    lon = pseudo_lon(F.col(key))
    cx, cy = grid_cell(lat, lon, cell_deg)
    return df.select(
        F.col(key),
        lat.alias("lat"),
        lon.alias("lon"),
        cx.alias("cx"),
        cy.alias("cy"),
    )


def _nine_cells(df: DataFrame) -> DataFrame:
    """Explode each point into its 3x3 probe-cell neighborhood
    (px, py): the standard grid-file probe. 9x map-side fan-out, no
    shuffle of its own — the following equi-join provides the one
    exchange, keyed on the probe cell."""
    off = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    return (
        df.withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .withColumn("px", F.col("cx") + F.col("dx"))
        .withColumn("py", F.col("cy") + F.col("dy"))
        .drop("dx", "dy")
    )


def radius_pairs(
    points: DataFrame,
    key: str,
    radius_deg: float,
    cell_deg: float | None = None,
    ordered: bool = True,
) -> DataFrame:
    """All pairs of points within ``radius_deg`` (squared-degree planar
    metric), via the grid-bucketed candidate join.

    Contract: cell_deg >= radius_deg (default equal), so any pair
    within the radius differs by < 1 cell in each axis and is found in
    the 3x3 probe — completeness is structural, not probabilistic
    (proven against the brute-force twin in tests/test_geo.py). Each
    qualifying pair is emitted exactly once: the right point's home
    cell is unique and the left side probes 9 DISTINCT cells.

    At scale: candidates = sum over cells of |probe side| * |cell|,
    i.e. local density — never n^2. A mega-city cell (hot key) is AQE
    skew-split like any other equi-join; the pattern matches the
    banded-LSH stance in dedup.py.
    """
    if cell_deg is None:
        cell_deg = radius_deg
    if cell_deg < radius_deg:
        raise ValueError("cell_deg must be >= radius_deg for 3x3 completeness")
    r2 = radius_deg * radius_deg
    a = _nine_cells(with_point_cell(points, key, cell_deg)).select(
        F.col(key).alias("a_key"),
        F.col("lat").alias("a_lat"),
        F.col("lon").alias("a_lon"),
        "px",
        "py",
    )
    # A dimension-sized point table often scans as ONE input split (a
    # few MB of parquet < maxPartitionBytes), and when the home-cell
    # side broadcasts, the candidate join inherits the probe side's
    # partitioning — leaving ALL quadratic pair work in a single task
    # (measured: geo_dbscan_clusters 688 s at sf1, one core pinned,
    # 31 idle). Spread the probe side round-robin first; the |9·points|
    # shuffle is trivial next to the pair work it parallelizes, and
    # under a non-broadcast plan the exchange is simply re-keyed.
    par = max(points.sparkSession.sparkContext.defaultParallelism, 1)
    if points.rdd.getNumPartitions() < par:
        a = a.repartition(par)
    b = with_point_cell(points, key, cell_deg).select(
        F.col(key).alias("b_key"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        F.col("cx").alias("px"),
        F.col("cy").alias("py"),
    )
    cond = [a["px"] == b["px"], a["py"] == b["py"]]
    pair_filter = (
        (F.col("a_key") < F.col("b_key")) if ordered else (F.col("a_key") != F.col("b_key"))
    )
    d2 = (F.col("a_lat") - F.col("b_lat")) * (F.col("a_lat") - F.col("b_lat")) + (
        F.col("a_lon") - F.col("b_lon")
    ) * (F.col("a_lon") - F.col("b_lon"))
    return (
        a.join(b, cond)
        .filter(pair_filter)
        .select("a_key", "b_key", d2.alias("d2"))
        .filter(F.col("d2") < r2)
    )


def knn_within_radius(
    points: DataFrame, key: str, radius_deg: float, k: int
) -> DataFrame:
    """Top-k nearest neighbors per point among those within the radius
    (directed: every point is a query). Same bucketed candidate set as
    radius_pairs with both directions kept; the per-query window ranks
    by (d2, neighbor key) — d2 is exact arithmetic on exact-decimal
    doubles, so the order is engine-stable. The window partition is the
    query point and its frame is the point's radius neighborhood
    (local density), never data-sized."""
    from pyspark.sql import Window

    cand = radius_pairs(points, key, radius_deg, ordered=False)
    w = Window.partitionBy("a_key").orderBy("d2", "b_key")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("a_key").alias("query_key"),
            F.col("b_key").alias("neighbor_key"),
            F.col("rank").cast("long").alias("rank"),
            "d2",
        )
    )


def dbscan_grid(
    points: DataFrame,
    key: str,
    eps_deg: float,
    min_pts: int,
    label_rounds: int = 8,
) -> DataFrame:
    """Grid-accelerated DBSCAN (Ester et al. 1996): core points have
    >= min_pts points (incl. self) within eps; clusters are the
    connected components of the core-core eps-graph; border points
    attach to their min-cluster core neighbor; the rest is noise.

    Neighborhood queries ride the 3x3 grid-bucketed candidate join
    (radius_pairs — never n^2). Cluster ids follow the engine's
    CAPPED-ROUND contract (the x_label_propagation / graph-family
    stance): cluster_id = min core key reachable within
    ``label_rounds`` min-label propagation hops, computed as
    ``label_rounds`` unrolled rounds on BOTH engine and oracle — a
    percolating eps-graph (high density) may carry components wider
    than the cap, where the ids become per-neighborhood rather than
    global; full closure at 100 TB swaps in
    dedup.connected_components_star (O(log n) rounds) behind the same
    (node, label) seam.

    Returns (key, role in {core, border, noise}, cluster_id | NULL),
    one row per input point. Deterministic end-to-end: degrees and
    min-labels are exact integer folds.
    """
    # Materialize the grid candidate join ONCE: nbrs feeds three
    # downstream consumers (the degree pass, the core-core edge build,
    # the border attach), and an unmaterialized plan re-executes the
    # whole 3x3 candidate join + distance filter per consumer — at
    # 100 TB that is three passes over the dominant stage instead of
    # one |pairs|-sized disk materialization (local density bounded,
    # never n²). Measured at sf0.1: 8.6 s → ~5 s for the registered
    # DBSCAN query once the join runs once.
    nbrs = materialize(radius_pairs(points, key, eps_deg, ordered=False).select("a_key", "b_key"))
    deg = nbrs.groupBy(F.col("a_key").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    pts = points.select(F.col(key).alias("k"))
    deg = pts.join(deg, "k", "left").select(
        "k", F.coalesce(F.col("deg"), F.lit(0)).alias("deg")
    )
    # core is read by the edge build (twice), the border anti-join and
    # the noise anti-join — tiny (|core points| keys), checkpoint it too
    core = materialize(deg.filter(F.col("deg") >= min_pts - 1).select("k"))
    # core-core edges, both directions, ready for min-label rounds
    edges = materialize(
        nbrs.join(core.withColumnRenamed("k", "a_key"), "a_key")
        .join(core.withColumnRenamed("k", "b_key"), "b_key")
        .select(F.col("a_key").alias("src"), F.col("b_key").alias("dst"))
    )

    def hop(labels: DataFrame, r: int) -> DataFrame:
        msgs = (
            edges.join(labels.withColumnRenamed("k", "src"), "src")
            .groupBy(F.col("dst").alias("k"))
            .agg(F.min("label").alias("nbr_min"))
        )
        return labels.join(msgs, "k", "left").select(
            "k",
            F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias("label"),
        )

    labels0 = core.select(F.col("k"), F.col("k").alias("label"))
    labels, _ = fixpoint(labels0, hop, label_rounds, every=2)
    core_lab = labels.select(
        F.col("k").alias("ck"), F.col("label").alias("cluster_id")
    )
    # border: non-core point with >= 1 core neighbor -> min core cluster
    border = (
        nbrs.join(core.withColumnRenamed("k", "a_key"), "a_key", "left_anti")
        .join(core_lab, nbrs["b_key"] == core_lab["ck"])
        .groupBy(F.col("a_key").alias("k"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    out_core = core_lab.select(
        F.col("ck").alias("k"), F.lit("core").alias("role"), "cluster_id"
    )
    out_border = border.select("k", F.lit("border").alias("role"), "cluster_id")
    out_noise = (
        pts.join(core, "k", "left_anti")
        .join(border.select("k"), "k", "left_anti")
        .select(
            "k", F.lit("noise").alias("role"), F.lit(None).cast("long").alias("cluster_id")
        )
    )
    return out_core.unionByName(out_border).unionByName(out_noise)
