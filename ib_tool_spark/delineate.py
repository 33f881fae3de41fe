"""Settlement-delineation composites: the reference's core pipeline
re-expressed Spark-first (SURVEY.md §2.10-2.11, §3.2).

Stages and their reference counterparts:

- :func:`density_partitions` — Partitioning.pyt siedgr (density raster
  → threshold → partition polygons): density grid + connected
  components over the *aggregated* cell table (documented deviation:
  cell-CC instead of Voronoi of empty space, SURVEY.md §7).
- :func:`buffer_mask` — InputHU_Filter's buffer→dissolve residential
  mask (IB-Tool2.py:809-826): disk cover on the cell grid, dissolved
  by connected components, boundary-traced back to polygons (the
  raster↔vector materialization pair).
- :func:`mst_cluster` — MST + MST_Clustering (IB-Tool2.py:1099-1646):
  per-partition Delaunay → min-vertex-distance weights → Kruskal order
  → greedy merge while footprint/oriented-MBR coverage stays above the
  threshold.  Sequential per partition exactly like the reference;
  parallel across partitions via applyInPandas.
- :func:`cluster_boundaries` — the boundary dissolve (buffer each
  footprint, union, trace) producing the UGB-like output polygons.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geom, ops
from .cells import k_ring_offsets


def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-partition by ``keys`` at ~2× cluster parallelism ahead of a
    grouped Python kernel.  AQE's size-based shuffle coalescing sees a
    few MB of ring payloads and funnels minutes of per-group CPU into
    ONE task (measured: the gap-close stage ran serial); an explicit
    repartition survives AQE and already satisfies the grouped UDF's
    required distribution, so no second exchange is inserted.  Cogroup
    sides must share a partition count — both go through this helper."""
    n = max(2 * df.sparkSession.sparkContext.defaultParallelism, 8)
    return df.repartition(n, *keys)


# ---------------------------------------------------------------------------
# density partitioning (Partitioning.pyt analogue)
# ---------------------------------------------------------------------------


def density_partitions_df(
    points: DataFrame,
    cell_size: float = 150.0,
    radius: float = 300.0,
    min_density: float = 1e-5,
) -> DataFrame:
    """Dense-cell partition map as a DataFrame: (gx, gy, part_name).

    Mirrors Partitioning.pyt:84-119 (PointDensity cell=150 radius=300,
    threshold 1e-5, NAME='PART_<k>').  The density grid aggregates
    map-side and ops.cell_components_df labels the dense cells (on the
    driver up to its cap, distributed beyond), so no unbounded cell set
    ever reaches the driver.  Labels — and therefore PART names — are
    bit-identical to the driver-side kernel's, and the rows to
    _density_partitions_np's over the same points.
    """
    dense = (
        ops.density_grid(points, cell_size, radius)
        .filter(F.col("density") > min_density)
        .select("gx", "gy")
    )
    lab = ops.cell_components_df(dense)
    return lab.select(
        "gx", "gy", F.concat(F.lit("PART_"), F.col("comp").cast("string")).alias("part_name")
    )


def _density_partitions_np(
    x: np.ndarray,
    y: np.ndarray,
    cell_size: float = 150.0,
    radius: float = 300.0,
    min_density: float = 1e-5,
) -> pd.DataFrame:
    """density_partitions_df over point coordinates on the driver: the
    same (gx, gy, part_name) rows, sorted by (gx, gy).

    The same float operations as ops.density_grid: floor(x / cell_size)
    bins, an int64 count per cell spread over ops.density_offsets and
    summed, density = nsum / (π·radius²) against ``min_density``, and
    geom.cell_components' labels (which ops.cell_components_df
    reproduces) as ``PART_<k>``."""
    gxy = np.floor(np.column_stack([x, y]).astype(np.float64) / cell_size).astype(np.int64)
    cells, cnt = np.unique(gxy.reshape(-1, 2), axis=0, return_counts=True)
    offs = ops.density_offsets(cell_size, radius)
    spread = (cells[:, None, :] + offs[None, :, :]).reshape(-1, 2)
    tgt, inv = np.unique(spread, axis=0, return_inverse=True)
    nsum = np.zeros(len(tgt), dtype=np.int64)
    np.add.at(nsum, inv.reshape(-1), np.repeat(cnt, len(offs)))
    area = float(np.pi) * radius * radius
    dense = tgt[nsum.astype(np.float64) / area > min_density]
    comp = geom.cell_components(dense[:, 0], dense[:, 1])
    return pd.DataFrame(
        {"gx": dense[:, 0], "gy": dense[:, 1], "part_name": [f"PART_{k}" for k in comp]}
    )


def density_partitions(
    points: DataFrame,
    cell_size: float = 150.0,
    radius: float = 300.0,
    min_density: float = 1e-5,
) -> pd.DataFrame:
    """Collected (gx, gy, part_name) partition map — test-scale
    convenience wrapper around :func:`density_partitions_df` for call
    sites that broadcast the map; use the _df variant in pipelines."""
    pdf = density_partitions_df(points, cell_size, radius, min_density).toPandas()
    if pdf.empty:
        return pd.DataFrame(columns=["gx", "gy", "part_name"])
    return pdf.sort_values(["gx", "gy"]).reset_index(drop=True)


# Hard cap on the driver-side Voronoi kernel's site count (VERDICT r5
# wrong#3): dense-cell centers are output-scale, but a pipeline that
# accidentally routes a continent through this wrapper should fail
# loudly instead of OOMing the driver.
_THIESSEN_MAX_SITES = 2_000_000


def thiessen_partitions(
    points: DataFrame,
    cell_size: float = 150.0,
    min_density: float = 1e-5,
) -> DataFrame:
    """Partition polygons via the reference's ACTUAL Thiessen chain
    (Partitioning.pyt:84-119): PointDensity(cell_size, radius =
    2·cell_size) → RasterToPoint cell centers above ``min_density`` →
    CreateThiessenPolygons → boundary lines split at intersections →
    delete lines within cell_size//2 of the dense points → polygonize
    the remainder → ``PART_<k>``.

    Returns (part, rings, area): one row per partition polygon, rings
    in world coordinates.  Deterministic naming: faces ordered by their
    outer ring's (min-x, min-y, max-x, max-y) bbox key (the reference
    uses the arbitrary OBJECTID).

    Driver bound: the dense-cell centers are COLLECTED and the Voronoi
    kernel runs driver-side — fine at the reference's output scale
    (thousands of dense cells), but a continent-scale density surface
    is millions of sites in one numpy kernel.  Pipelines must use
    ``density_partitions_df`` (fully distributed, agrees on every dense
    cell's partition); this wrapper is the parity twin and guards the
    collect at ``_THIESSEN_MAX_SITES``.

    Scale: the density grid aggregates map-side in Spark; only the
    DENSE-CELL centers (output-scale, the same bound as buffer_mask's
    polygon collect) reach the driver kernel
    (geom.thiessen_partition_polygons).  The cell-map variant
    ``density_partitions_df`` remains the fully-distributed path — the
    two agree on every dense cell's partition; Thiessen walls only
    place the boundary through EMPTY space between clusters."""
    radius = 2.0 * cell_size
    radius_del = float(int(cell_size) // 2)  # reference: '{} Meters'.format(cell_size // 2)
    dense = (
        ops.density_grid(points, cell_size, radius)
        .filter(F.col("density") > min_density)
        .select("gx", "gy")
        .toPandas()
    )
    if len(dense) > _THIESSEN_MAX_SITES:
        raise ValueError(
            f"thiessen_partitions collected {len(dense)} dense cells "
            f"(> {_THIESSEN_MAX_SITES}); use density_partitions_df for "
            "pipelines at this scale"
        )
    spark = points.sparkSession
    schema = "part string, rings array<array<array<double>>>, area double"
    if dense.empty:
        return ops.local_df(spark, [], schema)
    sites = np.stack(
        [
            (dense["gx"].to_numpy(np.float64) + 0.5) * cell_size,
            (dense["gy"].to_numpy(np.float64) + 0.5) * cell_size,
        ],
        axis=1,
    )
    # Thiessen extent = site extent padded by one density radius (the
    # reference inherits the arcpy processing extent; any pad beyond
    # radius_del yields the same faces around the data)
    pad = radius
    bbox = (
        float(sites[:, 0].min() - pad),
        float(sites[:, 1].min() - pad),
        float(sites[:, 0].max() + pad),
        float(sites[:, 1].max() + pad),
    )
    faces = geom.thiessen_partition_polygons(sites, bbox, radius_del)
    # key= keeps the sort off the face payload: two faces with an
    # identical outer-ring bbox would otherwise fall through to
    # comparing lists of numpy arrays (ambiguous-truth ValueError)
    keyed = sorted(
        (
            (tuple(np.asarray(f[0]).min(axis=0)) + tuple(np.asarray(f[0]).max(axis=0)), f)
            for f in faces
        ),
        key=lambda kf: kf[0],
    )
    rows = [
        (
            f"PART_{k}",
            [np.asarray(r).tolist() for r in f],
            float(geom.polygon_area(f)),
        )
        for k, (_key, f) in enumerate(keyed)
    ]
    return ops.local_df(spark, rows, schema)


def partition_outlines(parts: DataFrame, cell_size: float = 150.0) -> DataFrame:
    """(part, rings): each density partition's cell set traced to its
    outline polygon (the reference converts the partition raster to an
    outline before Blocker, IB-Tool2.py:2489).  One bounded trace per
    partition via applyInPandas."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        part = str(pdf["part_name"].iloc[0])
        rings = geom.trace_cell_boundary(
            pdf["gx"].to_numpy(np.int64), pdf["gy"].to_numpy(np.int64)
        )
        return pd.DataFrame(
            {"part": [part], "rings": [[(r * cell_size).tolist() for r in rings]]}
        )

    return _spread(parts, "part_name").groupBy("part_name").applyInPandas(
        run, "part string, rings array<array<array<double>>>"
    )


def assign_partitions_df(
    points: DataFrame, parts: DataFrame, cell_size: float = 150.0
) -> DataFrame:
    """Attach part_name to every point via its density cell.  The
    partition map is output-scale (dense cells only) so the broadcast
    hint is safe up to ~10⁷ cells; AQE falls back to shuffle join
    beyond the broadcast threshold."""
    keyed = points.withColumn(
        "gx", F.floor(F.col("x") / F.lit(cell_size)).cast("long")
    ).withColumn("gy", F.floor(F.col("y") / F.lit(cell_size)).cast("long"))
    return keyed.join(F.broadcast(parts), ["gx", "gy"], "left").drop("gx", "gy")


def assign_partitions(
    points: DataFrame, parts: pd.DataFrame, cell_size: float = 150.0
) -> DataFrame:
    """assign_partitions_df with a pandas partition map (test-scale)."""
    part_df = ops.local_df(points.sparkSession, parts, "gx long, gy long, part_name string")
    return assign_partitions_df(points, part_df, cell_size)


# ---------------------------------------------------------------------------
# buffer + dissolve mask (InputHU_Filter analogue)
# ---------------------------------------------------------------------------


def buffer_mask(
    points: DataFrame, radius: float, cell_size: float
) -> tuple[DataFrame, pd.DataFrame]:
    """Buffer(radius) + Dissolve over points, on the cell grid.

    Returns (cells_df, polygons_pdf):
    - cells_df: (gx, gy, comp) — every cell within ``radius`` of a
      point, labeled by connected component (the dissolved mask);
    - polygons_pdf: (comp, rings, area) — boundary-traced polygons in
      world coordinates (raster→vector materialization).

    Plan: the point side only computes its bin key, the disk explode
    happens AFTER the groupBy(cell) aggregation, so shuffle volume is
    O(occupied cells × disk size).
    """
    r_cells = int(np.ceil(radius / cell_size))
    offs = k_ring_offsets(r_cells)
    keep = offs[:, 0] ** 2 + offs[:, 1] ** 2 <= (radius / cell_size) ** 2
    offs = offs[keep]
    off_arr = F.array(
        *[F.struct(F.lit(int(dx)).alias("dx"), F.lit(int(dy)).alias("dy")) for dx, dy in offs]
    )
    binned = (
        points.withColumn("gx", F.floor(F.col("x") / F.lit(cell_size)).cast("long"))
        .withColumn("gy", F.floor(F.col("y") / F.lit(cell_size)).cast("long"))
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    mask = (
        binned.withColumn("o", F.explode(off_arr))
        .select((F.col("gx") + F.col("o.dx")).alias("gx"), (F.col("gy") + F.col("o.dy")).alias("gy"))
        .distinct()
    )
    # dissolve = ops.cell_components_df (driver labeling up to its cap,
    # distributed beyond); no unbounded cell set reaches the driver
    cells_df = ops.cell_components_df(mask)

    def trace(pdf: pd.DataFrame) -> pd.DataFrame:
        comp = int(pdf["comp"].iloc[0])
        rings = geom.trace_cell_boundary(pdf["gx"].to_numpy(), pdf["gy"].to_numpy())
        rings = [r * cell_size for r in rings]
        area = sum(geom.ring_area(r) for r in rings)  # signed: holes subtract
        return pd.DataFrame(
            {"comp": [comp], "rings": [[r.tolist() for r in rings]], "area": [area]}
        )

    # raster→vector per dissolved component (one settlement each —
    # bounded group); only the polygon rows (output-scale) are collected
    polys = (
        cells_df.groupBy("comp")
        .applyInPandas(trace, "comp long, rings array<array<array<double>>>, area double")
        .toPandas()
    )
    if not polys.empty:
        polys = polys.sort_values("comp").reset_index(drop=True)
        polys["rings"] = [
            [
                np.vstack([np.asarray(pt, dtype=np.float64) for pt in ring]).tolist()
                for ring in rr
            ]
            for rr in polys["rings"]
        ]
    return cells_df, polys


# ---------------------------------------------------------------------------
# MST clustering (MST + MST_Clustering analogue)
# ---------------------------------------------------------------------------

CLUSTER_SCHEMA = "bid long, cluster_id long, part string"


def _mst_cluster_kernel(
    pdf: pd.DataFrame,
    coverage_thresh: float,
    max_edge: float,
    road_segs: "np.ndarray | dict | None" = None,
) -> pd.DataFrame:
    """Greedy MST clustering of every ``part`` group (partition) of
    ``pdf`` in one call → (bid, cluster_id, part) rows, groups in part
    order (ascending, nulls last, as pandas groupby orders them), bid
    order within each: the rows one call per group gives.
    ``road_segs`` is one (M, 5) road-segment array for every group, a
    {part: array} dict (a group it does not name gets none), or
    ``None``.  The clustering is _mst_cluster_ids'."""
    pdf, grp, keys = _by_group(pdf, "part")
    cid = _mst_cluster_ids(pdf, grp, keys, coverage_thresh, max_edge, road_segs)
    return pd.DataFrame(
        {"bid": pdf["bid"].to_numpy(np.int64), "cluster_id": cid, "part": pdf["part"].to_numpy()}
    )


def _by_group(pdf: pd.DataFrame, key: str) -> "tuple[pd.DataFrame, np.ndarray, list]":
    """``pdf`` sorted once by (``key``, bid), its keys in pandas groupby
    order (ascending, nulls last), with each row's group number and the
    key of each group number (``None`` for the null key)."""
    codes, keys = pd.factorize(pdf[key], sort=True)
    codes = np.where(codes < 0, len(keys), codes)
    order = np.lexsort((pdf["bid"].to_numpy(np.int64), codes))
    return pdf.iloc[order].reset_index(drop=True), codes[order], [*keys, None]


def _mst_cluster_ids(
    pdf: pd.DataFrame,
    grp: np.ndarray,
    keys: list,
    coverage_thresh: float,
    max_edge: float,
    road_segs: "np.ndarray | dict | None",
) -> np.ndarray:
    """Cluster id of every row of ``pdf`` (sorted by group number
    ``grp``, then bid, as _by_group leaves it), each group clustered on
    its own — the reference's MST_Clustering walk (IB-Tool2.py:1459-1646):

    - MST edges (Kruskal over the road-pruned Delaunay graph, weights =
      min building-to-building vertex distance) walked shortest-first;
    - accept rule: Σ(footprint area) / MainAngle-oriented-rectangle
      area × 100 > threshold, with the rectangle from
      geom.main_angle_rect — the reference's CalcBoundingRect math
      (IB-Tool2.py:426-642), NOT min-area calipers (they pick different
      rectangles for many footprint sets; the reference accept rule is
      authoritative here, SURVEY.md:217);
    - group bookkeeping mirrors the reference: a new footprint joins an
      existing endpoint group (groups never merge pairwise); on
      rejection the bare pair is retried as a fresh 2-group, which can
      reassign an already-grouped footprint (last assignment wins).

    Deterministic: node indices follow bid order within a group and
    edges are ordered by (weight, src, dst) — the reference's tie order
    is its arcpy FID order, which has no equivalent here, so ties are
    pinned explicitly.  cluster_id = min bid of the (final) group;
    ungrouped buildings stay singletons.

    All groups run together: one lock-step Delaunay
    (geom.delaunay_edges_batch), one weight pass, one Kruskal and one
    walk over every group's MST edges.  Groups share no node, so each
    group's picks and accept tests are those of a call over it alone.
    A group of one row keeps its bid without any of it."""
    bids = pdf["bid"].to_numpy(np.int64)
    cid = bids.copy()
    rows = np.flatnonzero(np.bincount(grp)[grp] > 1)
    if not rows.size:
        return cid
    g = grp[rows]
    cents = np.column_stack(
        [pdf["cx"].to_numpy(np.float64)[rows], pdf["cy"].to_numpy(np.float64)[rows]]
    )
    edges = geom.delaunay_edges_batch(cents, g)
    if isinstance(road_segs, dict):
        # X3: edges crossing (non-dead-end) roads never merge clusters;
        # edges come sorted by group, so each group's run is one slice
        def pruned(e: np.ndarray) -> np.ndarray:
            segs = road_segs.get(keys[g[e[0, 0]]]) if e.shape[0] else None
            return e if segs is None else prune_edges_by_roads(cents, e, segs)

        runs = np.split(edges, np.flatnonzero(np.diff(g[edges[:, 0]])) + 1)
        edges = np.concatenate([pruned(e) for e in runs])
    elif road_segs is not None:
        edges = prune_edges_by_roads(cents, edges, road_segs)

    # Arrow delivers nested arrays as object arrays; coerce_ring stacks them
    outer = [geom.coerce_ring(r[0]) for r in pdf["rings"].to_numpy()[rows]]
    n_v = np.array([len(r) for r in outer])
    flat = np.concatenate(outer)
    # min vertex-to-vertex distance per edge (IB-Tool2.py:1382-94)
    w = geom.min_vertex_distances(flat, n_v, edges[:, 0], edges[:, 1])
    keep = w <= max_edge
    edges, w = edges[keep], w[keep]
    if edges.shape[0] == 0:
        return cid
    ewd = np.column_stack([edges.astype(np.float64), w])
    mst = ewd[geom.kruskal_mst(rows.size, ewd)]
    order = np.lexsort((mst[:, 1], mst[:, 0], mst[:, 2]))

    # main_angle_rect's rounded angles are per segment: compute every
    # footprint's segments and angles in one pass, not per candidate group
    segs_flat = geom.rings_segments(flat, n_v)
    ang_flat = np.round(geom.segment_angles_deg(segs_flat), 1)
    bounds = np.cumsum(n_v)[:-1]
    segs_by_i = np.split(segs_flat, bounds)
    ang_by_i = np.split(ang_flat, bounds)
    areas = pdf["area"].to_numpy(np.float64)[rows]
    member_group: dict[int, int] = {}
    # per group, in member order: stacked segments, their angles and the
    # running footprint-area sum
    stacks: dict[int, tuple[np.ndarray, np.ndarray, float]] = {}
    gnum = 0

    def rect_ratio(segs: np.ndarray, angles: np.ndarray, area_sum: float) -> float:
        _c, rect_area = geom.main_angle_rect(segs, angles)
        if rect_area is None:
            return 0.0  # ≤4 segments: reference emits no rectangle
        return area_sum / rect_area * 100.0

    for ei in order:
        a, b = int(mst[ei, 0]), int(mst[ei, 1])
        groupestatus = False
        grouped = a in member_group or b in member_group
        if grouped:
            if a in member_group:
                gid, new = member_group[a], b
            else:
                gid, new = member_group[b], a
            # reference extends the member list unconditionally — a
            # footprint already in the group is counted twice, exactly
            # as IB-Tool2.py:1578-1580 does
            segs, angles, area_sum = stacks[gid]
            cand = (
                np.vstack([segs, segs_by_i[new]]),
                np.concatenate([angles, ang_by_i[new]]),
                area_sum + float(areas[new]),
            )
            if rect_ratio(*cand) > coverage_thresh:
                stacks[gid] = cand
                member_group[new] = gid
                groupestatus = True
        if not grouped or not groupestatus:
            cand = (
                np.vstack([segs_by_i[a], segs_by_i[b]]),
                np.concatenate([ang_by_i[a], ang_by_i[b]]),
                float(areas[a] + areas[b]),
            )
            if rect_ratio(*cand) > coverage_thresh:
                member_group[a] = gnum
                member_group[b] = gnum
                stacks[gnum] = cand
                gnum += 1

    # final assignment: member_group (last write wins, like the
    # reference's dict); cluster id = min bid over the group's members
    if member_group:
        node = np.fromiter(member_group.keys(), dtype=np.int64, count=len(member_group))
        label = np.fromiter(member_group.values(), dtype=np.int64, count=len(member_group))
        low = np.full(gnum, np.iinfo(np.int64).max)
        np.minimum.at(low, label, bids[rows[node]])
        cid[rows[node]] = low[label]
    return cid


# Kernel input rows (buildings) up to which mst_cluster (_per_partition)
# runs its kernel on the driver rather than in a grouped Python stage.
# Its input is Spark-resident (the geo_mst_clusters and
# geo_cluster_boundaries extras reach the grouped stage at 12k-119k
# buildings), so above the cap the rows are never fetched.  The value
# is where the one-call-per-group kernel drew it (6,533 rows measured,
# PLANS.md "full_delineation").
#
# full_delineation has no such bound: it builds its scene on the driver
# (synth.buildings_pdf) before clustering, so a grouped stage would only
# ship a driver-held frame to Python workers.  Its collect() with the
# batched kernel, one fresh session per cell (4 cores), cold / warm,
# warm seconds, when it still had a grouped placement:
#
#   per_cluster  kernel rows  driver             grouped
#    30           1,653        3.99 / 0.64, 0.64  12.17 / 3.28, 3.37
#   120           6,533        6.58 / 2.89, 2.81  14.00 / 5.38, 4.22
#   480          25,811       11.53 / 6.58, 6.70  17.52 / 7.77, 7.50
#
# Driver peak RSS (the Python process) 174, 226 and 302 MB.  A scene
# held in Spark is clustered by mst_cluster instead.
DRIVER_KERNEL_CAP = 8_192


def mst_cluster(
    buildings: DataFrame,
    part_col: str = "part",
    coverage_thresh: float = 12.0,
    max_edge: float = 120.0,
    roads: "pd.DataFrame | DataFrame | None" = None,
    road_cell: float = 1024.0,
    cap: int = DRIVER_KERNEL_CAP,
) -> DataFrame:
    """Footprint aggregation: (bid, cluster_id, part), parallel across
    partitions, sequential-greedy within (same shape as the reference's
    per-partition loop; partitions are bounded by the density
    partitioner, so a group always fits one worker).  ``roads`` enables
    the Delaunay road-crossing prune with the short-dead-end exemption.

    Pass roads as a Spark DataFrame (rid, line) for the scale path: the
    road network is subset to each partition's bbox — by a coarse-cell
    join COGROUPED into the kernel, the reference's own locality model
    (IB-Tool2.py:2428-2443), so no task ever deserializes the whole
    road table.  A pandas DataFrame still works for small scenes
    (closure broadcast, the pre-round-3 behavior).  Up to ``cap``
    buildings (default DRIVER_KERNEL_CAP) the kernel runs on the driver
    instead (_per_partition), with the same rows."""
    cols = ["bid", "rings", "cx", "cy", "area", part_col]
    prepared = buildings.select(*cols).withColumnRenamed(part_col, "part")

    def kernel(pdf: pd.DataFrame, segs: "np.ndarray | dict | None") -> pd.DataFrame:
        return _mst_cluster_kernel(pdf, coverage_thresh, max_edge, segs)

    return _per_partition(prepared, roads, road_cell, kernel, cap)


def _per_partition(
    prepared: DataFrame,
    roads: "pd.DataFrame | DataFrame | None",
    road_cell: float,
    kernel,
    cap: int,
) -> DataFrame:
    """Run ``kernel(pdf, segs)`` over the ``part`` groups of ``prepared``
    (bid, rings, cx, cy, area, part) → rows of CLUSTER_SCHEMA: the
    kernel clusters every group of the frame it is given on its own,
    with ``segs`` the (M, 5) road segments for every group, a
    {part: segments} dict, or ``None``.

    Spark ``roads`` give each group the segments whose bbox overlaps
    its partition's centroid bbox (pad 0: pruning only tests crossings
    against centroid-to-centroid edges, which live inside it), in
    _sorted_segs_np order; the null ``part`` group gets none.  Pandas
    ``roads`` (small scenes) give every group all segments; ``None``
    gives none.

    Two placements, split at ``cap`` prepared rows:

    - at most ``cap``: one bounded Arrow fetch (ops.collect_bounded),
      one kernel call over all groups on the driver (_kernel_on_driver) and
      the rows come back as a ``LocalTableScan`` (ops.local_df), so no
      Python worker starts;
    - otherwise, or when the roads near the buildings exceed ``cap``,
      one grouped Python stage (_per_partition_grouped).

    Both give the same rows."""
    table = ops.collect_bounded(prepared, cap)
    if table is not None:
        rows = _kernel_on_driver(table.to_pandas(), roads, kernel, cap)
        if rows is not None:
            return ops.local_df(prepared.sparkSession, rows, CLUSTER_SCHEMA)
    return _per_partition_grouped(prepared, roads, road_cell, kernel)


def _kernel_on_driver(
    pdf: pd.DataFrame, roads: "pd.DataFrame | DataFrame | None", kernel, cap: int
) -> "pd.DataFrame | None":
    """_per_partition's driver placement over the fetched rows: the
    kernel's rows of every group, or ``None`` when the Spark roads near
    the buildings exceed ``cap`` (_part_road_segments)."""
    if isinstance(roads, DataFrame):
        near = _part_road_segments(pdf, roads, cap)
        return None if near is None else kernel(pdf, near)
    return kernel(pdf, _road_segments_np(roads) if roads is not None else None)


def _per_partition_grouped(
    prepared: DataFrame,
    roads: "pd.DataFrame | DataFrame | None",
    road_cell: float,
    kernel,
) -> DataFrame:
    """_per_partition's grouped placement: a grouped ``applyInPandas``,
    with Spark roads a cogroup whose segments are subset by a
    coarse-cell join (_segments_for_keys), so no task deserializes the
    whole road table."""
    if not isinstance(roads, DataFrame):
        road_segs = _road_segments_np(roads) if roads is not None else None

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            return kernel(pdf, road_segs)

        return _spread(prepared, "part").groupBy("part").applyInPandas(run, CLUSTER_SCHEMA)

    # fresh key attribute (`kpart`) so the cogroup's two sides don't
    # share lineage (Spark flags the self-referencing join as ambiguous)
    keys_bbox = (
        prepared.filter(F.col("part").isNotNull())
        .select(F.col("part").alias("kpart"), "cx", "cy")
        .groupBy("kpart")
        .agg(
            F.min("cx").alias("kminx"),
            F.min("cy").alias("kminy"),
            F.max("cx").alias("kmaxx"),
            F.max("cy").alias("kmaxy"),
        )
    )
    roadsub = _segments_for_keys(
        keys_bbox, road_segments_df(roads), "kpart", pad=0.0, cell=road_cell
    ).select(F.col("kpart").alias("part"), "x1", "y1", "x2", "y2", "L")

    def run_cg(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame()  # a road key with no buildings
        segs = _sorted_segs_np(right)
        return kernel(left, segs if segs.shape[0] else None)

    return (
        _spread(prepared, "part").groupBy("part")
        .cogroup(_spread(roadsub, "part").groupBy("part"))
        .applyInPandas(run_cg, CLUSTER_SCHEMA)
    )


def _part_bboxes(pdf: pd.DataFrame) -> "tuple[pd.DataFrame, tuple] | None":
    """Per non-null ``part`` of ``pdf`` its centroid bbox (columns
    (cx, min), (cx, max), (cy, min), (cy, max)) and the joint bbox
    (x0, x1, y0, y1) of them all; ``None`` when no row has a part."""
    bbox = pdf[pdf["part"].notna()].groupby("part")[["cx", "cy"]].agg(["min", "max"])
    if not len(bbox):
        return None
    x0, x1 = float(bbox["cx", "min"].min()), float(bbox["cx", "max"].max())
    y0, y1 = float(bbox["cy", "min"].min()), float(bbox["cy", "max"].max())
    return bbox, (x0, x1, y0, y1)


def _part_road_segments(pdf: pd.DataFrame, roads: DataFrame, cap: int) -> "dict | None":
    """_near_segments over Spark ``roads``: one bounded fetch of the
    raw (rid, line) rows whose bbox reaches the partitions' joint
    centroid bbox, or ``None`` when more than ``cap`` lines, or more
    than ``cap`` of their segments, reach it."""
    boxes = _part_bboxes(pdf)
    if boxes is None:
        return {}
    x0, x1, y0, y1 = boxes[1]
    xs = F.transform("line", lambda p: F.element_at(p, 1))
    ys = F.transform("line", lambda p: F.element_at(p, 2))
    near_any = (
        (F.array_min(xs) <= x1)
        & (F.array_max(xs) >= x0)
        & (F.array_min(ys) <= y1)
        & (F.array_max(ys) >= y0)
    )
    table = ops.collect_bounded(roads.select("rid", "line").filter(near_any), cap)
    if table is None:
        return None
    segs = _road_segments_np(table)
    return None if _box_hits(segs, x0, x1, y0, y1).sum() > cap else _near_segments(pdf, segs)


def _box_hits(segs: np.ndarray, x0: float, x1: float, y0: float, y1: float) -> np.ndarray:
    """Which (M, 4+) segments' bboxes overlap the box [x0, x1] × [y0, y1]."""
    lo, hi = np.minimum(segs[:, :2], segs[:, 2:4]), np.maximum(segs[:, :2], segs[:, 2:4])
    return (lo[:, 0] <= x1) & (hi[:, 0] >= x0) & (lo[:, 1] <= y1) & (hi[:, 1] >= y0)


def _near_segments(pdf: pd.DataFrame, segs: np.ndarray) -> dict:
    """{part: (M, 5) road segments} for the driver kernels: per
    partition of ``pdf`` the distinct rows of ``segs`` (whole road lines
    exploded by _road_segments_np, so ``L`` is each road's full length)
    whose bbox overlaps its centroid bbox, in _sorted_segs_np order
    (what the cogroup's _segments_for_keys join delivers; partitions
    with none are left out)."""
    boxes = _part_bboxes(pdf)
    if boxes is None:
        return {}
    bbox, joint = boxes
    segs = segs[_box_hits(segs, *joint) & ~pd.DataFrame(segs).duplicated().to_numpy()]
    # one stable sort in _sorted_segs_np's (x1, y1, x2, y2) order; each
    # partition's hits are cut from it in that order
    segs = segs[np.lexsort((segs[:, 3], segs[:, 2], segs[:, 1], segs[:, 0]))]
    out = {}
    cols = [bbox["cx", "min"], bbox["cx", "max"], bbox["cy", "min"], bbox["cy", "max"]]
    for part, bx0, bx1, by0, by1 in zip(bbox.index, *(c.to_numpy() for c in cols)):
        hit = _box_hits(segs, bx0, bx1, by0, by1)
        if hit.any():
            out[part] = segs[hit]
    return out


# AddSinglBdg keeps an unpartitioned building above this footprint (m²)
_SINGLE_MIN_AREA = 300.0


def _mst_cells_kernel(
    pdf: pd.DataFrame,
    road_segs: "np.ndarray | dict | None",
    coverage_thresh: float,
    cell_size: float,
) -> pd.DataFrame:
    """MST clustering, AddSinglBdg and the buffered dissolve in one call
    over every ``grp`` group of ``pdf`` (_keyed_buildings_np's rows), as
    the reference runs one partition's chain in one process
    (IB-Tool2.py:2401-2517).  Rows (gx, gy, cluster_id, single), groups
    in key order, each group's rows sorted by (cluster_id, gx, gy):

    - each partition's buildings are clustered by _mst_cluster_ids
      (``road_segs`` as in _mst_cluster_kernel, a 120 m edge cap) and
      every cluster's 25 m buffered footprints become its cells — the
      rows of ``cluster_cells(b.join(mst_cluster(…)), 25.0, cell_size)``,
      with single = false;
    - AddSinglBdg (IB-Tool2.py:1649-1702): a ``single_<bid>`` group (an
      unpartitioned building, above _SINGLE_MIN_AREA in
      full_delineation) is its own cluster (cluster_id = bid), with
      single = true.

    PatchRemove is left to the caller: its counts join every building by
    centroid cell, across clusters and partitions."""
    pdf, grp, keys = _by_group(pdf, "grp")
    # an AddSinglBdg singleton is a group of one: it keeps its bid
    cid = _mst_cluster_ids(pdf, grp, keys, coverage_thresh, 120.0, road_segs)
    # one buffer pass over every group's clusters: cluster ids are
    # bids, so no two groups share one
    cxy = _buffer_cells_np(pdf["rings"], 25.0, cell_size, labels=cid)
    labels, first = np.unique(cid, return_index=True)
    at = first[np.searchsorted(labels, cxy[:, 0])]  # a row of each cell's cluster
    by_grp = np.argsort(grp[at], kind="stable")
    cxy, at = cxy[by_grp], at[by_grp]
    single = pdf["part"].isna().to_numpy()[at]
    return pd.DataFrame({"gx": cxy[:, 1], "gy": cxy[:, 2], "cluster_id": cxy[:, 0], "single": single})


# ---------------------------------------------------------------------------
# boundary dissolve (the UGB-like output)
# ---------------------------------------------------------------------------

BOUNDARY_SCHEMA = "cluster_id long, rings array<array<array<double>>>, area double, n_buildings long"


def cluster_boundaries(
    buildings_with_clusters: DataFrame,
    buffer_m: float = 25.0,
    cell_size: float = 8.0,
) -> DataFrame:
    """Dissolved boundary polygon per cluster: buffer each footprint by
    ``buffer_m`` on a fine cell grid, union, trace the boundary.

    applyInPandas per cluster — each cluster is a small local problem
    (the reference's per-partition dissolve, IB-Tool2.py:826, 2507-11).
    """

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(pdf["cluster_id"].iloc[0])
        arr = _buffer_cells_np(pdf["rings"], buffer_m, cell_size)
        rings = geom.trace_cell_boundary(arr[:, 0], arr[:, 1])
        rings = [r * cell_size for r in rings]
        area = sum(geom.ring_area(r) for r in rings)
        return pd.DataFrame(
            {
                "cluster_id": [cid],
                "rings": [[r.tolist() for r in rings]],
                "area": [area],
                "n_buildings": [len(pdf)],
            }
        )

    return _spread(buildings_with_clusters, "cluster_id").groupBy("cluster_id").applyInPandas(run, BOUNDARY_SCHEMA)


def _buffer_cells_np(rings, buffer_m: float, cell_size: float, labels=None) -> np.ndarray:
    """Sorted (N, 2) int64 cells of the union of the footprints' round
    buffers (one cluster's dissolve body; ``rings`` is a footprint
    column as Arrow delivers it, outer ring first): every cell whose
    center lies within ``buffer_m`` of a footprint — the EXACT round
    buffer at grid resolution (round 1 used bbox dilation, which
    over-buffers rotated footprints: VERDICT missing #4).  With
    ``labels`` (one integer per footprint) the union is taken per
    label instead, as sorted (N, 3) rows (label, gx, gy): several
    clusters' bodies in one call.

    Vectorized over all footprints at once: each footprint's
    ``buffer_m``-padded bbox contributes its candidate cells to one flat
    grid, every candidate carries its footprint's edges (padded to the
    longest ring, with a validity mask), and the distance test repeats
    geom.point_polygon_distance's float operations — the even-odd test
    of geom.points_in_polygon and the clamped nearest-on-segment of
    geom.nearest_on_segments — so the cells equal a per-footprint
    point_polygon_distance pass bit for bit."""
    outer = [geom.coerce_ring(r[0]) for r in rings]
    lab = [] if labels is None else [np.asarray(labels, dtype=np.int64)]
    if not outer:
        return np.empty((0, 2 + len(lab)), dtype=np.int64)
    n_v = np.array([len(r) for r in outer])
    k = np.arange(n_v.max())
    valid = k[None, :] < n_v[:, None]  # (F, K) real edges
    verts = np.zeros((len(outer), k.size, 2))
    verts[valid] = np.concatenate(outer)
    nxt = np.where(k[None, :] + 1 < n_v[:, None], k[None, :] + 1, 0)
    ends = np.take_along_axis(verts, nxt[:, :, None], axis=1)
    x1, y1, x2, y2 = verts[:, :, 0], verts[:, :, 1], ends[:, :, 0], ends[:, :, 1]
    dx, dy = x2 - x1, y2 - y1
    L2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_dy = np.where(dy != 0.0, 1.0 / dy, 0.0)

    # candidate grid: each footprint's padded-bbox cells, flattened
    lo = np.stack([r.min(axis=0) for r in outer]) - buffer_m
    hi = np.stack([r.max(axis=0) for r in outer]) + buffer_m
    g0 = np.floor(lo / cell_size).astype(np.int64)
    span = np.floor(hi / cell_size).astype(np.int64) - g0 + 1
    count = span[:, 0] * span[:, 1]
    foot = np.repeat(np.arange(len(outer)), count)
    local = np.arange(foot.size) - np.repeat(np.cumsum(count) - count, count)
    gx = g0[foot, 0] + local % span[foot, 0]
    gy = g0[foot, 1] + local // span[foot, 0]

    near = np.empty(foot.size, dtype=bool)
    step = max(1, 500_000 // k.size)  # bounds the (batch, K) temporaries
    for s in range(0, foot.size, step):
        f = foot[s : s + step]
        px = ((gx[s : s + step] + 0.5) * cell_size)[:, None]
        py = ((gy[s : s + step] + 0.5) * cell_size)[:, None]
        ok = valid[f]
        ex1, ey1, ex2, ey2, edx, edy = x1[f], y1[f], x2[f], y2[f], dx[f], dy[f]
        cond = (ey1 > py) != (ey2 > py)
        xi = ex1 + (py - ey1) * edx * inv_dy[f]
        inside = (np.sum(cond & (px < xi) & ok, axis=1) % 2).astype(bool)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = ((px - ex1) * edx + (py - ey1) * edy) / L2[f]
        t = np.clip(np.where(np.isfinite(t), t, 0.0), 0.0, 1.0)
        d2 = ((ex1 + t * edx) - px) ** 2 + ((ey1 + t * edy) - py) ** 2
        dist = np.sqrt(np.where(ok, d2, np.inf).min(axis=1))
        near[s : s + step] = np.where(inside, 0.0, dist) <= buffer_m
    return np.unique(np.column_stack([*(a[foot[near]] for a in lab), gx[near], gy[near]]), axis=0)


# ---------------------------------------------------------------------------
# Footprint density per container (A6 — FootprintDensity,
# IB-Tool2.py:852-907)
# ---------------------------------------------------------------------------


def footprint_density(
    buildings: DataFrame,
    parts: pd.DataFrame,
    cell_size: float = 150.0,
) -> DataFrame:
    """Σ(building footprint area) per partition / partition area × 100.

    Containers are the density-partition cell sets (their area =
    n_cells × cell²); buildings land in a container via their centroid
    cell (broadcast join).  The reference's per-block overlap ratio
    drives its dense-block selection; the same ratio here feeds
    PatchRemove-style rescue decisions.
    """
    part_df = ops.local_df(buildings.sparkSession, parts, "gx long, gy long, part_name string")
    part_area = (
        part_df.groupBy("part_name")
        .agg((F.count(F.lit(1)).cast("double") * F.lit(cell_size * cell_size)).alias("part_area"))
    )
    b = buildings.withColumn(
        "gx", F.floor(F.col("cx") / F.lit(cell_size)).cast("long")
    ).withColumn("gy", F.floor(F.col("cy") / F.lit(cell_size)).cast("long"))
    per_part = (
        b.join(F.broadcast(part_df), ["gx", "gy"], "inner")
        .groupBy("part_name")
        .agg(F.sum("area").alias("bdg_area"), F.count(F.lit(1)).alias("n_buildings"))
    )
    return per_part.join(part_area, "part_name").withColumn(
        "overlap_pct", F.col("bdg_area") / F.col("part_area") * F.lit(100.0)
    )


# ---------------------------------------------------------------------------
# HoleClose on the cell grid (IB-Tool2.py:1704-50)
# ---------------------------------------------------------------------------


def _fill_holes_np(gx: np.ndarray, gy: np.ndarray, max_hole_cells: int) -> np.ndarray:
    """One component's cells + its enclosed holes ≤ max_hole_cells,
    as an (N, 2) int64 array.  Complement reachability runs on a dense
    bbox grid with an iterative vectorized border flood — no Python
    per-cell loops (the bbox is one settlement's extent)."""
    x0, y0 = int(gx.min()) - 1, int(gy.min()) - 1
    w = int(gx.max()) - x0 + 2
    h = int(gy.max()) - y0 + 2
    grid = np.zeros((w, h), dtype=bool)
    grid[gx - x0, gy - y0] = True
    # flood the complement from the padded border (4-connected)
    reach = np.zeros_like(grid)
    reach[0, :] = ~grid[0, :]
    reach[-1, :] = ~grid[-1, :]
    reach[:, 0] = ~grid[:, 0]
    reach[:, -1] = ~grid[:, -1]
    while True:
        grow = np.zeros_like(reach)
        grow[1:, :] |= reach[:-1, :]
        grow[:-1, :] |= reach[1:, :]
        grow[:, 1:] |= reach[:, :-1]
        grow[:, :-1] |= reach[:, 1:]
        grow &= ~grid
        new = grow & ~reach
        if not new.any():
            break
        reach |= new
    holes = ~grid & ~reach
    if holes.any():
        # size-threshold per hole component (holes are tiny by contract)
        hx, hy = np.nonzero(holes)
        labels = geom.cell_components(hx.astype(np.int64), hy.astype(np.int64))
        counts = np.bincount(labels)
        keep = counts[labels] <= max_hole_cells
        grid[hx[keep], hy[keep]] = True
    fx, fy = np.nonzero(grid)
    return np.stack([fx + x0, fy + y0], axis=1).astype(np.int64)


def _close_np(xy: np.ndarray, max_hole_cells: int) -> np.ndarray:
    """GapFix and HoleClose over distinct (n, 2) int64 cells on the
    driver: geom.cell_components labels them and _fill_holes_np closes
    each component; (m, 3) int64 rows (gx, gy, boundary_id)."""
    labels = geom.cell_components(xy[:, 0], xy[:, 1])
    order = np.argsort(labels, kind="stable")
    out = [np.empty((0, 3), dtype=np.int64)]
    for idx in np.split(order, np.flatnonzero(np.diff(labels[order])) + 1):
        if idx.size:
            filled = _fill_holes_np(xy[idx, 0], xy[idx, 1], max_hole_cells)
            out.append(np.column_stack([filled, np.full(len(filled), labels[idx[0]])]))
    return np.concatenate(out)


# ---------------------------------------------------------------------------
# Road graph operators (X2/X3 — NodesDetect + road-crossing prune)
# ---------------------------------------------------------------------------


def road_node_degrees(roads: DataFrame, snap: float = 1.0) -> DataFrame:
    """Junction degree per road node (X2 — NodesDetect,
    IB-Tool2.py:1127-72: vertices → spatial join → dissolve →
    Join_Count).  Spark-first: explode polyline segments, snap both
    endpoints to the grid, count per node.  degree 1 ⇒ dead end."""
    segs = roads.select(
        "rid",
        F.explode(
            F.expr(
                "transform(sequence(1, size(line) - 1), i -> "
                "struct(element_at(line, i) AS a, element_at(line, i + 1) AS b))"
            )
        ).alias("s"),
    )
    ends = segs.select(
        "rid", F.explode(F.array(F.col("s.a"), F.col("s.b"))).alias("p")
    ).select(
        "rid",
        F.round(F.element_at("p", 1) / F.lit(snap)).cast("long").alias("nx"),
        F.round(F.element_at("p", 2) / F.lit(snap)).cast("long").alias("ny"),
    )
    return ends.groupBy("nx", "ny").agg(
        F.count(F.lit(1)).alias("degree"),
        F.min("rid").alias("any_rid"),
    )


def road_segments_df(roads: DataFrame) -> DataFrame:
    """Road polylines → one row per segment (x1, y1, x2, y2, L), all in
    Column math (explode over transform/sequence — no Python).  ``L`` is
    the TOTAL polyline length, the measure the dead-end exemption tests
    (IB-Tool2.py:1359-72), attached by a per-rid partial agg."""
    segs = roads.select(
        "rid",
        F.explode(
            F.expr(
                "transform(sequence(1, size(line) - 1), i -> "
                "struct(element_at(line, i) AS a, element_at(line, i + 1) AS b))"
            )
        ).alias("s"),
    ).select(
        "rid",
        F.element_at("s.a", 1).alias("x1"),
        F.element_at("s.a", 2).alias("y1"),
        F.element_at("s.b", 1).alias("x2"),
        F.element_at("s.b", 2).alias("y2"),
    )
    seg_len = F.sqrt(
        (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
    )
    lens = segs.groupBy("rid").agg(F.sum(seg_len).alias("L"))
    return segs.join(lens, "rid").select("x1", "y1", "x2", "y2", "L")


def _segments_for_keys(
    keys_bbox: DataFrame,  # (key, kminx, kminy, kmaxx, kmaxy)
    segs: DataFrame,  # (x1, y1, x2, y2, L)
    key_col: str,
    pad: float,
    cell: float = 1024.0,
) -> DataFrame:
    """Subset road segments per group key: every segment whose bbox
    overlaps the key's ``pad``-expanded bbox, via a coarse-cell cover
    equi-join (shuffle ∝ covered cells — no theta join, no broadcast of
    the full road table into every task).  This is the reference's
    per-partition road subset (IB-Tool2.py:2428-2443) as a join."""
    padc = F.lit(float(pad))
    k = (
        keys_bbox.withColumn(
            "cgx",
            F.explode(
                F.sequence(
                    F.floor((F.col("kminx") - padc) / F.lit(cell)),
                    F.floor((F.col("kmaxx") + padc) / F.lit(cell)),
                )
            ),
        ).withColumn(
            "cgy",
            F.explode(
                F.sequence(
                    F.floor((F.col("kminy") - padc) / F.lit(cell)),
                    F.floor((F.col("kmaxy") + padc) / F.lit(cell)),
                )
            ),
        )
    )
    s = (
        segs.withColumn("sminx", F.least("x1", "x2"))
        .withColumn("smaxx", F.greatest("x1", "x2"))
        .withColumn("sminy", F.least("y1", "y2"))
        .withColumn("smaxy", F.greatest("y1", "y2"))
    )
    s = s.withColumn(
        "cgx",
        F.explode(
            F.sequence(F.floor(F.col("sminx") / F.lit(cell)), F.floor(F.col("smaxx") / F.lit(cell)))
        ),
    ).withColumn(
        "cgy",
        F.explode(
            F.sequence(F.floor(F.col("sminy") / F.lit(cell)), F.floor(F.col("smaxy") / F.lit(cell)))
        ),
    )
    j = k.join(s, ["cgx", "cgy"]).filter(
        (F.col("sminx") <= F.col("kmaxx") + padc)
        & (F.col("smaxx") >= F.col("kminx") - padc)
        & (F.col("sminy") <= F.col("kmaxy") + padc)
        & (F.col("smaxy") >= F.col("kminy") - padc)
    )
    # exact-duplicate collapse: a segment reaching a key through several
    # cover cells carries identical coordinates, so distinct dedups it
    return j.select(key_col, "x1", "y1", "x2", "y2", "L").distinct()


def _rings_bbox_cols(df: DataFrame, prefix: str = "k") -> DataFrame:
    """Attach (prefix)minx/miny/maxx/maxy bbox columns computed from a
    ``rings`` column in pure Column math."""
    flat = F.flatten(F.col("rings"))
    xs = F.transform(flat, lambda p: F.element_at(p, 1))
    ys = F.transform(flat, lambda p: F.element_at(p, 2))
    return (
        df.withColumn(f"{prefix}minx", F.array_min(xs))
        .withColumn(f"{prefix}maxx", F.array_max(xs))
        .withColumn(f"{prefix}miny", F.array_min(ys))
        .withColumn(f"{prefix}maxy", F.array_max(ys))
    )


def _polys_for_keys(
    keys_bbox: DataFrame,  # (key, kminx, kminy, kmaxx, kmaxy)
    polys: DataFrame,  # (block_id, rings)
    key_col: str,
    pad: float,
    cell: float = 1024.0,
) -> DataFrame:
    """(key, block_id, rings): polygons whose bbox overlaps the key's
    padded bbox.  The pair set is computed id-only through the cover
    join; rings re-attach by a plain id join AFTER the dedup (the safe
    nested-array pattern — see ops._overlay_pairs)."""
    padc = F.lit(float(pad))
    pb = _rings_bbox_cols(polys.select("block_id", "rings"), "p").drop("rings")
    pb = pb.withColumn(
        "cgx",
        F.explode(
            F.sequence(F.floor(F.col("pminx") / F.lit(cell)), F.floor(F.col("pmaxx") / F.lit(cell)))
        ),
    ).withColumn(
        "cgy",
        F.explode(
            F.sequence(F.floor(F.col("pminy") / F.lit(cell)), F.floor(F.col("pmaxy") / F.lit(cell)))
        ),
    )
    k = keys_bbox.withColumn(
        "cgx",
        F.explode(
            F.sequence(
                F.floor((F.col("kminx") - padc) / F.lit(cell)),
                F.floor((F.col("kmaxx") + padc) / F.lit(cell)),
            )
        ),
    ).withColumn(
        "cgy",
        F.explode(
            F.sequence(
                F.floor((F.col("kminy") - padc) / F.lit(cell)),
                F.floor((F.col("kmaxy") + padc) / F.lit(cell)),
            )
        ),
    )
    pairs = (
        k.join(pb, ["cgx", "cgy"])
        .filter(
            (F.col("pminx") <= F.col("kmaxx") + padc)
            & (F.col("pmaxx") >= F.col("kminx") - padc)
            & (F.col("pminy") <= F.col("kmaxy") + padc)
            & (F.col("pmaxy") >= F.col("kminy") - padc)
        )
        .select(key_col, "block_id")
        .distinct()
    )
    return pairs.join(polys.select("block_id", "rings"), "block_id")


def _flat_rings_col(rings_col: str = "rings"):
    """Ring set → ONE flat array<double> [n1, x, y, …, n2, x, y, …].

    The cogroup Arrow deserializer in this Spark/pyarrow combination
    segfaults on ANY multi-level array column arriving on the cogrouped
    right side (verified: even real non-null array<array<array<double>>>
    rows crash arrow_to_pandas); flat arrays are safe, so polygon
    payloads ride the right side in this length-prefixed encoding."""
    return F.flatten(
        F.transform(
            F.col(rings_col),
            lambda ring: F.concat(F.array(F.size(ring).cast("double")), F.flatten(ring)),
        )
    )


def _decode_flat_rings(arr) -> list[np.ndarray]:
    """Inverse of _flat_rings_col."""
    a = np.asarray(arr, dtype=np.float64)
    rings: list[np.ndarray] = []
    i = 0
    while i < a.shape[0]:
        n = int(a[i])
        i += 1
        rings.append(a[i : i + 2 * n].reshape(n, 2).copy())
        i += 2 * n
    return rings


def _sorted_segs_np(pdf: pd.DataFrame, with_len: bool = True) -> np.ndarray:
    """Cogrouped road rows → (M, 5|4) array in a pinned order (cogroup
    delivers rows unordered; kernels with argmin ties or arrangement
    inputs must not float run-to-run)."""
    cols = ["x1", "y1", "x2", "y2"] + (["L"] if with_len else [])
    if not len(pdf):
        return np.empty((0, len(cols)))
    return pdf.sort_values(["x1", "y1", "x2", "y2"]).reset_index(drop=True)[cols].to_numpy(
        np.float64
    )


def _road_segments_np(roads: "pd.DataFrame | pa.Table") -> np.ndarray:
    """Road polylines (rid, line), a pandas frame or a pyarrow Table →
    (M, 5) float64 rows (x1, y1, x2, y2, L), one per consecutive vertex
    pair, in row then vertex order.

    The rows equal road_segments_df's bit for bit: a segment's length is
    sqrt(dx*dx + dy*dy), and ``L``, its road's total length, adds the
    lengths one at a time from 0.0 in vertex order, which is the order
    of Spark's per-``rid`` sum (a row's segments are exploded inside
    one partition, so its partial sum sees them in order).  Rows
    sharing a ``rid`` count as one road, in row order; rows with a null
    ``rid`` drop out, as they do in road_segments_df's join."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(roads, pd.DataFrame):
        rid = pa.array(roads["rid"], type=pa.int64())
        line = pa.array(roads["line"], type=pa.list_(pa.list_(pa.float64())))
    else:
        rid = roads.column("rid").combine_chunks()
        line = roads.column("line").combine_chunks()
    valid = rid.is_valid()
    rid, line = rid.filter(valid).to_numpy(), line.filter(valid)
    n = pc.list_value_length(line).fill_null(0).to_numpy().astype(np.int64)
    pts = pc.list_flatten(line)
    x = pc.list_element(pts, 0).to_numpy(zero_copy_only=False)
    y = pc.list_element(pts, 1).to_numpy(zero_copy_only=False)
    # a vertex starts a segment unless it is its line's last
    start = np.ones(x.size, dtype=bool)
    start[np.cumsum(n)[n > 0] - 1] = False
    j = np.flatnonzero(start)
    if not j.size:
        return np.empty((0, 5))
    x1, y1, x2, y2 = x[j], y[j], x[j + 1], y[j + 1]
    dx, dy = x2 - x1, y2 - y1
    seg_len = np.sqrt(dx * dx + dy * dy)
    # each road's segments by position: one vectorised add per position
    # keeps every road's sum sequential
    road = np.unique(rid, return_inverse=True)[1][np.repeat(np.arange(n.size), n)[j]]
    by_road = np.argsort(road, kind="stable")
    pos = np.empty_like(by_road)
    pos[by_road] = np.arange(j.size) - np.searchsorted(road[by_road], road[by_road])
    by_pos = np.argsort(pos, kind="stable")
    L = np.zeros(road.max() + 1)
    for idx in np.split(by_pos, np.flatnonzero(np.diff(pos[by_pos])) + 1):
        L[road[idx]] += seg_len[idx]
    return np.column_stack([x1, y1, x2, y2, L[road]])


def prune_edges_by_roads(
    cents: np.ndarray,
    d_edges: np.ndarray,
    road_segs: np.ndarray,
    deadend_exempt_len: float = 50.0,
    chunk: int = 1024,
) -> np.ndarray:
    """Drop Delaunay edges crossing a road (X3, IB-Tool2.py:1359-72),
    keeping edges that only cross short dead-end roads (< 50 m total
    polyline length — the reference's exemption).  Fully batched: the
    bbox prefilter is one broadcasted (edges × segments) mask per chunk
    and ALL surviving pairs go through a single crossing test — no
    per-edge Python iteration (a dense 5k-building partition with 10k
    segments was ~15k scalar rounds before)."""
    if road_segs.shape[0] == 0 or d_edges.shape[0] == 0:
        return d_edges
    segs = road_segs[road_segs[:, 4] >= deadend_exempt_len]
    if segs.shape[0] == 0:
        return d_edges
    E = d_edges.shape[0]
    keep = np.ones(E, dtype=bool)
    sminx = np.minimum(segs[:, 0], segs[:, 2])
    smaxx = np.maximum(segs[:, 0], segs[:, 2])
    sminy = np.minimum(segs[:, 1], segs[:, 3])
    smaxy = np.maximum(segs[:, 1], segs[:, 3])
    P = cents[d_edges[:, 0].astype(np.int64)]
    Q = cents[d_edges[:, 1].astype(np.int64)]
    lo = np.minimum(P, Q)
    hi = np.maximum(P, Q)
    for c0 in range(0, E, chunk):
        c1 = min(c0 + chunk, E)
        m = (
            (sminx[None, :] <= hi[c0:c1, 0:1])
            & (smaxx[None, :] >= lo[c0:c1, 0:1])
            & (sminy[None, :] <= hi[c0:c1, 1:2])
            & (smaxy[None, :] >= lo[c0:c1, 1:2])
        )
        ei, sj = np.nonzero(m)
        if not ei.size:
            continue
        ea = np.concatenate([P[c0 + ei], Q[c0 + ei]], axis=1)
        hit = geom.segments_intersect(ea, segs[sj][:, :4])
        if hit.any():
            keep[c0 + np.unique(ei[hit])] = False
    return d_edges[keep]


# ---------------------------------------------------------------------------
# Final refinement composites (PatchRemove / GapFix —
# IB-Tool2.py:2197-2245, 2121-2195)
# ---------------------------------------------------------------------------


def patch_remove(
    boundary_cells: DataFrame,  # (gx, gy, cluster_id)
    buildings: DataFrame,  # (cx, cy, area)
    cell_size: float,
    min_bdg_count: int = 10,
    min_patch_cells: int = 8,
    rescue_overlap_pct: float = 15.0,
) -> DataFrame:
    """Drop boundary patches with too few buildings or too little area
    unless dense (PatchRemove, IB-Tool2.py:2197-2245: < MinBdgCount or
    < MinPatchSize unless the footprint-overlap rescue fires)."""
    b = buildings.withColumn(
        "gx", F.floor(F.col("cx") / F.lit(cell_size)).cast("long")
    ).withColumn("gy", F.floor(F.col("cy") / F.lit(cell_size)).cast("long"))
    stats = (
        boundary_cells.join(b, ["gx", "gy"], "left")
        .groupBy("cluster_id")
        .agg(
            F.countDistinct("gx", "gy").alias("n_cells"),
            F.count("cx").alias("n_buildings"),
            F.coalesce(F.sum("area"), F.lit(0.0)).alias("bdg_area"),
        )
    )
    patch_area = F.col("n_cells").cast("double") * F.lit(cell_size * cell_size)
    overlap = F.col("bdg_area") / patch_area * F.lit(100.0)
    keep = (
        ((F.col("n_buildings") >= min_bdg_count) & (F.col("n_cells") >= min_patch_cells))
        | (overlap >= F.lit(rescue_overlap_pct))
    )
    kept = stats.filter(keep).select("cluster_id")
    return boundary_cells.join(F.broadcast(kept), "cluster_id", "left_semi")


def _patch_remove_np(
    cells: np.ndarray,  # (n, 3) int64: gx, gy, cluster_id
    buildings: pd.DataFrame,  # (cx, cy, area)
    cell_size: float,
    min_bdg_count: int = 10,
    min_patch_cells: int = 8,
    rescue_overlap_pct: float = 15.0,
) -> np.ndarray:
    """patch_remove on the driver: the boolean mask of the ``cells``
    rows it keeps.  The same rule over the same join: each row meets the
    buildings whose centroid lies in its cell; per cluster ``n_cells``
    counts distinct cells, ``n_buildings`` the (row, building) pairs
    and ``bdg_area`` their footprint areas.  Only the order in which
    ``bdg_area`` is summed differs, and Spark's own order is not fixed
    either."""
    cx, cy, area = (buildings[c].to_numpy(np.float64) for c in ("cx", "cy", "area"))
    bkey = ops._cc_key_np(np.floor(cx / cell_size), np.floor(cy / cell_size))
    ukey, binv = np.unique(bkey, return_inverse=True)
    ckey = ops._cc_key_np(cells[:, 0], cells[:, 1])
    slot = np.searchsorted(ukey, ckey)
    hit = slot < ukey.size
    hit[hit] = ukey[slot[hit]] == ckey[hit]
    row_n = np.zeros(len(cells))
    row_a = np.zeros(len(cells))
    row_n[hit] = np.bincount(binv, minlength=ukey.size)[slot[hit]]
    row_a[hit] = np.bincount(binv, weights=area, minlength=ukey.size)[slot[hit]]
    cid, cinv = np.unique(cells[:, 2], return_inverse=True)
    n_bdg = np.bincount(cinv, weights=row_n, minlength=cid.size)
    bdg_area = np.bincount(cinv, weights=row_a, minlength=cid.size)
    n_cells = np.bincount(np.unique(np.column_stack([cinv, ckey]), axis=0)[:, 0], minlength=cid.size)
    overlap = bdg_area / (n_cells.astype(np.float64) * (cell_size * cell_size)) * 100.0
    keep = ((n_bdg >= min_bdg_count) & (n_cells >= min_patch_cells)) | (overlap >= rescue_overlap_pct)
    return keep[cinv]


def gap_fix(boundary_cells: DataFrame) -> DataFrame:
    """Cross-partition stitch (GapFix, IB-Tool2.py:2121-95): boundary
    patches produced independently per partition get re-labeled by a
    global connected-components pass, so clusters touching across a
    partition border merge into one boundary id."""
    labels = ops.cell_components_df(boundary_cells.select("gx", "gy")).withColumnRenamed(
        "comp", "boundary_id"
    )
    return boundary_cells.join(labels, ["gx", "gy"], "inner")


# ---------------------------------------------------------------------------
# Full delineation pipeline (the reference's main(), IB-Tool2.py:2248-2650)
# ---------------------------------------------------------------------------

CLUSTER_CELLS_SCHEMA = "gx long, gy long, cluster_id long"


def cluster_cells(
    buildings_with_clusters: DataFrame, buffer_m: float = 25.0, cell_size: float = 8.0
) -> DataFrame:
    """Buffered-footprint cell set per cluster (the dissolve body used
    by the boundary stages), as (gx, gy, cluster_id) rows."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        xy = _buffer_cells_np(pdf["rings"], buffer_m, cell_size)
        return pd.DataFrame(
            {"gx": xy[:, 0], "gy": xy[:, 1], "cluster_id": int(pdf["cluster_id"].iloc[0])}
        )

    return _spread(buildings_with_clusters, "cluster_id").groupBy("cluster_id").applyInPandas(run, CLUSTER_CELLS_SCHEMA)


def full_delineation(
    spark,
    per_cluster: int = 30,
    cell_size: float = 16.0,
    coverage_thresh: float = 12.0,
    min_bdg_count: int = 5,
    use_roads: bool = True,
) -> DataFrame:
    """End-to-end settlement delineation over the synthetic scene —
    the reference's per-partition dataflow (IB-Tool2.py:2401-2517) plus
    its finalize stage:

    buildings → InputHU_Filter (use-code + min-area filters) → density
    partitioning → MST clustering (road-crossing prune) + AddSinglBdg →
    buffered dissolve to cells → PatchRemove → GapFix stitch →
    HoleClose → per-boundary summary.

    Every stage runs on the driver, in numpy, and the result is one
    driver-built table (ops.local_df), so no Spark job starts before the
    caller's action and no Python worker starts at all:

    1. synth.buildings_pdf builds the scene and the filter runs on it
       (config.filter_mask, the pandas twin of the Spark predicate); the
       density partitions come from _density_partitions_np and every
       building is keyed by its density cell (_keyed_buildings_np);
    2. _mst_cells_kernel clusters each partition, buffers every cluster
       to cells and makes the AddSinglBdg singletons, in one call over
       the partitioned buildings and those above 300 m², with each
       partition's road segments cut from synth.roads_pdf by
       _near_segments;
    3. _finish_on_driver: PatchRemove (_patch_remove_np), then GapFix
       and HoleClose (_close_np), counted per boundary.

    There is no size bound and no grouped placement: the scene is built
    on the driver before clustering, so a grouped stage would only ship
    a driver-held frame to Python workers, and the driver won cold and
    warm at every size measured (DRIVER_KERNEL_CAP's table, up to 25,811
    kernel rows at 302 MB driver peak RSS).  Buildings held in Spark
    are clustered by mst_cluster, which keeps a grouped placement.
    """
    from . import synth

    b = _filtered_buildings(synth.buildings_pdf(per_cluster=per_cluster))
    keyed = _keyed_buildings_np(b)
    rows = keyed[keyed["part"].notna() | (keyed["area"] > _SINGLE_MIN_AREA)]
    near = None
    if use_roads:
        near = _near_segments(rows, _road_segments_np(synth.roads_pdf()[["rid", "line"]]))
    cells = _mst_cells_kernel(rows, near, coverage_thresh, cell_size)
    return _with_area(_finish_on_driver(spark, cells, b, cell_size, min_bdg_count), cell_size)


def _filtered_buildings(pdf: pd.DataFrame) -> pd.DataFrame:
    """InputHU_Filter over a buildings frame (synth.buildings_pdf's
    columns): positive use codes and at least 35 m² (IB-Tool2.py:831-40)."""
    from . import synth
    from .config import filter_mask

    keep = filter_mask(pdf["fkt"], list(synth.POS_FKT)) & (pdf["area"].to_numpy() >= 35.0)
    return pdf[keep].reset_index(drop=True)


def _keyed_buildings_np(b: pd.DataFrame) -> pd.DataFrame:
    """assign_partitions_df over density_partitions_df on the driver,
    keyed as _mst_cells_kernel reads it: every building of ``b`` as
    (bid, rings, cx, cy, area, part, grp),
    ``part`` its density cell's partition from _density_partitions_np
    (null outside every one) and ``grp`` the partition or
    ``single_<bid>``."""
    parts = _density_partitions_np(b["cx"].to_numpy(), b["cy"].to_numpy(), 150.0, 300.0, 1e-5)
    keyed = b[["bid", "rings", "cx", "cy", "area"]].assign(
        gx=np.floor(b["cx"].to_numpy(np.float64) / 150.0).astype(np.int64),
        gy=np.floor(b["cy"].to_numpy(np.float64) / 150.0).astype(np.int64),
    )
    keyed = keyed.merge(parts, on=["gx", "gy"], how="left").rename(columns={"part_name": "part"})
    single = "single_" + keyed["bid"].astype(str)
    grp = keyed["part"].where(keyed["part"].notna(), single)
    return keyed.drop(columns=["gx", "gy"]).assign(grp=grp)


def _finish_on_driver(
    spark, rows: pd.DataFrame, buildings: pd.DataFrame, cell_size: float, min_bdg_count: int
) -> DataFrame:
    """full_delineation's stage 3 over _mst_cells_kernel's rows:
    PatchRemove (_patch_remove_np over every filtered building), the
    singletons' union, the distinct cells, GapFix and HoleClose
    (_close_np); (boundary_id, n_cells) as one driver-built table."""
    single = rows["single"].to_numpy(bool)
    main = rows[["gx", "gy", "cluster_id"]].to_numpy(np.int64)[~single]
    kept = main[_patch_remove_np(main, buildings, cell_size, min_bdg_count, min_patch_cells=4)]
    xy = np.concatenate([kept[:, :2], rows.loc[single, ["gx", "gy"]].to_numpy(np.int64)])
    ids, n = np.unique(_close_np(np.unique(xy, axis=0), 64)[:, 2], return_counts=True)
    return ops.local_df(
        spark, pd.DataFrame({"boundary_id": ids, "n_cells": n}), "boundary_id long, n_cells long"
    )


def _with_area(counts: DataFrame, cell_size: float) -> DataFrame:
    area = F.col("n_cells").cast("double") * F.lit(cell_size * cell_size)
    return counts.withColumn("area", area).orderBy("boundary_id")


# ---------------------------------------------------------------------------
# Blocker (IB-Tool2.py:645-681): partition outline + road lines →
# polygonize → city blocks; blocks without buildings are dropped.
# Round 1 substituted cell-boundary tracing; this is the exact
# planar-arrangement version built on geom.polygonize.
# ---------------------------------------------------------------------------

BLOCK_SCHEMA = (
    "part string, block_id long, rings array<array<array<double>>>, "
    "area double, n_buildings long"
)


def _blocker_kernel(
    part: str,
    part_rings: list[np.ndarray],
    road_segs: np.ndarray,
    bx: np.ndarray,
    by: np.ndarray,
) -> list[dict]:
    """One partition's blocks: polygonize(outline ∪ roads), keep faces
    inside the partition, count buildings per face, drop empty."""
    minx, miny, maxx, maxy = geom.rings_bbox(part_rings)
    segs = [geom._rings_edges(part_rings)]
    if road_segs.shape[0]:
        m = (
            (np.maximum(road_segs[:, 0], road_segs[:, 2]) >= minx)
            & (np.minimum(road_segs[:, 0], road_segs[:, 2]) <= maxx)
            & (np.maximum(road_segs[:, 1], road_segs[:, 3]) >= miny)
            & (np.minimum(road_segs[:, 1], road_segs[:, 3]) <= maxy)
        )
        if m.any():
            segs.append(road_segs[m, :4])
    faces = geom.polygonize(np.vstack(segs))
    out = []
    for face in faces:
        px, py = geom.centroid_inside([face[0]])
        if not bool(
            geom.points_in_polygon(np.array([px]), np.array([py]), part_rings)[0]
        ):
            continue  # face outside the partition (road overshoot)
        inside = geom.points_in_polygon(bx, by, face)
        n = int(inside.sum())
        if n == 0:
            continue  # Blocker drops building-less blocks (IB-Tool2.py:670-72)
        out.append(
            {
                "part": part,
                "rings": [r.tolist() for r in face],
                "area": geom.polygon_area(face),
                "n_buildings": n,
                "_anchor": (float(face[0][:, 0].min()), float(face[0][:, 1].min())),
            }
        )
    # deterministic block ids: ascending (min x, min y) of the outer ring
    out.sort(key=lambda d: d["_anchor"])
    for k, d in enumerate(out):
        d["block_id"] = k
        d.pop("_anchor")
    return out


def blocker(
    buildings: DataFrame,  # (cx, cy, part)
    partitions: "pd.DataFrame | DataFrame",  # (part, rings) — one polygon per partition
    roads: "pd.DataFrame | DataFrame | None" = None,  # (rid, line) polylines
    road_cell: float = 1024.0,
) -> DataFrame:
    """Exact Blocker: per-partition city blocks from the planar
    arrangement of the partition outline and the road network, with
    building-less blocks dropped.  applyInPandas per partition — the
    same per-partition scope as the reference's Blocker calls.

    Pass ``partitions``/``roads`` as Spark DataFrames for the scale
    path: outlines and the partition's own road subset (coarse-cell
    bbox join) cogroup into the kernel, so no task carries the whole
    road network or partition table."""
    if isinstance(partitions, pd.DataFrame):
        if roads is not None and not isinstance(roads, pd.DataFrame):
            raise TypeError("pandas partitions require pandas roads")
        road_segs = (
            _road_segments_np(roads)[:, :4] if roads is not None else np.empty((0, 4))
        )
        part_map = {
            str(r.part): [np.asarray(x, dtype=np.float64) for x in r.rings]
            for r in partitions.itertuples()
        }

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            part = str(pdf["part"].iloc[0])
            rings = part_map.get(part)
            cols = ["part", "block_id", "rings", "area", "n_buildings"]
            if rings is None:
                return pd.DataFrame(columns=cols)
            rows = _blocker_kernel(
                part, rings, road_segs, pdf["cx"].to_numpy(np.float64), pdf["cy"].to_numpy(np.float64)
            )
            return pd.DataFrame(rows, columns=cols)

        return _spread(buildings.select("cx", "cy", "part"), "part").groupBy("part").applyInPandas(
            run, BLOCK_SCHEMA
        )

    # ---- DataFrame partitions/roads: cogrouped subsets ----
    spark = buildings.sparkSession
    if isinstance(roads, pd.DataFrame):
        roads = ops.local_df(spark, roads, "rid long, line array<array<double>>")
    keys_bbox = _rings_bbox_cols(
        partitions.select(F.col("part").alias("kid"), "rings"), "k"
    ).select("kid", "kminx", "kminy", "kmaxx", "kmaxy")
    packed = partitions.select(
        F.col("part").alias("kid"),
        F.lit("outline").alias("kind"),
        F.lit(0.0).alias("x1"),
        F.lit(0.0).alias("y1"),
        F.lit(0.0).alias("x2"),
        F.lit(0.0).alias("y2"),
        _flat_rings_col().alias("coords"),
    )
    if roads is not None:
        roadsub = _segments_for_keys(
            keys_bbox, road_segments_df(roads), "kid", pad=0.0, cell=road_cell
        )
        packed = packed.unionByName(
            roadsub.select(
                "kid",
                F.lit("road").alias("kind"),
                "x1",
                "y1",
                "x2",
                "y2",
                F.expr("CAST(array() AS array<double>)").alias("coords"),
            )
        )

    def run_cg(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["part", "block_id", "rings", "area", "n_buildings"]
        if not len(left) or not len(right):
            return pd.DataFrame(columns=cols)
        outl = right[right["kind"] == "outline"]
        if not len(outl):
            return pd.DataFrame(columns=cols)
        part = str(left["part"].iloc[0])
        rings = _decode_flat_rings(outl["coords"].iloc[0])
        road_segs = _sorted_segs_np(right[right["kind"] == "road"], with_len=False)
        rows = _blocker_kernel(
            part, rings, road_segs, left["cx"].to_numpy(np.float64), left["cy"].to_numpy(np.float64)
        )
        return pd.DataFrame(rows, columns=cols)

    return (
        _spread(buildings.select("cx", "cy", "part"), "part")
        .groupBy("part")
        .cogroup(_spread(packed, "kid").groupBy("kid"))
        .applyInPandas(run_cg, BLOCK_SCHEMA)
    )


# ---------------------------------------------------------------------------
# EdgeCatch — exact orthogonal snap-line construction
# (IB-Tool2.py:1903-2119), the reference's full geometry: per group,
# vertex→road nearest points (<70 m) → angle-grouping (with the reference's quirks,
# replicated) → snap lines → polygonize(outline ∪ snap lines ∪ touched
# roads) → keep faces touching buildings → clip to blocks → drop
# pieces ≥ 3× the group's area.
# ---------------------------------------------------------------------------


def _touched_segments(snap: np.ndarray, road_segs: np.ndarray) -> np.ndarray:
    """Which road segments intersect ANY snap line — batched like
    prune_edges_by_roads: one chunked (snap × segment) bbox mask, then
    a single segments_intersect over the surviving pairs (the former
    per-snap-line loop ran O(S) sequential vectorized passes with an
    O(R) temporary each).  ``snap`` (S, 4), ``road_segs`` (R, ≥4);
    returns a (R,) bool mask."""
    R = road_segs.shape[0]
    touched = np.zeros(R, dtype=bool)
    if R == 0 or snap.shape[0] == 0:
        return touched
    sminx = np.minimum(road_segs[:, 0], road_segs[:, 2])
    smaxx = np.maximum(road_segs[:, 0], road_segs[:, 2])
    sminy = np.minimum(road_segs[:, 1], road_segs[:, 3])
    smaxy = np.maximum(road_segs[:, 1], road_segs[:, 3])
    nlox = np.minimum(snap[:, 0], snap[:, 2])
    nhix = np.maximum(snap[:, 0], snap[:, 2])
    nloy = np.minimum(snap[:, 1], snap[:, 3])
    nhiy = np.maximum(snap[:, 1], snap[:, 3])
    chunk = max(1, 2_000_000 // R)
    for c0 in range(0, snap.shape[0], chunk):
        c1 = min(c0 + chunk, snap.shape[0])
        m = (
            (sminx[None, :] <= nhix[c0:c1, None])
            & (smaxx[None, :] >= nlox[c0:c1, None])
            & (sminy[None, :] <= nhiy[c0:c1, None])
            & (smaxy[None, :] >= nloy[c0:c1, None])
        )
        m[:, touched] = False  # already-hit segments need no retest
        si, rj = np.nonzero(m)
        if si.size:
            hit = geom.segments_intersect(snap[c0 + si], road_segs[rj, :4])
            touched[rj[hit]] = True
    return touched


def _edge_catch_group_kernel(
    group_rings: list[np.ndarray],
    road_segs: np.ndarray,
    bdg_x: np.ndarray,
    bdg_y: np.ndarray,
    block_polys: "list[list[np.ndarray]] | None",
    max_dist: float = 70.0,
) -> list[list[np.ndarray]]:
    from . import boolean

    group_area = geom.polygon_area(group_rings)
    verts = np.vstack([geom.coerce_ring(r) for r in group_rings])
    if road_segs.shape[0] == 0:
        return []
    nx, ny, dist, ang = geom.nearest_on_segments(verts[:, 0], verts[:, 1], road_segs)
    keep = dist < max_dist
    if not keep.any():
        return []
    # the reference sorts by np.cos(NEAR_ANGLE-in-degrees) and chain-
    # groups with maxdiff 1 over the cos values (IB-Tool2.py:2005-2013)
    # — replicated, including cos() applied to a degree value
    rows = sorted(
        zip(verts[keep, 0], verts[keep, 1], nx[keep], ny[keep], np.cos(ang[keep]), dist[keep]),
        key=lambda r: r[4],
    )
    groups: list[list[tuple]] = [[rows[0]]]
    for r in rows[1:]:
        if abs(r[4] - groups[-1][-1][4]) <= 1.0:
            groups[-1].append(r)
        else:
            groups.append([r])
    if len(groups) > 2:
        # drop the group with the largest mean distance when it clearly
        # dominates (the reference's h*1.5 > b comparison, replicated)
        means = [float(np.mean([g[5] for g in grp])) for grp in groups]
        h, b, p = 0.0, 0.0, -1
        for k, e in enumerate(means):
            if e > h:
                b = h
                h = e
                p = k
        if h * 1.5 > b and p >= 0:
            groups.pop(p)
    snap = np.array(
        [[g[0], g[1], g[2], g[3]] for grp in groups for g in grp], dtype=np.float64
    )
    if snap.shape[0] == 0:
        return []
    # roads touching any snap line (SelectLayerByLocation INTERSECT)
    touched = _touched_segments(snap, road_segs)
    seg_stack = [geom._rings_edges(group_rings), snap]
    if touched.any():
        seg_stack.append(road_segs[touched, :4])
    faces = geom.polygonize(np.vstack(seg_stack))

    out: list[list[np.ndarray]] = []
    for face in faces:
        # keep faces touching buildings (centroid-in proxy for the
        # reference's footprint INTERSECT)
        if bdg_x.shape[0] == 0 or not geom.points_in_polygon(bdg_x, bdg_y, face).any():
            continue
        pieces = [face]
        if block_polys is not None:
            # blocks table provided: faces live only inside blocks — an
            # empty subset clips everything away, exactly like looping a
            # full block table that never intersects this face
            pieces = []
            for bp in block_polys:
                inter = boolean.polygon_boolean(face, bp, "and")
                if inter and geom.polygon_area(inter) > 1e-9:
                    pieces.append(inter)
        for piece in pieces:
            if geom.polygon_area(piece) < group_area * 3.0:
                out.append(piece)
    return out


EDGE_CATCH_SCHEMA = (
    "cluster_id long, piece long, rings array<array<array<double>>>, area double"
)


def _ec_rows_pdf(cid, rings_list, road_segs, bx, by, block_polys, max_dist):
    pieces = _edge_catch_group_kernel(rings_list, road_segs, bx, by, block_polys, max_dist)
    return pd.DataFrame(
        [
            {
                "cluster_id": cid,
                "piece": k,
                "rings": [r.tolist() for r in piece],
                "area": geom.polygon_area(piece),
            }
            for k, piece in enumerate(pieces)
        ],
        columns=["cluster_id", "piece", "rings", "area"],
    )


def edge_catch_exact(
    boundaries: DataFrame,  # (cluster_id, rings)
    buildings: DataFrame,  # (cluster_id, cx, cy)
    roads: "pd.DataFrame | DataFrame",  # (rid, line)
    blocks: "pd.DataFrame | DataFrame | None" = None,  # (rings) / (block_id, rings)
    max_dist: float = 70.0,
    road_cell: float = 1024.0,
) -> DataFrame:
    """Exact EdgeCatch over cluster boundary polygons: one
    applyInPandas group per cluster (the reference iterates grouped
    boundaries one FID at a time).

    Pass ``roads`` (rid, line) and ``blocks`` (block_id, rings) as
    Spark DataFrames for the scale path: each cluster cogroups with its
    OWN road subset (boundary bbox padded by ``max_dist`` — every
    nearest-within-max_dist segment and every snap-line-touched segment
    provably lies in it) and its own block subset (assigned against the
    bbox EXTENDED by the road subset, since snapped faces can stretch
    along a touched road).  pandas inputs keep the small-scene closure
    path."""
    if blocks is not None:
        # an EMPTY-but-provided blocks table clips every face to nothing
        # (the correct semantics for "faces live only inside blocks") —
        # warn so an accidentally-empty table is distinguishable from
        # "no blocks near this cluster" (ADVICE r3)
        n_blocks = (
            len(blocks) if isinstance(blocks, pd.DataFrame) else blocks.limit(1).count()
        )
        if n_blocks == 0:
            import warnings

            warnings.warn(
                "edge_catch_exact: blocks table is provided but EMPTY — every "
                "face will be clipped away; pass blocks=None to keep faces",
                stacklevel=2,
            )
    if isinstance(roads, pd.DataFrame):
        road_segs = _road_segments_np(roads)[:, :4]
        block_polys = (
            [[np.asarray(r, dtype=np.float64) for r in b.rings] for b in blocks.itertuples()]
            if blocks is not None
            else None
        )
        joined = boundaries.select("cluster_id", "rings").join(
            buildings.select("cluster_id", "cx", "cy"), "cluster_id", "left"
        )

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            cid = int(pdf["cluster_id"].iloc[0])
            rings = [
                np.vstack([np.asarray(p, dtype=np.float64) for p in ring])
                for ring in pdf["rings"].iloc[0]
            ]
            pts = pdf[["cx", "cy"]].dropna().sort_values(["cx", "cy"])
            bx = pts["cx"].to_numpy(np.float64)
            by = pts["cy"].to_numpy(np.float64)
            return _ec_rows_pdf(cid, rings, road_segs, bx, by, block_polys, max_dist)

        return _spread(joined, "cluster_id").groupBy("cluster_id").applyInPandas(run, EDGE_CATCH_SCHEMA)

    # ---- DataFrame roads/blocks: per-cluster cogrouped subsets ----
    has_blocks = blocks is not None
    keys_bbox = _rings_bbox_cols(
        boundaries.select(F.col("cluster_id").alias("kid"), "rings"), "k"
    ).select("kid", "kminx", "kminy", "kmaxx", "kmaxy")
    roadsub = _segments_for_keys(
        keys_bbox, road_segments_df(roads), "kid", pad=max_dist, cell=road_cell
    )
    packed = roadsub.select(
        "kid",
        F.lit("road").alias("kind"),
        "x1",
        "y1",
        "x2",
        "y2",
        F.lit(-1).cast("long").alias("block_id"),
        F.expr("CAST(array() AS array<double>)").alias("coords"),
    )
    if has_blocks:
        # faces can stretch along any subset road segment, so blocks are
        # matched against the bbox extended by the road subset extents
        ext = roadsub.groupBy("kid").agg(
            F.min(F.least("x1", "x2")).alias("rminx"),
            F.min(F.least("y1", "y2")).alias("rminy"),
            F.max(F.greatest("x1", "x2")).alias("rmaxx"),
            F.max(F.greatest("y1", "y2")).alias("rmaxy"),
        )
        kb2 = keys_bbox.join(ext, "kid", "left").select(
            "kid",
            F.least("kminx", F.coalesce("rminx", "kminx")).alias("kminx"),
            F.least("kminy", F.coalesce("rminy", "kminy")).alias("kminy"),
            F.greatest("kmaxx", F.coalesce("rmaxx", "kmaxx")).alias("kmaxx"),
            F.greatest("kmaxy", F.coalesce("rmaxy", "kmaxy")).alias("kmaxy"),
        )
        blocksub = _polys_for_keys(kb2, blocks, "kid", pad=0.0, cell=road_cell)
        packed = packed.unionByName(
            blocksub.select(
                "kid",
                F.lit("block").alias("kind"),
                F.lit(0.0).alias("x1"),
                F.lit(0.0).alias("y1"),
                F.lit(0.0).alias("x2"),
                F.lit(0.0).alias("y2"),
                "block_id",
                _flat_rings_col().alias("coords"),
            )
        )

    joined = boundaries.select("cluster_id", "rings").join(
        buildings.select("cluster_id", "cx", "cy"), "cluster_id", "left"
    )

    def run_cg(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = ["cluster_id", "piece", "rings", "area"]
        if not len(left):
            return pd.DataFrame(columns=cols)
        cid = int(left["cluster_id"].iloc[0])
        rings = [
            np.vstack([np.asarray(p, dtype=np.float64) for p in ring])
            for ring in left["rings"].iloc[0]
        ]
        pts = left[["cx", "cy"]].dropna().sort_values(["cx", "cy"])
        bx = pts["cx"].to_numpy(np.float64)
        by = pts["cy"].to_numpy(np.float64)
        rd = right[right["kind"] == "road"] if len(right) else right
        road_segs = _sorted_segs_np(rd, with_len=False)
        bp = None
        if has_blocks:
            bp = []
            if len(right):
                bl = right[right["kind"] == "block"].sort_values("block_id")
                bp = [_decode_flat_rings(c) for c in bl["coords"]]
        return _ec_rows_pdf(cid, rings, road_segs, bx, by, bp, max_dist)

    return (
        _spread(joined, "cluster_id").groupBy("cluster_id")
        .cogroup(_spread(packed, "kid").groupBy("kid"))
        .applyInPandas(run_cg, EDGE_CATCH_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Rect_Merge + exact polygon dissolve — the reference MST_Clustering's
# actual OUTPUT is the merged MainAngle rectangles (IB-Tool2.py:
# 1628-1646), which the main pipeline then dissolves (IB-Tool2.py:
# 2507-11).  rect_merge emits one MainAngle rectangle per cluster;
# dissolve_polygons is the EXACT A1 dissolve (touching/overlapping
# polygons union into single features via the boolean kernel).
# ---------------------------------------------------------------------------

RECT_SCHEMA = "cluster_id long, rings array<array<array<double>>>, area double"


def rect_merge(buildings_with_clusters: DataFrame) -> DataFrame:
    """One MainAngle oriented rectangle per cluster (CalcBoundingRect
    over the cluster's footprint outline segments — the reference's
    Rect_Merge rows).  A cluster whose footprints yield ≤4 segments or
    a degenerate rectangle passes its footprint rings through instead —
    the reference's CalcBoundingRect likewise returns the input
    geometry when it emits no rectangle (IB-Tool2.py:636-642), which is
    what AddSinglBdg's single-footprint path hits."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        cid = int(pdf["cluster_id"].iloc[0])
        # applyInPandas gives no within-group row order, and MainAngle's
        # angle-run grouping and run-length sums walk segments in input
        # order — pin to bid order so rectangles are partition-invariant
        pdf = pdf.sort_values("bid").reset_index(drop=True)
        rings = [
            np.vstack([np.asarray(v, dtype=np.float64) for v in r[0]]) for r in pdf["rings"]
        ]
        segs = np.vstack([geom.ring_segments(r) for r in rings])
        corners, area = geom.main_angle_rect(segs)
        if corners is None or not np.isfinite(corners).all():
            out_rings = [r.tolist() for r in rings]
            area = float(sum(abs(geom.ring_area(r)) for r in rings))
        else:
            out_rings = [corners.tolist()]
            area = float(area)
        return pd.DataFrame(
            {"cluster_id": [cid], "rings": [out_rings], "area": [area]}
        )

    return buildings_with_clusters.select("bid", "cluster_id", "rings").groupBy(
        "cluster_id"
    ).applyInPandas(run, RECT_SCHEMA)


DISSOLVE_SCHEMA = "comp long, rings array<array<array<double>>>, area double, n_parts long"


def dissolve_polygons(polys: DataFrame, cell: float = 256.0) -> DataFrame:
    """EXACT Dissolve SINGLE_PART (A1 — Dissolve_management,
    IB-Tool2.py:826, 2507-11): polygons that intersect or touch merge
    into one feature via folded boolean union.

    Distributed shape: bbox coarse-cell join proposes candidate pairs,
    a vectorized segment-intersection/containment refine keeps real
    contacts, ops.edge_components_df labels the contact graph (driver
    union-find only below a constant cap; distributed min-label
    propagation beyond it — a city-dense dissolve with millions of
    touching rectangles never single-threads), and each component folds
    its members through the Martinez–Rueda union in applyInPandas."""
    from . import boolean

    pairs = ops._overlay_pairs(
        polys.select(F.col("id"), F.col("rings")),
        polys.select(F.col("id"), F.col("rings")),
        cell,
    ).filter(F.col("lid") < F.col("rid"))

    def refine(it):
        for pdf in it:
            if not len(pdf):
                yield pd.DataFrame(columns=["lid", "rid"]).astype({"lid": "int64", "rid": "int64"})
                continue
            # one batched edge×edge intersection test over ALL pairs in
            # the Arrow chunk (per-pair Python looping made a 100k-square
            # dissolve minutes-slow): cross-product edge rows per pair,
            # then a segmented any() via reduceat over pair offsets
            ringsets_a = [ops._np_rings(v) for v in pdf["l_rings"]]
            ringsets_b = [ops._np_rings(v) for v in pdf["r_rings"]]
            ea = [geom._rings_edges(a) for a in ringsets_a]
            eb = [geom._rings_edges(b) for b in ringsets_b]
            na = np.array([e.shape[0] for e in ea], dtype=np.int64)
            nb = np.array([e.shape[0] for e in eb], dtype=np.int64)
            cnt = na * nb
            left = np.repeat(np.concatenate(ea, axis=0), np.repeat(nb, na), axis=0)
            right = np.concatenate(
                [np.tile(b, (k, 1)) for b, k in zip(eb, na)], axis=0
            )
            hits = geom.segments_intersect(left, right)
            touch = np.zeros(len(pdf), dtype=bool)
            pos = cnt > 0
            if hits.size:
                off = np.concatenate([[0], np.cumsum(cnt[pos])[:-1]])
                touch[pos] = np.maximum.reduceat(hits, off)
            # containment without boundary contact (rare): scalar fallback
            for i in np.nonzero(~touch)[0]:
                pa = ringsets_a[i][0][0]
                pb = ringsets_b[i][0][0]
                touch[i] = bool(
                    geom.points_in_polygon(pa[:1], pa[1:], ringsets_b[i])[0]
                ) or bool(geom.points_in_polygon(pb[:1], pb[1:], ringsets_a[i])[0])
            m = np.nonzero(touch)[0]
            yield pd.DataFrame(
                {"lid": pdf["lid"].to_numpy()[m], "rid": pdf["rid"].to_numpy()[m]}
            )

    contacts = pairs.mapInPandas(refine, "lid long, rid long")
    mapping = ops.edge_components_df(
        contacts.select(F.col("lid").alias("src"), F.col("rid").alias("dst"))
    )
    labeled = polys.join(mapping, "id", "left").select(
        "id", "rings", F.coalesce("comp", F.col("id")).alias("comp")
    )

    def union_group(pdf: pd.DataFrame) -> pd.DataFrame:
        comp = int(pdf["comp"].iloc[0])
        members = sorted(
            (int(r.id), ops._np_rings(r.rings)) for r in pdf.itertuples()
        )
        # one planar-arrangement union over all members (deterministic:
        # members sorted by id): each input ring is noded once instead
        # of riding O(log m) Martinez–Rueda sweeps
        out = geom.union_many([rings for _mid, rings in members])
        return pd.DataFrame(
            {
                "comp": [comp],
                "rings": [[r.tolist() for r in out]],
                "area": [geom.polygon_area(out)],
                "n_parts": [len(members)],
            }
        )

    return _spread(labeled, "comp").groupBy("comp").applyInPandas(union_group, DISSOLVE_SCHEMA)


def full_delineation_exact(
    spark,
    per_cluster: int = 30,
    coverage_thresh: float = 12.0,
    min_bdg_count: int = 5,
    use_roads: bool = True,
    use_blocks: bool = True,
    use_edge_catch: bool = True,
    use_gap_close: bool = True,
    gap_dist: float = 30.0,
    stats_out: "dict | None" = None,
    ckpt: "object | None" = None,
) -> DataFrame:
    """The reference main() in EXACT geometry end-to-end, in the
    reference's own stage order (IB-Tool2.py:2401-2650, SURVEY.md:336):
    InputHU_Filter → density partitioning → Blocker (partition outline ∪
    roads → city blocks) → MST clustering → Rect_Merge (MainAngle
    rectangles) → AddSinglBdg → EdgeCatch (snap merged rectangles to
    roads, clip to blocks) → Dissolve SINGLE_PART (exact boolean union)
    → GapClose (block-gap fill + morphological closing; includes
    HoleClose) → PatchRemove (min building count with real-area overlap
    rescue).  GapFix needs no separate stage: the dissolve is global,
    not per-partition.  The cell-resolution :func:`full_delineation`
    remains the raster-pipeline twin.

    Every roads/blocks input rides the cogrouped-DataFrame scale path —
    no stage broadcasts the road network or block table into closures.

    ``ckpt``: optional :class:`checkpoint.StageCheckpoint` — when given,
    every stage boundary that would otherwise be an ephemeral
    ``localCheckpoint`` becomes a DURABLE parquet snapshot with a
    fingerprint manifest (per-file row/byte metrics), so a killed run
    resumes exactly at its last completed stage (the reference's
    PartLog work-queue semantics, IB-Tool2.py:2386-2399, for the whole
    exact chain).  The parquet round-trip cuts lineage just like
    localCheckpoint did; every downstream kernel sorts on entry, so
    resumed and fresh runs are bit-identical.

    Returns one row per boundary: (boundary_id, n_parts, n_buildings,
    area)."""
    from . import synth
    from .config import filter_predicate

    fp_base = (
        f"fde-v1|pc={per_cluster}|ct={coverage_thresh}|mb={min_bdg_count}"
        f"|roads={use_roads}|blocks={use_blocks}|ec={use_edge_catch}"
        f"|gc={use_gap_close}|gd={gap_dist}"
    )

    def _persist(df: DataFrame, name: str) -> DataFrame:
        if ckpt is None:
            return df.localCheckpoint(eager=True)
        return ckpt.stage(f"fde_{name}", f"{fp_base}|{name}", lambda: df)

    b = synth.buildings_df(spark, per_cluster=per_cluster)
    b = b.filter(filter_predicate(F.col("fkt"), list(synth.POS_FKT)) & (F.col("area") >= 35.0))

    cent_pts = b.select("bid", F.col("cx").alias("x"), F.col("cy").alias("y"))
    parts = density_partitions_df(
        cent_pts.withColumn("image_id", F.col("bid").cast("string")), 150.0, 300.0, 1e-5
    )
    bp = assign_partitions_df(
        b.withColumn("x", F.col("cx")).withColumn("y", F.col("cy")), parts, 150.0
    ).filter(F.col("part_name").isNotNull()).withColumnRenamed("part_name", "part")

    roads = synth.roads_df(spark).select("rid", "line") if use_roads else None

    # Blocker (IB-Tool2.py:2489, 645-681): city blocks per partition
    # from the outline ∪ road arrangement; global deterministic ids
    # each stage output is output-scale (hundreds of rows); eager
    # localCheckpoints cut the lineage so the branching self-joins
    # downstream (dissolve pairs, gap-close cogroup) never recompute
    # the whole upstream chain per branch (measured 420 s → ~40 s)
    bp = _persist(bp, "bp")
    blocks = None
    if use_blocks and roads is not None:
        outlines = partition_outlines(parts, 150.0)
        blocks = _persist(
            blocker(bp.select("cx", "cy", "part"), outlines, roads).select(
                F.xxhash64(F.col("part"), F.col("block_id")).alias("block_id"), "rings"
            ),
            "blocks",
        )

    clustered = mst_cluster(bp, coverage_thresh=coverage_thresh, roads=roads)
    joined = _persist(b.join(clustered.select("bid", "cluster_id"), "bid"), "joined")
    if stats_out is not None:
        # soak evidence: rows per grouped-kernel key (the cogrouped
        # kernels' input-size distribution — the quantity that must stay
        # bounded for the locality model to hold at scale)
        from .skew import skew_stats

        stats_out["buildings_per_cluster"] = skew_stats(joined, "cluster_id")
    rects = rect_merge(joined)

    # AddSinglBdg: detached >300 m² footprints become their own
    # geometry (IB-Tool2.py:1649-1702)
    singles = (
        b.join(clustered.select("bid"), "bid", "left_anti")
        .filter(F.col("area") > 300.0)
        .select("bid", F.col("bid").alias("cluster_id"), "rings")
    )
    single_rects = rect_merge(singles)
    all_rects = _persist(rects.unionByName(single_rects), "rects")

    # EdgeCatch on the merged rectangles (IB-Tool2.py:2501-05 runs it
    # before the dissolve); pieces join the rectangle set under fresh
    # deterministic ids
    to_dissolve = all_rects.select(F.col("cluster_id").alias("id"), "rings")
    if use_edge_catch and roads is not None:
        bcl = joined.select("cluster_id", "cx", "cy").unionByName(
            b.join(singles.select("bid"), "bid").select(
                F.col("bid").alias("cluster_id"), "cx", "cy"
            )
        )
        pieces = edge_catch_exact(
            all_rects.select("cluster_id", "rings"), bcl, roads, blocks=blocks
        )
        to_dissolve = to_dissolve.unionByName(
            pieces.select(
                F.xxhash64(F.col("cluster_id"), F.col("piece")).alias("id"), "rings"
            )
        )

    dissolved = _persist(
        dissolve_polygons(_persist(to_dissolve, "pieces"), cell=512.0), "dissolved"
    )

    # GapClose (IB-Tool2.py:2513): hole fill + block-gap annex +
    # double-buffer closing on each dissolved boundary
    if use_gap_close:
        closed = gap_close_exact(
            dissolved.select(F.col("comp").alias("id"), "rings"),
            blocks,
            gap_dist=gap_dist,
        )
        dissolved = _persist(
            closed.select(F.col("id").alias("comp"), "rings", "area").join(
                dissolved.select("comp", "n_parts"), "comp"
            ),
            "closed",  # PatchRemove branches it 3×
        )

    return patch_remove_exact(dissolved, b, min_bdg_count).orderBy("boundary_id")


def patch_remove_exact(
    dissolved: DataFrame,  # (comp, rings, area, n_parts)
    buildings: DataFrame,  # (bid, cx, cy, area)
    min_bdg_count: int = 5,
    min_overlap_pct: float = 15.0,
    cell: float = 512.0,
) -> DataFrame:
    """PatchRemove (IB-Tool2.py:2197-2245): building count per boundary
    via PIP of footprint centroids, with the overlap rescue on REAL
    footprint area (the reference sums actual Shape_Area; a
    mean-footprint constant misfires for systematically large/small
    buildings).

    Fully distributed: buildings route to candidate boundaries by a
    coarse-cell bbox join, each boundary cogroups with its candidate
    buildings, and one vectorized even-odd test per group settles the
    counts — the boundary rings never collect to the driver (gap-closed
    boundaries carry hundreds of arc vertices each; the round-2
    driver-side cover build took minutes on them)."""
    keys_bbox = _rings_bbox_cols(
        dissolved.select(F.col("comp").alias("kid"), "rings"), "k"
    ).select("kid", "kminx", "kminy", "kmaxx", "kmaxy")
    kc = keys_bbox.withColumn(
        "cgx",
        F.explode(
            F.sequence(F.floor(F.col("kminx") / F.lit(cell)), F.floor(F.col("kmaxx") / F.lit(cell)))
        ),
    ).withColumn(
        "cgy",
        F.explode(
            F.sequence(F.floor(F.col("kminy") / F.lit(cell)), F.floor(F.col("kmaxy") / F.lit(cell)))
        ),
    )
    pts = (
        buildings.select("bid", "cx", "cy", "area")
        .withColumn("cgx", F.floor(F.col("cx") / F.lit(cell)))
        .withColumn("cgy", F.floor(F.col("cy") / F.lit(cell)))
    )
    cand = (
        pts.join(kc, ["cgx", "cgy"])
        .filter(
            (F.col("cx") >= F.col("kminx"))
            & (F.col("cx") <= F.col("kmaxx"))
            & (F.col("cy") >= F.col("kminy"))
            & (F.col("cy") <= F.col("kmaxy"))
        )
        .select("kid", "bid", "cx", "cy", "area")
    )
    right = dissolved.select(F.col("comp").alias("kid"), _flat_rings_col().alias("coords"))

    def run_cg(left: pd.DataFrame, right_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = {"comp": "int64", "n_buildings": "int64", "bdg_area": "float64"}
        if not len(left) or not len(right_pdf):
            return pd.DataFrame({k: pd.Series(dtype=v) for k, v in cols.items()})
        rings = _decode_flat_rings(right_pdf["coords"].iloc[0])
        # applyInPandas gives no within-group row order; the float area
        # sum feeds the 15% rescue threshold, so pin summation order
        left = left.sort_values("bid").reset_index(drop=True)
        inside = geom.points_in_polygon(
            left["cx"].to_numpy(np.float64), left["cy"].to_numpy(np.float64), rings
        )
        return pd.DataFrame(
            {
                "comp": [int(left["kid"].iloc[0])],
                "n_buildings": [int(inside.sum())],
                "bdg_area": [float(left["area"].to_numpy(np.float64)[inside].sum())],
            }
        )

    counts = (
        _spread(cand, "kid").groupBy("kid")
        .cogroup(_spread(right, "kid").groupBy("kid"))
        .applyInPandas(run_cg, "comp long, n_buildings long, bdg_area double")
    )
    stats = dissolved.join(counts, "comp", "left").fillna(0, ["n_buildings", "bdg_area"])
    keep = (F.col("n_buildings") >= min_bdg_count) | (
        F.try_divide(F.col("bdg_area"), F.col("area")) * 100.0 >= F.lit(min_overlap_pct)
    )
    return stats.filter(keep).select(
        F.col("comp").alias("boundary_id"),
        "n_parts",
        F.col("n_buildings").cast("long").alias("n_buildings"),
        "area",
    )


GAP_CLOSE_SCHEMA = "id long, rings array<array<array<double>>>, area double"


def _gap_close_kernel(
    fid: int,
    rings: list[np.ndarray],
    block_polys: list[list[np.ndarray]],
    max_hole: float,
    max_gap: float,
    gap_dist: float,
    shared_pct: float,
) -> pd.DataFrame:
    from . import boolean

    poly = geom.close_holes(rings, max_hole)
    minx, miny, maxx, maxy = geom.rings_bbox(poly)
    for bp in block_polys:
        bminx, bminy, bmaxx, bmaxy = geom.rings_bbox(bp)
        if bmaxx < minx or maxx < bminx or bmaxy < miny or maxy < bminy:
            continue
        gaps = boolean.polygon_boolean(bp, poly, "not")
        # singlepart: each positive face of the remainder is a
        # candidate gap (polygonize on its own edges splits parts)
        for piece in geom.polygonize(geom._rings_edges(gaps)) if gaps else []:
            a = geom.polygon_area(piece)
            if a <= 0.0 or a >= max_gap:
                continue
            per = geom.polygon_perimeter(piece)
            if per <= 0.0:
                continue
            shared = geom.shared_boundary_length(piece, poly)
            if shared / per * 100.0 >= shared_pct:
                poly = boolean.polygon_boolean(poly, piece, "or")
    if gap_dist > 0.0:  # distance 0 = no morphological closing
        poly = geom.close_polygon(poly, gap_dist)
    poly = geom.close_holes(poly, max_hole)
    return pd.DataFrame(
        {
            "id": [fid],
            "rings": [[r.tolist() for r in poly]],
            "area": [geom.polygon_area(poly)],
        }
    )


def gap_close_exact(
    boundaries: DataFrame,  # (id, rings)
    blocks: "pd.DataFrame | DataFrame | None" = None,  # (rings) / (block_id, rings)
    max_hole: float = 1000.0,
    max_gap: float = 2000.0,
    gap_dist: float = 30.0,
    shared_pct: float = 70.0,
    road_cell: float = 1024.0,
) -> DataFrame:
    """Exact GapClose (IB-Tool2.py:1752-1901), one applyInPandas group
    per boundary feature:

    1. HoleClose: drop hole rings below ``max_hole`` (geom.close_holes);
    2. block-gap fill: pieces of overlapping blocks NOT covered by the
       boundary, smaller than ``max_gap``, sharing ≥ ``shared_pct`` %
       of their outline with the boundary (GapSelect's shared-edge
       test) union in;
    3. double-buffer morphological closing by ``gap_dist``
       (geom.close_polygon);
    4. HoleClose again.

    Pass ``blocks`` as a Spark DataFrame (block_id, rings) for the
    scale path: each boundary cogroups with ONLY the blocks whose bbox
    overlaps its own (extended once by the first-tier subset's extents,
    since gap fills can grow the boundary into a neighboring block's
    reach), iterated in block_id order.  A pandas blocks table keeps
    the small-scene closure path (iterated in row order)."""
    if blocks is not None and not isinstance(blocks, pd.DataFrame):
        # ---- DataFrame blocks: per-boundary cogrouped subset ----
        keys_bbox = _rings_bbox_cols(
            boundaries.select(F.col("id").alias("kid"), "rings"), "k"
        ).select("kid", "kminx", "kminy", "kmaxx", "kmaxy")
        tier1 = _polys_for_keys(keys_bbox, blocks, "kid", pad=0.0, cell=road_cell)
        t1b = _rings_bbox_cols(tier1.select("kid", "rings"), "p").groupBy("kid").agg(
            F.min("pminx").alias("rminx"),
            F.min("pminy").alias("rminy"),
            F.max("pmaxx").alias("rmaxx"),
            F.max("pmaxy").alias("rmaxy"),
        )
        kb2 = keys_bbox.join(t1b, "kid", "left").select(
            "kid",
            F.least("kminx", F.coalesce("rminx", "kminx")).alias("kminx"),
            F.least("kminy", F.coalesce("rminy", "kminy")).alias("kminy"),
            F.greatest("kmaxx", F.coalesce("rmaxx", "kmaxx")).alias("kmaxx"),
            F.greatest("kmaxy", F.coalesce("rmaxy", "kmaxy")).alias("kmaxy"),
        )
        blocksub = _polys_for_keys(kb2, blocks, "kid", pad=0.0, cell=road_cell).select(
            "kid", "block_id", _flat_rings_col().alias("coords")
        )

        def run_cg(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if not len(left):
                return pd.DataFrame(columns=["id", "rings", "area"])
            fid = int(left["id"].iloc[0])
            rings = [
                np.vstack([np.asarray(p, dtype=np.float64) for p in ring])
                for ring in left["rings"].iloc[0]
            ]
            bp = (
                [_decode_flat_rings(c) for c in right.sort_values("block_id")["coords"]]
                if len(right)
                else []
            )
            return _gap_close_kernel(fid, rings, bp, max_hole, max_gap, gap_dist, shared_pct)

        return (
            _spread(boundaries.select("id", "rings"), "id")
            .groupBy("id")
            .cogroup(_spread(blocksub, "kid").groupBy("kid"))
            .applyInPandas(run_cg, GAP_CLOSE_SCHEMA)
        )

    block_polys = (
        [[np.asarray(r, dtype=np.float64) for r in b.rings] for b in blocks.itertuples()]
        if blocks is not None
        else []
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        fid = int(pdf["id"].iloc[0])
        rings = [
            np.vstack([np.asarray(p, dtype=np.float64) for p in ring])
            for ring in pdf["rings"].iloc[0]
        ]
        return _gap_close_kernel(
            fid, rings, block_polys, max_hole, max_gap, gap_dist, shared_pct
        )

    return _spread(boundaries.select("id", "rings"), "id").groupBy("id").applyInPandas(
        run, GAP_CLOSE_SCHEMA
    )
