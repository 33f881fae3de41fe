"""Final refinement composites: PatchRemove, GapFix, HoleClose."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ib_tool_spark import delineate, ops


def _cells(spark, triples):
    pdf = pd.DataFrame(triples, columns=["gx", "gy", "cluster_id"])
    return spark.createDataFrame(pdf, "gx long, gy long, cluster_id long")


def test_patch_remove(spark):
    # cluster 0: big + many buildings (kept); 1: tiny + empty (dropped);
    # 2: tiny but dense (rescued)
    cells = (
        [(x, y, 0) for x in range(10) for y in range(10)]
        + [(20 + x, 0, 1) for x in range(3)]
        + [(30 + x, 0, 2) for x in range(3)]
    )
    df = _cells(spark, cells)
    b_rows = [(i, 5.0 + (i % 10), 5.0 + (i // 10), 80.0) for i in range(12)]
    # dense rescue: buildings covering >15% of cluster 2's 3 cells (cell=10 → 300 m²)
    b_rows += [(100 + i, 305.0 + i * 2, 5.0, 60.0) for i in range(3)]
    buildings = spark.createDataFrame(b_rows, "bid long, cx double, cy double, area double")
    kept = (
        delineate.patch_remove(df, buildings, cell_size=10.0, min_bdg_count=10, min_patch_cells=8)
        .select("cluster_id")
        .distinct()
        .toPandas()["cluster_id"]
        .tolist()
    )
    assert sorted(kept) == [0, 2]
    # the driver twin that finishes a driver-placed full_delineation
    mask = delineate._patch_remove_np(
        np.array(cells, dtype=np.int64),
        pd.DataFrame(b_rows, columns=["bid", "cx", "cy", "area"]),
        cell_size=10.0,
        min_bdg_count=10,
        min_patch_cells=8,
    )
    assert sorted({c[2] for c, k in zip(cells, mask) if k}) == [0, 2]
    assert mask.sum() == 100 + 3


def test_gap_fix_stitches_across_partitions(spark):
    # two clusters from different partitions sharing an edge → one id
    cells = [(x, 0, 0) for x in range(5)] + [(x, 0, 1) for x in range(5, 10)] + [(20, 20, 2)]
    out = delineate.gap_fix(_cells(spark, cells)).toPandas()
    ids = out.groupby("cluster_id")["boundary_id"].unique()
    assert ids[0][0] == ids[1][0]  # stitched
    assert ids[2][0] != ids[0][0]  # distant patch stays separate


def test_full_delineation_end_to_end(spark):
    from ib_tool_spark import delineate

    out = delineate.full_delineation(spark, per_cluster=20).toPandas()
    # ≥1 boundary per settlement core plus AddSinglBdg singleton halls
    assert 48 <= len(out) <= 250, len(out)
    assert (out["area"] > 3000).all()
    # some settlement bodies are substantial (>3 ha).  Calibrated for
    # the MainAngle accept rule + the EXACT round footprint buffer:
    # round-1's bbox dilation over-buffered rotated footprints by up to
    # the half-diagonal, gluing neighbors into mega-boundaries (33 on
    # this scene); the exact 25 m buffer keeps bodies tight (6).
    assert (out["area"] > 30000).sum() >= 5, (out["area"] > 30000).sum()
    # deterministic
    out2 = delineate.full_delineation(spark, per_cluster=20).toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(
        out.reset_index(drop=True), out2.reset_index(drop=True)
    )
    # and independent of the session's Arrow setting
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out3 = delineate.full_delineation(spark, per_cluster=20).toPandas()
    finally:
        spark.conf.set(key, old)
    pd.testing.assert_frame_equal(
        out.reset_index(drop=True), out3.reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def keyed_scene(spark):
    """The filtered synthetic buildings and the same rows keyed by
    density partition, as full_delineation builds them."""
    from ib_tool_spark import synth
    from ib_tool_spark.config import filter_predicate

    b = synth.buildings_df(spark, per_cluster=20)
    b = b.filter(filter_predicate(F.col("fkt"), list(synth.POS_FKT)) & (F.col("area") >= 35.0))
    pts = b.select(
        F.col("bid").cast("string").alias("image_id"), F.col("cx").alias("x"), F.col("cy").alias("y")
    )
    parts = delineate.density_partitions_df(pts, 150.0, 300.0, 1e-5)
    keyed = delineate.assign_partitions_df(
        b.withColumn("x", F.col("cx")).withColumn("y", F.col("cy")), parts, 150.0
    )
    return b, keyed


def _sorted_cells(df):
    return df.sort_values(["cluster_id", "gx", "gy"]).reset_index(drop=True)


def _kernel_rows(per_cluster: int) -> pd.DataFrame:
    """full_delineation's kernel input: the filtered buildings keyed in
    numpy, partitioned or above 300 m²."""
    from ib_tool_spark import synth

    keyed = delineate._keyed_buildings_np(
        delineate._filtered_buildings(synth.buildings_pdf(per_cluster=per_cluster))
    )
    return keyed[keyed["part"].notna() | (keyed["area"] > delineate._SINGLE_MIN_AREA)]


def _near(rows: pd.DataFrame, use_roads: bool):
    from ib_tool_spark import synth

    if not use_roads:
        return None
    return delineate._near_segments(rows, delineate._road_segments_np(synth.roads_pdf()[["rid", "line"]]))


@pytest.mark.parametrize("use_roads", [True, False], ids=["roads", "no_roads"])
def test_mst_cluster_cells_matches_staged_stages(spark, keyed_scene, use_roads):
    """The fused kernel (_mst_cells_kernel over _keyed_buildings_np's
    rows) emits the rows of mst_cluster + cluster_cells for the
    partitioned buildings and of cluster_cells over the AddSinglBdg
    singletons, flagged apart; the staged side keys the buildings in
    Spark and fetches its roads from a Spark frame."""
    from ib_tool_spark import synth

    b, keyed = keyed_scene
    rows = _kernel_rows(20)
    fused = delineate._mst_cells_kernel(rows, _near(rows, use_roads), 12.0, 16.0)
    roads = synth.roads_df(spark).select("rid", "line") if use_roads else None

    bp = keyed.filter(F.col("part_name").isNotNull()).withColumnRenamed("part_name", "part")
    clustered = delineate.mst_cluster(bp, roads=roads)
    main = delineate.cluster_cells(b.join(clustered.select("bid", "cluster_id"), "bid"), 25.0, 16.0)
    singles = (
        b.join(clustered.select("bid"), "bid", "left_anti")
        .filter(F.col("area") > 300.0)
        .select("bid", F.col("bid").alias("cluster_id"))
    )
    single = delineate.cluster_cells(b.join(singles, "bid"), 25.0, 16.0)

    want_main = _sorted_cells(main.toPandas())
    want_single = _sorted_cells(single.toPandas())
    assert len(want_main) and len(want_single)
    cols = ["gx", "gy", "cluster_id"]
    pd.testing.assert_frame_equal(_sorted_cells(fused[~fused["single"]][cols]), want_main)
    pd.testing.assert_frame_equal(_sorted_cells(fused[fused["single"]][cols]), want_single)


def _block(x0, y0, w, h):
    return {(x0 + x, y0 + y) for x in range(w) for y in range(h)}


def _fill_per_component(labeled: pd.DataFrame, max_hole_cells: int) -> pd.DataFrame:
    """_fill_holes_np over each ``comp`` of (gx, gy, comp) rows, as
    (gx, gy, boundary_id) sorted by (boundary_id, gx, gy)."""
    parts = [
        pd.DataFrame(
            delineate._fill_holes_np(
                g["gx"].to_numpy(np.int64), g["gy"].to_numpy(np.int64), max_hole_cells
            ),
            columns=["gx", "gy"],
        ).assign(boundary_id=np.int64(comp))
        for comp, g in labeled.groupby("comp")
    ]
    out = pd.concat(parts, ignore_index=True)
    return out.sort_values(["boundary_id", "gx", "gy"]).reset_index(drop=True)


def test_label_and_close_paths_agree(spark):
    """_close_np gives the frame of the distributed labelling
    (ops.cell_components_df with cap=0) closed per component by
    _fill_holes_np: holes of 1 and max_hole_cells cells close, one cell
    larger stays open, and an island inside a closed hole keeps its own
    id while its ring's fill covers it too."""
    k = 9
    a = _block(0, 0, 3, 3) - {(1, 1)}  # 1-cell hole
    b = _block(10, 0, 5, 5) - _block(11, 1, 3, 3)  # k-cell hole
    c = _block(20, 0, 7, 4) - _block(21, 1, 5, 2)  # (k + 1)-cell hole
    d = _block(30, 0, 5, 5) - _block(31, 1, 3, 3)  # k-cell hole around an island
    island = {(32, 2)}
    cells = sorted(a | b | c | d | island)

    closed = delineate._close_np(np.array(cells, dtype=np.int64), k)
    driver = pd.DataFrame(closed, columns=["gx", "gy", "boundary_id"])
    driver = driver.sort_values(["boundary_id", "gx", "gy"]).reset_index(drop=True)
    labeled = ops.cell_components_df(spark.createDataFrame(cells, "gx long, gy long"), cap=0)
    assert not labeled.isLocal()  # the super-cell plan, not a driver-built table
    pd.testing.assert_frame_equal(driver, _fill_per_component(labeled.toPandas(), k))

    by_id = {bid: set(zip(g["gx"], g["gy"])) for bid, g in driver.groupby("boundary_id")}
    assert by_id == {
        0: _block(0, 0, 3, 3),
        1: _block(10, 0, 5, 5),
        2: c,
        3: _block(30, 0, 5, 5),
        4: island,
    }


def _scene_subset(spark, keyed_scene):
    """The keyed buildings of eight settlements (about a sixth of the
    scene), so the grouped placement stays quick."""
    _b, keyed = keyed_scene
    return keyed.filter(F.col("true_cluster") < 8)


def _road_variants(spark):
    from ib_tool_spark import synth

    return {
        "spark": synth.roads_df(spark).select("rid", "line"),
        "pandas": synth.roads_pdf()[["rid", "line"]],
        "none": None,
    }


def _placement(df):
    plan = df._jdf.queryExecution().toString()
    if df.isLocal():
        assert "PythonUDF" not in plan and "InPandas" not in plan, plan[:2000]
        return "driver"
    assert "FlatMapCoGroupsInPandas" in plan or "FlatMapGroupsInPandas" in plan, plan[:2000]
    return "grouped"


@pytest.mark.parametrize("roads_kind", ["spark", "pandas", "none"])
def test_per_partition_placements_agree(spark, keyed_scene, roads_kind):
    """mst_cluster returns the same frame on the driver (default cap)
    and in the grouped stage (cap=0), with Spark roads, pandas roads
    and none."""
    keyed = _scene_subset(spark, keyed_scene)
    roads = _road_variants(spark)[roads_kind]
    bp = keyed.filter(F.col("part_name").isNotNull()).withColumnRenamed("part_name", "part")
    order = ["part", "bid"]
    driver = delineate.mst_cluster(bp, roads=roads)
    grouped = delineate.mst_cluster(bp, roads=roads, cap=0)
    assert (_placement(driver), _placement(grouped)) == ("driver", "grouped")
    want = grouped.toPandas().sort_values(order).reset_index(drop=True)
    got = driver.toPandas().sort_values(order).reset_index(drop=True)
    assert len(want)
    pd.testing.assert_frame_equal(got, want)


def test_per_partition_cap_boundary(spark, keyed_scene):
    """n kernel input rows run on the driver at cap = n and in the
    grouped stage at cap = n - 1, with the same rows.  Spark roads are
    fetched under the same cap: with more segments near the buildings
    than the cap allows, the grouped stage runs, with the same rows."""
    from ib_tool_spark import synth

    keyed = _scene_subset(spark, keyed_scene).filter(F.col("true_cluster") < 3)
    bp = keyed.filter(F.col("part_name").isNotNull()).withColumnRenamed("part_name", "part")
    n = bp.count()
    order = ["part", "bid"]

    def clusters(roads, cap):
        out = delineate.mst_cluster(bp, roads=roads, cap=cap)
        return _placement(out), out.toPandas().sort_values(order).reset_index(drop=True)

    for roads in (None, synth.roads_pdf()[["rid", "line"]]):
        (p_at, at_cap), (p_above, above) = clusters(roads, n), clusters(roads, n - 1)
        assert (p_at, p_above) == ("driver", "grouped")
        pd.testing.assert_frame_equal(at_cap, above)

    # the n buildings fit, so the road fetch is what exceeds the cap
    roads = synth.roads_df(spark).select("rid", "line")
    (p_at, at_cap), (p_grouped, grouped) = clusters(roads, n), clusters(roads, 0)
    assert (p_at, p_grouped) == ("grouped", "grouped")
    pd.testing.assert_frame_equal(at_cap, grouped)


def _round_buffer_cells(ring: np.ndarray, buffer_m: float, cell_size: float) -> set:
    """Reference for delineate._buffer_cells_np, one footprint at a
    time: cells of the footprint's padded bbox whose center lies within
    ``buffer_m`` of it (geom.point_polygon_distance)."""
    from ib_tool_spark import geom

    minx, miny = ring.min(axis=0) - buffer_m
    maxx, maxy = ring.max(axis=0) + buffer_m
    gx = np.arange(int(np.floor(minx / cell_size)), int(np.floor(maxx / cell_size)) + 1)
    gy = np.arange(int(np.floor(miny / cell_size)), int(np.floor(maxy / cell_size)) + 1)
    gxx, gyy = np.meshgrid(gx, gy)
    gxx, gyy = gxx.ravel(), gyy.ravel()
    d = geom.point_polygon_distance((gxx + 0.5) * cell_size, (gyy + 0.5) * cell_size, [ring])
    near = d <= buffer_m
    return set(zip(gxx[near].tolist(), gyy[near].tolist()))


def _reference_cells(rings, buffer_m, cell_size) -> np.ndarray:
    cells: set = set()
    for rlist in rings:
        ring = np.vstack([np.asarray(v, dtype=np.float64) for v in rlist[0]])
        cells |= _round_buffer_cells(ring, buffer_m, cell_size)
    return np.array(sorted(cells), dtype=np.int64).reshape(-1, 2)


def test_buffer_cells_match_per_footprint_reference():
    """The vectorized buffer kernel equals the per-footprint reference
    on every settlement of the scene and on its AddSinglBdg halls, on
    seeded rotated rectangles with negative coordinates and on rings
    of mixed vertex counts; with labels it equals one call per label."""
    from ib_tool_spark import geom, synth

    pdf = synth.buildings_pdf(per_cluster=20)
    groups = [g["rings"] for _k, g in pdf.groupby("true_cluster")]
    groups += [pdf["rings"].iloc[i : i + 1] for i in pdf.index[pdf["area"] > 300.0][:20]]
    rng = np.random.RandomState(17)
    for _ in range(60):
        rings = []
        for _j in range(rng.randint(1, 6)):
            cx, cy = rng.uniform(-900.0, 40.0, size=2)
            if rng.uniform() < 0.3:  # a triangle or pentagon among rectangles
                k = rng.choice([3, 5])
                ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
                ring = np.stack([cx + 12 * np.cos(ang), cy + 9 * np.sin(ang)], axis=1)
            else:
                ring = geom.rect_ring(cx, cy, *rng.uniform(1.0, 40.0, 2), rng.uniform(0, np.pi))
            rings.append([ring.tolist()])
        groups.append(rings)
    for i, rings in enumerate(groups):
        for buffer_m, cell_size in ((25.0, 16.0), (25.0, 8.0), (7.3, 3.0)):
            want = _reference_cells(rings, buffer_m, cell_size)
            got = delineate._buffer_cells_np(rings, buffer_m, cell_size)
            assert got.dtype == np.int64 and np.array_equal(got, want), (i, buffer_m, cell_size)

    rings = list(pdf["rings"].iloc[:40])
    labels = np.arange(40) % 3 + 100
    got = delineate._buffer_cells_np(rings, 25.0, 16.0, labels=labels)
    want = np.concatenate(
        [
            np.column_stack([np.full(len(c), lab), c])
            for lab in (100, 101, 102)
            for c in [delineate._buffer_cells_np([r for r, l in zip(rings, labels) if l == lab], 25.0, 16.0)]
        ]
    )
    assert np.array_equal(got, want)
    assert delineate._buffer_cells_np([], 25.0, 16.0).shape == (0, 2)


ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"


def _full_delineation_in_spark(spark, per_cluster: int, use_roads: bool) -> pd.DataFrame:
    """full_delineation's frame rebuilt from the Spark operators: the
    kernel's rows as a Spark frame, the JVM patch_remove plus the
    singletons, the distributed labelling (ops.cell_components_df with
    cap=0), _fill_holes_np per boundary, then counts and area."""
    from ib_tool_spark import synth

    rows = _kernel_rows(per_cluster)
    cells = spark.createDataFrame(
        delineate._mst_cells_kernel(rows, _near(rows, use_roads), 12.0, 16.0),
        "gx long, gy long, cluster_id long, single boolean",
    )
    b = delineate._filtered_buildings(synth.buildings_pdf(per_cluster=per_cluster))
    b_df = spark.createDataFrame(b[["cx", "cy", "area"]], "cx double, cy double, area double")
    main = cells.filter(~F.col("single")).select("gx", "gy", "cluster_id")
    kept = delineate.patch_remove(main, b_df, 16.0, min_bdg_count=5, min_patch_cells=4)
    stitched = kept.unionByName(cells.filter(F.col("single")).select("gx", "gy", "cluster_id"))
    labeled = ops.cell_components_df(stitched, cap=0).toPandas()
    counts = _fill_per_component(labeled, 64).groupby("boundary_id").size()
    return pd.DataFrame(
        {
            "boundary_id": counts.index.to_numpy(np.int64),
            "n_cells": counts.to_numpy(np.int64),
            "area": counts.to_numpy(np.float64) * 16.0 * 16.0,
        }
    )


@pytest.mark.parametrize("arrow", ["true", "false"], ids=["arrow_on", "arrow_off"])
@pytest.mark.parametrize("use_roads", [True, False], ids=["roads", "no_roads"])
def test_full_delineation_placements_agree(spark, use_roads, arrow):
    """full_delineation's driver finish (PatchRemove, the stitch,
    HoleClose in numpy) gives the frame that the Spark operators build
    from the same kernel rows, with or without roads, with Arrow on or
    off."""
    old = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, arrow)
    try:
        got = delineate.full_delineation(spark, per_cluster=20, use_roads=use_roads).toPandas()
        want = _full_delineation_in_spark(spark, 20, use_roads)
    finally:
        spark.conf.set(ARROW_KEY, old)
    assert len(want) > 48
    pd.testing.assert_frame_equal(got, want)


def test_full_delineation_matches_benchmark_digest(spark):
    """full_delineation(per_cluster=30) has the digest the delineate
    benchmark stores in perfbench/expected_delineate.json, with Arrow on
    and off: (rows, bit_xor of xxhash64 over every column)."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "perfbench", "expected_delineate.json")) as f:
        want = list(json.load(f)["digest"])
    old = spark.conf.get(ARROW_KEY)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(ARROW_KEY, arrow)
            df = delineate.full_delineation(spark, per_cluster=30)
            row = df.select(
                F.count(F.lit(1)), F.coalesce(F.bit_xor(F.xxhash64(*df.columns)), F.lit(0))
            ).collect()[0]
            assert list(row) == want, (arrow, list(row))
    finally:
        spark.conf.set(ARROW_KEY, old)
