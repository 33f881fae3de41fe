"""Round-3 scale path: roads/blocks arrive as cogrouped DataFrames
(per-group subsets via coarse-cell bbox joins) instead of driver-pandas
closures.  Every composite must produce IDENTICAL rows on both paths,
and the DataFrame path must tolerate a road table far beyond
closure-comfortable size (only the relevant subset reaches any task).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ib_tool_spark import delineate, geom, synth


@pytest.fixture(scope="module")
def scene(spark):
    b = synth.buildings_df(spark, per_cluster=25).withColumn(
        "part", F.concat(F.lit("P"), F.col("true_cluster"))
    )
    roads_pd = synth.roads_pdf()[["rid", "line"]]
    roads_sp = synth.roads_df(spark).select("rid", "line")
    return b, roads_pd, roads_sp


def _random_roads(seed: int = 11, n: int = 60) -> pd.DataFrame:
    """Seeded random polylines of 2-12 vertices, plus dead-end stubs
    whose total length lies within 1e-6 m of the 50 m exemption."""
    rng = np.random.default_rng(seed)
    rows = []
    for rid in range(n):
        k = int(rng.integers(2, 13))
        start = rng.uniform(-5_000.0, 5_000.0, 2)
        pts = start + np.cumsum(rng.normal(0.0, 40.0, (k, 2)), axis=0)
        rows.append((rid, pts.tolist()))
    for i in range(24):
        theta = rng.uniform(0.0, 2.0 * np.pi)
        length = 50.0 + rng.uniform(-1e-6, 1e-6)
        frac = np.sort(rng.uniform(0.0, 1.0, int(rng.integers(0, 4))))
        t = np.concatenate([[0.0], frac, [1.0]]) * length
        start = rng.uniform(-5_000.0, 5_000.0, 2)
        pts = start + t[:, None] * np.array([np.cos(theta), np.sin(theta)])
        rows.append((n + i, pts.tolist()))
    return pd.DataFrame(rows, columns=["rid", "line"])


def test_road_segments_df_matches_pdf(spark, scene):
    """The driver builder and the Spark explode give the same rows, bit
    for bit (L included), on the scene's roads and on random polylines
    with stubs at the dead-end threshold; the driver builder reads a
    pandas frame or the Arrow table a bounded fetch returns."""
    from ib_tool_spark import ops

    _b, roads_pd, roads_sp = scene
    rand_pd = _random_roads()
    rand_sp = ops.local_df(spark, rand_pd, "rid long, line array<array<double>>")
    stubs = delineate._road_segments_np(rand_pd.tail(24))
    assert (np.abs(stubs[:, 4] - 50.0) <= 1e-6).all()
    assert (stubs[:, 4] < 50.0).any() and (stubs[:, 4] >= 50.0).any()
    for pdf, sdf in ((roads_pd, roads_sp), (rand_pd, rand_sp)):
        a = delineate._road_segments_np(pdf)
        t = delineate._road_segments_np(sdf.select("rid", "line").toArrow())
        c = (
            delineate.road_segments_df(sdf)
            .toPandas()[["x1", "y1", "x2", "y2", "L"]]
            .to_numpy(np.float64)
        )
        assert a.shape == c.shape == t.shape and a.shape[1] == 5
        np.testing.assert_array_equal(a, t)
        a = a[np.lexsort(a.T[::-1])]
        c = c[np.lexsort(c.T[::-1])]
        np.testing.assert_array_equal(a, c)


def test_mst_cluster_df_roads_parity(spark, scene):
    b, roads_pd, roads_sp = scene
    a = (
        delineate.mst_cluster(b, roads=roads_pd)
        .toPandas()
        .sort_values("bid")
        .reset_index(drop=True)
    )
    c = (
        delineate.mst_cluster(b, roads=roads_sp)
        .toPandas()
        .sort_values("bid")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, c)
    # road pruning must actually bite vs the no-roads run
    n = (
        delineate.mst_cluster(b)
        .toPandas()
        .sort_values("bid")
        .reset_index(drop=True)
    )
    assert not n["cluster_id"].equals(a["cluster_id"])


def test_mst_cluster_df_roads_beyond_closure_scale(spark, scene):
    # 100k irrelevant far-away segments added to the road table: the
    # cogrouped subset path must return EXACTLY the relevant-roads
    # answer (far segments never reach a kernel), at a table size no
    # sane closure would broadcast per task.
    b, _roads_pd, roads_sp = scene
    n_far = 100_000
    far = (
        spark.range(n_far)
        .select(
            (F.col("id") + 10_000).alias("rid"),
            F.array(
                F.array(
                    F.lit(1.0e6) + F.col("id").cast("double") * 10.0, F.lit(0.0)
                ),
                F.array(
                    F.lit(1.0e6) + F.col("id").cast("double") * 10.0 + 60.0,
                    F.lit(60.0),
                ),
            ).alias("line"),
        )
    )
    big = roads_sp.unionByName(far)
    a = (
        delineate.mst_cluster(b, roads=roads_sp)
        .toPandas()
        .sort_values("bid")
        .reset_index(drop=True)
    )
    c = (
        delineate.mst_cluster(b, roads=big)
        .toPandas()
        .sort_values("bid")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, c)


def test_blocker_df_parity(spark):
    part_rings = [geom.rect_ring(3000.0, 1000.0, 6000.0, 2000.0, 0.0).tolist()]
    parts_pd = pd.DataFrame({"part": ["P0"], "rings": [part_rings]})
    roads_pd = pd.DataFrame(
        [
            {"rid": 0, "line": [[2000.0, -100.0], [2000.0, 2100.0]]},
            {"rid": 1, "line": [[4000.0, -100.0], [4000.0, 2100.0]]},
            {"rid": 2, "line": [[-100.0, 1000.0], [6100.0, 1000.0]]},
        ]
    )
    rng = np.random.default_rng(4)
    b = pd.DataFrame(
        {"cx": rng.uniform(100, 5900, 200), "cy": rng.uniform(100, 1900, 200), "part": "P0"}
    )
    bdf = spark.createDataFrame(b, "cx double, cy double, part string")
    parts_sp = spark.createDataFrame(
        parts_pd, "part string, rings array<array<array<double>>>"
    )
    roads_sp = spark.createDataFrame(roads_pd, "rid long, line array<array<double>>")

    def norm(df):
        p = df.toPandas().sort_values(["part", "block_id"]).reset_index(drop=True)
        p["area"] = p["area"].round(6)
        return p[["part", "block_id", "area", "n_buildings"]]

    a = norm(delineate.blocker(bdf, parts_pd, roads_pd))
    c = norm(delineate.blocker(bdf, parts_sp, roads_sp))
    assert len(a) == 6
    pd.testing.assert_frame_equal(a, c)


def test_edge_catch_exact_df_parity(spark):
    bound_ring = geom.rect_ring(50.0, 50.0, 60.0, 60.0, 0.0)
    boundaries = spark.createDataFrame(
        [(0, [bound_ring.tolist()])], "cluster_id long, rings array<array<array<double>>>"
    )
    rng = np.random.default_rng(2)
    b = pd.DataFrame(
        {
            "cluster_id": 0,
            "cx": np.concatenate([rng.uniform(25, 75, 40), rng.uniform(30, 70, 6)]),
            "cy": np.concatenate([rng.uniform(25, 75, 40), rng.uniform(85, 105, 6)]),
        }
    )
    buildings = spark.createDataFrame(b, "cluster_id long, cx double, cy double")
    road_pd = pd.DataFrame([{"rid": 0, "line": [[-100.0, 110.0], [200.0, 110.0]]}])
    road_sp = spark.createDataFrame(road_pd, "rid long, line array<array<double>>")
    blocks_pd = pd.DataFrame(
        {
            "block_id": [0, 1],
            "rings": [
                [geom.rect_ring(0.0, 65.0, 160.0, 130.0, 0.0).tolist()],
                [geom.rect_ring(500.0, 65.0, 100.0, 130.0, 0.0).tolist()],  # irrelevant
            ],
        }
    )
    blocks_sp = spark.createDataFrame(
        blocks_pd, "block_id long, rings array<array<array<double>>>"
    )

    def norm(df):
        p = df.toPandas().sort_values(["cluster_id", "piece"]).reset_index(drop=True)
        p["area"] = p["area"].round(6)
        return p[["cluster_id", "piece", "area"]]

    a = norm(delineate.edge_catch_exact(boundaries, buildings, road_pd))
    c = norm(delineate.edge_catch_exact(boundaries, buildings, road_sp))
    assert len(a) >= 1
    pd.testing.assert_frame_equal(a, c)

    a2 = norm(delineate.edge_catch_exact(boundaries, buildings, road_pd, blocks=blocks_pd))
    c2 = norm(delineate.edge_catch_exact(boundaries, buildings, road_sp, blocks=blocks_sp))
    assert len(a2) >= 1
    pd.testing.assert_frame_equal(a2, c2)


def test_edge_catch_exact_warns_on_empty_blocks(spark):
    # ADVICE r3: an empty-but-provided blocks table clips every face
    # away by design — it must WARN so it is distinguishable from
    # "no blocks near this cluster"
    import pytest as _pytest

    bound_ring = geom.rect_ring(50.0, 50.0, 60.0, 60.0, 0.0)
    boundaries = spark.createDataFrame(
        [(0, [bound_ring.tolist()])], "cluster_id long, rings array<array<array<double>>>"
    )
    buildings = spark.createDataFrame(
        pd.DataFrame({"cluster_id": [0], "cx": [50.0], "cy": [50.0]}),
        "cluster_id long, cx double, cy double",
    )
    road_pd = pd.DataFrame([{"rid": 0, "line": [[-100.0, 110.0], [200.0, 110.0]]}])
    empty_blocks = pd.DataFrame({"block_id": pd.Series(dtype="int64"), "rings": []})
    with _pytest.warns(UserWarning, match="EMPTY"):
        out = delineate.edge_catch_exact(
            boundaries, buildings, road_pd, blocks=empty_blocks
        )
    assert out.count() == 0  # semantics unchanged: everything clipped


def test_gap_close_exact_df_parity(spark):
    notched = np.array(
        [[0.0, 0], [30, 0], [30, 20], [18, 20], [18, 5], [12, 5], [12, 20], [0, 20]]
    )
    boundaries = spark.createDataFrame(
        [(1, [notched.tolist()])], "id long, rings array<array<array<double>>>"
    )
    blocks_pd = pd.DataFrame(
        {
            "block_id": [0, 1],
            "rings": [
                [geom.rect_ring(15.0, 10.0, 6.0, 20.0, 0.0).tolist()],
                [geom.rect_ring(900.0, 10.0, 6.0, 20.0, 0.0).tolist()],  # irrelevant
            ],
        }
    )
    blocks_sp = spark.createDataFrame(
        blocks_pd, "block_id long, rings array<array<array<double>>>"
    )
    a = {
        r.id: round(r.area, 6)
        for r in delineate.gap_close_exact(
            boundaries, blocks_pd, max_hole=10.0, max_gap=200.0, gap_dist=0.5
        ).collect()
    }
    c = {
        r.id: round(r.area, 6)
        for r in delineate.gap_close_exact(
            boundaries, blocks_sp, max_hole=10.0, max_gap=200.0, gap_dist=0.5
        ).collect()
    }
    assert a == c
    assert a[1] == pytest.approx(600.0, rel=0.02)
