"""Delineation composites: partitioning, buffer mask, MST clustering,
boundary dissolve — invariants + oracle properties."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ib_tool_spark import delineate, geom, ops, synth


@pytest.fixture(scope="module")
def buildings(spark):
    return synth.buildings_df(spark, per_cluster=25).cache()


@pytest.fixture(scope="module")
def image_points(spark):
    ids = [f"img_{i:012d}" for i in range(3000)]
    df = spark.createDataFrame(pd.DataFrame({"image_id": ids}))
    return ops.with_geocode(df).cache()


def test_cell_components_and_tracing():
    # two L-shaped blobs, one with a hole
    cells = [(0, 0), (1, 0), (1, 1), (5, 5), (6, 5), (5, 6), (6, 6), (7, 5)]
    ix = np.array([c[0] for c in cells])
    iy = np.array([c[1] for c in cells])
    labels = geom.cell_components(ix, iy)
    assert len(set(labels[:3])) == 1 and len(set(labels[3:])) == 1
    assert labels[0] != labels[3]

    # ring with a hole: 3x3 block minus center
    hole_cells = [(x, y) for x in range(3) for y in range(3) if (x, y) != (1, 1)]
    rings = geom.trace_cell_boundary(
        np.array([c[0] for c in hole_cells]), np.array([c[1] for c in hole_cells])
    )
    assert len(rings) == 2
    areas = sorted(geom.ring_area(r) for r in rings)
    assert areas[0] == -1.0  # CW hole of unit cell
    assert areas[1] == 9.0  # CCW outer 3x3
    # PIP agrees: center of hole outside, center of ring cell inside
    inside = geom.points_in_polygon(np.array([1.5, 0.5]), np.array([1.5, 0.5]), rings)
    assert inside.tolist() == [False, True]


def test_density_partitions_cover_clusters(spark, image_points):
    parts = delineate.density_partitions(image_points, 150.0, 300.0, 1e-5)
    assert parts["part_name"].nunique() >= 10  # most clusters found
    assigned = delineate.assign_partitions(image_points, parts, 150.0)
    # ~80% of points are cluster-biased; of those, the dense-cell map
    # covers the cores but not the scatter fringe → ~half of ALL points
    frac = assigned.filter(F.col("part_name").isNotNull()).count() / assigned.count()
    assert frac > 0.4, frac
    # determinism
    parts2 = delineate.density_partitions(image_points, 150.0, 300.0, 1e-5)
    pd.testing.assert_frame_equal(
        parts.sort_values(["gx", "gy"]).reset_index(drop=True),
        parts2.sort_values(["gx", "gy"]).reset_index(drop=True),
    )


def _density_points(seed: int) -> pd.DataFrame:
    """Seeded points for the density partitioners: a scattered cluster
    across negative coordinates, points on exact multiples of the
    150 m cell, and isolated pairs and triples in one cell, whose
    neighbourhood sums (2 and 3) sit either side of the 1e-5
    threshold (2 / (π·300²) < 1e-5 < 3 / (π·300²))."""
    rng = np.random.default_rng(seed)
    xy = [rng.normal([-1_000.0, 2_000.0], 250.0, size=(400, 2))]
    grid = np.array([-450.0, -150.0, 0.0, 150.0, 3_000.0])
    xy.append(np.column_stack([rng.choice(grid, 60), rng.choice(grid, 60)]))
    for k, n in enumerate([2, 3, 2, 3, 3]):
        base = np.array([20_000.0 + 5_000.0 * k, -7_000.0 - 150.0 * k])
        xy.append(base + rng.uniform(0.0, 149.0, size=(n, 2)))
    xy = np.concatenate(xy)
    return pd.DataFrame({"x": xy[:, 0], "y": xy[:, 1]})


@pytest.mark.parametrize("seed", [1, 2])
def test_density_partitions_np_matches_spark(spark, seed):
    """The driver density partitions (_density_partitions_np) equal
    density_partitions_df's (gx, gy, part_name) rows, on seeded points
    that reach the threshold's edge and on the filtered scene."""
    pdf = _density_points(seed)
    pts = spark.createDataFrame(pdf, "x double, y double")
    nsum = set(ops.density_grid(pts, 150.0, 300.0).toPandas()["nsum"])
    assert {2, 3} <= nsum
    want = delineate.density_partitions(pts, 150.0, 300.0, 1e-5)
    got = delineate._density_partitions_np(pdf["x"].to_numpy(), pdf["y"].to_numpy())
    pd.testing.assert_frame_equal(got, want)
    assert (got["gx"] < 0).any() and got["part_name"].nunique() >= 4

    b = delineate._filtered_buildings(synth.buildings_pdf(per_cluster=20))
    scene = spark.createDataFrame(
        b[["cx", "cy"]].rename(columns={"cx": "x", "cy": "y"}), "x double, y double"
    )
    want = delineate.density_partitions(scene, 150.0, 300.0, 1e-5)
    got = delineate._density_partitions_np(b["cx"].to_numpy(), b["cy"].to_numpy())
    pd.testing.assert_frame_equal(got, want)

    empty = delineate._density_partitions_np(np.empty(0), np.empty(0))
    assert list(empty.columns) == ["gx", "gy", "part_name"] and empty.empty


def test_buffer_mask_covers_points(spark, image_points):
    sub = image_points.limit(300)
    cells_df, polys = delineate.buffer_mask(sub, radius=400.0, cell_size=100.0)
    pts = sub.select("x", "y").toPandas()
    # every point lies inside some mask polygon (even-odd over all rings)
    allrings = [np.asarray(r) for p in polys.itertuples() for r in p.rings]
    inside = geom.points_in_polygon(pts["x"].to_numpy(), pts["y"].to_numpy(), allrings)
    assert inside.all()
    assert (polys["area"] > 0).all()


def test_mst_cluster_groups_dense_separates_far(spark):
    # two tight groups of rectangles far apart + one detached outlier
    rows = []
    bid = 0
    for gx in (1000.0, 5000.0):
        for i in range(6):
            ring = geom.rect_ring(gx + (i % 3) * 30, 1000.0 + (i // 3) * 30, 14, 10, 0.0)
            cxc, cyc = geom.ring_centroid(ring)
            rows.append(
                {
                    "bid": bid,
                    "rings": [ring.tolist()],
                    "cx": cxc,
                    "cy": cyc,
                    "area": abs(geom.ring_area(ring)),
                    "part": "P0",
                }
            )
            bid += 1
    ring = geom.rect_ring(3000.0, 3000.0, 20, 15, 0.3)
    cxc, cyc = geom.ring_centroid(ring)
    rows.append(
        {"bid": bid, "rings": [ring.tolist()], "cx": cxc, "cy": cyc, "area": abs(geom.ring_area(ring)), "part": "P0"}
    )
    df = spark.createDataFrame(pd.DataFrame(rows), "bid long, rings array<array<array<double>>>, cx double, cy double, area double, part string")
    out = delineate.mst_cluster(df, coverage_thresh=10.0, max_edge=120.0).toPandas()
    by_bid = out.set_index("bid")["cluster_id"]
    # Reference greedy semantics (IB-Tool2.py:1560-1646): groups grow
    # one footprint at a time and two existing groups never merge —
    # a dense block may therefore split into a few adjacent clusters
    # (the downstream rectangle merge+dissolve unifies them).  Assert:
    # every building in a dense block clusters with a NEIGHBOR from the
    # same block, clusters never span blocks, the outlier is alone.
    c1 = {by_bid[i] for i in range(6)}
    c2 = {by_bid[i] for i in range(6, 12)}
    assert 1 <= len(c1) <= 2 and 1 <= len(c2) <= 2
    assert c1.isdisjoint(c2)
    assert all(by_bid[i] != i or (by_bid == i).sum() > 1 for i in range(12))  # nobody singleton
    assert by_bid[12] not in c1 | c2 and (by_bid == by_bid[12]).sum() == 1  # outlier alone

    # determinism
    out2 = delineate.mst_cluster(df, coverage_thresh=10.0, max_edge=120.0).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("bid").reset_index(drop=True),
        out2.sort_values("bid").reset_index(drop=True),
    )


def test_patch_remove_exact_real_area_rescue(spark):
    # PatchRemove's overlap rescue must use SUM(footprint area), not a
    # mean-footprint constant: 3 buildings of 1000 m2 inside a 15000 m2
    # boundary = 20% >= 15 => rescued, though 3 < min_bdg_count; with
    # 10 m2 footprints the same patch is removed.
    ring = geom.rect_ring(75.0, 50.0, 150.0, 100.0, 0.0)  # 15000 m2
    dissolved = spark.createDataFrame(
        [(0, [ring.tolist()], 15000.0, 1)],
        "comp long, rings array<array<array<double>>>, area double, n_parts long",
    )
    big = spark.createDataFrame(
        [(i, 30.0 + 40.0 * i, 50.0, 1000.0) for i in range(3)],
        "bid long, cx double, cy double, area double",
    )
    kept = delineate.patch_remove_exact(dissolved, big, min_bdg_count=5).toPandas()
    assert len(kept) == 1 and kept.iloc[0]["n_buildings"] == 3
    small = big.withColumn("area", F.lit(10.0))
    assert delineate.patch_remove_exact(dissolved, small, min_bdg_count=5).count() == 0


def test_mst_cluster_kernel_row_order_invariant():
    # applyInPandas gives no within-group row order; the kernel must sort
    # by bid internally or node indices / edge tie-breaks float (ADVICE r2:
    # 10/10 permutations changed cluster_ids before the fix)
    rng = np.random.default_rng(7)
    rows = []
    for b in range(40):
        ring = geom.rect_ring(
            float(rng.uniform(0, 400)), float(rng.uniform(0, 400)), 14, 10, float(rng.uniform(0, 3))
        )
        cxc, cyc = geom.ring_centroid(ring)
        rows.append(
            {"bid": b, "rings": [ring.tolist()], "cx": cxc, "cy": cyc,
             "area": abs(geom.ring_area(ring)), "part": "P0"}
        )
    pdf = pd.DataFrame(rows)
    base = (
        delineate._mst_cluster_kernel(pdf, 10.0, 120.0)
        .sort_values("bid").reset_index(drop=True)
    )
    assert (base["cluster_id"] != base["bid"]).any()  # non-trivial clustering
    for seed in range(5):
        perm = pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)
        got = (
            delineate._mst_cluster_kernel(perm, 10.0, 120.0)
            .sort_values("bid").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(base, got)


def _kernel_rows(per_cluster: int) -> pd.DataFrame:
    keyed = delineate._keyed_buildings_np(
        delineate._filtered_buildings(synth.buildings_pdf(per_cluster=per_cluster))
    )
    return keyed[keyed["part"].notna() | (keyed["area"] > delineate._SINGLE_MIN_AREA)]


@pytest.mark.parametrize("per_cluster", [12, 20, 30, 120])
def test_batched_kernel_matches_per_group(per_cluster):
    # one call over every group gives the frame of one call per group,
    # concatenated in key order: with each partition's roads and without
    rows = _kernel_rows(per_cluster)
    segs = delineate._road_segments_np(synth.roads_pdf()[["rid", "line"]])
    near = delineate._near_segments(rows, segs)
    assert rows["part"].isna().any() and len(near) > 1

    def cells(pdf, road_segs):
        return delineate._mst_cells_kernel(pdf, road_segs, 12.0, 16.0)

    for roads in (near, {}):
        want = pd.concat(
            [cells(g, roads.get(k)) for k, g in rows.groupby("grp", sort=True)], ignore_index=True
        )
        pd.testing.assert_frame_equal(cells(rows, roads), want)
        # keyed by part: the null-part rows are one group, clustered together
        want = pd.concat(
            [
                delineate._mst_cluster_kernel(g, 12.0, 120.0, roads.get(k))
                for k, g in rows.groupby("part", sort=True, dropna=False)
            ],
            ignore_index=True,
        )
        got = delineate._mst_cluster_kernel(rows, 12.0, 120.0, roads)
        pd.testing.assert_frame_equal(got, want)
        assert (got["cluster_id"] != got["bid"]).any()
    empty = cells(rows.iloc[:0], near)
    assert list(empty.columns) == ["gx", "gy", "cluster_id", "single"] and empty.empty


def _buildings_per_footprint(per_cluster: int) -> pd.DataFrame:
    """synth.buildings_pdf built one footprint at a time with geom's
    per-ring helpers."""
    scene = synth.default_scene()
    out = []
    for k in range(synth.N_CLUSTERS):
        rng = np.random.RandomState(synth.SCENE_SEED + 1000 + k)
        cx, cy, rad = scene.cx[k], scene.cy[k], scene.rad[k]
        rects = []
        for _ in range(per_cluster + (k % 5) * (per_cluster // 8)):
            bx, by = cx + rng.normal() * 110.0, cy + rng.normal() * 110.0
            w, h, ang = rng.uniform(8, 30), rng.uniform(8, 30), rng.uniform(0, np.pi)
            fkt = (
                synth.POS_FKT[rng.randint(3)]
                if rng.uniform() > 0.1
                else synth.NEG_FKT[rng.randint(2)]
            )
            rects.append((geom.rect_ring(bx, by, w, h, ang), fkt))
        for _ in range(2):
            ang = rng.uniform(0, 2 * np.pi)
            bx, by = cx + np.cos(ang) * rad * 1.15, cy + np.sin(ang) * rad * 1.15
            rects.append((geom.rect_ring(bx, by, 25.0, 15.0, rng.uniform(0, np.pi)), synth.POS_FKT[0]))
        for _ in range(3):
            bx, by = cx + rng.normal() * 110.0, cy + rng.normal() * 110.0
            rects.append((geom.rect_ring(bx, by, 5.0, 5.0, 0.0), synth.POS_FKT[0]))
        for ring, fkt in rects:
            cxc, cyc = geom.ring_centroid(ring)
            out.append(
                {
                    "bid": len(out),
                    "rings": [ring.tolist()],
                    "cx": cxc,
                    "cy": cyc,
                    "area": abs(geom.ring_area(ring)),
                    "fkt": fkt,
                    "true_cluster": k,
                }
            )
    return pd.DataFrame(out)


@pytest.mark.parametrize("per_cluster", [12, 20, 30, 120])
def test_buildings_pdf_matches_per_footprint(per_cluster):
    want = _buildings_per_footprint(per_cluster)
    got = synth.buildings_pdf(per_cluster=per_cluster)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert got["rings"].tolist() == want["rings"].tolist()


def test_near_segments_match_sorted_segs():
    # each partition's segments are _sorted_segs_np of its hits; two roads
    # share the segment (0,0)-(10,0) with different road lengths L, and
    # ties in (x1, y1, x2, y2) keep the roads' row order
    lines = pd.DataFrame(
        {
            "rid": [7, 3, 9, 4],
            "line": [
                [[0.0, 0.0], [10.0, 0.0]],
                [[0.0, 0.0], [10.0, 0.0], [10.0, 50.0]],
                [[-5.0, 20.0], [30.0, -4.0], [31.0, 60.0]],
                [[40.0, 40.0], [-3.0, 12.0]],
            ],
        }
    )
    pdf = pd.DataFrame(
        {
            "cx": [1.0, 9.0, 5.0, 28.0, 35.0],
            "cy": [-1.0, 3.0, 30.0, 1.0, 45.0],
            "part": ["A", "A", "B", "C", None],
        }
    )
    cases = [(pdf, lines), (_kernel_rows(30), synth.roads_pdf()[["rid", "line"]])]
    for pdf, lines in cases:
        segs = delineate._road_segments_np(lines)
        got = delineate._near_segments(pdf, segs)
        segs = segs[~pd.DataFrame(segs).duplicated().to_numpy()]
        lo, hi = np.minimum(segs[:, :2], segs[:, 2:4]), np.maximum(segs[:, :2], segs[:, 2:4])
        want = {}
        for part, b in pdf[pdf["part"].notna()].groupby("part"):
            hit = (
                (lo[:, 0] <= b["cx"].max())
                & (hi[:, 0] >= b["cx"].min())
                & (lo[:, 1] <= b["cy"].max())
                & (hi[:, 1] >= b["cy"].min())
            )
            if hit.any():
                want[part] = delineate._sorted_segs_np(
                    pd.DataFrame(segs[hit], columns=["x1", "y1", "x2", "y2", "L"])
                )
        assert got.keys() == want.keys()
        for part in want:
            np.testing.assert_array_equal(got[part], want[part])
    a = delineate._near_segments(cases[0][0], delineate._road_segments_np(cases[0][1]))["A"]
    tie = a[(a[:, 0] == 0.0) & (a[:, 1] == 0.0) & (a[:, 2] == 10.0) & (a[:, 3] == 0.0)]
    np.testing.assert_array_equal(tie[:, 4], [10.0, 60.0])


def test_mst_cluster_on_synth_buildings(spark, buildings):
    parts = buildings.withColumn("part", F.concat(F.lit("P"), F.col("true_cluster")))
    out = delineate.mst_cluster(parts).toPandas()
    assert len(out) == buildings.count()
    merged = out.merge(
        buildings.select("bid", "true_cluster").toPandas(), on="bid"
    )
    # clusters never span two settlement partitions
    span = merged.groupby("cluster_id")["true_cluster"].nunique()
    assert (span == 1).all()
    # dense cores aggregate: most clusters have >1 building
    sizes = merged.groupby("cluster_id").size()
    assert (sizes > 1).sum() >= 30


def test_cluster_boundaries_contain_buildings(spark, buildings):
    one = buildings.filter(F.col("true_cluster") == 0).withColumn("part", F.lit("P0"))
    clustered = delineate.mst_cluster(one)
    joined = one.join(clustered.select("bid", "cluster_id"), "bid")
    bounds = delineate.cluster_boundaries(joined).toPandas()
    assert (bounds["area"] > 0).all()
    cents = joined.select("cluster_id", "cx", "cy").toPandas()
    for row in bounds.itertuples():
        rings = [np.asarray(r) for r in row.rings]
        mine = cents[cents["cluster_id"] == row.cluster_id]
        inside = geom.points_in_polygon(mine["cx"].to_numpy(), mine["cy"].to_numpy(), rings)
        assert inside.all()


def test_mst_cluster_5000_buildings_under_10s(spark):
    # VERDICT round-1 done-criterion for the vectorized Delaunay kernel:
    # a single 5k-building partition must cluster in < 10 s wall.
    import time

    import numpy as np

    rng = np.random.default_rng(13)
    rows = []
    # 5000 buildings in a realistic clumped layout (50 hamlets x 100)
    for h in range(50):
        hx, hy = rng.uniform(0, 20000, 2)
        for i in range(100):
            cx = hx + rng.uniform(-300, 300)
            cy = hy + rng.uniform(-300, 300)
            ring = geom.rect_ring(cx, cy, 12.0, 9.0, rng.uniform(0, 3.14))
            rows.append(
                {
                    "bid": h * 100 + i,
                    "rings": [ring.tolist()],
                    "cx": float(np.mean(ring[:, 0])),
                    "cy": float(np.mean(ring[:, 1])),
                    "area": abs(geom.ring_area(ring)),
                    "part": "P0",
                }
            )
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        "bid long, rings array<array<array<double>>>, cx double, cy double, area double, part string",
    )
    t0 = time.time()
    out = delineate.mst_cluster(df, coverage_thresh=12.0, max_edge=60.0).toPandas()
    wall = time.time() - t0
    assert len(out) == 5000
    assert out["cluster_id"].nunique() < 5000  # clustering actually happened
    assert wall < 10.0, wall


def test_rect_merge_row_order_invariant(spark):
    # MainAngle's angle-run walk depends on segment order; the kernel
    # sorts by bid so rectangles are partition/arrival-order invariant
    rng = np.random.default_rng(13)
    rows = []
    for b in range(12):
        ring = geom.rect_ring(
            float(rng.uniform(0, 80)), float(rng.uniform(0, 80)), 16, 9,
            float(rng.uniform(0, 3))
        )
        rows.append({"bid": b, "cluster_id": 1, "rings": [ring.tolist()]})
    base = None
    for perm_seed in range(3):
        order = np.random.default_rng(perm_seed).permutation(len(rows))
        df = spark.createDataFrame(
            pd.DataFrame([rows[i] for i in order]),
            "bid long, cluster_id long, rings array<array<array<double>>>",
        ).repartition(4)
        got = delineate.rect_merge(df).collect()
        assert len(got) == 1
        key = (round(got[0].area, 9), str(np.round(np.asarray(got[0].rings[0]), 9).tolist()))
        if base is None:
            base = key
        else:
            assert key == base, f"perm {perm_seed} changed the rectangle"


def test_patch_remove_area_sum_order_invariant(spark):
    # the rescue threshold consumes a float area sum — summation order
    # is pinned by a bid sort so keep-decisions are partition-invariant
    ring = geom.rect_ring(50.0, 50.0, 100.0, 100.0, 0.0)
    dissolved = spark.createDataFrame(
        [(1, [ring.tolist()], 10000.0, 3)],
        "comp long, rings array<array<array<double>>>, area double, n_parts long",
    )
    rng = np.random.default_rng(3)
    # 4 buildings inside, areas tuned so sum/area*100 ~ exactly 15.0
    bids = [(int(i), float(rng.uniform(10, 90)), float(rng.uniform(10, 90)),
             375.0 + (0.1 if i == 2 else 0.0)) for i in range(4)]
    keys = set()
    for perm_seed in range(3):
        order = np.random.default_rng(100 + perm_seed).permutation(4)
        b = spark.createDataFrame(
            [bids[i] for i in order], "bid long, cx double, cy double, area double"
        ).repartition(3)
        out = delineate.patch_remove_exact(dissolved, b, min_bdg_count=5).collect()
        keys.add(tuple(sorted((r.boundary_id, r.n_buildings) for r in out)))
    assert len(keys) == 1
