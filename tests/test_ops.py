"""Operator-level tests: Spark plans vs pure-pandas/numpy oracles.

North-rule parity gate: the Spark pip_join / knn_assign / density_grid /
tile_assign outputs must match a brute-force single-node oracle row for
row (SURVEY.md §5 "pipeline parity tests").
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ib_tool_spark import cells, geom, ops, synth

N = 1500  # smoke-tier image count for operator parity


@pytest.fixture(scope="module")
def scene():
    return synth.default_scene()


@pytest.fixture(scope="module")
def ids():
    return np.array([f"img_{i:012d}" for i in range(N)])


@pytest.fixture(scope="module")
def points_df(spark, ids):
    df = spark.createDataFrame(pd.DataFrame({"image_id": ids}))
    return ops.with_cell(ops.with_geocode(df), 10)


def test_geocode_spark_matches_numpy(spark, ids, points_df):
    got = points_df.select("image_id", "x", "y").toPandas().set_index("image_id")
    ex, ey = synth.geocode_np(ids)
    gx = got.loc[ids, "x"].to_numpy()
    gy = got.loc[ids, "y"].to_numpy()
    assert (gx == ex).all(), np.abs(gx - ex).max()
    assert (gy == ey).all()


def test_geocode_cluster_fraction(ids):
    """~80% of points fall in clusters; skew exists (cluster 0 densest)."""
    x, y = synth.geocode_np(ids)
    scene = synth.default_scene()
    inside_any = np.zeros(len(ids), dtype=bool)
    for sid, _n, rings in scene.polygons:
        inside_any |= geom.points_in_polygon(x, y, rings)
    frac = inside_any.mean()
    assert 0.45 < frac < 0.9, frac


def oracle_pip(ids, scene):
    x, y = synth.geocode_np(ids)
    rows = []
    for sid, _name, rings in scene.polygons:
        m = geom.points_in_polygon(x, y, rings)
        for i in np.nonzero(m)[0]:
            rows.append((ids[i], sid))
    return pd.DataFrame(rows, columns=["image_id", "sid"])


def test_pip_join_matches_oracle(spark, ids, points_df, scene):
    got = (
        ops.pip_join(points_df, scene.polygons, 10)
        .select("image_id", "sid")
        .toPandas()
        .sort_values(["image_id", "sid"])
        .reset_index(drop=True)
    )
    want = oracle_pip(ids, scene).sort_values(["image_id", "sid"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert len(want) > N * 0.3  # sanity: a healthy share matched

    # a concave U with a concave hole in its base, rotated off the cell
    # grid; seeded points kept clear of its edges, where the
    # proper-crossing refine and points_in_polygon may disagree
    outer = np.array(
        [[0, 0], [1500, 0], [1500, 1500], [1000, 1500], [1000, 500], [500, 500], [500, 1500], [0, 1500]],
        dtype=np.float64,
    )
    hole = np.array([[250, 100], [750, 400], [1250, 100], [750, 200]], dtype=np.float64)
    c, s_ = np.cos(0.3), np.sin(0.3)
    rot = np.array([[c, s_], [-s_, c]])
    rings = [r @ rot + np.array([100_003.7, 100_011.3]) for r in (outer, hole)]
    lo = np.min([r.min(axis=0) for r in rings], axis=0) - 100.0
    hi = np.max([r.max(axis=0) for r in rings], axis=0) + 100.0
    xy = np.random.default_rng(13).uniform(lo, hi, size=(4000, 2))
    segs = np.concatenate([np.hstack([r, np.roll(r, -1, axis=0)]) for r in rings])
    _nx, _ny, dist, _a = geom.nearest_on_segments(xy[:, 0], xy[:, 1], segs)
    xy = xy[dist > 0.01]
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(xy)), "x": xy[:, 0], "y": xy[:, 1]})
    )
    got = ops.pip_join(ops.with_cell(pts, 10), [(900, "U", rings)], 10).select("pid", "sid").toPandas()
    inside = geom.points_in_polygon(xy[:, 0], xy[:, 1], rings)
    assert sorted(got["pid"]) == np.flatnonzero(inside).tolist()
    assert (got["sid"] == 900).all()
    # the hole and the notch both hold points that must stay out
    in_outer = geom.points_in_polygon(xy[:, 0], xy[:, 1], rings[:1])
    in_hole = geom.points_in_polygon(xy[:, 0], xy[:, 1], rings[1:])
    assert in_hole.sum() > 50 and (in_outer & ~in_hole).sum() > 500
    local = (xy - np.array([100_003.7, 100_011.3])) @ rot.T
    notch = (local[:, 0] > 510) & (local[:, 0] < 990) & (local[:, 1] > 510) & (local[:, 1] < 1490)
    assert notch.sum() > 50 and not inside[notch].any()


def test_pip_join_anti(spark, ids, points_df, scene):
    matched = set(oracle_pip(ids, scene)["image_id"])
    got = ops.pip_join(points_df, scene.polygons, 10, how="anti").select("image_id").toPandas()
    assert set(got["image_id"]) == set(ids) - matched


def test_tile_assign_matches_parent(spark, points_df):
    got = ops.tile_assign(points_df, 10, 6).select("cell", "tile").toPandas()
    want = cells.parent(got["cell"].to_numpy(), 6)
    assert (got["tile"].to_numpy() == want).all()


def test_knn_assign_matches_bruteforce(spark, ids, points_df, scene):
    centers = pd.DataFrame(
        {"center_id": np.arange(len(scene.cx)), "cx": scene.cx, "cy": scene.cy}
    )
    cutoff = 3000.0
    got = (
        ops.knn_assign(points_df.select("image_id", "x", "y"), centers, cutoff)
        .select("image_id", "nearest_id", "nearest_dist")
        .toPandas()
        .set_index("image_id")
    )
    x, y = synth.geocode_np(ids)
    d2 = (x[:, None] - scene.cx[None, :]) ** 2 + (y[:, None] - scene.cy[None, :]) ** 2
    best = np.argmin(d2, axis=1)
    bestd = np.sqrt(d2[np.arange(len(ids)), best])
    expected_ids = {ids[i]: int(best[i]) for i in range(len(ids)) if bestd[i] <= cutoff}
    assert set(got.index) == set(expected_ids)
    for iid, bid in expected_ids.items():
        assert int(got.loc[iid, "nearest_id"]) == bid
    # distances match to float tolerance
    for iid in list(expected_ids)[:100]:
        i = int(iid[4:])
        assert abs(got.loc[iid, "nearest_dist"] - bestd[ids.tolist().index(iid)]) < 1e-9


def test_density_grid_matches_bruteforce(spark, ids, points_df):
    cs, radius = 500.0, 1200.0
    got = ops.density_grid(points_df, cs, radius).toPandas()
    x, y = synth.geocode_np(ids)
    gx = np.floor(x / cs).astype(np.int64)
    gy = np.floor(y / cs).astype(np.int64)
    binned = pd.DataFrame({"gx": gx, "gy": gy}).groupby(["gx", "gy"]).size()
    r = int(np.floor(radius / cs))
    offs = cells.k_ring_offsets(r)
    offs = offs[offs[:, 0] ** 2 + offs[:, 1] ** 2 <= (radius / cs) ** 2]
    want = {}
    for (bx, by), cnt in binned.items():
        for dx, dy in offs:
            key = (bx + dx, by + dy)
            want[key] = want.get(key, 0) + cnt
    got_map = {(int(r_.gx), int(r_.gy)): int(r_.nsum) for r_ in got.itertuples()}
    assert got_map == want
    area = np.pi * radius**2
    for r_ in got.itertuples():
        assert abs(r_.density - got_map[(int(r_.gx), int(r_.gy))] / area) < 1e-12


def test_decode_validate_all_ok(spark):
    df = synth.synth_images_df(spark, 120, 4)
    res = ops.decode_validate(df).toPandas()
    assert len(res) == 120
    assert res["pixels_ok"].all()
    assert res["caption_ok"].all()
    assert res["phash_ok"].all()
    assert set(res["fmt"]) == {"png", "ppm", "tdc"}


def test_validate_rejects_wrong_size_resynthesis(spark):
    # ADVICE r5 medium: a payload re-synthesized from the same pixel
    # hash at a WRONG size decodes to a perfect match of its own-size
    # synthesis — the id-derived size must still fail pixels_ok.
    import pandas as pd

    from ib_tool_spark import codecs

    rows = [synth.make_row(i) for i in range(6)]
    pdf = pd.DataFrame(rows)
    base = ops._validate_pdf(pdf[["image_id", "bytes", "fmt", "caption", "phash"]], 40.0)
    assert base["pixels_ok"].all()

    # forge row 0: synthesize the expected pattern at a size that is
    # NOT the id-derived one, encode it losslessly, keep the phash of
    # the forged pixels so only the size check can catch it
    import numpy as np

    hp = int(synth.id_hashes([rows[0]["image_id"]], "#px")[0])
    h = synth.IMAGE_SIZES[(hp >> 2) % 3]
    w = synth.IMAGE_SIZES[hp % 3]
    wrong_h = next(s for s in synth.IMAGE_SIZES if s != h)
    forged = synth.expected_pixels_batch_i16_cm(
        np.array([hp], dtype=np.uint64), wrong_h, w
    )[0].transpose(1, 2, 0).astype(np.uint8)
    pdf.loc[0, "bytes"] = codecs.ppm_encode(np.ascontiguousarray(forged))
    pdf.loc[0, "fmt"] = "ppm"
    pdf.loc[0, "phash"] = codecs.phash(forged)
    res = ops._validate_pdf(pdf[["image_id", "bytes", "fmt", "caption", "phash"]], 40.0)
    assert not res["pixels_ok"].iloc[0]
    assert res["psnr"].iloc[0] == 0.0
    assert res["phash_ok"].iloc[0]  # phash matches the forged pixels
    assert res["pixels_ok"].iloc[1:].all()


def test_decode_validate_direct_matches_shipped(spark):
    """r5 pin: the direct-read decode stage (executors stream their
    parquet row-group splits via pyarrow) is row-identical to the
    standard JVM-shipped path, including at n_tasks below/above the
    split count, and its manifest carries one balanced group per task."""
    path = synth.ensure_images_table(spark, 800)
    a = (
        ops.decode_validate(spark.read.parquet(path))
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    for n_tasks in (2, 4, 1000):
        b = (
            ops.decode_validate_direct(spark, path, n_tasks=n_tasks)
            .toPandas()
            .sort_values("image_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)
    assert a["pixels_ok"].all() and a["caption_ok"].all() and a["phash_ok"].all()


def test_flagship_end_to_end(spark, scene):
    from ib_tool_spark import pipeline

    out = pipeline.flagship(spark, n_images=800).toPandas()
    assert len(out) > 200
    assert out["sid"].between(0, 47).all()
    # tile is the parent of cell
    assert (cells.parent(out["cell"].to_numpy(), pipeline.TILE_RES) == out["tile"].to_numpy()).all()
    # names consistent
    assert (out["name"] == out["sid"].map(lambda s: f"SETT_{s:03d}")).all()
    # deterministic across runs
    out2 = pipeline.flagship(spark, n_images=800).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values(["image_id", "sid"]).reset_index(drop=True),
        out2.sort_values(["image_id", "sid"]).reset_index(drop=True),
    )


def test_hex_ops_match_numpy(spark, ids, points_df):
    """Spark hex encode equals the numpy kernel; hex k-ring density
    matches a brute-force axial-offset sum."""
    got = ops.with_hex_cell(points_df, 10).select("image_id", "hex_cell").toPandas()
    x, y = synth.geocode_np(ids)
    want = cells.hex_encode(x, y, 10)
    by_id = got.set_index("image_id")["hex_cell"]
    assert (by_id[ids].to_numpy() == want).all()

    dens = ops.hex_density(points_df, 10, k=1).toPandas()
    import collections

    counts = collections.Counter(want.tolist())
    offs = cells.hex_k_ring_offsets(1)
    expect = collections.Counter()
    for cell, cnt in counts.items():
        q, r, res = cells.hex_decode(np.asarray([cell]))
        for dq, dr in offs:
            qq = (int(q[0]) + int(dq) + (1 << 28)) & ((1 << 29) - 1)
            rr = (int(r[0]) + int(dr) + (1 << 28)) & ((1 << 29) - 1)
            key = (int(res[0]) << 58) | (qq << 29) | rr
            expect[key] += cnt
    got_map = {int(r_.hex_cell): int(r_.nsum) for r_ in dens.itertuples()}
    assert got_map == dict(expect)


def test_identity_join_matches_rotated_reversed(spark):
    # J9: same point set under rotation/winding/sub-quantum noise pairs;
    # a 0.5 m shift does not
    from ib_tool_spark import geom

    r = geom.rect_ring(10.0, 5.0, 8.0, 4.0, 0.7)
    rot = np.roll(r, 2, axis=0)[::-1]  # rotated start + reversed winding
    noisy = rot + 1e-9  # below the 1e-6 quantum
    shifted = r + np.array([0.5, 0.0])
    left = spark.createDataFrame(
        [(0, [r.tolist()])], "id long, rings array<array<array<double>>>"
    )
    right = spark.createDataFrame(
        [(10, [rot.tolist()]), (11, [noisy.tolist()]), (12, [shifted.tolist()])],
        "id long, rings array<array<array<double>>>",
    )
    got = sorted((x.lid, x.rid) for x in ops.identity_join(left, right).collect())
    assert got == [(0, 10), (0, 11)]


def test_identity_join_exact_refine_kills_hash_collisions(spark):
    # _hash_mod=1 forces EVERY row pair to collide at the hash stage;
    # the canonical-bytes refine must keep exactly the true identity
    # pairs — proof a 64-bit birthday collision cannot fabricate a pair
    from ib_tool_spark import geom

    rects = [geom.rect_ring(10.0 * i, 5.0, 8.0, 4.0, 0.3) for i in range(6)]
    left = spark.createDataFrame(
        [(i, [r.tolist()]) for i, r in enumerate(rects)],
        "id long, rings array<array<array<double>>>",
    )
    # right: rotated/reversed twins of rects 0..2 plus three decoys
    right_rows = [
        (100 + i, [np.roll(rects[i], 1, axis=0)[::-1].tolist()]) for i in range(3)
    ] + [(200 + i, [(rects[i] + 0.25).tolist()]) for i in range(3)]
    right = spark.createDataFrame(
        right_rows, "id long, rings array<array<array<double>>>"
    )
    got = sorted(
        (x.lid, x.rid)
        for x in ops.identity_join(left, right, _hash_mod=1).collect()
    )
    assert got == [(0, 100), (1, 101), (2, 102)]


def test_decode_validate_direct_multi_rowgroup(spark, tmp_path):
    """r5 pin: the direct reader splits and bin-packs per ROW GROUP, so
    a table rewritten into multi-row-group files (unlike the synth
    cache's one-group files) produces identical results."""
    import pyarrow.parquet as pq

    src = synth.ensure_images_table(spark, 800)
    # rewrite the whole table as two files with ~100-row row groups
    t = pq.ParquetDataset(src).read()
    half = t.num_rows // 2
    d = tmp_path / "multirg"
    d.mkdir()
    pq.write_table(t.slice(0, half), d / "a.parquet", row_group_size=100)
    pq.write_table(t.slice(half), d / "b.parquet", row_group_size=100)
    md = pq.ParquetFile(d / "a.parquet").metadata
    assert md.num_row_groups > 1
    a = (
        ops.decode_validate(spark.read.parquet(src))
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    b = (
        ops.decode_validate_direct(spark, str(d), n_tasks=3)
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
