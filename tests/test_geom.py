"""Geometry kernels vs hand-computed / brute-force oracles."""

import numpy as np
import pytest

from ib_tool_spark import geom

SQ = [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])]
SQ_HOLE = SQ + [np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0]])]


def test_area_perimeter_centroid():
    assert geom.ring_area(SQ[0]) == 100.0
    assert geom.polygon_area(SQ_HOLE) == 96.0
    assert geom.polygon_perimeter(SQ) == 40.0
    assert geom.ring_centroid(SQ[0]) == (5.0, 5.0)


def test_pip_basic_and_holes():
    px = np.array([5.0, 5.0, -1.0, 10.5, 5.0])
    py = np.array([5.0, 9.9, 5.0, 5.0, -0.1])
    got = geom.points_in_polygon(px, py, SQ)
    assert got.tolist() == [True, True, False, False, False]
    got = geom.points_in_polygon(np.array([5.0, 3.0]), np.array([5.0, 5.0]), SQ_HOLE)
    assert got.tolist() == [False, True]  # hole center excluded


def test_pip_boundary_rule_consistency():
    """Points exactly on shared edges belong to exactly one of two
    adjacent squares (half-open rule → no dupes, no gaps in tilings)."""
    left = [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])]
    right = [np.array([[10.0, 0.0], [20.0, 0.0], [20.0, 10.0], [10.0, 10.0]])]
    px = np.array([10.0, 10.0, 10.0])
    py = np.array([2.0, 5.0, 9.0])
    inl = geom.points_in_polygon(px, py, left)
    inr = geom.points_in_polygon(px, py, right)
    assert ((inl.astype(int) + inr.astype(int)) == 1).all()


def test_pip_concave():
    # C-shape
    c = [
        np.array(
            [[0, 0], [10, 0], [10, 3], [3, 3], [3, 7], [10, 7], [10, 10], [0, 10]],
            dtype=float,
        )
    ]
    px = np.array([5.0, 1.5, 5.0])
    py = np.array([5.0, 5.0, 1.0])
    assert geom.points_in_polygon(px, py, c).tolist() == [False, True, True]


def test_segments_intersect():
    a = np.array([[0, 0, 10, 10], [0, 0, 1, 1], [0, 0, 10, 0], [0, 0, 5, 5]], dtype=float)
    b = np.array([[0, 10, 10, 0], [5, 0, 5, 10], [20, 1, 30, 1], [5, 5, 9, 9]], dtype=float)
    got = geom.segments_intersect(a, b)
    assert got.tolist() == [True, False, False, True]


def test_convex_hull_and_mbr():
    rng = np.random.RandomState(0)
    pts = rng.uniform(0, 1, (200, 2))
    hull = geom.convex_hull(pts)
    assert geom.points_in_polygon(pts[:, 0], pts[:, 1], [hull * 1.0000001 - 0.00000005]).all()
    # rotated rectangle: MBR must recover area w*h and the rotation
    w, h, ang = 8.0, 3.0, 0.5
    rect = np.array([[0, 0], [w, 0], [w, h], [0, h]])
    rot = np.array([[np.cos(ang), np.sin(ang)], [-np.sin(ang), np.cos(ang)]])
    corners, area, got_ang = geom.oriented_mbr(rect @ rot)
    assert abs(area - w * h) < 1e-9
    assert abs((got_ang % (np.pi / 2)) - ang) < 1e-9


def test_cover_cells_vs_bruteforce():
    """full cells contain only inside points; all inside points land in
    a kept cell; boundary classification is conservative."""
    from ib_tool_spark import cells

    rng = np.random.RandomState(1)
    ring = np.array(
        [[20000, 20000], [28000, 21000], [30000, 28000], [24000, 31000], [19000, 27000]],
        dtype=float,
    )
    rings = [ring]
    res = 10
    cc, full = geom.cover_cells(rings, res)
    cellset = dict(zip(cc.tolist(), full.tolist()))
    x = rng.uniform(18000, 32000, 5000)
    y = rng.uniform(18000, 32000, 5000)
    inside = geom.points_in_polygon(x, y, rings)
    pc = cells.encode(x, y, res)
    for i in range(x.shape[0]):
        c = int(pc[i])
        if inside[i]:
            assert c in cellset  # no inside point outside the cover
            # and if its cell says "full", that is consistent by definition
        if c in cellset and cellset[c]:
            assert inside[i]  # full cells never contain outside points


def test_kruskal_vs_bruteforce():
    rng = np.random.RandomState(2)
    n = 8
    pts = rng.uniform(0, 100, (n, 2))
    edges = []
    for i in range(n):
        for j in range(i + 1, n):
            edges.append([i, j, float(np.hypot(*(pts[i] - pts[j])))])
    edges = np.array(edges)
    picked = geom.kruskal_mst(n, edges)
    assert picked.shape[0] == n - 1
    got_w = edges[picked, 2].sum()
    # brute force over all spanning trees is expensive; compare with Prim
    import heapq

    seen = {0}
    pq = [(float(np.hypot(*(pts[0] - pts[j]))), j) for j in range(1, n)]
    heapq.heapify(pq)
    total = 0.0
    while len(seen) < n:
        d, j = heapq.heappop(pq)
        if j in seen:
            continue
        seen.add(j)
        total += d
        for k in range(n):
            if k not in seen:
                heapq.heappush(pq, (float(np.hypot(*(pts[j] - pts[k]))), k))
    assert abs(got_w - total) < 1e-9


def test_delaunay_square_and_mst_subset():
    pts = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [5, 5]], dtype=float)
    e = geom.delaunay_edges(pts)
    pairs = {tuple(r) for r in e.tolist()}
    # center connects to all corners
    for c in range(4):
        assert (min(c, 4), max(c, 4)) in pairs
    # all 4 outer edges present
    for a, b in ((0, 1), (1, 2), (2, 3), (0, 3)):
        assert (a, b) in pairs

    # Delaunay contains the Euclidean MST (classic property) on random pts
    rng = np.random.RandomState(3)
    rp = rng.uniform(0, 1000, (40, 2))
    de = {tuple(r) for r in geom.delaunay_edges(rp).tolist()}
    full = []
    for i in range(40):
        for j in range(i + 1, 40):
            full.append([i, j, float(np.hypot(*(rp[i] - rp[j])))])
    full = np.array(full)
    picked = geom.kruskal_mst(40, full)
    for idx in picked:
        a, b = int(full[idx, 0]), int(full[idx, 1])
        assert (a, b) in de


def _delaunay_edges_scalar(pts: np.ndarray) -> np.ndarray:
    """Reference: Bowyer–Watson one point at a time, with a Python dict
    for each cavity's boundary, the same super-triangle and the same
    circumcircle floats (geom._circumcircles) as delaunay_edges_batch."""
    n = pts.shape[0]
    if n < 2:
        return np.empty((0, 2), dtype=np.int64)
    if n == 2:
        return np.array([[0, 1]], dtype=np.int64)
    cmin, cmax = pts.min(axis=0), pts.max(axis=0)
    d = max(float(np.max(cmax - cmin)), 1.0) * 10.0
    mid = (cmin + cmax) / 2.0
    sp = [[mid[0] - 2 * d, mid[1] - d], [mid[0] + 2 * d, mid[1] - d], [mid[0], mid[1] + 2 * d]]
    allp = np.vstack([pts, sp])
    tris = {}

    def push(tv):
        tv = np.asarray(tv, dtype=np.int64)
        for t, c in zip(map(tuple, tv), zip(*geom._circumcircles(allp[:, 0], allp[:, 1], tv))):
            tris[t] = c

    push([(n, n + 1, n + 2)])
    for i in range(n):
        px, py = allp[i]
        bad = [t for t, (ux, uy, r2) in tris.items() if (ux - px) * (ux - px) + (uy - py) * (uy - py) < r2]
        count = {}
        for t in bad:
            del tris[t]
            for a, b in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                key = (min(a, b), max(a, b))
                count[key] = count.get(key, 0) + 1
        if bad:
            push([(a, b, i) for (a, b), c in count.items() if c == 1])
    edges = {
        (min(a, b), max(a, b))
        for t in tris
        if max(t) < n
        for a, b in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0]))
    }
    return np.array(sorted(edges), dtype=np.int64).reshape(-1, 2)


def _delaunay_sets() -> list:
    rng = np.random.default_rng(11)
    lattice = np.array([[i, j] for i in range(5) for j in range(5)], dtype=float)
    return [
        rng.uniform(0, 100, (1, 2)),
        rng.uniform(0, 100, (2, 2)),
        rng.uniform(0, 100, (3, 2)),
        rng.uniform(0, 100, (57, 2)),
        np.array([[0.0, 0.0], [0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [3.0, 3.0], [1.0, 0.0]]),
        np.array([[float(i), 0.0] for i in range(7)]),  # collinear run
        lattice,  # cocircular quadruples everywhere
        np.round(rng.uniform(0, 6, (40, 2))),  # duplicates on a lattice
        np.array([[3.0, 3.0], [3.0, 3.0], [3.0, 3.0]]),
    ]


def test_delaunay_edges_match_scalar_reference():
    for pts in _delaunay_sets():
        want = _delaunay_edges_scalar(pts)
        np.testing.assert_array_equal(geom.delaunay_edges(pts), want)


def test_delaunay_edges_batch_matches_per_group():
    sets = _delaunay_sets()
    n = np.array([len(s) for s in sets])
    first = np.cumsum(n) - n
    pts = np.concatenate(sets)
    # contiguous groups: each group's edges are the per-group call's,
    # offset by the group's first row
    got = geom.delaunay_edges_batch(pts, np.repeat(np.arange(len(sets)), n))
    parts = [geom.delaunay_edges(s) + f for s, f in zip(sets, first)]
    np.testing.assert_array_equal(got, np.concatenate(parts))
    # interleaved rows under shuffled labels: each group is triangulated
    # in its rows' order, and the edges come sorted by group
    rng = np.random.default_rng(5)
    perm = rng.permutation(len(pts))
    p, g = pts[perm], np.repeat(rng.permutation(len(sets)), n)[perm]
    got = geom.delaunay_edges_batch(p, g)
    g_of = g[got[:, 0]]
    assert (g[got[:, 1]] == g_of).all() and (np.diff(g_of) >= 0).all()
    for lab in np.unique(g):
        idx = np.flatnonzero(g == lab)
        mine = np.searchsorted(idx, got[g_of == lab])
        np.testing.assert_array_equal(mine, geom.delaunay_edges(p[idx]))
    assert geom.delaunay_edges_batch(np.empty((0, 2)), np.empty(0, dtype=np.int64)).shape == (0, 2)


def test_padded_ring_passes_match_per_ring():
    # rings of 3-7 vertices, so the padded passes mask real padding
    rng = np.random.default_rng(17)
    rings = [rng.uniform(-50, 50, (int(k), 2)) for k in rng.integers(3, 8, 40)]
    n_v = np.array([len(r) for r in rings])
    flat = np.concatenate(rings)
    segs = geom.rings_segments(flat, n_v)
    for r, s in zip(rings, np.split(segs, np.cumsum(n_v)[:-1])):
        b = np.roll(r, -1, axis=0)
        want = np.column_stack([r, b, np.hypot(b[:, 0] - r[:, 0], b[:, 1] - r[:, 1])])
        np.testing.assert_array_equal(s, want)
    a, b = rng.integers(0, len(rings), (2, 300))
    got = geom.min_vertex_distances(flat, n_v, a, b, chunk=64)
    for i, j, w in zip(a, b, got):
        d = rings[i][:, None, :] - rings[j][None, :, :]
        assert w == float(np.sqrt((d * d).sum(axis=2).min()))


def test_clip_ring_rect():
    tri = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]])
    # window covering the lower-left corner
    c = geom.clip_ring_rect(tri, -1.0, -1.0, 5.0, 5.0)
    # both the x>5 and y>5 corner triangles (12.5 each) are cut off
    assert abs(abs(geom.ring_area(c)) - 25.0) < 1e-9
    # fully inside window → unchanged area
    c2 = geom.clip_ring_rect(tri, -100, -100, 100, 100)
    assert abs(geom.ring_area(c2) - geom.ring_area(tri)) < 1e-12
    # fully outside → empty
    assert geom.clip_ring_rect(tri, 20, 20, 30, 30).shape[0] == 0


def test_polygon_tile_clip_partitions_area():
    """Exact decomposition: per-tile pieces sum to the polygon area."""
    from ib_tool_spark import ops, synth

    scene = synth.default_scene()
    pdf = ops.polygon_tile_clip(scene.polygons[:12], tile_res=6)
    got = pdf.groupby("sid")["piece_area"].sum()
    for sid, _name, rings in scene.polygons[:12]:
        want = geom.polygon_area(rings)
        assert abs(got[sid] - want) < 1e-6 * want, (sid, got[sid], want)
    # piece rings live inside their tile bbox
    from ib_tool_spark import cells as C

    for row in pdf.head(50).itertuples():
        ix, iy, res = C.decode_colrow(np.asarray([row.tile]))
        cs = C.DEFAULT_GRID.cell_size(int(res[0]))
        for ring in row.rings:
            r = np.asarray(ring)
            assert (r[:, 0] >= ix[0] * cs - 1e-9).all() and (r[:, 0] <= (ix[0] + 1) * cs + 1e-9).all()
            assert (r[:, 1] >= iy[0] * cs - 1e-9).all() and (r[:, 1] <= (iy[0] + 1) * cs + 1e-9).all()


def test_polygon_area_multi_outer_and_nested():
    # two disjoint outers: areas add (old formula subtracted)
    two = [
        geom.rect_ring(0.0, 0.0, 10.0, 10.0, 0.0),
        geom.rect_ring(100.0, 0.0, 4.0, 4.0, 0.0),
    ]
    assert geom.polygon_area(two) == 116.0
    # nested island: outer - hole + island
    nested = [
        geom.rect_ring(0.0, 0.0, 20.0, 20.0, 0.0),   # depth 0: +400
        geom.rect_ring(0.0, 0.0, 10.0, 10.0, 0.0),   # depth 1: -100
        geom.rect_ring(0.0, 0.0, 4.0, 4.0, 0.0),     # depth 2: +16
    ]
    assert geom.polygon_area(nested) == 316.0


def test_main_angle_rect_axis_pair():
    # two axis-aligned squares: MainAngle rect == axis bbox, exactly
    r1 = geom.rect_ring(5, 5, 10, 10, 0.0)
    r2 = geom.rect_ring(25, 5, 10, 10, 0.0)
    segs = np.vstack([geom.ring_segments(r1), geom.ring_segments(r2)])
    corners, area = geom.main_angle_rect(segs)
    assert area == pytest.approx(300.0)
    want = {(0.0, 0.0), (30.0, 0.0), (30.0, 10.0), (0.0, 10.0)}
    got = {(round(c[0], 6), round(c[1], 6)) for c in corners}
    assert got == want


def test_main_angle_rect_precomputed_angles_are_bit_identical():
    # the MST accept test passes each footprint's rounded angles,
    # computed once, for every stack of footprints it tries
    rng = np.random.default_rng(5)
    rings = [
        geom.rect_ring(*rng.uniform(-500.0, 500.0, 2), *rng.uniform(4.0, 40.0, 2), rng.uniform(0, np.pi))
        for _ in range(40)
    ] + [np.array([[0.0, 0.0], [7.0, 1.0], [3.0, 9.0]]) + rng.uniform(-50.0, 50.0, 2) for _ in range(10)]
    segs = [geom.ring_segments(r) for r in rings]
    angles = [np.round(geom.segment_angles_deg(s), 1) for s in segs]
    for _ in range(200):
        pick = rng.choice(len(rings), int(rng.integers(1, 8)))
        stack = np.vstack([segs[i] for i in pick])
        c0, a0 = geom.main_angle_rect(stack)
        c1, a1 = geom.main_angle_rect(stack, np.concatenate([angles[i] for i in pick]))
        assert a0 == a1 and (c0 is None) == (c1 is None)
        if c0 is not None:
            assert np.array_equal(c0, c1)


def test_main_angle_rect_four_or_fewer_segments():
    segs = geom.ring_segments(geom.rect_ring(0, 0, 10, 10, 0.0))
    corners, area = geom.main_angle_rect(segs)
    assert corners is None and area is None


def test_main_angle_disagrees_with_calipers():
    # VERDICT round-1 #3 done-criterion: a footprint set where min-area
    # calipers and the reference's MainAngle math pick DIFFERENT
    # rectangles; the engine must produce the MainAngle result.
    # Construction: a small axis-aligned square plus a long thin 45°
    # sliver. Dominant edge length is along 45°, so MainAngle = 45 and
    # the oriented rect is diagonal (larger area than calipers, which
    # may find a tighter orientation).
    import numpy as np

    sq = geom.rect_ring(0.0, 0.0, 10.0, 10.0, 0.0)       # perimeter 40
    sliver = geom.rect_ring(30.0, 30.0, 60.0, 2.0, np.pi / 4)  # 120 along 45°
    segs = np.vstack([geom.ring_segments(sq), geom.ring_segments(sliver)])
    angles = np.round(geom.segment_angles_deg(segs), 1)
    # the dominant angle group by total length is 45°
    corners, ma_area = geom.main_angle_rect(segs)
    pts = np.vstack([sq, sliver])
    _c, cal_area, _ang = geom.oriented_mbr(pts)
    # calipers and MainAngle must disagree on this fixture...
    assert abs(ma_area - cal_area) > 1e-6 * cal_area
    # ...and the MainAngle rectangle must (a) be oriented at 45° and
    # (b) cover every input vertex
    e = corners[1] - corners[0]
    ang_deg = np.degrees(np.arctan2(abs(e[1]), abs(e[0])))
    assert ang_deg == pytest.approx(45.0, abs=0.5)
    inside = geom.points_in_polygon(pts[:, 0], pts[:, 1], [corners])
    # vertices may sit exactly ON the rect boundary; test with a tiny
    # inward shrink of the point cloud toward its centroid instead
    cx, cy = pts[:, 0].mean(), pts[:, 1].mean()
    shrunk = pts * 0.999 + np.array([cx, cy]) * 0.001
    assert geom.points_in_polygon(shrunk[:, 0], shrunk[:, 1], [corners]).all()


def test_main_angle_grouping_quirks():
    # the reference keeps per-run sums with the LAST run dropped unless
    # it is the only one — pin that exact behavior
    angles = np.array([10.0, 10.0, 12.0, 12.0, 12.0])
    lengths = np.array([5.0, 5.0, 1.0, 1.0, 1.0])
    # one chain group (gaps < 10); runs: [10.0 x2 sum=10], [12.0 x3 sum=3 — dropped]
    # lengthsum=[10] → argmax=0 → element 0 → angle 10.0
    assert geom.main_angle(angles, lengths, 10.0) == 10.0
    # two far-apart groups: pick the longer-total group
    angles2 = np.array([0.0, 0.0, 90.0, 90.0, 90.0])
    lengths2 = np.array([10.0, 10.0, 5.0, 5.0, 5.0])
    assert geom.main_angle(angles2, lengths2, 10.0) == 0.0


def _main_angle_loop(angles, lengths, maxdiff=10.0):
    """geom.main_angle as a per-segment loop: the reference's chain
    grouping and per-run sums, one element at a time."""
    order = np.argsort(angles, kind="stable")
    a_sorted, l_sorted = angles[order], lengths[order]
    groups = [[0]]
    for i in range(1, a_sorted.shape[0]):
        if abs(a_sorted[i] - a_sorted[groups[-1][-1]]) < maxdiff:
            groups[-1].append(i)
        else:
            groups.append([i])
    sums = [float(l_sorted[g].sum()) for g in groups]
    lg = groups[int(np.argmax(sums))]
    s, g1, lengthsum = 0.0, a_sorted[lg[0]], []
    for idx in lg:
        if g1 == a_sorted[idx]:
            s += float(l_sorted[idx])
        else:
            lengthsum.append(s)
            s = float(l_sorted[idx])
        g1 = a_sorted[idx]
    if not lengthsum:
        lengthsum.append(s)
    return float(a_sorted[lg[int(np.argmax(lengthsum))]])


def test_main_angle_matches_the_per_segment_loop():
    """The vectorised chain grouping returns the loop's angle bit for
    bit, on seeded angles with repeated values, gaps of exactly 10.0
    (a split) and gaps a rounding step either side of it, and long runs
    whose length sums depend on summation order."""
    rng = np.random.default_rng(7)
    grid = np.concatenate([np.arange(0.0, 181.0, 10.0), [20.3, 30.3, 29.9, 40.1, 50.0, 59.9]])
    for trial in range(600):
        n = int(rng.integers(1, 80))
        if trial % 3 == 0:
            angles = rng.choice(grid, n)
        elif trial % 3 == 1:
            angles = np.round(rng.uniform(0.0, 180.0, n), 1)
        else:
            angles = np.round(rng.choice(grid, n) + rng.choice([0.0, 0.1, -0.1], n), 1)
        lengths = rng.choice([1.0, 2.5, 0.1, 1e-3], n) if trial % 2 else rng.uniform(0.0, 30.0, n)
        want = _main_angle_loop(angles, lengths)
        assert geom.main_angle(angles, lengths, 10.0) == want, (trial, angles, lengths)
    # a group's length sum is numpy's (pairwise) sum: these 16 lengths
    # sum to 269.638 that way and to 269.63800000000003 one at a time,
    # so a sequential sum would pick the group at 100° over the tie at 0°
    group = [25.895, 16.244, 8.991, 12.681, 0.85, 3.728, 20.119, 19.416,
             18.462, 11.51, 29.916, 29.425, 20.566, 19.514, 20.653, 11.668]
    angles = np.array([0.0] + [100.0 + 0.1 * i for i in range(16)])
    lengths = np.array([float(np.sum(group))] + group)
    assert geom.main_angle(angles, lengths, 10.0) == _main_angle_loop(angles, lengths) == 0.0
    # a gap of exactly maxdiff starts a new group; one just below does not
    assert geom.main_angle(np.array([0.0, 10.0, 10.0]), np.array([3.0, 2.0, 2.0])) == 10.0
    assert geom.main_angle(np.array([0.0, 9.9, 9.9]), np.array([3.0, 2.0, 2.0])) == 0.0


def test_buffer_polygon_closed_form():
    # round buffer of a rotated square: A + P*r + pi*r^2, with the
    # inscribed-n-gon arc deficit bounded by sin(2pi/n)*n/(2pi)
    sq = [geom.rect_ring(0, 0, 10, 10, 0.5)]
    r = 3.0
    buf = geom.buffer_polygon(sq, r, n_arc=32)
    want = 100.0 + 40.0 * r + np.pi * r * r
    got = geom.polygon_area(buf)
    deficit = np.sin(2 * np.pi / 32) * 32 / (2 * np.pi)  # 0.9936
    assert want * deficit - 1e-6 <= got <= want + 1e-6
    # every original vertex is strictly inside the buffer
    assert geom.points_in_polygon(sq[0][:, 0], sq[0][:, 1], buf).all()


def test_buffer_polygon_large_ring_perf_pin():
    # single-arrangement capsule union: a 1,000-vertex ring must buffer
    # in seconds, not the minutes a sequential per-edge fold costs
    import time

    t = np.linspace(0, 2 * np.pi, 1000, endpoint=False)
    rad = 100 + 10 * np.sin(9 * t)
    ring = np.stack([rad * np.cos(t), rad * np.sin(t)], axis=1)
    # warm the allocator on a smaller ring first: the first big
    # arrangement faults in hundreds of MB of pages (THP), which is
    # machine noise, not the algorithmic cost this pin guards
    geom.buffer_polygon([ring[::5]], 5.0, n_arc=8)
    t0 = time.time()
    buf = geom.buffer_polygon([ring], 5.0, n_arc=8)
    # ~2 s warm; the pin guards against quadratic union folds (minutes)
    assert time.time() - t0 < 15.0
    got = geom.polygon_area(buf)
    # wavy annulus: pi*(mean_r^2 + amp^2/2) at mean_r+5, n-gon deficit below
    want = np.pi * (105.0**2 + 50.0)
    assert 0.9 * want < got < 1.02 * want
    # every source vertex strictly inside
    assert geom.points_in_polygon(ring[:, 0], ring[:, 1], buf).all()


def test_point_polygon_distance():
    sq = [geom.rect_ring(0, 0, 10, 10, 0.0)]  # [-5,5]^2
    d = geom.point_polygon_distance(
        np.array([0.0, 8.0, 8.0]), np.array([0.0, 0.0, 9.0]), sq
    )
    assert d[0] == 0.0
    assert d[1] == pytest.approx(3.0)
    assert d[2] == pytest.approx(np.hypot(3.0, 4.0))


def test_close_holes_exact():
    H = [
        geom.rect_ring(0, 0, 20, 20, 0.0),
        geom.rect_ring(0, 0, 2, 2, 0.0),   # 4 m² hole — filled
        geom.rect_ring(6, 6, 5, 5, 0.0),   # 25 m² hole — kept
    ]
    closed = geom.close_holes(H, max_hole_area=10.0)
    assert len(closed) == 2
    assert geom.polygon_area(closed) == pytest.approx(375.0)


def _shared_boundary_scalar(rings_a, rings_b):
    # the pre-r4 per-A-edge reference implementation, kept as the parity
    # oracle for the batched shared_boundary_length
    ea = geom._rings_edges([geom.coerce_ring(r) for r in rings_a])
    eb = geom._rings_edges([geom.coerce_ring(r) for r in rings_b])
    bx1, by1, bx2, by2 = eb[:, 0], eb[:, 1], eb[:, 2], eb[:, 3]
    total = 0.0
    for x1, y1, x2, y2 in ea:
        dx, dy = x2 - x1, y2 - y1
        L = float(np.hypot(dx, dy))
        if L == 0.0:
            continue
        tol = 1e-9 * (abs(x1) + abs(y1) + L + 1.0)
        c1 = np.abs(dx * (by1 - y1) - dy * (bx1 - x1))
        c2 = np.abs(dx * (by2 - y1) - dy * (bx2 - x1))
        m = (c1 <= tol * L) & (c2 <= tol * L)
        if not m.any():
            continue
        inv = 1.0 / (L * L)
        t1 = ((bx1[m] - x1) * dx + (by1[m] - y1) * dy) * inv
        t2 = ((bx2[m] - x1) * dx + (by2[m] - y1) * dy) * inv
        lo = np.clip(np.minimum(t1, t2), 0.0, 1.0)
        hi = np.clip(np.maximum(t1, t2), 0.0, 1.0)
        iv = np.sort(np.stack([lo, hi], axis=1), axis=0)
        cov = 0.0
        cur_lo, cur_hi = None, None
        for a, b in iv[np.argsort(iv[:, 0])]:
            if b <= a:
                continue
            if cur_lo is None:
                cur_lo, cur_hi = a, b
            elif a <= cur_hi:
                cur_hi = max(cur_hi, b)
            else:
                cov += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
        if cur_lo is not None:
            cov += cur_hi - cur_lo
        total += cov * L
    return total


def test_shared_boundary_length_batched_parity():
    # VERDICT r3 wrong#4: bit-identical to the scalar loop on random
    # collinear stacks (fragments of A's own edges, shifted copies,
    # non-collinear noise)
    rng = np.random.default_rng(3)
    for trial in range(20):
        na = int(rng.integers(4, 40))
        ring = np.stack(
            [np.cos(np.linspace(0, 2 * np.pi, na, endpoint=False)) * 50 + rng.uniform(0, 10),
             np.sin(np.linspace(0, 2 * np.pi, na, endpoint=False)) * 50], axis=1
        )
        # B: random sub-fragments of A's edges (collinear by construction)
        frags = []
        for _ in range(int(rng.integers(1, 30))):
            k = int(rng.integers(0, na))
            p, q = ring[k], ring[(k + 1) % na]
            t0s, t1s = np.sort(rng.uniform(-0.3, 1.3, 2))
            a = p + t0s * (q - p)
            b = p + t1s * (q - p)
            frags.append(np.array([a, b, a + (b - a) * 0.5 + [0.0, 40.0]]))
        rb = [np.vstack([f, f[:1]])[:3] for f in frags]
        got = geom.shared_boundary_length([ring], rb)
        want = _shared_boundary_scalar([ring], rb)
        assert got == want, (trial, got, want)
    # simple closed form: half the square's boundary is shared
    sq = geom.rect_ring(0, 0, 10, 10, 0.0)
    half = np.array([[-5.0, -5.0], [5.0, -5.0], [5.0, 5.0]])
    assert geom.shared_boundary_length([sq], [half]) == pytest.approx(20.0)


def test_shared_boundary_length_perf_pin():
    import time

    rng = np.random.default_rng(9)
    na = 500
    ang = np.linspace(0, 2 * np.pi, na, endpoint=False)
    ring = np.stack([np.cos(ang) * 200, np.sin(ang) * 200], axis=1)
    other = [np.roll(ring, k, axis=0) + rng.uniform(-1, 1, 2) for k in range(6)]
    geom.shared_boundary_length([ring], [ring[:10]])  # warm
    best = float("inf")
    for _ in range(3):  # min-of-3: hypervisor steal only ever ADDS time
        t0 = time.perf_counter()
        for o in other:
            geom.shared_boundary_length([ring], [o])
        best = min(best, time.perf_counter() - t0)
    assert best < 1.0, best
