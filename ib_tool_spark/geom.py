"""Vectorized numpy geometry kernels.

This is the engine's scalar-function library — the from-scratch
replacement for the reference's arcpy geometric calls (SURVEY.md §2.5).
Everything is planar (projected metric CRS, mirroring the reference's
EPSG 25832/25833 semantics — IB-Tool2_Config.txt:12) and vectorized:
these kernels run inside Arrow-batched pandas UDFs, never per-row
Python.

Polygon representation: ``rings`` = list of (K, 2) float64 arrays,
ring closure implicit (first vertex != last; edges wrap).  Even-odd
(crossing-number) rule, so holes are just additional rings — matches
the shapefile even-odd fill the reference relies on.
"""

from __future__ import annotations

import numpy as np

from .cells import DEFAULT_GRID, GridConfig, encode_colrow

# ---------------------------------------------------------------------------
# Measures
# ---------------------------------------------------------------------------


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (CCW positive).

    Replaces the reference's ``!shape.geodesicArea@SQUAREMETERS!``
    (IB-Tool2.py:205-210); planar is exact for the projected CRS.
    """
    x, y = ring[:, 0], ring[:, 1]
    # manual -1 shift: same terms and summation order as np.roll, none
    # of its per-call machinery (this is the hottest scalar in the
    # arrangement/union path)
    xn = np.empty_like(x)
    xn[:-1] = x[1:]
    xn[-1] = x[0]
    yn = np.empty_like(y)
    yn[:-1] = y[1:]
    yn[-1] = y[0]
    return 0.5 * float(np.sum(x * yn - xn * y))


def polygon_area(rings: list[np.ndarray]) -> float:
    """Even-odd polygon area, orientation-independent: each ring is
    signed by its containment depth (even depth adds, odd subtracts),
    so disjoint multi-outer sets and nested islands measure correctly —
    not just the single-outer+holes layout.  Depth is sampled at a ring
    vertex; a ring sharing its sample vertex with an enclosing ring
    (degenerate clipped geometry) reads as depth 0, which matches the
    even-odd measure assigning zero-width contacts no area.
    """
    if not rings:
        return 0.0
    rs = [np.asarray(r, dtype=np.float64) for r in rings]
    if len(rs) == 1:
        return abs(ring_area(rs[0]))
    total = 0.0
    for i, r in enumerate(rs):
        others = [o for j, o in enumerate(rs) if j != i]
        p = _off_boundary_sample(r, others)
        depth = sum(
            1 for o in others if bool(points_in_polygon(p[:1], p[1:], [o])[0])
        )
        total += abs(ring_area(r)) * (1.0 if depth % 2 == 0 else -1.0)
    return total


def _point_on_ring(px: float, py: float, ring: np.ndarray, tol: float = 0.0) -> bool:
    """Point-on-boundary test.  tol=0 is the exact form (coincident
    geometry from clipping shares exact float coordinates); callers
    comparing rings whose midpoints were computed through different
    float expression trees pass a small cross-product tolerance."""
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    on = (
        (np.abs(cross) <= tol)
        & (px >= np.minimum(x1, x2) - tol)
        & (px <= np.maximum(x1, x2) + tol)
        & (py >= np.minimum(y1, y2) - tol)
        & (py <= np.maximum(y1, y2) + tol)
    )
    return bool(on.any())


def _off_boundary_sample(ring: np.ndarray, others: list[np.ndarray]) -> np.ndarray:
    """A point of ``ring`` (vertex or edge midpoint) not lying on any
    other ring's boundary — makes the containment-depth test in
    polygon_area well-defined for clipped pieces that share window
    edges.  Falls back to the first vertex (zero-area contact)."""
    candidates = [ring[k] for k in range(ring.shape[0])]
    mids = (ring + np.roll(ring, -1, axis=0)) * 0.5
    candidates += [mids[k] for k in range(mids.shape[0])]
    for p in candidates:
        if not any(_point_on_ring(float(p[0]), float(p[1]), o) for o in others):
            return np.asarray(p, dtype=np.float64)
    return np.asarray(ring[0], dtype=np.float64)


def ring_length(ring: np.ndarray, closed: bool = True) -> float:
    pts = np.vstack([ring, ring[:1]]) if closed else ring
    d = np.diff(pts, axis=0)
    return float(np.sum(np.hypot(d[:, 0], d[:, 1])))


def polygon_perimeter(rings: list[np.ndarray]) -> float:
    return sum(ring_length(r) for r in rings)


def rings_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    pts = np.vstack(rings)
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    """Area-weighted centroid of one ring (arcpy FeatureToPoint analogue,
    IB-Tool2.py:795)."""
    x, y = ring[:, 0], ring[:, 1]
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    cross = x * yn - xn * y
    a = cross.sum() / 2.0
    if abs(a) < 1e-12:
        return float(x.mean()), float(y.mean())
    cx = float(((x + xn) * cross).sum() / (6.0 * a))
    cy = float(((y + yn) * cross).sum() / (6.0 * a))
    return cx, cy


# ---------------------------------------------------------------------------
# Point-in-polygon (the PIP-join refine kernel)
# ---------------------------------------------------------------------------


def coerce_ring(r) -> np.ndarray:
    """Normalize a ring from any source (Arrow object arrays, lists)
    to a (K, 2) float64 array."""
    a = np.asarray(r)
    if a.dtype == object or a.ndim != 2:
        a = np.vstack([np.asarray(v, dtype=np.float64) for v in r])
    return a.astype(np.float64, copy=False)


def _rings_edges(rings: list[np.ndarray]) -> np.ndarray:
    """Concatenate all ring edges → (E, 4) array of (x1, y1, x2, y2)."""
    segs = []
    for r in rings:
        r = coerce_ring(r)
        nxt = np.empty_like(r)
        nxt[:-1] = r[1:]
        nxt[-1] = r[0]
        segs.append(np.hstack([r, nxt]))
    return np.vstack(segs)


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Vectorized even-odd crossing test: (N,) bool.

    Tie-break rule (pinned by tests): edges are half-open in y
    (``y1 <= py < y2`` counting), ray goes in +x; a point exactly on a
    horizontal edge is decided by the adjacent non-horizontal edges.
    This is the engine-wide PIP rule the north_rule's "identical join
    rows" parity is defined against.
    """
    edges = _rings_edges(rings)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = px.shape[0]
    inside = np.zeros(n, dtype=bool)
    # batch over points to bound the (batch, E) temporary
    E = edges.shape[0]
    batch = max(1, int(2_000_000 / max(E, 1)))
    x1, y1, x2, y2 = edges[:, 0], edges[:, 1], edges[:, 2], edges[:, 3]
    dy = y2 - y1
    with np.errstate(divide="ignore", invalid="ignore"):
        inv_dy = np.where(dy != 0.0, 1.0 / dy, 0.0)
    for s in range(0, n, batch):
        e = min(n, s + batch)
        bpy = py[s:e, None]
        bpx = px[s:e, None]
        cond = (y1[None, :] > bpy) != (y2[None, :] > bpy)
        xi = x1[None, :] + (bpy - y1[None, :]) * (x2 - x1)[None, :] * inv_dy[None, :]
        inside[s:e] = (np.sum(cond & (bpx < xi), axis=1) % 2).astype(bool)
    return inside


# ---------------------------------------------------------------------------
# Segment intersection (road-crossing prune, IB-Tool2.py:1359-1372)
# ---------------------------------------------------------------------------


def segments_intersect(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise proper/improper intersection of segment arrays.

    ``a``: (N, 4) of (x1,y1,x2,y2); ``b``: (N, 4).  Returns (N,) bool.
    Uses orientation signs with collinear-overlap handling.
    """

    def orient(ox, oy, ax_, ay_, bx, by):
        return (ax_ - ox) * (by - oy) - (ay_ - oy) * (bx - ox)

    ax1, ay1, ax2, ay2 = a[:, 0], a[:, 1], a[:, 2], a[:, 3]
    bx1, by1, bx2, by2 = b[:, 0], b[:, 1], b[:, 2], b[:, 3]
    d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
    d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
    d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)

    def on_seg(px, py, qx, qy, rx, ry):
        return (
            (np.minimum(px, qx) <= rx)
            & (rx <= np.maximum(px, qx))
            & (np.minimum(py, qy) <= ry)
            & (ry <= np.maximum(py, qy))
        )

    touch = (
        ((d1 == 0) & on_seg(bx1, by1, bx2, by2, ax1, ay1))
        | ((d2 == 0) & on_seg(bx1, by1, bx2, by2, ax2, ay2))
        | ((d3 == 0) & on_seg(ax1, ay1, ax2, ay2, bx1, by1))
        | ((d4 == 0) & on_seg(ax1, ay1, ax2, ay2, bx2, by2))
    )
    return proper | touch


# ---------------------------------------------------------------------------
# Convex hull + oriented MBR (IB-Tool2.py:426-642 CalcBoundingRect)
# ---------------------------------------------------------------------------


def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain; returns CCW hull vertices (K, 2)."""
    pts = np.unique(pts, axis=0)
    if pts.shape[0] <= 2:
        return pts

    def half(points):
        out: list[np.ndarray] = []
        for p in points:
            while len(out) >= 2:
                o, a_ = out[-2], out[-1]
                if (a_[0] - o[0]) * (p[1] - o[1]) - (a_[1] - o[1]) * (p[0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    order = np.lexsort((pts[:, 1], pts[:, 0]))
    spts = pts[order]
    lower = half(spts)
    upper = half(spts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def oriented_mbr(pts: np.ndarray) -> tuple[np.ndarray, float, float]:
    """Minimum-area oriented bounding rectangle via rotating calipers.

    Returns (corners(4,2), area, angle_rad).  Replaces arcpy
    ``MinimumBoundingGeometry RECTANGLE_BY_AREA`` (IB-Tool2.py:938,
    1407) and is the accept/reject measure of the reference's greedy
    MST clustering (IB-Tool2.py:1459-1646).
    """
    hull = convex_hull(pts)
    if hull.shape[0] == 1:
        c = hull[0]
        return np.tile(c, (4, 1)), 0.0, 0.0
    if hull.shape[0] == 2:
        d = hull[1] - hull[0]
        ang = float(np.arctan2(d[1], d[0]))
        return np.array([hull[0], hull[1], hull[1], hull[0]]), 0.0, ang
    edges = np.roll(hull, -1, axis=0) - hull
    angles = np.unique(np.mod(np.arctan2(edges[:, 1], edges[:, 0]), np.pi / 2))
    best = (np.inf, None, 0.0)
    for ang in angles:
        c, s = np.cos(ang), np.sin(ang)
        rot = hull @ np.array([[c, -s], [s, c]])  # rotate by -ang
        minx, miny = rot.min(axis=0)
        maxx, maxy = rot.max(axis=0)
        area = (maxx - minx) * (maxy - miny)
        if area < best[0]:
            best = (area, (minx, miny, maxx, maxy), ang)
    area, (minx, miny, maxx, maxy), ang = best
    corners_r = np.array([[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy]])
    c, s = np.cos(ang), np.sin(ang)
    corners = corners_r @ np.array([[c, s], [-s, c]])
    return corners, float(area), float(ang)


# ---------------------------------------------------------------------------
# Cell cover of a polygon (candidate generation for the PIP join)
# ---------------------------------------------------------------------------


def cover_cells(
    rings: list[np.ndarray],
    res: int,
    grid: GridConfig = DEFAULT_GRID,
) -> tuple[np.ndarray, np.ndarray]:
    """Quadkey cells overlapping a polygon, classified full vs boundary.

    Returns ``(cells int64[], full bool[])``:

    - ``full=True``  → cell entirely inside the polygon; points in it
      need NO exact test (the join accepts them outright).
    - ``full=False`` → boundary candidate; points get the exact
      :func:`points_in_polygon` refine.

    Conservative: any cell whose bbox overlaps an *edge bbox* is marked
    boundary, which can only demote full→boundary (extra exact tests,
    never wrong rows).  This is the explicit replacement for the
    R-tree candidate pass inside arcpy's SpatialJoin.
    """
    cs = grid.cell_size(res)
    n = 1 << res
    minx, miny, maxx, maxy = rings_bbox(rings)
    c0 = max(0, int(np.floor((minx - grid.x0) / cs)))
    r0 = max(0, int(np.floor((miny - grid.y0) / cs)))
    c1 = min(n - 1, int(np.floor((maxx - grid.x0) / cs)))
    r1 = min(n - 1, int(np.floor((maxy - grid.y0) / cs)))
    ncol, nrow = c1 - c0 + 1, r1 - r0 + 1
    if ncol <= 0 or nrow <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)

    boundary = np.zeros((nrow, ncol), dtype=bool)
    edges = _rings_edges(rings)
    ec0 = np.clip(np.floor((np.minimum(edges[:, 0], edges[:, 2]) - grid.x0) / cs), c0, c1).astype(int) - c0
    ec1 = np.clip(np.floor((np.maximum(edges[:, 0], edges[:, 2]) - grid.x0) / cs), c0, c1).astype(int) - c0
    er0 = np.clip(np.floor((np.minimum(edges[:, 1], edges[:, 3]) - grid.y0) / cs), r0, r1).astype(int) - r0
    er1 = np.clip(np.floor((np.maximum(edges[:, 1], edges[:, 3]) - grid.y0) / cs), r0, r1).astype(int) - r0
    for i in range(edges.shape[0]):
        boundary[er0[i] : er1[i] + 1, ec0[i] : ec1[i] + 1] = True

    # cell centers inside?
    cols = grid.x0 + (np.arange(c0, c1 + 1) + 0.5) * cs
    rows = grid.y0 + (np.arange(r0, r1 + 1) + 0.5) * cs
    cxx, cyy = np.meshgrid(cols, rows)
    center_in = points_in_polygon(cxx.ravel(), cyy.ravel(), rings).reshape(nrow, ncol)

    keep = boundary | center_in
    full = center_in & ~boundary
    rr, cc = np.nonzero(keep)
    cells = encode_colrow(cc + c0, rr + r0, res)
    return cells, full[rr, cc]


# ---------------------------------------------------------------------------
# Graph kernels: union-find + Kruskal MST (IB-Tool2.py:1438 analogue)
# ---------------------------------------------------------------------------


class UnionFind:
    def __init__(self, n: int):
        self.parent = np.arange(n, dtype=np.int64)

    def find(self, a: int) -> int:
        p = self.parent
        root = a
        while p[root] != root:
            root = p[root]
        while p[a] != root:
            p[a], a = root, p[a]
        return root

    def union(self, a: int, b: int) -> bool:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        self.parent[rb] = ra
        return True


def kruskal_mst(n_nodes: int, edges: np.ndarray) -> np.ndarray:
    """Kruskal over (src, dst, weight) float64 rows → indices of MST edges.

    Deterministic tie-break: (weight, src, dst) sort order — required
    so the greedy clustering downstream is reproducible under retry.
    """
    if edges.shape[0] == 0:
        return np.empty(0, dtype=np.int64)
    order = np.lexsort((edges[:, 1], edges[:, 0], edges[:, 2]))
    uf = UnionFind(n_nodes)
    picked = []
    for i in order:
        if uf.union(int(edges[i, 0]), int(edges[i, 1])):
            picked.append(i)
            if len(picked) == n_nodes - 1:
                break
    return np.asarray(picked, dtype=np.int64)


def delaunay_edges(pts: np.ndarray) -> np.ndarray:
    """Delaunay edge list via incremental Bowyer–Watson → (E, 2) int64,
    sorted: delaunay_edges_batch over one group.

    Per-partition scope only (the reference likewise triangulates one
    settlement partition at a time — IB-Tool2.py:1259-1303).
    """
    pts = np.asarray(pts, dtype=np.float64)
    return delaunay_edges_batch(pts, np.zeros(pts.shape[0], dtype=np.int64))


def delaunay_edges_batch(pts: np.ndarray, group: np.ndarray) -> np.ndarray:
    """Delaunay edges of every ``group`` of ``pts`` at once → (E, 2)
    int64 indices into ``pts``, sorted by (group, a, b) with a < b.

    Each group is triangulated on its own, with its points in ``pts``
    order: a group of 2 gives its one edge, a group of 3 or more runs
    incremental Bowyer–Watson inside its own super-triangle.  The
    groups advance in lock-step (_bowyer_watson_lockstep), so the
    Python steps number the largest group, not all points, and every
    group's edges are those a triangulation of its points alone
    gives."""
    pts = np.asarray(pts, dtype=np.float64)
    group = np.asarray(group)
    order = np.argsort(group, kind="stable")
    g = group[order]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]]) if g.size else np.empty(0, np.int64)
    sizes = np.diff(np.r_[starts, g.size])
    pairs = starts[sizes == 2]
    edges = np.concatenate(
        [
            np.column_stack([pairs, pairs + 1]),
            _bowyer_watson_lockstep(pts[order], starts[sizes > 2], sizes[sizes > 2]),
        ]
    ).astype(np.int64)
    # sorted positions keep each group's point order, so (a, b) stays
    # ascending through ``order``; sorted by (a, b) here is by group first
    edges = edges[np.lexsort((edges[:, 1], edges[:, 0]))]
    return order[edges]


def _circumcircles(px: np.ndarray, py: np.ndarray, tv: np.ndarray):
    """(centre x, centre y, squared radius) of each triangle ``tv``
    (rows of vertex indices into the coordinates ``px``, ``py``), from
    its vertices in row order.  A degenerate (collinear) triangle gets
    radius inf and centre 0, so every later point finds it bad and
    retriangulates its cavity."""
    ax, bx, cx = px[tv[:, 0]], px[tv[:, 1]], px[tv[:, 2]]
    ay, by, cy = py[tv[:, 0]], py[tv[:, 1]], py[tv[:, 2]]
    dd = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    a2, b2, c2 = ax * ax + ay * ay, bx * bx + by * by, cx * cx + cy * cy
    with np.errstate(divide="ignore", invalid="ignore"):
        ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / dd
        uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / dd
        r2 = (ax - ux) ** 2 + (ay - uy) ** 2
    bad = ~np.isfinite(r2) | (dd == 0.0)
    return np.where(bad, 0.0, ux), np.where(bad, 0.0, uy), np.where(bad, np.inf, r2)


def _bowyer_watson_lockstep(pts: np.ndarray, starts: np.ndarray, sizes: np.ndarray) -> np.ndarray:
    """Bowyer–Watson over groups of at least 3 points, group j being
    ``pts[starts[j] : starts[j] + sizes[j]]`` → (E, 2) edges (a < b,
    indices into ``pts``), unordered.

    Step k inserts the k-th point of every group still growing: one
    vectorised in-circumcircle test over all groups' live triangles,
    each against its own group's point; each cavity's boundary is the
    edges its bad triangles share with no other (the keys are global
    vertex indices, so groups never collide); each boundary edge (a, b)
    becomes the triangle (a, b, point), whose circumcircle is computed
    from the vertices in that order.  Group j's super-triangle takes
    the vertex indices n + 3j … n + 3j + 2, above every point, so edge
    keys and vertex orders are those of a triangulation of the group
    alone and every circumcircle float is the same."""
    n, G = pts.shape[0], starts.shape[0]
    if G == 0:
        return np.empty((0, 2), dtype=np.int64)
    first = np.cumsum(sizes) - sizes
    members = np.repeat(starts - first, sizes) + np.arange(int(sizes.sum()))
    sub = pts[members]
    cmin = np.minimum.reduceat(sub, first, axis=0)
    cmax = np.maximum.reduceat(sub, first, axis=0)
    d = np.maximum(np.max(cmax - cmin, axis=1), 1.0) * 10.0
    mid = (cmin + cmax) / 2.0
    sp = np.stack(
        [
            np.column_stack([mid[:, 0] - 2 * d, mid[:, 1] - d]),
            np.column_stack([mid[:, 0] + 2 * d, mid[:, 1] - d]),
            np.column_stack([mid[:, 0], mid[:, 1] + 2 * d]),
        ],
        axis=1,
    ).reshape(-1, 2)
    allp = np.vstack([pts, sp])
    vq = np.full(allp.shape[0], -1, dtype=np.int64)  # vertex → its group's first point
    vq[members] = np.repeat(starts, sizes)
    vq[n:] = np.repeat(starts, 3)
    m = allp.shape[0]
    px, py = allp[:, 0].copy(), allp[:, 1].copy()

    # triangle store: vertices, group's first point, circumcircle; a dead
    # triangle's squared radius is -inf, so no point ever finds it bad
    tv, tq, tc = np.empty((0, 3), dtype=np.int64), np.empty(0, dtype=np.int64), np.empty((3, 0))
    ntri = 0

    def push(new: np.ndarray, q: np.ndarray) -> None:
        nonlocal ntri, tv, tq, tc
        if ntri + new.shape[0] > tq.shape[0]:
            grow = ntri + 2 * new.shape[0]
            tv = np.concatenate([tv[:ntri], np.empty((grow, 3), dtype=np.int64)])
            tq = np.concatenate([tq[:ntri], np.empty(grow, dtype=np.int64)])
            tc = np.concatenate([tc[:, :ntri], np.empty((3, grow))], axis=1)
        sl = slice(ntri, ntri + new.shape[0])
        tv[sl], tq[sl] = new, q
        tc[0, sl], tc[1, sl], tc[2, sl] = _circumcircles(px, py, new)
        ntri += new.shape[0]

    push(n + 3 * np.arange(G)[:, None] + np.arange(3)[None, :], starts)
    done = []
    nlive = G
    finish = set(sizes.tolist())
    for k in range(int(sizes.max())):
        if k in finish or ntri > 4 * nlive + 64:
            fin = sizes == k
            # set complete groups' triangles aside, drop the dead ones
            live = tc[2, :ntri] > -np.inf
            out = np.isin(tq[:ntri], starts[fin])
            done.append(tv[:ntri][live & out])
            keep = np.flatnonzero(live & ~out)
            ntri = nlive = keep.size
            tv[:ntri], tq[:ntri], tc[:, :ntri] = tv[keep], tq[keep], tc[:, keep]
        q = tq[:ntri] + k
        dx = tc[0, :ntri] - px[q]
        dy = tc[1, :ntri] - py[q]
        bad = np.flatnonzero(dx * dx + dy * dy < tc[2, :ntri])
        if not bad.size:
            continue
        bt = np.sort(tv[bad], axis=1)
        tc[2, bad] = -np.inf
        key = np.concatenate([bt[:, 0] * m + bt[:, 1], bt[:, 1] * m + bt[:, 2], bt[:, 0] * m + bt[:, 2]])
        key.sort()
        # the cavity's boundary: edges of exactly one bad triangle
        step = key[1:] != key[:-1]
        once = np.ones(key.size, dtype=bool)
        once[1:] = step
        once[:-1] &= step
        key = key[once]
        a = key // m
        q = vq[a]
        push(np.column_stack([a, key - a * m, q + k]), q)
        nlive += key.size - bad.size
    tv = np.concatenate(done + [tv[:ntri][tc[2, :ntri] > -np.inf]])
    tv = np.sort(tv[(tv < n).all(axis=1)], axis=1)
    e = np.concatenate([tv[:, [0, 1]], tv[:, [1, 2]], tv[:, [0, 2]]])
    return np.unique(e, axis=0) if e.shape[0] else np.empty((0, 2), dtype=np.int64)


def _clip_halfplane(ring: np.ndarray, ax: float, ay: float, bx: float, by: float) -> np.ndarray:
    """Sutherland–Hodgman clip of a convex ring against the bisector
    half-plane closer to site a than site b: keep {p : (b−a)·p ≤
    (b−a)·(a+b)/2}.  Returns the clipped ring (possibly empty)."""
    nx_, ny_ = bx - ax, by - ay
    c = (nx_ * (ax + bx) + ny_ * (ay + by)) * 0.5
    d = ring[:, 0] * nx_ + ring[:, 1] * ny_ - c
    m = ring.shape[0]
    out: list[np.ndarray] = []
    for i in range(m):
        j = (i + 1) % m
        di, dj = d[i], d[j]
        if di <= 0.0:
            out.append(ring[i])
        if (di < 0.0 < dj) or (dj < 0.0 < di):
            t = di / (di - dj)
            out.append(ring[i] + t * (ring[j] - ring[i]))
    if len(out) < 3:
        return np.empty((0, 2), dtype=np.float64)
    return np.asarray(out, dtype=np.float64)


def voronoi_cells(
    pts: np.ndarray, bbox: tuple[float, float, float, float]
) -> list[np.ndarray]:
    """Bounded Voronoi (Thiessen) cells — CreateThiessenPolygons
    analogue (Partitioning.pyt:94), one CCW convex ring per site.

    Cell i = bbox ∩ bisector half-planes against site i's Delaunay
    neighbors.  This is exact: Voronoi adjacency is a subset of any
    Delaunay triangulation's adjacency, and clipping by a non-neighbor's
    bisector removes nothing (the true cell lies inside every bisector
    half-plane), so degenerate cocircular/collinear lattice sites —
    where the triangulation's diagonal choice is arbitrary — cannot
    change the output.  O(n · deg) driver-scale kernel, same scope as
    delaunay_edges (the reference triangulates one study area at a
    time)."""
    pts = np.asarray(pts, dtype=np.float64)
    minx, miny, maxx, maxy = (float(v) for v in bbox)
    base = np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy]], dtype=np.float64
    )
    n = pts.shape[0]
    if n == 0:
        return []
    if n == 1:
        return [base.copy()]
    edges = delaunay_edges(pts)
    nbrs: list[list[int]] = [[] for _ in range(n)]
    for a, b in edges:
        nbrs[int(a)].append(int(b))
        nbrs[int(b)].append(int(a))
    cells: list[np.ndarray] = []
    for i in range(n):
        ring = base
        for j in nbrs[i]:
            ring = _clip_halfplane(
                ring, float(pts[i, 0]), float(pts[i, 1]), float(pts[j, 0]), float(pts[j, 1])
            )
            if ring.shape[0] == 0:
                break
        cells.append(ring)
    return cells


def _segment_site_mindist(segs: np.ndarray, sites: np.ndarray) -> np.ndarray:
    """Min distance from each segment (S, 4) to any site (N, 2) — the
    WITHIN_A_DISTANCE deletion test of Partitioning.pyt:103-105.
    Vectorized point-to-segment distance, batched over segments so the
    (batch, N) temporaries stay bounded."""
    segs = np.asarray(segs, dtype=np.float64)
    sites = np.asarray(sites, dtype=np.float64)
    S = segs.shape[0]
    out = np.empty(S, dtype=np.float64)
    if S == 0:
        return out
    if sites.shape[0] == 0:
        out[:] = np.inf
        return out
    batch = max(1, int(2_000_000 / max(sites.shape[0], 1)))
    px, py = sites[:, 0], sites[:, 1]
    for s in range(0, S, batch):
        e = min(S, s + batch)
        a = segs[s:e, :2][:, None, :]  # (B, 1, 2)
        d = (segs[s:e, 2:] - segs[s:e, :2])[:, None, :]
        L2 = (d * d).sum(axis=2)
        ap = np.stack([px[None, :] - a[:, :, 0], py[None, :] - a[:, :, 1]], axis=2)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.clip((ap * d).sum(axis=2) / np.where(L2 > 0.0, L2, 1.0), 0.0, 1.0)
        foot = a + t[:, :, None] * d
        dx = foot[:, :, 0] - px[None, :]
        dy = foot[:, :, 1] - py[None, :]
        out[s:e] = np.sqrt(dx * dx + dy * dy).min(axis=1)
    return out


def thiessen_partition_polygons(
    sites: np.ndarray,
    bbox: tuple[float, float, float, float],
    radius_del: float,
    snap: float = 1e-6,
) -> list[list[np.ndarray]]:
    """The reference's Thiessen partition chain (Partitioning.pyt
    :94-108): Thiessen polygons of the dense raster points → polygon
    boundaries as line segments → delete every segment within
    ``radius_del`` of a dense point → polygonize the remainder.  The
    surviving segments are the Voronoi walls running through EMPTY
    space midway between settlement clusters (plus the bbox frame), so
    the faces are the partition polygons, each enclosing one cluster.

    Returns polygonize faces (list of even-odd ring lists), ordered by
    the arrangement walk — callers needing stable names sort by face
    minimum vertex."""
    cells = voronoi_cells(sites, bbox)
    segs: list[np.ndarray] = []
    for ring in cells:
        if ring.shape[0] < 3:
            continue
        nxt = np.roll(ring, -1, axis=0)
        segs.append(np.hstack([ring, nxt]))
    if not segs:
        return []
    seg_arr = np.vstack(segs)
    # WITHIN_A_DISTANCE is inclusive; the relative epsilon keeps the
    # exactly-radius_del bisectors between lattice-adjacent sites (cell
    # spacing = 2·radius_del in the reference's parameterization) on the
    # delete side despite clip-order float noise
    dmin = _segment_site_mindist(seg_arr, sites)
    keep = dmin > radius_del * (1.0 + 1e-9)
    if not np.any(keep):
        return []
    # adjacent cells contribute ulp-twin duplicates of every shared
    # wall; polygonize's snap noding merges them
    return polygonize(seg_arr[keep], snap=snap)


# ---------------------------------------------------------------------------
# Cell-set topology: connected components + boundary tracing
# (the engine's dissolve/raster→vector kernels, SURVEY.md A1/A5/G7)
# ---------------------------------------------------------------------------


def cell_components(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """4-connectivity components over a sparse cell set → labels (N,).

    Used where the reference dissolves touching buffers/blocks
    (Dissolve SINGLE_PART, IB-Tool2.py:826) and where Partitioning.pyt
    groups dense raster cells into settlement partitions.  Runs on the
    *aggregated* cell table (small), never on raw points.
    """
    n = ix.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order = np.lexsort((iy, ix))
    key_to_idx = {(int(ix[i]), int(iy[i])): i for i in range(n)}
    uf = UnionFind(n)
    for i in range(n):
        for dx, dy in ((1, 0), (0, 1)):
            j = key_to_idx.get((int(ix[i]) + dx, int(iy[i]) + dy))
            if j is not None:
                uf.union(i, j)
    roots = np.array([uf.find(i) for i in range(n)], dtype=np.int64)
    # stable relabel: component id = rank of its smallest (ix, iy) member
    first = {}
    for pos in order:
        r = roots[pos]
        if r not in first:
            first[r] = len(first)
    return np.array([first[r] for r in roots], dtype=np.int64)


def trace_cell_boundary(ix: np.ndarray, iy: np.ndarray) -> list[np.ndarray]:
    """Boundary rings of a cell set in grid coordinates.

    Emits every closed loop of the region boundary with the occupied
    side on the LEFT: outer rings come out CCW, holes CW — matching the
    shapefile/even-odd convention the PIP kernel expects.  Vertices are
    grid-corner integers; callers scale by cell size.  At ambiguous
    (checkerboard) corners the walk turns left-most, which keeps each
    loop simple.
    """
    occ = {(int(a), int(b)) for a, b in zip(ix, iy)}
    # directed boundary edges, occupied cell on the left of direction
    edges: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    for (cx, cy) in occ:
        if (cx, cy - 1) not in occ:  # south side, walk east
            add((cx, cy), (cx + 1, cy))
        if (cx + 1, cy) not in occ:  # east side, walk north
            add((cx + 1, cy), (cx + 1, cy + 1))
        if (cx, cy + 1) not in occ:  # north side, walk west
            add((cx + 1, cy + 1), (cx, cy + 1))
        if (cx - 1, cy) not in occ:  # west side, walk south
            add((cx, cy + 1), (cx, cy))

    rings = []
    # deterministic iteration order
    starts = sorted(edges.keys())
    used: set[tuple[tuple[int, int], tuple[int, int]]] = set()
    for s in starts:
        for t in list(edges.get(s, ())):
            if (s, t) in used:
                continue
            ring = [s]
            cur, nxt = s, t
            while True:
                used.add((cur, nxt))
                ring.append(nxt)
                outs = [e for e in edges.get(nxt, ()) if (nxt, e) not in used]
                if not outs:
                    break
                if len(outs) == 1:
                    cur, nxt = nxt, outs[0]
                else:
                    # left-most turn relative to incoming direction
                    dx, dy = nxt[0] - cur[0], nxt[1] - cur[1]
                    def turn(e):
                        ex, ey = e[0] - nxt[0], e[1] - nxt[1]
                        return -(dx * ey - dy * ex)  # prefer left (positive cross)
                    outs.sort(key=turn)
                    cur, nxt = nxt, outs[0]
                if nxt == ring[0]:
                    used.add((cur, nxt))
                    break
            if len(ring) >= 4 and ring[0] == ring[-1] or nxt == ring[0]:
                rings.append(np.array(ring[:-1] if ring[-1] == ring[0] else ring, dtype=np.float64))
    return rings


def min_vertex_distances(
    verts: np.ndarray, n_v: np.ndarray, a: np.ndarray, b: np.ndarray, chunk: int = 1 << 14
) -> np.ndarray:
    """Min pairwise distance between vertex sets a[i] and b[i] for every
    pair i (the reference's Delaunay edge weight,
    scipy.cdist(...).min() at IB-Tool2.py:1382-94).  Set f is the
    ``n_v[f]`` rows of ``verts`` (Σ n_v, 2) that follow the sets before
    it.  One padded pass: each pair's (K, K) squared distances, with the
    padding masked to inf, in chunks of at most ``chunk`` pairs."""
    k = np.arange(n_v.max()) if n_v.size else np.arange(0)
    valid = k[None, :] < n_v[:, None]
    pad = np.zeros((n_v.size, k.size, 2))
    pad[valid] = verts
    out = np.empty(a.shape[0])
    for s in range(0, a.shape[0], chunk):
        pa, pb = a[s : s + chunk], b[s : s + chunk]
        d = pad[pa][:, :, None, :] - pad[pb][:, None, :, :]
        d2 = np.where(valid[pa][:, :, None] & valid[pb][:, None, :], (d * d).sum(axis=3), np.inf)
        out[s : s + chunk] = np.sqrt(d2.min(axis=(1, 2)))
    return out


def rect_ring(cx: float, cy: float, w: float, h: float, ang: float) -> np.ndarray:
    """Axis rectangle of size (w, h) centered at (cx, cy), rotated by ang."""
    c, s = np.cos(ang), np.sin(ang)
    half = np.array([[-w / 2, -h / 2], [w / 2, -h / 2], [w / 2, h / 2], [-w / 2, h / 2]])
    rot = half @ np.array([[c, s], [-s, c]])
    return rot + np.array([cx, cy])


def rect_rings(cx, cy, w, h, ang) -> np.ndarray:
    """rect_ring of every element of the equal-length arrays → (N, 4, 2),
    with the same per-ring products: one stacked matmul."""
    c, s = np.cos(ang), np.sin(ang)
    half = np.stack([[-w / 2, -h / 2], [w / 2, -h / 2], [w / 2, h / 2], [-w / 2, h / 2]])
    rot = np.stack([[c, s], [-s, c]])
    return half.transpose(2, 0, 1) @ rot.transpose(2, 0, 1) + np.stack([cx, cy], axis=1)[:, None, :]


def cover_cells_with_edges(
    rings: list[np.ndarray],
    res: int,
    grid: GridConfig = DEFAULT_GRID,
):
    """Covering cells of a polygon with everything the pure-SQL PIP
    refine needs per cell:

    returns (cells, full, cpx, cpy, cpar, edge_lists) where for each
    covering cell: ``full`` ⇒ entirely inside; otherwise ``(cpx, cpy)``
    is the cell center, ``cpar`` its even-odd parity, and
    ``edge_lists[i]`` the polygon edges whose bbox overlaps the cell.
    A point p in the cell is inside iff cpar XOR (segment p→center
    crosses an odd number of those edges) — only edges passing through
    the cell can cross an in-cell segment, so the local list suffices.
    This turns the PIP refine into whole-stage-codegen column math
    (no Python in the join at all).
    """
    rings = [coerce_ring(r) for r in rings]
    cs = grid.cell_size(res)
    n = 1 << res
    minx, miny, maxx, maxy = rings_bbox(rings)
    c0 = max(0, int(np.floor((minx - grid.x0) / cs)))
    r0 = max(0, int(np.floor((miny - grid.y0) / cs)))
    c1 = min(n - 1, int(np.floor((maxx - grid.x0) / cs)))
    r1 = min(n - 1, int(np.floor((maxy - grid.y0) / cs)))
    ncol, nrow = c1 - c0 + 1, r1 - r0 + 1
    if ncol <= 0 or nrow <= 0:
        return (np.empty(0, np.int64), np.empty(0, bool), np.empty(0), np.empty(0), np.empty(0, bool), [])

    edges = _rings_edges(rings)
    boundary = np.zeros((nrow, ncol), dtype=bool)
    cell_edges: dict[tuple[int, int], list[int]] = {}
    ec0 = np.clip(np.floor((np.minimum(edges[:, 0], edges[:, 2]) - grid.x0) / cs), c0, c1).astype(int) - c0
    ec1 = np.clip(np.floor((np.maximum(edges[:, 0], edges[:, 2]) - grid.x0) / cs), c0, c1).astype(int) - c0
    er0 = np.clip(np.floor((np.minimum(edges[:, 1], edges[:, 3]) - grid.y0) / cs), r0, r1).astype(int) - r0
    er1 = np.clip(np.floor((np.maximum(edges[:, 1], edges[:, 3]) - grid.y0) / cs), r0, r1).astype(int) - r0
    for i in range(edges.shape[0]):
        boundary[er0[i] : er1[i] + 1, ec0[i] : ec1[i] + 1] = True
        for rr_ in range(er0[i], er1[i] + 1):
            for cc_ in range(ec0[i], ec1[i] + 1):
                cell_edges.setdefault((rr_, cc_), []).append(i)

    cols = grid.x0 + (np.arange(c0, c1 + 1) + 0.5) * cs
    rows = grid.y0 + (np.arange(r0, r1 + 1) + 0.5) * cs
    cxx, cyy = np.meshgrid(cols, rows)
    center_in = points_in_polygon(cxx.ravel(), cyy.ravel(), rings).reshape(nrow, ncol)

    keep = boundary | center_in
    full = center_in & ~boundary
    rr, cc = np.nonzero(keep)
    cells = encode_colrow(cc + c0, rr + r0, res)
    fulls = full[rr, cc]
    cpx = cxx[rr, cc]
    cpy = cyy[rr, cc]
    cpar = center_in[rr, cc]
    edge_lists = [
        edges[cell_edges[(int(a), int(b))]] if (int(a), int(b)) in cell_edges else edges[:0]
        for a, b in zip(rr, cc)
    ]
    return cells, fulls, cpx, cpy, cpar, edge_lists


def canonical_ring_bytes(rings: list[np.ndarray], quantum: float = 1e-6) -> bytes:
    """Canonical byte image of a ring set: each ring snapped to quantum,
    rotated to its lexicographically-smallest start vertex, oriented
    CCW; rings sorted.  Two geometries are identical as point sets (up
    to sub-quantum noise) iff their canonical bytes are equal — this is
    the EXACT identity key the 64-bit hash summarizes."""
    parts = []
    for r in rings:
        r = coerce_ring(r)
        if ring_area(r) < 0:
            r = r[::-1]
        q = np.rint(r / quantum).astype(np.int64)
        start = np.lexsort((q[:, 1], q[:, 0]))[0]
        q = np.roll(q, -start, axis=0)
        parts.append(q.tobytes())
    return b"|".join(sorted(parts))


def canonical_ring_hash(rings: list[np.ndarray], quantum: float = 1e-6) -> int:
    """Geometry identity hash (J9 — ARE_IDENTICAL_TO joins,
    IB-Tool2.py:1730-31): XXH64 of :func:`canonical_ring_bytes`.  Equal
    geometry ⇒ equal hash regardless of vertex start/orientation."""
    from .codecs import xxh64

    return xxh64(canonical_ring_bytes(rings, quantum))


# ---------------------------------------------------------------------------
# Exact convex clipping (J13 — Clip_analysis against rectangular tiles)
# ---------------------------------------------------------------------------


def clip_ring_rect(ring: np.ndarray, minx: float, miny: float, maxx: float, maxy: float) -> np.ndarray:
    """Sutherland–Hodgman clip of one ring against an axis rectangle.

    Exact for any simple ring vs a convex window — the tile-clip case
    (arcpy Clip_analysis, IB-Tool2.py:951).  Returns the clipped ring
    (possibly empty, K×2).
    """
    ring = coerce_ring(ring)

    def clip_half(pts, inside, intersect):
        if pts.shape[0] == 0:
            return pts
        out = []
        n = pts.shape[0]
        for i in range(n):
            cur = pts[i]
            prv = pts[i - 1]
            cin, pin = inside(cur), inside(prv)
            if cin:
                if not pin:
                    out.append(intersect(prv, cur))
                out.append(cur)
            elif pin:
                out.append(intersect(prv, cur))
        return np.asarray(out, dtype=np.float64).reshape(-1, 2)

    def ix_at_x(xv):
        def f(a, b):
            t = (xv - a[0]) / (b[0] - a[0])
            return np.array([xv, a[1] + t * (b[1] - a[1])])

        return f

    def ix_at_y(yv):
        def f(a, b):
            t = (yv - a[1]) / (b[1] - a[1])
            return np.array([a[0] + t * (b[0] - a[0]), yv])

        return f

    ring = clip_half(ring, lambda p: p[0] >= minx, ix_at_x(minx))
    ring = clip_half(ring, lambda p: p[0] <= maxx, ix_at_x(maxx))
    ring = clip_half(ring, lambda p: p[1] >= miny, ix_at_y(miny))
    ring = clip_half(ring, lambda p: p[1] <= maxy, ix_at_y(maxy))
    return ring


def clip_polygon_rect(rings: list[np.ndarray], minx, miny, maxx, maxy) -> list[np.ndarray]:
    """Clip every ring (outer + holes) against the rectangle; degenerate
    results (< 3 vertices or ~zero area) are dropped."""
    out = []
    for r in rings:
        c = clip_ring_rect(r, minx, miny, maxx, maxy)
        if c.shape[0] >= 3 and abs(ring_area(c)) > 1e-9:
            out.append(c)
    return out


# ---------------------------------------------------------------------------
# MainAngle oriented rectangle (G11 — CalcBoundingRect/MainAngle,
# IB-Tool2.py:426-642). This is the accept-rule geometry of the
# reference's MST_Clustering and must match its math exactly, including
# its quirks (documented inline), because the coverage ratio it yields
# decides which footprints merge into one settlement cluster.
# ---------------------------------------------------------------------------


def ring_segments(ring: np.ndarray) -> np.ndarray:
    """Outline segments of a closed ring as (N, 5): x1, y1, x2, y2,
    length — the SplitLine + AddXY + Shape_Length row layout the
    reference feeds CalcBoundingRect (HUtoLineXY, IB-Tool2.py:396-423).
    """
    a = np.asarray(ring, dtype=np.float64)
    return rings_segments(a, np.array([a.shape[0]]))


def rings_segments(verts: np.ndarray, n_v: np.ndarray) -> np.ndarray:
    """ring_segments of many rings in one pass: ring f is the ``n_v[f]``
    rows of ``verts`` (Σ n_v, 2) that follow the rings before it, and
    its segments are the same rows of the (Σ n_v, 5) result."""
    nxt = np.arange(1, verts.shape[0] + 1)
    ends = np.cumsum(n_v)
    nxt[ends[n_v > 0] - 1] = (ends - n_v)[n_v > 0]
    a, b = verts, verts[nxt]
    seg_len = np.hypot(b[:, 0] - a[:, 0], b[:, 1] - a[:, 1])
    return np.column_stack([a, b, seg_len])


def segment_angles_deg(segs: np.ndarray) -> np.ndarray:
    """Angle of each segment vs the +x axis in [0, 180] degrees —
    VectorAngle(seg, horizontal probe) semantics (IB-Tool2.py:515-557):
    arccos of the normalized dot with east, mirrored to 180−θ when the
    segment's dy ≤ 0 (so a +x horizontal segment reads 180.0, a −x one
    reads 0.0 — the reference's exact convention)."""
    dx = segs[:, 2] - segs[:, 0]
    dy = segs[:, 3] - segs[:, 1]
    norm = np.hypot(dx, dy)
    with np.errstate(divide="ignore", invalid="ignore"):
        cosv = np.clip(dx / norm, -1.0, 1.0)
    ang = np.degrees(np.arccos(cosv))
    return np.where(dy <= 0, 180.0 - ang, ang)


def main_angle(angles: np.ndarray, lengths: np.ndarray, maxdiff: float = 10.0) -> float:
    """The dominant edge angle (MainAngle, IB-Tool2.py:441-472):
    chain-group the angle-sorted segments (new group when the gap to
    the PREVIOUS segment ≥ maxdiff), take the group with the largest
    total length, then pick the angle at the index given by the argmax
    of the per-run length sums — replicated exactly, including the
    reference's quirk that the final run's sum is never appended and
    the run-index is used as an element index."""
    order = np.argsort(angles, kind="stable")
    a_sorted = angles[order]
    l_sorted = lengths[order]
    # chain grouping: the sorted angles split where a gap is not below
    # maxdiff; each group's length sum is numpy's sum over its slice
    cuts = np.flatnonzero(~(np.abs(np.diff(a_sorted)) < maxdiff)) + 1
    bounds = np.concatenate([[0], cuts, [a_sorted.shape[0]]])
    sums = [float(l_sorted[lo:hi].sum()) for lo, hi in zip(bounds[:-1], bounds[1:])]
    k = int(np.argmax(sums))
    ga = a_sorted[bounds[k] : bounds[k + 1]].tolist()
    gl = l_sorted[bounds[k] : bounds[k + 1]].tolist()
    # per-run (equal consecutive angle) length sums, last run dropped
    s = 0.0
    g1 = ga[0]
    lengthsum: list[float] = []
    for a, length in zip(ga, gl):
        if g1 == a:
            s += length
        else:
            lengthsum.append(s)
            s = length
        g1 = a
    if not lengthsum:
        lengthsum.append(s)
    return float(ga[int(np.argmax(lengthsum))])


def main_angle_rect(
    segs: np.ndarray, angles: "np.ndarray | None" = None
) -> tuple["np.ndarray | None", "float | None"]:
    """Oriented bounding rectangle by dominant edge angle
    (CalcBoundingRect "list" path, IB-Tool2.py:570-642): project the
    segment START points onto a long baseline at the MainAngle through
    an offset anchor, take the extreme perpendicular distances and
    extreme foot positions, scale the four corner points, and measure
    the rectangle.  Returns (corners (4,2), area); (None, None) when
    ≤ 4 segments (the reference emits no rectangle then).  A degenerate
    zero-area rectangle reports 1e12 like the reference's guard.

    ``angles``, when given, are the segments' angles as this function
    computes them, ``np.round(segment_angles_deg(segs), 1)``: callers
    testing many stacks of the same segments compute them once."""
    segs = np.asarray(segs, dtype=np.float64)
    if segs.shape[0] <= 4:
        return None, None
    if angles is None:
        angles = np.round(segment_angles_deg(segs), 1)  # "list" path rounds to 0.1°
    lengths = segs[:, 4]
    ang = main_angle(angles, lengths, 10.0)
    px_pts = segs[:, 0]
    py_pts = segs[:, 1]

    ymin = float(py_pts[int(np.argmin(py_pts))])
    xmax = float(px_pts[int(np.argmax(px_pts))])
    xmin = float(px_pts[int(np.argmin(px_pts))])
    py1 = ymin
    px1 = xmax + 10000.0 if ang > 90.0 else xmin - 10000.0
    px2 = px1 + 10000.0 * np.cos(np.radians(ang))
    py2 = py1 + 10000.0 * np.sin(np.radians(ang))

    # NearPoint (IB-Tool2.py:492-513): perpendicular distance and foot
    # on the infinite baseline, vectorized over all start points
    dxl, dyl = px2 - px1, py2 - py1
    m = np.hypot(dxl, dyl)
    d = np.abs(dxl * (py1 - py_pts) - dyl * (px1 - px_pts)) / m
    ux, uy = dxl / m, dyl / m
    proj = ux * (px_pts - px1) + uy * (py_pts - py1)
    fx = ux * proj + px1
    fy = uy * proj + py1

    ai = int(np.argmin(d))
    bi = int(np.argmax(d))
    ci = int(np.argmin(fy))
    di = int(np.argmax(fy))
    a_d = d[ai]
    b_d = d[bi]
    with np.errstate(divide="ignore", invalid="ignore"):
        c2x = fx[ci] + (px_pts[ci] - fx[ci]) * b_d / d[ci]
        c2y = fy[ci] + (py_pts[ci] - fy[ci]) * b_d / d[ci]
        d2x = fx[di] + (px_pts[di] - fx[di]) * b_d / d[di]
        d2y = fy[di] + (py_pts[di] - fy[di]) * b_d / d[di]
        d1x = fx[di] + (px_pts[di] - fx[di]) * a_d / d[di]
        d1y = fy[di] + (py_pts[di] - fy[di]) * a_d / d[di]
        c1x = fx[ci] + (px_pts[ci] - fx[ci]) * a_d / d[ci]
        c1y = fy[ci] + (py_pts[ci] - fy[ci]) * a_d / d[ci]
    area = float(
        np.sqrt(abs(c1x - c2x) ** 2 + abs(c1y - c2y) ** 2)
        * np.sqrt(abs(d2x - c2x) ** 2 + abs(d2y - c2y) ** 2)
    )
    corners = np.array([[c1x, c1y], [c2x, c2y], [d2x, d2y], [d1x, d1y]])
    if area == 0.0:
        area = 1e12  # reference's division-by-zero guard value
    return corners, area


# ---------------------------------------------------------------------------
# Planar-arrangement polygonize (G7 — FeatureToPolygon,
# IB-Tool2.py:666, 1018, 1726, 2069, 2167; Partitioning.pyt:108).
# Node all input segments at their intersections, build the half-edge
# rotation system, trace minimal faces.  Per-partition scope (the
# reference polygonizes one partition's roads/outlines at a time).
# ---------------------------------------------------------------------------


def _ranges_flat(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Vectorized concat of [lo_i, hi_i) index ranges."""
    cnt = hi - lo
    tot = int(cnt.sum())
    if tot == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    return np.repeat(lo, cnt) + np.arange(tot) - np.repeat(starts, cnt)


def _node_directed(segments: np.ndarray, snap: float) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized planar noding: split every directed segment at its
    pairwise intersections (1e-9 quantum rounding like the boolean
    kernel, then grid-snapped to ``snap``).  Returns ``(sub, orig)``:
    ``sub`` (M, 4) directed subsegments in order along each source
    segment, ``orig`` (M,) the source row index.

    Proper crossings replicate boolean._find_intersections' predicates
    exactly (same t/u tolerances, clamping, and half-even quantum
    rounding — np.round and Python round are both correctly-rounded
    half-to-even); exactly-parallel pairs (denom == 0.0) fall back to
    that routine, so collinear-overlap handling is shared.  One numpy
    pass replaces the per-pair interpreter scan that dominated large
    capsule/arrangement unions."""
    from .boolean import _QUANTUM

    segs = np.asarray(segments, dtype=np.float64)
    # zero-length rows are points, not segments: they add no topology
    # (the old per-pair scan let them inject spurious collinear cuts)
    nz = (segs[:, 0] != segs[:, 2]) | (segs[:, 1] != segs[:, 3])
    idx_map = np.nonzero(nz)[0]
    segs = segs[nz]
    S = segs.shape[0]
    if S == 0:
        return np.empty((0, 4), dtype=np.float64), np.empty((0,), dtype=np.int64)
    x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    minx = np.minimum(x1, x2)
    maxx = np.maximum(x1, x2)
    miny = np.minimum(y1, y2)
    maxy = np.maximum(y1, y2)
    cut_i: list[np.ndarray] = [np.arange(S), np.arange(S)]
    cut_x: list[np.ndarray] = [x1, x2]
    cut_y: list[np.ndarray] = [y1, y2]
    # x-interval sweep: each overlapping pair is enumerated once, from
    # the side whose minx is smaller (the other's minx falls inside its
    # x-range) — O(S log S + hits) instead of an S×S boolean matrix
    order = np.argsort(minx, kind="stable")
    sminx = minx[order]
    lo = np.searchsorted(sminx, minx, side="left")
    hi = np.searchsorted(sminx, maxx, side="right")
    counts = hi - lo
    if counts.sum() > 0:
        A = np.repeat(np.arange(S), counts)
        flat = _ranges_flat(lo, hi)
        B = order[flat]
        pos = np.empty(S, dtype=np.int64)
        pos[order] = np.arange(S)
        mk = (pos[B] > pos[A]) & (miny[B] <= maxy[A]) & (maxy[B] >= miny[A])
        A, B = A[mk], B[mk]
        I = np.minimum(A, B)
        J = np.maximum(A, B)
    else:
        I = J = np.empty(0, dtype=np.int64)
    if I.size:
        dx1, dy1 = x2[I] - x1[I], y2[I] - y1[I]
        dx2, dy2 = x2[J] - x1[J], y2[J] - y1[J]
        denom = dx1 * dy2 - dy1 * dx2
        prop = denom != 0.0
        if np.any(prop):
            Ip, Jp = I[prop], J[prop]
            ex, ey = x1[Jp] - x1[Ip], y1[Jp] - y1[Ip]
            t = (ex * dy2[prop] - ey * dx2[prop]) / denom[prop]
            u = (ex * dy1[prop] - ey * dx1[prop]) / denom[prop]
            ok = (t >= -1e-12) & (t <= 1.0 + 1e-12) & (u >= -1e-12) & (u <= 1.0 + 1e-12)
            if np.any(ok):
                Io, Jo = Ip[ok], Jp[ok]
                tc = np.minimum(np.maximum(t[ok], 0.0), 1.0)
                px = np.round((x1[Io] + tc * dx1[prop][ok]) / _QUANTUM) * _QUANTUM
                py = np.round((y1[Io] + tc * dy1[prop][ok]) / _QUANTUM) * _QUANTUM
                cut_i += [Io, Jo]
                cut_x += [px, px]
                cut_y += [py, py]
        if not np.all(prop):
            # exactly-parallel pairs, vectorized (dense shared-disc
            # capsule sets produce millions of them — n_arc distinct
            # edge directions — so a per-pair Python fallback is the
            # noding bottleneck).  Collinearity and the overlap-endpoint
            # projection replicate _find_intersections bit-for-bit.
            Iq, Jq = I[~prop], J[~prop]
            area = (x1[Iq] - x1[Jq]) * (y2[Iq] - y1[Jq]) - (x2[Iq] - x1[Jq]) * (
                y1[Iq] - y1[Jq]
            )
            col = area == 0.0
            Iq, Jq = Iq[col], Jq[col]
            if Iq.size:
                dx1q, dy1q = x2[Iq] - x1[Iq], y2[Iq] - y1[Iq]
                usex = np.abs(dx1q) >= np.abs(dy1q)
                # dominant-axis interval overlap
                a_lo = np.where(usex, minx[Iq], miny[Iq])
                a_hi = np.where(usex, maxx[Iq], maxy[Iq])
                b_lo = np.where(usex, minx[Jq], miny[Jq])
                b_hi = np.where(usex, maxx[Jq], maxy[Jq])
                lo = np.maximum(a_lo, b_lo)
                hi = np.minimum(a_hi, b_hi)
                ok2 = lo <= hi
                Iq, Jq = Iq[ok2], Jq[ok2]
                if Iq.size:
                    usex = usex[ok2]
                    lo, hi = lo[ok2], hi[ok2]
                    dx1q, dy1q = dx1q[ok2], dy1q[ok2]
                    for val in (lo, hi):
                        with np.errstate(divide="ignore", invalid="ignore"):
                            ttx = np.where(
                                dx1q != 0.0, (val - x1[Iq]) / dx1q, 0.0
                            )
                            tty = (val - y1[Iq]) / np.where(dy1q != 0.0, dy1q, 1.0)
                        px = np.where(usex, val, x1[Iq] + tty * dx1q)
                        py = np.where(usex, y1[Iq] + ttx * dy1q, val)
                        px = np.round(px / _QUANTUM) * _QUANTUM
                        py = np.round(py / _QUANTUM) * _QUANTUM
                        cut_i += [Iq, Jq]
                        cut_x += [px, px]
                        cut_y += [py, py]
    ci = np.concatenate(cut_i)
    # `+ 0.0` folds -0.0 into +0.0: np.unique(axis=0) compares rows
    # BITWISE, so a negative zero would mint phantom distinct nodes
    sx = np.round(np.concatenate(cut_x) / snap) * snap + 0.0
    sy = np.round(np.concatenate(cut_y) / snap) * snap + 0.0

    def assemble(ci_, sx_, sy_):
        key = (sx_ - x1[ci_]) * (x2 - x1)[ci_] + (sy_ - y1[ci_]) * (y2 - y1)[ci_]
        order = np.lexsort((sy_, sx_, key, ci_))
        ci_, sx_, sy_ = ci_[order], sx_[order], sy_[order]
        dup = np.zeros(ci_.shape[0], dtype=bool)
        dup[1:] = (ci_[1:] == ci_[:-1]) & (sx_[1:] == sx_[:-1]) & (sy_[1:] == sy_[:-1])
        ci_, sx_, sy_ = ci_[~dup], sx_[~dup], sy_[~dup]
        same = ci_[1:] == ci_[:-1]
        sub_ = np.stack(
            [sx_[:-1][same], sy_[:-1][same], sx_[1:][same], sy_[1:][same]], axis=1
        )
        return sub_, ci_[:-1][same]

    # iterated snap rounding: a snapped cut node may land within the
    # snap quantum of a SUBSEGMENT's interior (snapped polylines zigzag
    # up to a quantum off the original line, so the test must run
    # against the current subsegments, not the source segments) —
    # without re-cutting, two near-collinear subsegments overlap
    # without sharing endpoints and the half-edge arrangement silently
    # corrupts.  Re-cut until stable.
    tol = 0.6 * snap
    have = set(zip(ci.tolist(), sx.tolist(), sy.tolist()))
    for _pass in range(10):
        sub, sci = assemble(ci, sx, sy)
        if sub.shape[0] == 0:
            break
        uq = np.unique(
            np.vstack([sub[:, :2], sub[:, 2:]]), axis=0
        )
        sminx = np.minimum(sub[:, 0], sub[:, 2])
        smaxx = np.maximum(sub[:, 0], sub[:, 2])
        sminy = np.minimum(sub[:, 1], sub[:, 3])
        smaxy = np.maximum(sub[:, 1], sub[:, 3])
        n_order = np.argsort(uq[:, 0], kind="stable")
        nxs = uq[n_order, 0]
        lo_n = np.searchsorted(nxs, sminx - tol, side="left")
        hi_n = np.searchsorted(nxs, smaxx + tol, side="right")
        cnt = hi_n - lo_n
        if cnt.sum() == 0:
            break
        subi = np.repeat(np.arange(sub.shape[0]), cnt)
        flat = _ranges_flat(lo_n, hi_n)
        nodes = uq[n_order[flat]]
        npx, npy = nodes[:, 0], nodes[:, 1]
        ax, ay = sub[subi, 0], sub[subi, 1]
        bx, by = sub[subi, 2], sub[subi, 3]
        dxs, dys = bx - ax, by - ay
        L2 = np.maximum(dxs * dxs + dys * dys, 1e-300)
        tparam = ((npx - ax) * dxs + (npy - ay) * dys) / L2
        fx = ax + tparam * dxs
        fy = ay + tparam * dys
        d2 = (fx - npx) ** 2 + (fy - npy) ** 2
        near = (
            (d2 <= tol * tol)
            & (tparam > 0.0)
            & (tparam < 1.0)
            & (npy >= sminy[subi] - tol)
            & (npy <= smaxy[subi] + tol)
            & ~(((npx == ax) & (npy == ay)) | ((npx == bx) & (npy == by)))
        )
        if not np.any(near):
            break
        add_i = sci[subi[near]]
        add_x, add_y = npx[near], npy[near]
        fresh = np.array(
            [
                (int(i), float(x), float(y)) not in have
                for i, x, y in zip(add_i, add_x, add_y)
            ],
            dtype=bool,
        )
        if not np.any(fresh):
            break
        for i, x, y in zip(add_i[fresh], add_x[fresh], add_y[fresh]):
            have.add((int(i), float(x), float(y)))
        ci = np.concatenate([ci, add_i[fresh]])
        sx = np.concatenate([sx, add_x[fresh]])
        sy = np.concatenate([sy, add_y[fresh]])
    sub, sci = assemble(ci, sx, sy)
    return sub, idx_map[sci]


def _polygonize_nodes(segments: np.ndarray, snap: float) -> list[tuple[int, int]]:
    """Split segments at all pairwise intersections (snap-rounded) and
    return unique undirected subsegment node-key pairs."""
    sub, _orig = _node_directed(np.asarray(segments, dtype=np.float64), snap)
    if sub.shape[0] == 0:
        return []
    swap = (sub[:, 0] > sub[:, 2]) | ((sub[:, 0] == sub[:, 2]) & (sub[:, 1] > sub[:, 3]))
    canon = sub.copy()
    canon[swap] = canon[swap][:, [2, 3, 0, 1]]
    uniq = np.unique(canon, axis=0)
    return [
        ((float(r[0]), float(r[1])), (float(r[2]), float(r[3])))
        for r in uniq
        if r[0] != r[2] or r[1] != r[3]
    ]


def _arrangement(subsegs: list[tuple]):
    """Half-edge structure of a noded segment set.

    ``subsegs``: unique undirected node-key pairs ((ax, ay), (bx, by)).
    Returns ``(coords, he_from, he_to, nxt, cycle_of, cycle_rings)``:
    half-edge ``2k`` runs a→b of subseg ``k`` and ``2k+1`` is its twin;
    ``nxt`` traces faces with interior on the LEFT; ``cycle_of`` maps
    each half-edge to its face-walk id; ``cycle_rings[c]`` is that
    walk's vertex array (may be degenerate for dangling edges)."""
    nodes: dict[tuple[float, float], int] = {}
    for a, b in subsegs:
        for p in (a, b):
            if p not in nodes:
                nodes[p] = len(nodes)
    coords = np.array([p for p, _i in sorted(nodes.items(), key=lambda kv: kv[1])])
    he_from: list[int] = []
    he_to: list[int] = []
    for a, b in subsegs:
        ia, ib = nodes[a], nodes[b]
        he_from += [ia, ib]
        he_to += [ib, ia]
    he_from_arr = np.array(he_from)
    he_to_arr = np.array(he_to)
    ang = np.arctan2(
        coords[he_to_arr, 1] - coords[he_from_arr, 1],
        coords[he_to_arr, 0] - coords[he_from_arr, 0],
    )
    n_he = he_from_arr.shape[0]
    twin = np.arange(n_he) ^ 1
    # rotation: outgoing half-edges per node, sorted CCW by angle
    order = np.lexsort((ang, he_from_arr))
    pos_in_rot = np.empty(n_he, dtype=np.int64)
    pos_in_rot[order] = np.arange(n_he)
    # per-node [start, end) runs in the rotation order, vectorized
    sorted_nodes = he_from_arr[order]
    run_start = np.zeros(n_he, dtype=bool)
    run_start[0] = True
    run_start[1:] = sorted_nodes[1:] != sorted_nodes[:-1]
    run_first = np.nonzero(run_start)[0]
    run_last = np.append(run_first[1:], n_he) - 1
    node_s = np.empty(int(he_from_arr.max()) + 1, dtype=np.int64)
    node_e = np.empty_like(node_s)
    node_s[sorted_nodes[run_first]] = run_first
    node_e[sorted_nodes[run_first]] = run_last + 1
    # next(h): at the head of h, take the rotation predecessor of twin
    # (clockwise-next) — traces faces with interior on the LEFT
    tnode = he_from_arr[twin]
    s_arr = node_s[tnode]
    e_arr = node_e[tnode]
    p_arr = pos_in_rot[twin]
    q_arr = np.where(p_arr == s_arr, e_arr - 1, p_arr - 1)
    nxt = order[q_arr]
    cycle_of = np.full(n_he, -1, dtype=np.int64)
    cycle_rings: list[np.ndarray] = []
    for h0 in range(n_he):
        if cycle_of[h0] >= 0:
            continue
        cid = len(cycle_rings)
        cyc = []
        h = h0
        while cycle_of[h] < 0:
            cycle_of[h] = cid
            cyc.append(int(he_from_arr[h]))
            h = int(nxt[h])
        cycle_rings.append(coords[np.array(cyc)])
    return coords, he_from_arr, he_to_arr, nxt, cycle_of, cycle_rings


def polygonize(segments: np.ndarray, snap: float = 1e-6) -> list[list[np.ndarray]]:
    """Faces of the planar arrangement of ``segments`` ((S,4) float64)
    → list of polygons, each an even-odd ring list (outer CCW ring
    first, contained hole cycles appended).  Dangling edges (not on any
    cycle) vanish naturally: their two directed twins trace a
    degenerate back-and-forth walk with zero area.
    """
    segs = np.asarray(segments, dtype=np.float64)
    if segs.shape[0] == 0:
        return []
    subsegs = _polygonize_nodes(segs, snap)
    if not subsegs:
        return []
    _coords, _hf, _ht, _nxt, _cof, cycle_rings = _arrangement(subsegs)
    cycles = [r for r in cycle_rings if r.shape[0] >= 3]
    pos = [(r, ring_area(r)) for r in cycles]
    faces = [(r, a) for r, a in pos if a > 1e-12]
    holes = [(r, a) for r, a in pos if a < -1e-12]
    # assign hole cycles (negative = traced clockwise around a cavity)
    # to the smallest positive face STRICTLY containing them; a cycle
    # coincident with a face boundary (the unbounded face's twin of the
    # outermost outline) is inside nothing and is dropped
    def strictly_inside(hr: np.ndarray, fr: np.ndarray) -> bool:
        # tolerance absorbs the ulp noise between midpoints computed as
        # (a+b)/2 here and the face edges' own parameterization
        scale = float(np.abs(np.vstack([hr, fr])).max()) + 1.0
        tol = 1e-9 * scale * scale
        mids = (hr + np.roll(hr, -1, axis=0)) * 0.5
        for p in list(hr) + list(mids):
            if not _point_on_ring(float(p[0]), float(p[1]), fr, tol=tol):
                return bool(points_in_polygon(p[:1], p[1:], [fr])[0])
        return False

    out: list[list[np.ndarray]] = [[r] for r, _a in faces]
    if holes:
        # bbox precheck: a hole strictly inside a face has a nested
        # bbox — rejects nearly every (hole, face) pair up front (the
        # unbounded complement cycle otherwise probes every face)
        fb = np.array(
            [
                [f[:, 0].min(), f[:, 1].min(), f[:, 0].max(), f[:, 1].max()]
                for f, _a in faces
            ]
        )
        slack = 4.0 * snap
        for hr, _ha in holes:
            hminx, hminy = hr[:, 0].min(), hr[:, 1].min()
            hmaxx, hmaxy = hr[:, 0].max(), hr[:, 1].max()
            cand = np.nonzero(
                (fb[:, 0] <= hminx + slack)
                & (fb[:, 1] <= hminy + slack)
                & (fb[:, 2] >= hmaxx - slack)
                & (fb[:, 3] >= hmaxy - slack)
            )[0]
            best, best_area = None, np.inf
            for k in cand:
                fr, fa = faces[int(k)]
                if fa < best_area and strictly_inside(hr, fr):
                    best, best_area = int(k), fa
            if best is not None:
                out[best].append(hr)
    return out


def _stitch_directed(edges: np.ndarray) -> list[np.ndarray]:
    """Closed rings from directed boundary edges (union interior on the
    left of each edge).  Nodes of degree > 1 (pinch points) resolve with
    the same interior-left rotation rule as polygonize's half-edge
    next(): continue along the rotation predecessor of the reversed
    incoming direction."""
    E = edges.shape[0]
    if E == 0:
        return []
    nid: dict[tuple[float, float], int] = {}
    for x, y in np.vstack([edges[:, :2], edges[:, 2:]]):
        nid.setdefault((float(x), float(y)), len(nid))
    coords = np.empty((len(nid), 2), dtype=np.float64)
    for (x, y), i in nid.items():
        coords[i] = (x, y)
    frm = np.array([nid[(float(e[0]), float(e[1]))] for e in edges])
    to = np.array([nid[(float(e[2]), float(e[3]))] for e in edges])
    ang = np.arctan2(edges[:, 3] - edges[:, 1], edges[:, 2] - edges[:, 0])
    order = np.lexsort((ang, frm))
    starts: dict[int, tuple[int, int]] = {}
    i = 0
    while i < E:
        j = i
        node = frm[order[i]]
        while j < E and frm[order[j]] == node:
            j += 1
        starts[int(node)] = (i, j)
        i = j
    used = np.zeros(E, dtype=bool)
    out: list[np.ndarray] = []
    for e0 in range(E):
        if used[e0]:
            continue
        ring_nodes: list[int] = []
        e = e0
        closed = True
        while not used[e]:
            used[e] = True
            u = int(frm[e])
            v = int(to[e])
            ring_nodes.append(u)
            s, t_ = starts.get(v, (0, 0))
            if t_ <= s:
                closed = False  # dangling endpoint: drop the open walk
                break
            seg = order[s:t_]
            if len(seg) == 1:
                e = int(seg[0])
                continue
            rev = float(
                np.arctan2(coords[u, 1] - coords[v, 1], coords[u, 0] - coords[v, 0])
            )
            k = int(np.searchsorted(ang[seg], rev)) - 1
            e = int(seg[k % len(seg)])
        if closed and ring_nodes:
            ring = coords[np.array(ring_nodes)]
            if ring.shape[0] >= 3 and abs(ring_area(ring)) > 1e-12:
                out.append(ring)
    return out


def union_many(pieces: list[list[np.ndarray]], snap: float = 1e-6) -> list[np.ndarray]:
    """N-way polygon union in ONE planar-arrangement pass — the scale
    path for unions of many pieces (buffer capsules, dissolve groups)
    that replaces a fold of pairwise Martinez–Rueda sweeps:

    1. node ALL piece edges together into one planar arrangement and
       trace its minimal faces (:func:`polygonize` — coincident edges
       collapse in the shared undirected noding);
    2. keep exactly the faces whose interior sample (centroid_inside —
       a point genuinely interior to the face, so no epsilon offsets)
       lies inside ≥1 piece under the engine PIP rule;
    3. shared edges between two kept faces appear as opposite directed
       twins and cancel; surviving directed edges (interior-left of the
       union) stitch into rings with the interior-left rotation rule.

    Output is an even-odd ring list (outers CCW, holes CW), the format
    every geometry consumer here reads.  Cost: one vectorized noding +
    one face-interior PIP per face instead of O(pieces) sequential
    sweeps — and face-interior sampling is tolerance-free, unlike
    midpoint side-offsets, which near-coincident arcs defeat."""
    piece_rings: list[list[np.ndarray]] = []
    for rings in pieces:
        rs = [coerce_ring(r) for r in rings]
        rs = [r for r in rs if r.shape[0] >= 3 and abs(ring_area(r)) > 1e-12]
        if rs:
            piece_rings.append(rs)
    if not piece_rings:
        return []
    if len(piece_rings) == 1:
        return [r.copy() for r in piece_rings[0]]
    seg_list = []
    epid = []
    erid = []
    ring_flat: list[np.ndarray] = []  # every ring, with its owning piece:
    ring_pid: list[int] = []  # base-parity seeding is per RING (see below)
    for pid, rs in enumerate(piece_rings):
        for r in rs:
            e = _rings_edges([r])
            seg_list.append(e)
            epid.append(np.full(e.shape[0], pid, dtype=np.int64))
            erid.append(np.full(e.shape[0], len(ring_flat), dtype=np.int64))
            ring_flat.append(r)
            ring_pid.append(pid)
    sub, orig = _node_directed(np.vstack(seg_list), snap)
    if sub.shape[0] == 0:
        return []
    pc = np.concatenate(epid)[orig]
    rc = np.concatenate(erid)[orig]
    swap = (sub[:, 0] > sub[:, 2]) | ((sub[:, 0] == sub[:, 2]) & (sub[:, 1] > sub[:, 3]))
    canon = sub.copy()
    canon[swap] = canon[swap][:, [2, 3, 0, 1]]
    U, inv = np.unique(canon, axis=0, return_inverse=True)
    K = U.shape[0]
    # per-arrangement-edge toggle lists: crossing subseg k flips the
    # even-odd inside-ness of exactly the pieces contributing an odd
    # number of coincident copies of k
    okey = inv * np.int64(len(piece_rings)) + pc
    ko, cts = np.unique(okey, return_counts=True)
    odd = cts % 2 == 1
    tog: list[list[int]] = [[] for _ in range(K)]
    for key in ko[odd]:
        tog[int(key // len(piece_rings))].append(int(key % len(piece_rings)))
    subsegs = [
        ((float(r[0]), float(r[1])), (float(r[2]), float(r[3]))) for r in U
    ]
    _coords, _hf, _ht, _nxt, cycle_of, cycle_rings = _arrangement(subsegs)
    ncyc = len(cycle_rings)
    # face adjacency across each subseg (skip bridges: same face on
    # both sides, crossing is meaningless)
    adj: list[list[tuple[int, int]]] = [[] for _ in range(ncyc)]
    ca_arr = cycle_of[0::2]
    cb_arr = cycle_of[1::2]
    for k in range(K):
        ca, cb = int(ca_arr[k]), int(cb_arr[k])
        if ca != cb:
            adj[ca].append((cb, k))
            adj[cb].append((ca, k))
    # connected components of the face graph (nesting between disjoint
    # arrangements is resolved with one PIP per component, not per face)
    comp = np.full(ncyc, -1, dtype=np.int64)
    ncomp = 0
    for c0 in range(ncyc):
        if comp[c0] >= 0:
            continue
        stack = [c0]
        comp[c0] = ncomp
        while stack:
            c = stack.pop()
            for nbr, _k in adj[c]:
                if comp[nbr] < 0:
                    comp[nbr] = ncomp
                    stack.append(nbr)
        ncomp += 1
    P = len(piece_rings)
    # every source ring is edge-connected, so all its subsegs land in ONE
    # face-graph component; scatter any subseg's component per ring (all
    # writes for a ring carry the same value, order irrelevant)
    nring = len(ring_flat)
    ring_comp = np.full(nring, -1, dtype=np.int64)
    ring_comp[rc] = comp[ca_arr[inv]]
    areas = np.array([ring_area(r) if r.shape[0] >= 3 else 0.0 for r in cycle_rings])
    ring_bbox = np.array([rings_bbox([r]) for r in ring_flat])
    covered = np.zeros(ncyc, dtype=bool)
    visited = np.zeros(ncyc, dtype=bool)
    on = np.zeros(P, dtype=bool)
    for comp_id in range(ncomp):
        members = np.nonzero(comp == comp_id)[0]
        # start at the component's unbounded contour (most-negative walk)
        start = int(members[np.argmin(areas[members])])
        samp = cycle_rings[start][0]
        # Seed the parity state at the component's unbounded face.  A
        # piece's parity there is the XOR of its per-RING containments of
        # this component — counting only rings noded into OTHER
        # components (this component's own rings contribute parity 0 at
        # its unbounded face and are handled by the DFS toggles).  The
        # sample vertex is strictly off every other component's edges
        # (touching would have merged the components in noding), so each
        # per-ring PIP is evaluated away from that ring's boundary —
        # unlike the former whole-piece PIP, which tested a vertex lying
        # ON the piece's rings whenever a multi-ring piece spanned
        # components and silently seeded the wrong parity.
        par = np.zeros(P, dtype=bool)
        cand_r = np.nonzero(
            (ring_comp != comp_id)
            & (ring_bbox[:, 0] <= samp[0])
            & (ring_bbox[:, 2] >= samp[0])
            & (ring_bbox[:, 1] <= samp[1])
            & (ring_bbox[:, 3] >= samp[1])
        )[0]
        for r in cand_r:
            if bool(
                points_in_polygon(samp[:1], samp[1:], [ring_flat[int(r)]])[0]
            ):
                par[ring_pid[int(r)]] ^= True
        base_pieces = [int(p) for p in np.nonzero(par)[0]]
        for p in base_pieces:
            on[p] = True
        cnt = len(base_pieces)
        visited[start] = True
        covered[start] = cnt > 0
        dfs = [(start, -1, iter(adj[start]))]
        while dfs:
            c, via, it = dfs[-1]
            advanced = False
            for nbr, k in it:
                if visited[nbr]:
                    continue
                for p in tog[k]:
                    if on[p]:
                        on[p] = False
                        cnt -= 1
                    else:
                        on[p] = True
                        cnt += 1
                visited[nbr] = True
                covered[nbr] = cnt > 0
                dfs.append((nbr, k, iter(adj[nbr])))
                advanced = True
                break
            if not advanced:
                dfs.pop()
                if via >= 0:
                    for p in tog[via]:
                        if on[p]:
                            on[p] = False
                            cnt -= 1
                        else:
                            on[p] = True
                            cnt += 1
        for p in base_pieces:  # reset seed state for the next component
            on[p] = False
    # union boundary: subsegs with exactly one covered side, directed so
    # the union interior is on the left
    cov_a = covered[ca_arr]
    cov_b = covered[cb_arr]
    fwd = cov_a & ~cov_b
    rev = cov_b & ~cov_a
    if not (np.any(fwd) or np.any(rev)):
        return []
    de = np.vstack([U[fwd], U[rev][:, [2, 3, 0, 1]]])
    return _stitch_directed(de)


def repair_geometry(rings: list[np.ndarray], snap: float = 1e-6) -> list[np.ndarray]:
    """Self-intersection repair (G15 — RepairGeometry,
    IB-Tool2.py:1724, 1740, 1859, 2502): node the ring edges at their
    self-intersections, polygonize the arrangement, and keep the faces
    whose interior is covered under the even-odd reading of the
    original ring set.  A simple valid input comes back unchanged in
    content (possibly re-traced); a bowtie splits into its two lobes;
    overlapping ring pairs dissolve into their even-odd region.
    """
    rs = [coerce_ring(r) for r in rings if len(r) >= 3]
    if not rs:
        return []
    faces = polygonize(_rings_edges(rs), snap)
    out: list[np.ndarray] = []
    for face in faces:
        # parity sample must be INTERIOR to the face — every face
        # vertex/edge lies on the original (self-intersecting) boundary
        px, py = centroid_inside([face[0]])
        p = np.array([px, py])
        if bool(points_in_polygon(p[:1], p[1:], rs)[0]):
            out.extend(face)
    return out


def centroid_inside(rings: list[np.ndarray]) -> tuple[float, float]:
    """FeatureToPoint "INSIDE" (G2 — IB-Tool2.py:795, 1239, 1522): the
    area centroid when it falls inside the polygon, else the midpoint
    of the widest even-odd-inside span on the horizontal scanline
    through the centroid (arcpy's inside-snap behavior for concave or
    holey footprints)."""
    rs = [coerce_ring(r) for r in rings]
    cx, cy = ring_centroid(rs[0])
    if bool(points_in_polygon(np.array([cx]), np.array([cy]), rs)[0]):
        return cx, cy
    # horizontal scanline: crossing xs sorted → inside spans are
    # (x0,x1), (x2,x3), ... under even-odd
    edges = _rings_edges(rs)
    x1, y1, x2, y2 = edges[:, 0], edges[:, 1], edges[:, 2], edges[:, 3]
    crossing = (y1 > cy) != (y2 > cy)
    if not crossing.any():
        return cx, cy
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x1[crossing] + (cy - y1[crossing]) * (x2 - x1)[crossing] / (y2 - y1)[crossing]
    xs = np.sort(xs)
    spans = [(xs[i], xs[i + 1]) for i in range(0, xs.shape[0] - 1, 2)]
    if not spans:
        return cx, cy
    a, b = max(spans, key=lambda s: s[1] - s[0])
    return float((a + b) / 2.0), cy


def nearest_on_segments(
    px: np.ndarray, py: np.ndarray, segs: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Nearest point ON a segment set for each query point
    (GenerateNearTable CLOSEST with LOCATION+ANGLE,
    IB-Tool2.py:1985-96): returns (nx, ny, dist, angle_deg) where
    angle_deg is the planar from→near direction in degrees from +x
    (arcpy NEAR_ANGLE convention).  Vectorized (points × segments)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx = x2 - x1
    dy = y2 - y1
    L2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px[:, None] - x1[None, :]) * dx[None, :] + (py[:, None] - y1[None, :]) * dy[None, :]) / L2[None, :]
    t = np.clip(np.where(np.isfinite(t), t, 0.0), 0.0, 1.0)
    fx = x1[None, :] + t * dx[None, :]
    fy = y1[None, :] + t * dy[None, :]
    d2 = (fx - px[:, None]) ** 2 + (fy - py[:, None]) ** 2
    j = np.argmin(d2, axis=1)
    rows = np.arange(px.shape[0])
    nx = fx[rows, j]
    ny = fy[rows, j]
    dist = np.sqrt(d2[rows, j])
    ang = np.degrees(np.arctan2(ny - py, nx - px))
    return nx, ny, dist, ang


def point_polygon_distance(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Distance from points to a polygon (0 inside) — vectorized:
    even-odd containment plus clamped nearest-on-segment over all ring
    edges."""
    rs = [coerce_ring(r) for r in rings]
    inside = points_in_polygon(px, py, rs)
    segs = _rings_edges(rs)
    _nx, _ny, dist, _a = nearest_on_segments(
        np.asarray(px, dtype=np.float64), np.asarray(py, dtype=np.float64), segs
    )
    return np.where(inside, 0.0, dist)


def buffer_polygon(rings: list[np.ndarray], radius: float, n_arc: int = 16) -> list[np.ndarray]:
    """Exact round buffer (G1 — Buffer_analysis, IB-Tool2.py:809, 940,
    1019, 1866-72): Minkowski sum with a disc, arcs approximated by
    ``n_arc``-gon sectors (the reference's engine likewise polygonizes
    arcs).  Built as the boolean union of the polygon with one capsule
    per edge (convex hull of the two endpoint discs), folded through
    the Martinez–Rueda kernel — correct for concave rings and holes
    (hole boundaries buffer inward/outward under even-odd).

    All capsules union in ONE planar-arrangement pass
    (:func:`union_many`): vectorized noding of every capsule edge at
    once, midpoint side-coverage, interior-left stitch — each input
    vertex is visited once, instead of riding O(log E) (balanced fold)
    or O(E) (sequential fold) full Martinez–Rueda sweeps."""
    rs = [coerce_ring(r) for r in rings]
    pieces: list[list[np.ndarray]] = [[r.copy() for r in rs]]
    # one SHARED disc n-gon per vertex (identical float coordinates in
    # both incident capsules): neighbor capsules then coincide exactly
    # along the joint disc, and union_many's coincidence rules collapse
    # the duplicates deterministically — near-coincident-but-distinct
    # arcs (the old per-edge phase rotation) defeat midpoint
    # side-sampling once edges get dense
    ang = np.linspace(0.0, 2.0 * np.pi, n_arc, endpoint=False)
    disc = np.stack([np.cos(ang), np.sin(ang)], axis=1) * radius
    for r in rs:
        nxt = np.roll(r, -1, axis=0)
        for (ax, ay), (bx, by) in zip(r, nxt):
            pts = np.vstack([disc + (ax, ay), disc + (bx, by)])
            pieces.append([convex_hull(pts)])
    return union_many(pieces)


def close_holes(rings: list[np.ndarray], max_hole_area: float) -> list[np.ndarray]:
    """Exact polygon-level HoleClose (IB-Tool2.py:1704-50): drop hole
    rings (odd containment depth under the even-odd reading) whose area
    is below the threshold.  delineate._close_np fills holes on the
    cell grid for full_delineation; this is the ring-level equivalent
    for exact-geometry callers."""
    rs = [coerce_ring(r) for r in rings]
    out: list[np.ndarray] = []
    for i, r in enumerate(rs):
        others = [o for j, o in enumerate(rs) if j != i]
        p = _off_boundary_sample(r, others)
        depth = sum(
            1 for o in others if bool(points_in_polygon(p[:1], p[1:], [o])[0])
        )
        if depth % 2 == 1 and abs(ring_area(r)) < max_hole_area:
            continue  # a hole below MaxHoleSize: filled
        out.append(r)
    return out


def shared_boundary_length(rings_a: list[np.ndarray], rings_b: list[np.ndarray]) -> float:
    """Total length of A's boundary lying on B's boundary (collinear
    segment overlap) — GapSelect's shared-edge measure
    (IB-Tool2.py:1782-1836).

    Fully batched (VERDICT r3 wrong#4 — the former per-A-edge Python
    loop was GapClose's slowest inner loop): the collinearity cross
    tests run over the full (A×B) edge grid in chunks, candidate pairs
    come back through one ``nonzero``, and the interval merge touches
    only edges that actually have collinear partners.  Arithmetic is
    elementwise-identical to the scalar loop (same expression trees,
    same per-group merge), so results are bit-identical."""
    ea = _rings_edges([coerce_ring(r) for r in rings_a])
    eb = _rings_edges([coerce_ring(r) for r in rings_b])
    A, B = ea.shape[0], eb.shape[0]
    if A == 0 or B == 0:
        return 0.0
    x1, y1, x2, y2 = ea[:, 0], ea[:, 1], ea[:, 2], ea[:, 3]
    dxa, dya = x2 - x1, y2 - y1
    L = np.hypot(dxa, dya)
    tol = 1e-9 * (np.abs(x1) + np.abs(y1) + L + 1.0)
    bx1, by1, bx2, by2 = eb[:, 0], eb[:, 1], eb[:, 2], eb[:, 3]
    ai_parts: list[np.ndarray] = []
    bj_parts: list[np.ndarray] = []
    chunk = max(1, 4_000_000 // B)
    for c0 in range(0, A, chunk):
        c1 = min(c0 + chunk, A)
        dx = dxa[c0:c1, None]
        dy = dya[c0:c1, None]
        # collinear B edges: both endpoints on A's line (within ulp tol)
        cr1 = np.abs(dx * (by1[None, :] - y1[c0:c1, None]) - dy * (bx1[None, :] - x1[c0:c1, None]))
        cr2 = np.abs(dx * (by2[None, :] - y1[c0:c1, None]) - dy * (bx2[None, :] - x1[c0:c1, None]))
        tl = (tol[c0:c1] * L[c0:c1])[:, None]
        m = (cr1 <= tl) & (cr2 <= tl) & (L[c0:c1, None] != 0.0)
        i, j = np.nonzero(m)
        ai_parts.append(i + c0)
        bj_parts.append(j)
    ai = np.concatenate(ai_parts)
    bj = np.concatenate(bj_parts)
    if ai.size == 0:
        return 0.0
    # degenerate (zero-length) A edges were excluded by the L != 0 mask
    # above, so their inf inv never contributes — silence the divide
    with np.errstate(divide="ignore"):
        inv = 1.0 / (L * L)
    t1 = ((bx1[bj] - x1[ai]) * dxa[ai] + (by1[bj] - y1[ai]) * dya[ai]) * inv[ai]
    t2 = ((bx2[bj] - x1[ai]) * dxa[ai] + (by2[bj] - y1[ai]) * dya[ai]) * inv[ai]
    lo = np.clip(np.minimum(t1, t2), 0.0, 1.0)
    hi = np.clip(np.maximum(t1, t2), 0.0, 1.0)
    # per A-edge: sort the lo and hi columns independently (union
    # measure is invariant under endpoint re-pairing, and this matches
    # the scalar loop's np.sort(..., axis=0)), then merge groups
    ord_lo = np.lexsort((lo, ai))
    ord_hi = np.lexsort((hi, ai))
    lo_s = lo[ord_lo]
    hi_s = hi[ord_hi]
    eid = ai[ord_lo]  # stable: same per-edge blocks in both orders
    starts = np.flatnonzero(np.r_[True, eid[1:] != eid[:-1]])
    ends = np.r_[starts[1:], eid.size]
    total = 0.0
    for s, e in zip(starts, ends):
        cov = 0.0
        cur_lo, cur_hi = None, None
        for a, b in zip(lo_s[s:e], hi_s[s:e]):
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
        total += cov * float(L[eid[s]])
    return total


def close_polygon(rings: list[np.ndarray], d: float, n_arc: int = 16) -> list[np.ndarray]:
    """Exact morphological closing (the reference GapClose's
    double-buffer trick, IB-Tool2.py:1865-1875): dilate by ``d`` then
    erode by ``d``.  Erosion = complement-buffer within a padded frame:
    erode(B) = frame − buffer(frame − B, d), so concave notches and
    gaps narrower than 2d close while the rest of the shape returns to
    its original footprint (up to the n-gon arc approximation)."""
    from .boolean import polygon_boolean

    rs = [coerce_ring(r) for r in rings]
    dil = buffer_polygon(rs, d, n_arc)
    minx, miny, maxx, maxy = rings_bbox(dil)
    pad = 4.0 * d
    frame = [
        np.array(
            [
                [minx - pad, miny - pad],
                [maxx + pad, miny - pad],
                [maxx + pad, maxy + pad],
                [minx - pad, maxy + pad],
            ]
        )
    ]
    comp = polygon_boolean(frame, dil, "not")
    comp_buf = buffer_polygon(comp, d, n_arc)
    return polygon_boolean(frame, comp_buf, "not")
