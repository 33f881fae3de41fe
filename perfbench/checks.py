"""Correctness checks against the numpy mirrors (no Spark needed).

Each check takes the benchmark's collected copy of a hash-sampled slice
of an output and returns a list of mismatch messages; an empty list
means the slice is exact.  The sample is ``xxhash64(image_id) % M == 0``
(Spark's signed 64-bit hash, seed 42), which keeps per-row results
unchanged, so the mirrors can recompute exactly that subset:
``synth.geocode_np`` for (x, y), ``cells.encode``/``cells.parent`` for
cell and tile, ``geom.points_in_polygon`` for the settlement join and a
brute-force scan of all centres for the nearest-centre assignment.
"""

from __future__ import annotations

import numpy as np

from ib_tool_spark import cells, codecs, geom, synth

CELL_RES = 10
TILE_RES = 6
MAX_REPORTED = 5


def sampled(ids, m: int) -> np.ndarray:
    """Mask of ids in the hash sample, the mirror of the Spark filter
    ``xxhash64(image_id) % m == 0``."""
    h = codecs.xxh64_strings(np.asarray(ids)).astype(np.uint64).view(np.int64)
    return np.fmod(h, m) == 0


def expected_flagship(ids, scene=None) -> set:
    """(image_id, x, y, cell, tile, sid, name) rows of ``pipeline.flagship``."""
    scene = scene or synth.default_scene()
    ids = np.asarray(ids)
    x, y = synth.geocode_np(ids, scene)
    cell = cells.encode(x, y, CELL_RES)
    tile = cells.parent(cell, TILE_RES)
    rows = set()
    for sid, name, rings in scene.polygons:
        for i in np.flatnonzero(geom.points_in_polygon(x, y, rings)):
            rows.add((str(ids[i]), float(x[i]), float(y[i]), int(cell[i]), int(tile[i]), int(sid), name))
    return rows


def expected_knn(ids, centers, cutoff: float, scene=None) -> set:
    """(image_id, x, y, cell, nearest_id, nearest_dist) rows of
    ``ops.knn_assign`` by brute force: the smallest (d², centre id)
    over every centre, kept when d² ≤ cutoff²."""
    ids = np.asarray(ids)
    x, y = synth.geocode_np(ids, scene)
    cell = cells.encode(x, y, CELL_RES)
    cid = np.asarray(centers["center_id"], dtype=np.int64)
    cx = np.asarray(centers["cx"], dtype=np.float64)
    cy = np.asarray(centers["cy"], dtype=np.float64)
    rows = set()
    for i in range(len(ids)):
        dx = x[i] - cx
        dy = y[i] - cy
        d2 = dx * dx + dy * dy
        j = np.lexsort((cid, d2))[0]
        if d2[j] <= cutoff * cutoff:
            rows.add((str(ids[i]), float(x[i]), float(y[i]), int(cell[i]), int(cid[j]), float(np.sqrt(d2[j]))))
    return rows


def expected_density(ids, cell_size: float, radius: float, scene=None) -> dict:
    """{(gx, gy): nsum} of ``ops.density_grid`` over all points."""
    x, y = synth.geocode_np(np.asarray(ids), scene)
    gx = np.floor(x / cell_size).astype(np.int64)
    gy = np.floor(y / cell_size).astype(np.int64)
    occ, cnt = np.unique(np.stack([gx, gy], axis=1), axis=0, return_counts=True)
    r = int(np.floor(radius / cell_size))
    offs = [
        (dx, dy)
        for dx in range(-r, r + 1)
        for dy in range(-r, r + 1)
        if dx * dx + dy * dy <= (radius / cell_size) ** 2
    ]
    out: dict = {}
    for (cgx, cgy), c in zip(occ.tolist(), cnt.tolist()):
        for dx, dy in offs:
            k = (cgx + dx, cgy + dy)
            out[k] = out.get(k, 0) + c
    return out


def density_sampled(gx, gy, m: int) -> np.ndarray:
    """Cell sample mask, the mirror of ``pmod(gx * 31 + gy, m) == 0``."""
    return np.mod(np.asarray(gx) * 31 + np.asarray(gy), m) == 0


def compare_rows(label: str, got, want: set) -> list[str]:
    """Set comparison; duplicate rows in ``got`` also count as errors."""
    got = [tuple(r) for r in got]
    errs = []
    if len(got) != len(set(got)):
        errs.append(f"{label}: {len(got) - len(set(got))} duplicate rows")
    missing = sorted(want - set(got), key=repr)[:MAX_REPORTED]
    extra = sorted(set(got) - want, key=repr)[:MAX_REPORTED]
    if missing or extra:
        errs.append(f"{label}: missing {missing} extra {extra}")
    return errs


def compare_density(got, want: dict, m: int, n_cells: int) -> list[str]:
    """``got``: sampled (gx, gy, nsum, density) rows from Spark."""
    errs = []
    if n_cells != len(want):
        errs.append(f"density_grid: {n_cells} cells, mirror has {len(want)}")
    keys = np.array(list(want.keys()), dtype=np.int64).reshape(-1, 2)
    want_s = {
        k: v for k, v, s in zip(map(tuple, keys.tolist()), want.values(), density_sampled(keys[:, 0], keys[:, 1], m)) if s
    }
    got_s = {(int(r[0]), int(r[1])): int(r[2]) for r in got}
    if got_s != want_s:
        diff = sorted(set(got_s.items()) ^ set(want_s.items()))[:MAX_REPORTED]
        errs.append(f"density_grid: sampled cells differ {diff}")
    return errs
