"""Generate tests/goldens/ — smoke-tier golden outputs from the
pure-pandas/numpy reference implementations (FIXTURES.md §7).

The goldens are produced WITHOUT Spark: the single-node mirrors
(geocode_np, points_in_polygon, cells.encode/parent, brute-force kNN)
compute expected rows, and tests/test_goldens.py asserts the Spark
operators reproduce them exactly.  Checked into git so any drift in
either implementation is caught against a fixed artifact.

Usage: python tools/make_goldens.py
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ib_tool_spark import cells, geom, synth  # noqa: E402

N_SMOKE = 2000
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "goldens")


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    ids = np.array([f"img_{i:012d}" for i in range(N_SMOKE)])
    x, y = synth.geocode_np(ids)
    scene = synth.default_scene()

    # expected_pip_pairs(image_id, sid)
    rows = []
    for sid, _name, rings in scene.polygons:
        m = geom.points_in_polygon(x, y, rings)
        for i in np.nonzero(m)[0]:
            rows.append((ids[i], sid))
    pip = pd.DataFrame(rows, columns=["image_id", "sid"]).sort_values(
        ["image_id", "sid"]
    )
    pip.to_csv(os.path.join(OUT, "expected_pip_pairs.csv"), index=False)

    # expected_tile_assign(image_id, cell, tile)
    cell = cells.encode(x, y, 10)
    tile = cells.parent(cell, 6)
    ta = pd.DataFrame({"image_id": ids, "cell": cell, "tile": tile}).sort_values("image_id")
    ta.to_csv(os.path.join(OUT, "expected_tile_assign.csv"), index=False)

    # expected_knn_assign(image_id, nearest_id) at cutoff 3000
    d2 = (x[:, None] - scene.cx[None, :]) ** 2 + (y[:, None] - scene.cy[None, :]) ** 2
    best = np.argmin(d2, axis=1)
    bd = np.sqrt(d2[np.arange(len(ids)), best])
    keep = bd <= 3000.0
    knn = pd.DataFrame(
        {"image_id": ids[keep], "nearest_id": best[keep]}
    ).sort_values("image_id")
    knn.to_csv(os.path.join(OUT, "expected_knn_assign.csv"), index=False)

    # expected_cluster_assign(bid, cluster_id) — single-node run of the
    # same kernel (no Spark), one call over every true_cluster partition
    b = synth.buildings_pdf(per_cluster=15)
    from ib_tool_spark.delineate import _mst_cluster_kernel

    pdf = b.assign(part="P" + b["true_cluster"].astype(str))
    ca = _mst_cluster_kernel(pdf, 12.0, 120.0).sort_values("bid")[["bid", "cluster_id"]]
    ca.to_csv(os.path.join(OUT, "expected_cluster_assign.csv"), index=False)

    print("goldens written:", sorted(os.listdir(OUT)))


if __name__ == "__main__":
    main()
