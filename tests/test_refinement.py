"""Final refinement composites: PatchRemove, GapFix, EdgeCatch."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ib_tool_spark import delineate


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


def test_gap_fix_stitches_across_partitions(spark):
    # two clusters from different partitions sharing an edge → one id
    cells = [(x, 0, 0) for x in range(5)] + [(x, 0, 1) for x in range(5, 10)] + [(20, 20, 2)]
    out = delineate.gap_fix(_cells(spark, cells)).toPandas()
    ids = out.groupby("cluster_id")["boundary_id"].unique()
    assert ids[0][0] == ids[1][0]  # stitched
    assert ids[2][0] != ids[0][0]  # distant patch stays separate


def test_edge_catch_annexes_toward_road(spark):
    # square cluster; vertical road 3 cells to the right within 70 m
    cells = [(x, y, 0) for x in range(4) for y in range(4)]
    df = _cells(spark, cells)
    road = pd.DataFrame([{"rid": 0, "line": [[65.0, -100.0], [65.0, 200.0]]}])
    out = delineate.edge_catch(df, road, cell_size=10.0, max_dist=70.0).toPandas()
    got = {(r.gx, r.gy) for r in out.itertuples()}
    # road at x=65 → cells with centers within 10 m: gx=5 and gx=6
    assert (5, 0) in got and (6, 3) in got
    # originals retained
    assert {(x, y) for x in range(4) for y in range(4)} <= got
    # nothing annexed beyond max_dist on the far side
    assert all(g[0] <= 10 for g in got)


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
