"""Config/filter sources, scalar vector kernels, geometry hash,
within-distance join, footprint density."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ib_tool_spark import config, delineate, geom, ops, synth


def test_engine_config_from_text():
    cfg = config.EngineConfig.from_text(
        """
        # pipeline knobs
        cell_res : 12
        density_radius : 250.5
        coverage_thresh : 20
        custom_key : hello
        """
    )
    assert cfg.cell_res == 12
    assert cfg.density_radius == 250.5
    assert cfg.coverage_thresh == 20.0
    assert cfg.extras["custom_key"] == "hello"
    assert cfg.tile_res == 6  # default preserved


def test_parse_filter_lists():
    pos, neg = config.parse_filter_lists(
        """
        [positive]
        31001_1000
        31001_1010  # dwellings
        [negative]
        31001_2721
        """
    )
    assert pos == ["31001_1000", "31001_1010"]
    assert neg == ["31001_2721"]


def test_filter_predicate(spark):
    df = spark.createDataFrame(
        [("31001_1000",), ("31001_1010x",), ("31001_2721",)], ["fkt"]
    )
    pred = config.filter_predicate(F.col("fkt"), ["31001_1000", "31001_1010"])
    got = [r.fkt for r in df.filter(pred).collect()]
    assert got == ["31001_1000", "31001_1010x"]
    # the pandas twin keeps the same rows, and drops a NULL code as the
    # predicate does
    codes = pd.Series(["31001_1000", "31001_1010x", "31001_2721", None, "3100"])
    mask = config.filter_mask(codes, ["31001_1000", "31001_1010"])
    assert mask.tolist() == [True, True, False, False, False]


def test_perp_foot():
    fx, fy, d = geom.perp_foot([5.0, -2.0, 20.0], [5.0, 3.0, 0.0], 0.0, 0.0, 10.0, 0.0)
    assert fx.tolist() == [5.0, 0.0, 10.0]  # interior, clamped-left, clamped-right
    assert fy.tolist() == [0.0, 0.0, 0.0]
    assert d.tolist() == [5.0, np.hypot(2, 3), 10.0]


def test_vector_angle():
    a = geom.vector_angle([1.0, 1.0, 1.0], [0.0, 0.0, 0.0], [0.0, -1.0, 1.0], [1.0, 0.0, 0.0])
    assert np.allclose(a, [np.pi / 2, np.pi, 0.0])


def test_canonical_ring_hash_invariance():
    sq = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    h0 = geom.canonical_ring_hash([sq])
    h_rot = geom.canonical_ring_hash([np.roll(sq, 2, axis=0)])  # start shift
    h_rev = geom.canonical_ring_hash([sq[::-1]])  # orientation flip
    h_eps = geom.canonical_ring_hash([sq + 1e-9])  # below quantum
    assert h0 == h_rot == h_rev == h_eps
    assert h0 != geom.canonical_ring_hash([sq + 1.0])


def test_within_distance_join_matches_bruteforce(spark):
    ids = [f"img_{i:012d}" for i in range(800)]
    pts = ops.with_geocode(spark.createDataFrame(pd.DataFrame({"image_id": ids})))
    scene = synth.default_scene()
    centers = pd.DataFrame(
        {"center_id": np.arange(6), "cx": scene.cx[:6], "cy": scene.cy[:6]}
    )
    radius = 5000.0
    got = {
        (r.image_id, r.center_id): r.dist
        for r in ops.within_distance_join(
            pts.select("image_id", "x", "y"), centers, radius
        ).collect()
    }
    x, y = synth.geocode_np(np.array(ids))
    want = set()
    for i, iid in enumerate(ids):
        for c in range(6):
            d = np.hypot(x[i] - scene.cx[c], y[i] - scene.cy[c])
            if d <= radius:
                want.add((iid, c))
    assert set(got) == want
    for (iid, c), d in list(got.items())[:50]:
        i = ids.index(iid)
        assert abs(d - np.hypot(x[i] - scene.cx[c], y[i] - scene.cy[c])) < 1e-9


def test_footprint_density(spark):
    b = synth.buildings_df(spark, per_cluster=15)
    pts = b.select("bid", F.col("cx").alias("x"), F.col("cy").alias("y"))
    parts = delineate.density_partitions(
        pts.withColumn("image_id", F.col("bid").cast("string")), 150.0, 300.0, 1e-5
    )
    out = delineate.footprint_density(b, parts).toPandas()
    assert (out["overlap_pct"] > 0).all()
    assert (out["n_buildings"] > 0).all()
    assert out["bdg_area"].sum() <= b.agg(F.sum("area")).collect()[0][0]
