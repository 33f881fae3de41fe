"""Physical-plan regression pins — the PLANS.md claims as assertions.

These catch silent plan regressions (a lost broadcast, a shuffle
sneaking onto the payload side, Python appearing in the flagship) that
row-level correctness tests cannot see."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from ib_tool_spark import delineate, ops, pipeline, synth


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_plan_shape(spark):
    df = pipeline.flagship(spark, n_images=2000)
    p = plan_text(df)
    # payload scan pruned to image_id only — the bytes column must not
    # be read on the hot path
    assert "image_id" in p
    assert "bytes" not in p.split("ReadSchema")[1].splitlines()[0] if "ReadSchema" in p else True
    # polygon cover / geocode params arrive via broadcast, and the
    # image side never shuffles
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "Exchange hashpartitioning" not in p, "shuffle on the flagship path"
    # zero Python operators: the even-odd refine is Column math
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p


def test_knn_assign_zero_shuffle(spark):
    import pandas as pd

    pts = ops.with_cell(ops.with_geocode(synth.synth_images_df(spark, 500, 4).select("image_id")), 7)
    sample = pts.limit(40).select("x", "y").toPandas()
    centers = pd.DataFrame(
        {"center_id": range(len(sample)), "cx": sample["x"], "cy": sample["y"]}
    )
    out = ops.knn_assign(pts, centers, cutoff=70.0, res=7)
    p = plan_text(out)
    assert "Exchange hashpartitioning" not in p, "knn_assign must stay zero-shuffle"


def test_density_grid_partial_aggregation(spark):
    pts = ops.with_geocode(synth.synth_images_df(spark, 500, 4).select("image_id"))
    out = ops.density_grid(pts, cell_size=150.0, radius=300.0)
    p = plan_text(out)
    # map-side combine before each shuffle: partial + final pairs
    assert "partial_count" in p, p


def _rect_polys(spark, n=5):
    from ib_tool_spark import geom

    rows = [
        (i, [geom.rect_ring(10.0 * i, 0.0, 8.0, 8.0, 0.0).tolist()])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, rings array<array<array<double>>>")


def test_identity_join_canon_after_semijoin(spark):
    """r5 pin: the exact-refine canonical-bytes UDF must run AFTER the
    candidate semi-join (canon bytes computed/shuffled only for
    hash-matched ids, never the full table), and the full-table hash
    pass must be confined to the one-shot candidate checkpoint (no
    re-evaluation per consumer subtree, no inferred-isnotnull UDF
    duplicates)."""
    df = _rect_polys(spark)
    out = ops.identity_join(df, df)
    p = out._jdf.queryExecution().optimizedPlan().toString()
    lines = p.splitlines()
    c_idx = [i for i, ln in enumerate(lines) if "ArrowEvalPython [c(" in ln]
    assert len(c_idx) == 2, p  # one canon eval per side — no duplicates
    for i in c_idx:
        assert any("Join LeftSemi" in ln for ln in lines[i + 1 : i + 4]), (
            "canon UDF not directly above its candidate semi-join:\n" + p
        )
    # hash UDF lives inside the cand localCheckpoint lineage only
    assert "ArrowEvalPython [h(" not in p, p
    assert p.count("Join LeftSemi") == 2, p


def test_overlay_join_family_plan_shape(spark):
    """r5 pin: candidate pairing in the overlay family stays a payload-
    free (gx, gy) cell equi-join — ring payloads attach only after the
    (lid, rid) dedup — and no cartesian/nested-loop join appears."""
    import re

    df = _rect_polys(spark)
    for out in (
        ops.overlay_intersect_join(df, df),
        ops.overlay_erase(df, df),
        ops.overlay_symdiff(df, df),
    ):
        p = out._jdf.queryExecution().optimizedPlan().toString()
        # the cell join's inputs project rings away: id + cell keys only
        assert re.search(r"Project \[id#\d+L AS lid#\d+L, gx#", p), p
        assert re.search(r"Project \[id#\d+L AS rid#\d+L, gx#", p), p
        # narrow (lid, rid) dedup before the payload re-attach
        assert re.search(r"Aggregate \[lid#\d+L, rid#\d+L\]", p), p
        phys = out._jdf.queryExecution().executedPlan().toString()
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert bad not in phys, f"{bad} in overlay plan:\n{phys[:2000]}"


def test_gap_close_grouped_kernel_parallelism(spark):
    import numpy as np

    from ib_tool_spark import geom

    b = spark.createDataFrame(
        [(i, [geom.rect_ring(50.0 * i, 0.0, 20.0, 20.0, 0.0).tolist()]) for i in range(6)],
        "id long, rings array<array<array<double>>>",
    )
    blocks = spark.createDataFrame(
        [(0, [geom.rect_ring(25.0, 0.0, 6.0, 20.0, 0.0).tolist()])],
        "block_id long, rings array<array<array<double>>>",
    )
    out = delineate.gap_close_exact(b, blocks, gap_dist=0.0)
    # AQE's formatted explain truncates at isFinalPlan=false — read the
    # full query-execution dump instead
    p = out._jdf.queryExecution().toString()
    # the _spread repartition must survive into the plan: without it AQE
    # coalesces the tiny shuffle and the per-group kernels run serial
    assert "REPARTITION_BY_NUM" in p, p[:2000]
    assert "FlatMapCoGroupsInPandas" in p, p[:2000]


def test_flagship_validated_repartition_policy(spark):
    """r5 pin: decode parallelism comes from the scan — no round-robin
    byte shuffle when the input already fills >= 3/4 of the cores; the
    repartition fallback fires only when the layout can't fill them
    (the r4 threshold of 4x cores made every >=8m split shuffle the
    whole bytes column)."""
    imgs = synth.synth_images_df(spark, 200, 8)  # 8 parts >= 3/4 of 4 cores
    p = plan_text(pipeline.flagship_validated(spark, images=imgs))
    assert "RoundRobinPartitioning" not in p, "byte shuffle on a saturating scan"
    one = synth.synth_images_df(spark, 200, 8).coalesce(1)
    p1 = plan_text(pipeline.flagship_validated(spark, images=one))
    assert "RoundRobinPartitioning" in p1, "fallback must fire when the scan can't fill the cores"


ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow(spark, request):
    old = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, request.param)
    try:
        yield request.param
    finally:
        spark.conf.set(ARROW_KEY, old)


def _assert_local_scan(df):
    # the whole query-execution dump: it also prints the plan cached
    # under an InMemoryRelation
    p = df._jdf.queryExecution().toString()
    assert "LocalTableScan" in p, p[:3000]
    assert "Scan ExistingRDD" not in p, p[:3000]


def test_driver_built_relations_scan_locally(spark, arrow):
    """Driver-built tables are LocalTableScans with Arrow on or off — a
    list-built frame scans through a Python RDD on every action."""
    roads = synth.roads_df(spark)
    _assert_local_scan(roads)
    assert roads.schema.simpleString() == (
        "struct<rid:bigint,line:array<array<double>>,true_cluster:bigint,kind:string>"
    )
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    comps = ops.edge_components_df(edges)  # small path: a new driver-built table
    _assert_local_scan(comps)
    assert sorted(map(tuple, comps.collect())) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    buildings = synth.buildings_df(spark, per_cluster=2)
    _assert_local_scan(buildings)
    assert buildings.schema.simpleString() == (
        "struct<bid:bigint,rings:array<array<array<double>>>,cx:double,cy:double,"
        "area:double,fkt:string,true_cluster:bigint>"
    )
    assert buildings.count() == len(synth.buildings_pdf(per_cluster=2))
    # with_geocode's two lookup tables are its only scans besides the input
    ids = spark.range(50).select(F.format_string("img_%012d", "id").alias("image_id"))
    geo = ops.with_geocode(ids)
    p = geo._jdf.queryExecution().toString()
    assert p.count("LocalTableScan") >= 2 and "Scan ExistingRDD" not in p, p[:3000]
    got = geo.orderBy("image_id").toPandas()
    x, y = synth.geocode_np(got["image_id"].tolist())
    assert (got["x"].to_numpy() == x).all() and (got["y"].to_numpy() == y).all()

    # delineate's driver-built tables: the Thiessen faces, a pandas
    # partition map (assign_partitions, footprint_density) and blocker's
    # pandas roads
    import pandas as pd

    from ib_tool_spark import geom

    b = synth.buildings_df(spark, per_cluster=10)
    pts = b.select(F.col("cx").alias("x"), F.col("cy").alias("y"))
    faces = delineate.thiessen_partitions(pts)
    _assert_local_scan(faces)
    assert faces.schema.simpleString() == (
        "struct<part:string,rings:array<array<array<double>>>,area:double>"
    )
    assert faces.count() >= 2
    none = delineate.thiessen_partitions(pts.limit(1))  # no dense cell
    _assert_local_scan(none)
    assert none.count() == 0

    parts = delineate.density_partitions(pts, 150.0, 300.0, 1e-5)
    assigned = delineate.assign_partitions(pts, parts, 150.0)
    _assert_local_scan(assigned)
    assert assigned.count() == b.count()
    assert assigned.filter(F.col("part_name").isNotNull()).count() > 0
    density = delineate.footprint_density(b, parts)
    _assert_local_scan(density)
    assert density.count() == parts["part_name"].nunique()

    part = ops.local_df(
        spark,
        [("P0", [geom.rect_ring(300.0, 100.0, 600.0, 200.0, 0.0).tolist()])],
        "part string, rings array<array<array<double>>>",
    )
    roads = pd.DataFrame([{"rid": 0, "line": [[300.0, -10.0], [300.0, 210.0]]}])
    bdf = ops.local_df(
        spark, [(100.0, 100.0, "P0"), (500.0, 100.0, "P0")], "cx double, cy double, part string"
    )
    blocks = delineate.blocker(bdf, part, roads)
    _assert_local_scan(blocks)
    assert blocks.count() == 2

    # pip_join's cover under either refine and within_distance_join's
    # candidates.  The coordinates differ per Arrow setting so the cover
    # cache of one parameter cannot serve the other.
    base = 70_000.0 + (0.0 if arrow == "true" else 1_000.0)
    pts = ops.with_cell(
        ops.local_df(spark, [(0, base, base), (1, base + 500.0, base)], "pid long, x double, y double"),
        10,
    )
    polys = [(0, "A", [geom.rect_ring(base, base, 100.0, 100.0, 0.0).tolist()])]
    for refine in ("sql", "pandas"):
        joined = ops.pip_join(pts, polys, 10, refine=refine)
        cover, _bc = list(ops._COVER_CACHE.values())[-1]  # built by this call
        _assert_local_scan(cover)
        assert [r.pid for r in joined.collect()] == [0]
    centers = pd.DataFrame({"center_id": [7], "cx": [base], "cy": [base]})
    near = ops.within_distance_join(pts, centers, 200.0)
    _assert_local_scan(near)
    assert [(r.pid, r.center_id) for r in near.collect()] == [(0, 7)]


def test_cell_components_small_path_scans_locally(spark, arrow):
    """A cell set under the cap is labeled on the driver: the result is a
    LocalTableScan with no grouped Python stage, under either Arrow
    setting."""
    cells = spark.createDataFrame([(0, 0), (1, 0), (5, 5), (5, 6)], "gx long, gy long")
    out = ops.cell_components_df(cells)
    _assert_local_scan(out)
    assert "FlatMapGroupsInPandas" not in out._jdf.queryExecution().toString()
    assert sorted(map(tuple, out.collect())) == [(0, 0, 0), (1, 0, 0), (5, 5, 1), (5, 6, 1)]


def test_knn_wide_candidates_keep_long_ids(spark, arrow):
    """The wide knn candidate table pads missing slots with NULL longs
    (not float64) under either Arrow setting, is a LocalTableScan, and
    the argmin stays a least() chain."""
    import numpy as np
    import pandas as pd

    # three centers 100 m apart in a row: cells at the ends of the row
    # hold fewer candidates than the deepest cell, so slots are padded.
    # The coordinates differ per Arrow setting so the candidate cache
    # of one parameter cannot serve the other.
    base = 50_000.0 + (0.0 if arrow == "true" else 1_000.0)
    cx = base + np.array([0.0, 100.0, 200.0])
    cy = np.full(3, base)
    centers = pd.DataFrame({"center_id": [11, 12, 13], "cx": cx, "cy": cy})
    px = base + np.arange(-80.0, 290.0, 7.0)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(len(px)), "x": px, "y": np.full(len(px), base + 5.0)})
    )
    out = ops.knn_assign(pts, centers, cutoff=70.0)
    p = out._jdf.queryExecution().toString()
    assert "least(" in p, p[:3000]
    cand = list(ops._KNN_CAND_CACHE.values())[-1]  # built by this call
    _assert_local_scan(cand)
    width = sum(c.startswith("cid") for c in cand.columns)
    assert width >= 2, cand.columns
    assert all(t == "bigint" for c, t in cand.dtypes if c.startswith("cid")), cand.dtypes
    assert cand.filter(F.col(f"cid{width - 1}").isNull()).count() > 0
    got = out.toPandas().set_index("pid")
    d2 = (px[:, None] - cx[None, :]) ** 2 + 25.0
    for i in range(len(px)):
        j = int(np.argmin(d2[i]))
        if np.sqrt(d2[i, j]) <= 70.0:
            assert int(got.loc[i, "nearest_id"]) == 11 + j
        else:
            assert i not in got.index


def _sql_status(spark):
    """The SQL status store (and a Scala-to-Java collection converter),
    read once the listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    return store, spark._jvm.scala.jdk.javaapi.CollectionConverters


def test_full_delineation_runs_no_python_and_at_most_3_jobs(spark, arrow):
    """Across every action of one call (the final collect included) the
    density partitions, the per-partition kernel and the whole finish
    (PatchRemove, the stitch, HoleClose) run on the driver: building the
    frame starts no Spark job, no Python plan node runs at all and the
    collect runs at most 3 jobs."""
    sc = spark.sparkContext
    store, conv = _sql_status(spark)
    before = {e.executionId() for e in conv.asJava(store.executionsList())}
    group = f"full_delineation_{arrow}"
    sc.setJobGroup(group, group)
    try:
        df = delineate.full_delineation(spark, per_cluster=20)
        built = list(sc.statusTracker().getJobIdsForGroup(group))
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store, conv = _sql_status(spark)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    # physical-plan node names of every new execution (adaptive final plans)
    names = [
        n.name()
        for e in conv.asJava(store.executionsList())
        if e.executionId() not in before
        for n in conv.asJava(store.planGraph(e.executionId()).allNodes())
    ]
    assert built == [], built
    python = [n for n in names if "InPandas" in n or "EvalPython" in n or "ExistingRDD" in n]
    assert not python, names
    assert 0 < len(jobs) <= 3, (len(jobs), names)
