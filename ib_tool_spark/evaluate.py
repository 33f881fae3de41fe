"""Boundary-evaluation cascade — the Error_Classification.py analogue.

The reference evaluates a computed settlement boundary (UGB) against an
expert delineation (IBS) by symmetric difference, splitting the symdiff
into POS (over-delineation, inside UGB only) and NEG (under-
delineation, inside IBS only) patches and peeling off 8 error classes
per sign in a fixed priority order (Error_Classification.py:585-747).

Spark-first re-expression: boundaries are cell sets at evaluation
resolution, so SymDiff/Intersect/Erase are set operations on cell keys
(one shuffle each, no geometry kernels), patches are connected
components of the symdiff cells, and the classification cascade is a
chain of ``when()`` conditions over per-patch aggregates — ordered
exactly like the reference's peel sequence.

The reference leaves two thresholds undefined (GOT and LBC are used
but never assigned — Error_Classification.py:636, 411, 551); here they
are explicit parameters: ``got`` = global overlap threshold (patch
building-coverage %, default 25) and ``lbc`` = low-building-count
threshold (default 3 buildings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import geom

CLASSES = (
    "IndCom",  # industrial/commercial land-use patch
    "Resid",  # residential patch
    "Holes",  # enclosed hole in the boundary
    "SettBody",  # settlement-body disagreement (large, building-rich)
    "LargeEmpty",  # large patch with no buildings
    "BdgEdge",  # thin edge strip along buildings
    "EmptyAreas",  # small building-free patch
    "LowDensBdgGrp",  # few-building low-density patch
)


def polygon_cells(rings: list[np.ndarray], cell_size: float) -> set[tuple[int, int]]:
    """Rasterize a polygon to evaluation cells (center-in rule)."""
    minx, miny, maxx, maxy = geom.rings_bbox([geom.coerce_ring(r) for r in rings])
    gx0, gx1 = int(np.floor(minx / cell_size)), int(np.floor(maxx / cell_size))
    gy0, gy1 = int(np.floor(miny / cell_size)), int(np.floor(maxy / cell_size))
    xs = (np.arange(gx0, gx1 + 1) + 0.5) * cell_size
    ys = (np.arange(gy0, gy1 + 1) + 0.5) * cell_size
    cxx, cyy = np.meshgrid(xs, ys)
    inside = geom.points_in_polygon(cxx.ravel(), cyy.ravel(), rings).reshape(len(ys), len(xs))
    rr, cc = np.nonzero(inside)
    return {(int(gx0 + c), int(gy0 + r)) for r, c in zip(rr, cc)}


def boundary_cells_df(spark, polygons: list[list[np.ndarray]], cell_size: float) -> DataFrame:
    rows = set()
    for rings in polygons:
        rows |= polygon_cells(rings, cell_size)
    pdf = pd.DataFrame(sorted(rows), columns=["gx", "gy"])
    return spark.createDataFrame(pdf, "gx long, gy long")


def _any_prefix(col, prefixes: tuple[str, ...]):
    """OR of startswith over every prefix (the reference's IndCom
    land-use test covers all configured funktion prefixes)."""
    pred = F.lit(False)
    for p in prefixes:
        pred = pred | col.startswith(p)
    return pred


def classify_symdiff(
    computed: DataFrame,
    expert: DataFrame,
    buildings: DataFrame,
    cell_size: float,
    got: float = 25.0,
    lbc: int = 3,
    hole_max_cells: int = 64,
    large_cells: int = 400,
    indcom_fkt_prefixes: tuple[str, ...] = ("31001_2",),
    min_patch_area: float = 250.0,
) -> DataFrame:
    """Symmetric-difference error classification.

    ``computed``/``expert``: cell DataFrames (gx, gy).  ``buildings``:
    (cx, cy, fkt) footprint centroids.  Returns one row per symdiff
    patch: (patch_id, sign, n_cells, area, n_buildings, coverage_pct,
    error_class) with the class priority of the reference's cascade.
    """
    c = computed.select("gx", "gy").withColumn("in_c", F.lit(1))
    e = expert.select("gx", "gy").withColumn("in_e", F.lit(1))
    merged = c.join(e, ["gx", "gy"], "full_outer").fillna(0, ["in_c", "in_e"])
    sym = merged.filter(F.col("in_c") != F.col("in_e")).select(
        "gx", "gy", F.when(F.col("in_c") == 1, F.lit("POS")).otherwise(F.lit("NEG")).alias("sign")
    )
    # patches = connected components per sign — ops.cell_components_df
    # (driver labeling up to its cap, distributed beyond: the symdiff
    # cell set is unbounded at scale); only the patch-id map
    # (one row per patch — output-scale) is collected, preserving the
    # original lexicographic patch numbering
    from . import ops

    sym = sym.persist()
    labeled_parts = []
    for sign in ("NEG", "POS"):
        part = sym.filter(F.col("sign") == sign).select("gx", "gy")
        labeled_parts.append(
            ops.cell_components_df(part).withColumn("sign", F.lit(sign))
        )
    sym.unpersist()  # cell_components_df is eager — sym fully scanned
    labeled = labeled_parts[0].unionByName(labeled_parts[1]).withColumn(
        "patch", F.concat(F.col("sign"), F.lit("_"), F.col("comp").cast("string"))
    )
    # patch ids: dense index over the distinct patch keys via
    # ops.dense_index_df — preserves the original lexicographic
    # numbering without a single-partition window (a continent-scale
    # run has tens of millions of patches)
    id_map = ops.dense_index_df(
        labeled.select("patch").distinct(), "patch", out="patch_id"
    )
    cells_df = labeled.join(F.broadcast(id_map), "patch", "inner").select(
        "gx", "gy", "sign", "patch_id"
    )

    b = buildings.withColumn("gx", F.floor(F.col("cx") / F.lit(cell_size)).cast("long")).withColumn(
        "gy", F.floor(F.col("cy") / F.lit(cell_size)).cast("long")
    )
    # OverlapCalc on REAL footprint area when the buildings table
    # carries one (Error_Classification.py:160-230 sums Shape_Area);
    # without an area column each building counts as one cell — the
    # documented fallback proxy
    has_area = "area" in buildings.columns
    barea = F.col("area") if has_area else F.lit(float(cell_size * cell_size))
    bj = cells_df.join(b, ["gx", "gy"], "left")
    per_patch = bj.groupBy("patch_id", "sign").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("gx", "gy").alias("n_cells"),
        F.count("cx").alias("n_buildings"),
        F.sum(F.when(F.col("cx").isNotNull(), barea).otherwise(F.lit(0.0))).alias("bdg_area"),
        F.sum(
            F.when(
                F.col("fkt").isNotNull()
                & _any_prefix(F.col("fkt"), indcom_fkt_prefixes),
                1,
            ).otherwise(0)
        ).alias("n_indcom"),
    )
    area = F.col("n_cells").cast("double") * F.lit(cell_size * cell_size)
    # the reference's pre-cascade sliver floor ("delete patches < 250 m2",
    # Error_Classification.py main): sub-floor patches never enter the
    # peel sequence or the report
    per_patch = per_patch.filter(area >= F.lit(float(min_patch_area)))
    coverage = F.least(F.lit(100.0), F.col("bdg_area") / area * F.lit(100.0))
    # the reference's peel order (Error_Classification.py:636-665):
    # IndCom → Resid → Holes → SettBody → LargeEmpty → BdgEdge →
    # EmptyAreas → LowDensBdgGrp
    cls = (
        F.when((F.col("n_indcom") > 0) & (F.col("n_indcom") * 2 >= F.col("n_buildings")), "IndCom")
        .when((F.col("n_buildings") > lbc) & (coverage >= F.lit(got)), "Resid")
        .when((F.col("sign") == "NEG") & (F.col("n_cells") <= hole_max_cells) & (F.col("n_buildings") == 0), "Holes")
        .when((F.col("n_cells") > large_cells) & (F.col("n_buildings") > lbc), "SettBody")
        .when((F.col("n_cells") > large_cells), "LargeEmpty")
        .when((F.col("n_buildings") > 0) & (coverage < F.lit(got)) & (F.col("n_cells") <= hole_max_cells), "BdgEdge")
        .when(F.col("n_buildings") == 0, "EmptyAreas")
        .otherwise("LowDensBdgGrp")
    )
    return per_patch.select(
        "patch_id",
        "sign",
        F.col("n_cells").cast("long").alias("n_cells"),
        area.alias("area"),
        F.col("n_buildings").cast("long").alias("n_buildings"),
        coverage.alias("coverage_pct"),
        cls.alias("error_class"),
    )


def error_report(classified: DataFrame) -> DataFrame:
    """Frequency/area/share rollup per (sign, class) — the reference's
    printed report (Error_Classification.py:721-747) as a DataFrame."""
    from pyspark.sql import Window as W

    total = classified.agg(F.sum("area")).collect()[0][0] or 1.0
    return (
        classified.groupBy("sign", "error_class")
        .agg(
            F.count(F.lit(1)).alias("frequency"),
            F.sum("area").alias("area_total"),
        )
        .withColumn("area_share_pct", F.col("area_total") / F.lit(float(total)) * 100.0)
        .orderBy("sign", "error_class")
    )
