"""Flagship pipeline: synth/scan → geocode → cell-encode → PIP-join → tile-assign.

This is the engine's end-to-end composite (SURVEY.md §7 step 3) and the
body measured by bench.py against BASELINE.json's north-star metric
(images/sec).  Plan shape, by stage:

1. scan          — parquet, column-pruned to image_id (+ payload cols
                   only when the validate stage is on).
2. geocode+cell  — pure Column expressions (xxhash64 + bit math) inside
                   one WholeStageCodegen span; no Python.
3. pip_join      — broadcast hash join on the cell key + even-odd
                   refine in Column math (boundary cells only).  The
                   image side never shuffles.
4. tile_assign   — bit math on the cell id.
5. sink          — parquet partitioned by tile, or an aggregate.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ops, synth
from .cells import DEFAULT_GRID

CELL_RES = 10  # 128 m cells — polygons cover O(100) cells each
TILE_RES = 6  # 2 km tiles


def ship_engine(spark: SparkSession) -> str:
    """Zip this package and addPyFile it so executor Python workers can
    unpickle our UDFs — the in-session equivalent of
    ``spark-submit --py-files engine.zip`` (north_rule run shape).
    Idempotent; required whenever the driver script runs outside the
    repo directory.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    build_dir = os.path.join(os.path.dirname(pkg_dir), ".build")
    os.makedirs(build_dir, exist_ok=True)
    zpath = os.path.join(build_dir, "ib_tool_spark.zip")
    srcs = sorted(
        f for f in os.listdir(pkg_dir) if f.endswith(".py")
    )
    latest = max(os.path.getmtime(os.path.join(pkg_dir, f)) for f in srcs)
    if not os.path.exists(zpath) or os.path.getmtime(zpath) < latest:
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for f in srcs:
                z.write(os.path.join(pkg_dir, f), arcname=f"ib_tool_spark/{f}")
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    return zpath


def get_spark(
    app: str = "ib_tool_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(8, int(cores))
    # One BLAS thread per Python worker: Spark already runs one task per
    # core, so any intra-op BLAS threading oversubscribes the box (32
    # workers × OpenBLAS threads spinning on 32 cores).  Measured on the
    # 32-way decode-validate kernel: 110k → 167k img/s aggregate
    # (plans/r06).  Set BEFORE the JVM launches so local-mode Python
    # workers inherit it; the executorEnv conf covers cluster mode.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_engine(spark)
    return spark


def load_images(spark: SparkSession, n_images: int) -> DataFrame:
    """Materialized-synth read path (partition-pruned Iceberg-style layout)."""
    path = synth.ensure_images_table(spark, n_images)
    return spark.read.parquet(path)


def flagship(
    spark: SparkSession,
    n_images: int = 2000,
    cell_res: int = CELL_RES,
    tile_res: int = TILE_RES,
    images: DataFrame | None = None,
    scene: synth.Scene | None = None,
) -> DataFrame:
    """The north-star query: every image geocoded, H3/S2-encoded,
    PIP-joined to its settlement polygon, and tile-assigned.

    Returns one row per (image inside a settlement): image_id, x, y,
    cell, tile, sid, name.
    """
    scene = scene or synth.default_scene()
    if images is None:
        images = load_images(spark, n_images)
    pts = ops.with_cell(ops.with_geocode(images.select("image_id"), scene), cell_res)
    joined = ops.pip_join(pts, scene.polygons, cell_res)
    tiled = ops.tile_assign(joined, cell_res, tile_res)
    name_map = F.create_map(
        *[x for sid, name, _r in scene.polygons for x in (F.lit(int(sid)), F.lit(name))]
    )
    return tiled.withColumn("name", name_map[F.col("sid")]).select(
        "image_id", "x", "y", "cell", "tile", "sid", "name"
    )


def flagship_validated(
    spark: SparkSession,
    n_images: int = 2000,
    images: DataFrame | None = None,
    cell_res: int = CELL_RES,
    tile_res: int = TILE_RES,
    direct_path: str | None = None,
) -> DataFrame:
    """The full input_hint contract per image: decode bytes, verify the
    per-row invariants (PSNR ≥ 40 dB / exact, caption equality, phash),
    then geocode → cell → PIP join → tile.

    This is the end-to-end job used for the N→4N scaling evidence: its
    per-image cost is dominated by real decode work (Arrow-batched),
    which is the representative regime of a 100 TB image table — the
    id-only hot path is so cheap per row that local-mode driver
    scheduling, not compute, caps it.
    """
    scene = synth.default_scene()
    if direct_path is not None:
        # executors stream their parquet row-group splits straight from
        # storage (ops.decode_validate_direct) — the image bytes never
        # transit the JVM scan + Arrow IPC, which costs two payload
        # traversals on top of the fixed per-task Python cost (see
        # below).  Identical rows to the shipped path (pinned by tests).
        valid = (
            ops.decode_validate_direct(spark, direct_path)
            .filter(F.col("pixels_ok") & F.col("caption_ok") & F.col("phash_ok"))
            .select("image_id")
        )
        pts = ops.with_cell(ops.with_geocode(valid, scene), cell_res)
        joined = ops.pip_join(pts, scene.polygons, cell_res)
        return ops.tile_assign(joined, cell_res, tile_res).select(
            "image_id", "cell", "tile", "sid"
        )
    if images is None:
        images = load_images(spark, n_images)
    # decode parallelism comes from the scan itself (row-capped files +
    # a decode-tuned spark.sql.files.maxPartitionBytes — what a real
    # cluster job would set); only when the layout can't even fill the
    # cluster (fewer splits than ~3/4 of the cores) fall back to a
    # round-robin repartition — that path shuffles every image byte, so
    # it's the exception, not the default.  The threshold is cores, not
    # 4×cores: every Python task pays a large FIXED cost, independent of
    # payload.  A no-op mapInPandas takes 0.35-0.5 s for one wave of
    # tasks and ~0.25 s per further wave (4 cores, PySpark 4.1.2,
    # Python 3.11; perfbench's traced spark.python_noop.s).  About 0.2 s
    # of each task is the worker's importlib.invalidate_caches(), which
    # re-reads the zip directory of pyspark.zip and the 15 MB spark-core
    # jar on the worker's sys.path.  So once the scan saturates the
    # cores, fewer+bigger decode tasks beat finer ones — and a full-byte
    # shuffle to manufacture granularity is never worth it.
    n_min = max(1, (spark.sparkContext.defaultParallelism * 3) // 4)
    if images.rdd.getNumPartitions() < n_min:
        images = images.repartition(spark.sparkContext.defaultParallelism * 2)
    valid = (
        ops.decode_validate(images)
        .filter(F.col("pixels_ok") & F.col("caption_ok") & F.col("phash_ok"))
        .select("image_id")
    )
    pts = ops.with_cell(ops.with_geocode(valid, scene), cell_res)
    joined = ops.pip_join(pts, scene.polygons, cell_res)
    return ops.tile_assign(joined, cell_res, tile_res).select(
        "image_id", "cell", "tile", "sid"
    )


def flagship_summary(spark: SparkSession, n_images: int = 2000) -> DataFrame:
    """Per-settlement/tile rollup of the flagship join (the 'boundary
    dissolve' reporting view)."""
    return (
        flagship(spark, n_images)
        .groupBy("sid", "name", "tile")
        .agg(F.count("*").alias("n_images"))
        .orderBy("sid", "tile")
    )
