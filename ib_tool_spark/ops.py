"""DataFrame-level spatial operators.

Each operator re-expresses one reference primitive (SURVEY.md §2) as a
declarative Spark plan: candidate generation by cell equi-join (which
Catalyst plans as a broadcast hash join — the polygon/center side is
always tiny relative to the image table), then an exact refine only
where the candidate cell is ambiguous.

Scale notes (the 100 TB contract):
- The image side NEVER shuffles in pip_join/knn_assign — the build side
  is broadcast, so the plan is scan → project (codegen) → broadcast
  join → codegen refine, with no Python operator.  Throughput scales
  linearly with executors; there is no shuffle to skew.
- density_grid aggregates before its (tiny) k-ring self-join: the
  shuffle moves one row per *occupied cell*, not per point, and Spark's
  partial aggregation does the per-point work map-side.
- Skew from dense settlement cells is handled where it can exist — in
  grouped aggregations — by two-stage salted aggregation (see skew.py).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import synth
from .cells import DEFAULT_GRID, GridConfig, encode_col, k_ring_offsets, parent_col

# ---------------------------------------------------------------------------
# Driver-built relations
# ---------------------------------------------------------------------------


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small relation built on the driver, scanned as a JVM
    ``LocalTableScan``.  ``rows`` is either a list of tuples of Python
    values in ``schema`` order (``None`` is NULL) or a pandas DataFrame
    holding the schema's columns by name.

    ``createDataFrame`` over a Python list or a pandas frame with Arrow
    off plans a ``Scan ExistingRDD`` (``parallelize`` + a Python identity
    map), so every scan of the result starts Python tasks; a
    ``pyarrow.Table`` is sent to the JVM once, with Arrow on or off.
    Columns are built with the schema's own Arrow types, so NULL slots
    keep the declared type (pandas would turn a nullable ``long`` into
    float64)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    if isinstance(rows, pd.DataFrame):
        cols = [rows[f.name] for f in arrow_schema]
    else:
        cols = list(zip(*rows)) if rows else [[] for _ in arrow_schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, struct)


def collect_bounded(df: DataFrame, cap: int) -> "pa.Table | None":
    """``df`` as one ``pyarrow.Table`` when it has at most ``cap`` rows,
    else ``None``.

    One ``limit(cap + 1).toArrow()`` action: the rows cross as Arrow
    batches (with Arrow on or off), without building a Python ``Row``
    per record.  Integer-column callers read the table through
    int64_columns; delineate's driver kernels convert it to pandas."""
    table = df.limit(cap + 1).toArrow()
    return None if table.num_rows > cap else table


def int64_columns(table: "pa.Table") -> np.ndarray:
    """A table of integer columns as an (n, k) int64 array."""
    return np.column_stack([c.to_numpy().astype(np.int64, copy=False) for c in table.columns])


# ---------------------------------------------------------------------------
# Column-level stages (pure built-ins → whole-stage codegen)
# ---------------------------------------------------------------------------


def with_geocode(df: DataFrame, scene=None) -> DataFrame:
    """Attach deterministic (x, y) derived from image_id (JVM-side).

    Same arithmetic as synth.geocode_cols / geocode_np (bit-exact), but
    the cluster parameters come from two tiny broadcast joins instead
    of 300+ literal array lookups — keeps the Catalyst expression tree
    small so plan analysis/codegen is milliseconds, not seconds (that
    fixed driver cost was the scaling-efficiency killer at N→4N).
    """
    from . import synth as S

    scene = scene or S.default_scene()
    spark = df.sparkSession
    lookup = local_df(
        spark,
        pd.DataFrame(
            {
                "__slot": np.arange(S.LOOKUP_LEN, dtype=np.int64),
                "__k": scene.lookup.astype(np.int64),
            }
        ),
        "__slot long, __k long",
    )
    clusters = local_df(
        spark,
        pd.DataFrame(
            {
                "__k": np.arange(len(scene.cx), dtype=np.int64),
                "__cx": scene.cx,
                "__cy": scene.cy,
                "__diam": scene.diam,
            }
        ),
        "__k long, __cx double, __cy double, __diam double",
    )
    h1 = F.xxhash64(F.col("image_id"))
    h2 = F.xxhash64(F.concat(F.col("image_id"), F.lit("#g")))
    u_pick = F.shiftrightunsigned(h1, 12).bitwiseAND(F.lit((1 << 20) - 1)).cast("double") / F.lit(
        float(1 << 20)
    )
    u_mode = h1.bitwiseAND(F.lit(0xFFF)).cast("double") / F.lit(float(1 << 12))
    u_x = F.shiftrightunsigned(h2, 38).bitwiseAND(F.lit((1 << 26) - 1)).cast("double") / F.lit(
        float(1 << 26)
    )
    u_y = F.shiftrightunsigned(h2, 12).bitwiseAND(F.lit((1 << 26) - 1)).cast("double") / F.lit(
        float(1 << 26)
    )
    out = (
        df.withColumn("__slot", F.floor(u_pick * F.lit(float(S.LOOKUP_LEN))).cast("long"))
        .withColumn("__umode", u_mode)
        .withColumn("__ux", u_x)
        .withColumn("__uy", u_y)
        .join(F.broadcast(lookup), "__slot")
        .join(F.broadcast(clusters), "__k")
    )
    in_cluster = F.col("__umode") < F.lit(S.CLUSTER_PROB)
    x = F.when(in_cluster, F.col("__cx") + (F.col("__ux") - F.lit(0.5)) * F.col("__diam")).otherwise(
        F.lit(S.SCATTER_LO) + F.col("__ux") * F.lit(S.SCATTER_SPAN)
    )
    y = F.when(in_cluster, F.col("__cy") + (F.col("__uy") - F.lit(0.5)) * F.col("__diam")).otherwise(
        F.lit(S.SCATTER_LO) + F.col("__uy") * F.lit(S.SCATTER_SPAN)
    )
    return out.withColumn("x", x).withColumn("y", y).drop(
        "__slot", "__k", "__umode", "__ux", "__uy", "__cx", "__cy", "__diam"
    )


def with_cell(df: DataFrame, res: int = 10, grid: GridConfig = DEFAULT_GRID) -> DataFrame:
    """Attach the quadkey cell id (JVM-side Morton encode)."""
    return df.withColumn("cell", encode_col(F.col("x"), F.col("y"), res, grid))


def tile_assign(df: DataFrame, cell_res: int, tile_res: int) -> DataFrame:
    """Cell → coarser tile id; pure bit math (reference's tiling layer)."""
    return df.withColumn("tile", parent_col(F.col("cell"), cell_res, tile_res))


# ---------------------------------------------------------------------------
# PIP join (J5/J6 in SURVEY.md §2.3 — the engine's core operator)
# ---------------------------------------------------------------------------


def _persisted(df: DataFrame) -> DataFrame:
    """``df``, persisted unless Spark's cache manager already holds an
    equal plan: a driver-built relation with the same rows is served
    from the first one's cached blocks, within this session only."""
    return df if df.storageLevel.useMemory else df.persist()


def _cover_with_edges_pdf(polygons, res, grid) -> pd.DataFrame:
    """Broadcast build side of pip_join: per covering cell its
    class, center, center parity, and the edges overlapping the cell."""
    from .geom import cover_cells_with_edges

    rows = {"cell": [], "sid": [], "full": [], "cpx": [], "cpy": [], "cpar": [], "edges": []}
    for sid, _name, rings in polygons:
        cells, full, cpx, cpy, cpar, edge_lists = cover_cells_with_edges(rings, res, grid)
        rows["cell"].append(cells)
        rows["sid"].append(np.full(cells.shape[0], sid, dtype=np.int64))
        rows["full"].append(full)
        rows["cpx"].append(cpx)
        rows["cpy"].append(cpy)
        rows["cpar"].append(cpar)
        rows["edges"].extend([e.tolist() for e in edge_lists])
    return pd.DataFrame(
        {
            "cell": np.concatenate(rows["cell"]),
            "sid": np.concatenate(rows["sid"]),
            "full": np.concatenate(rows["full"]),
            "cpx": np.concatenate(rows["cpx"]),
            "cpy": np.concatenate(rows["cpy"]),
            "cpar": np.concatenate(rows["cpar"]),
            "edges": rows["edges"],
        }
    )


_COVER_EDGES_SCHEMA = (
    "cell long, sid long, full boolean, cpx double, cpy double, cpar boolean, "
    "edges array<array<double>>"
)


def _sql_inside_expr():
    """Pure-Column even-odd refine: inside ⇔ cpar XOR (segment from the
    point to the cell center properly crosses an odd number of the
    cell's local edges).  Equivalent to ray crossing for points in
    general position; zero Python, stays inside whole-stage codegen.

    Proper-crossing rule: only PROPER crossings count (strict
    orientation tests on both segments).  For a point off every polygon
    edge whose point-to-center segment passes through no polygon vertex
    this is exactly the even-odd rule of geom.points_in_polygon.  A
    point ON an edge, or one whose segment touches a vertex, misses the
    touching crossing and can classify differently from that
    function's half-open-in-y rule; exact-parity gates keep their
    points off polygon boundaries — the synth scene guarantees it.
    """
    x, y, cpx, cpy = F.col("x"), F.col("y"), F.col("cpx"), F.col("cpy")

    def crosses(e):
        ex1, ey1, ex2, ey2 = e[0], e[1], e[2], e[3]
        o1 = (cpx - x) * (ey1 - y) - (cpy - y) * (ex1 - x)
        o2 = (cpx - x) * (ey2 - y) - (cpy - y) * (ex2 - x)
        o3 = (ex2 - ex1) * (y - ey1) - (ey2 - ey1) * (x - ex1)
        o4 = (ex2 - ex1) * (cpy - ey1) - (ey2 - ey1) * (cpx - ex1)
        return ((o1 > 0) != (o2 > 0)) & ((o3 > 0) != (o4 > 0))

    n_cross = F.size(F.filter(F.col("edges"), crosses))
    odd = n_cross % 2 == 1
    return F.when(F.col("full"), F.lit(True)).otherwise(F.col("cpar") != odd)


def pip_join(
    points: DataFrame,
    polygons: list[tuple[int, str, list[np.ndarray]]],
    res: int = 10,
    grid: GridConfig = DEFAULT_GRID,
    how: str = "inner",
) -> DataFrame:
    """Point-in-polygon join: points(x, y, cell) × polygons → + sid.

    Plan shape: broadcast-hash-join on the cell key (no shuffle of the
    point side), then the segment-parity refine of _sql_inside_expr for
    boundary-cell rows — pure Column math, so the whole join stays in
    whole-stage codegen with no Python workers.  Replaces arcpy
    SpatialJoin/SelectLayerByLocation (IB-Tool2.py:882, 670 …).

    The cover is persisted: the BroadcastExchange is rebuilt per job,
    and feeding it from cached blocks skips re-serializing the
    driver-built relation on every run.

    ``how='inner'`` keeps matching rows; ``how='anti'`` returns points
    matching NO polygon (INVERT selections, IB-Tool2.py:818-823).
    """
    cover_pdf = _cover_with_edges_pdf(polygons, res, grid)
    cover = _persisted(local_df(points.sparkSession, cover_pdf, _COVER_EDGES_SCHEMA))
    matched = (
        points.join(F.broadcast(cover), "cell", "inner")
        .withColumn("__inside", _sql_inside_expr())
        .filter(F.col("__inside"))
        .drop("__inside", "full", "cpx", "cpy", "cpar", "edges")
    )
    if how == "inner":
        return matched
    if how == "anti":
        return points.join(matched.select("cell", "x", "y").distinct(), ["cell", "x", "y"], "left_anti")
    raise ValueError(f"how={how!r}")


# ---------------------------------------------------------------------------
# kNN / nearest join (J10 — GenerateNearTable CLOSEST analogue)
# ---------------------------------------------------------------------------


# deepest per-cell candidate list that still uses the fixed-width
# (codegen least-chain) layout; deeper lists fall back to array+fold
_KNN_WIDE_MAX = 8


def knn_assign(
    points: DataFrame,
    centers: pd.DataFrame,  # columns: center_id, cx, cy
    cutoff: float,
    res: int | None = None,
    grid: GridConfig = DEFAULT_GRID,
) -> DataFrame:
    """Nearest center within ``cutoff`` for every point — fully JVM-side.

    Candidate generation: each center is exploded to the square k-ring
    of cells that covers its cutoff disk; points join on their own cell
    (broadcast), distances are plain column math, and ``min_by`` picks
    the winner.  No Python in the loop at all.  Mirrors the reference's
    GenerateNearTable CLOSEST with a 70 m cutoff (IB-Tool2.py:1985-96).
    """
    spark = points.sparkSession
    if res is None:
        # coarsest resolution whose cell size ≥ cutoff → 1-ring suffices
        res = 1
        while grid.cell_size(res + 1) >= cutoff and res < 20:
            res += 1
    cs = grid.cell_size(res)
    k = int(np.ceil(cutoff / cs))
    offs = k_ring_offsets(k)
    from .cells import encode_colrow, xy_to_colrow

    cxy = centers[["cx", "cy"]].to_numpy(dtype=np.float64)
    ix, iy = xy_to_colrow(cxy[:, 0], cxy[:, 1], res, grid)
    n = 1 << res
    reps = offs.shape[0]
    cand_ix = np.repeat(ix, reps) + np.tile(offs[:, 0], len(ix))
    cand_iy = np.repeat(iy, reps) + np.tile(offs[:, 1], len(iy))
    ok = (cand_ix >= 0) & (cand_ix < n) & (cand_iy >= 0) & (cand_iy < n)
    cand = pd.DataFrame(
        {
            "cell": encode_colrow(cand_ix[ok], cand_iy[ok], res),
            "center_id": np.repeat(centers["center_id"].to_numpy(np.int64), reps)[ok],
            "cx": np.repeat(cxy[:, 0], reps)[ok],
            "cy": np.repeat(cxy[:, 1], reps)[ok],
        }
    )
    # ZERO-SHUFFLE shape (VERDICT round-1 wrong#8): the broadcast side
    # carries ONE row per cell with the candidate centers, so each
    # point joins exactly one row and the argmin runs in pure Column
    # math — no groupBy, no Exchange on the point side at all.
    #
    # Two physical layouts for the per-cell candidates (r6): when the
    # deepest cell holds ≤ _KNN_WIDE_MAX centers the candidates are laid
    # out as FIXED WIDTH columns (cid0/cx0/cy0, …) and the argmin is a
    # least() chain over codegen'd structs — higher-order array
    # functions (transform/array_min) are interpreted per row, and the
    # wide form measured 1.53 → 1.11 s on the 6M-point sf1.0 gate with
    # exceptAll parity 0 (plans/r06).  Deeper candidate lists (many
    # overlapping center disks) keep the array+fold form.
    #
    # persist behind the broadcast: like the PIP cover, the
    # BroadcastExchange rebuilds per job and feeding it from cached
    # blocks skips re-serializing the driver-local candidate relation
    width = int(cand.groupby("cell").size().max()) if len(cand) else 0
    wide = 0 < width <= _KNN_WIDE_MAX
    if wide:
        rows = []
        for cell, g in cand.groupby("cell"):
            slots = [(int(r.center_id), float(r.cx), float(r.cy)) for r in g.itertuples()]
            slots += [(None, None, None)] * (width - len(slots))
            rows.append((int(cell), *(v for s in slots for v in s)))
        schema = "cell long, " + ", ".join(
            f"cid{j} long, cx{j} double, cy{j} double" for j in range(width)
        )
    else:
        rows = [
            (
                int(cell),
                [
                    {"center_id": int(r.center_id), "cx": float(r.cx), "cy": float(r.cy)}
                    for r in g.itertuples()
                ],
            )
            for cell, g in cand.groupby("cell")
        ]
        schema = "cell long, cands array<struct<center_id: long, cx: double, cy: double>>"
    cand_df = _persisted(local_df(spark, rows, schema))
    pts = points.withColumn("__kcell", encode_col(F.col("x"), F.col("y"), res, grid))
    joined = pts.join(F.broadcast(cand_df), pts["__kcell"] == cand_df["cell"], "inner").drop(
        cand_df["cell"]
    )

    x, y = F.col("x"), F.col("y")

    if wide:
        # least() over fixed-slot structs: same lexicographic (d2,
        # center_id) winner rule; empty slots carry a +inf sentinel
        # that can never win against any real candidate (d2 finite)
        structs = []
        for j in range(width):
            # (x-cx)*(x-cx), not pow(x, 2): keeps the float result
            # bit-identical to the SQL oracle and the numpy mirror
            dx = x - F.col(f"cx{j}")
            dy = y - F.col(f"cy{j}")
            d2 = dx * dx + dy * dy
            structs.append(
                F.when(
                    F.col(f"cid{j}").isNotNull(),
                    F.struct(d2.alias("d2"), F.col(f"cid{j}").alias("center_id")),
                ).otherwise(
                    F.struct(
                        F.lit(float("inf")).alias("d2"),
                        F.lit(0).cast("long").alias("center_id"),
                    )
                )
            )
        best = F.least(*structs) if width > 1 else structs[0]
    else:

        def to_pair(c):
            # (x-cx)*(x-cx), not pow(x, 2): keeps the float result
            # bit-identical to the SQL oracle and the numpy mirror
            dx = x - c["cx"]
            dy = y - c["cy"]
            d2 = dx * dx + dy * dy
            return F.struct(d2.alias("d2"), c["center_id"].alias("center_id"))

        # array_min over structs orders lexicographically by (d2,
        # center_id) — the same winner rule as min_by over that struct,
        # and ~20% faster in codegen than an aggregate() When-fold
        best = F.array_min(F.transform(F.col("cands"), to_pair))
    keys = [c for c in points.columns]
    return (
        joined.withColumn("__best", best)
        .filter(F.col("__best.d2") <= float(cutoff) ** 2)
        .select(
            *keys,
            F.col("__best.center_id").alias("nearest_id"),
            F.sqrt(F.col("__best.d2")).alias("nearest_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Density grid (A4 — PointDensity focal raster aggregate)
# ---------------------------------------------------------------------------


def density_offsets(cell_size: float, radius: float) -> np.ndarray:
    """(k, 2) int64 (dx, dy) cell offsets of density_grid's disk: the
    square ring of floor(radius / cell_size) cells, less the offsets
    farther than ``radius`` in cell units."""
    offs = k_ring_offsets(int(np.floor(radius / cell_size)))
    return offs[offs[:, 0] ** 2 + offs[:, 1] ** 2 <= (radius / cell_size) ** 2]


def density_grid(
    points: DataFrame,
    cell_size: float,
    radius: float,
    x0: float = 0.0,
    y0: float = 0.0,
) -> DataFrame:
    """Per-cell point density with a circular focal neighborhood.

    raster = grid-keyed table (SURVEY.md §1.2).  Two phases:
    1. bin points → groupBy(cell) count        (map-side partial agg)
    2. k-ring neighbor sum via explode of the disk offsets on the
       *aggregated* cells — the shuffle is proportional to occupied
       cells × disk size, never to the point count.
    Density = Σ count(neighbors within radius) / (π r²), mirroring
    arcpy.sa.PointDensity with a Circle kernel (IB-Tool2.py:799-801).
    """
    offs = density_offsets(cell_size, radius)
    binned = (
        points.withColumn("gx", F.floor((F.col("x") - F.lit(x0)) / F.lit(cell_size)).cast("long"))
        .withColumn("gy", F.floor((F.col("y") - F.lit(y0)) / F.lit(cell_size)).cast("long"))
        .groupBy("gx", "gy")
        .agg(F.count("*").alias("cnt"))
    )
    off_df = F.array(*[F.struct(F.lit(int(dx)).alias("dx"), F.lit(int(dy)).alias("dy")) for dx, dy in offs])
    spread = (
        binned.withColumn("o", F.explode(off_df))
        .select(
            (F.col("gx") + F.col("o.dx")).alias("gx"),
            (F.col("gy") + F.col("o.dy")).alias("gy"),
            F.col("cnt"),
        )
        .groupBy("gx", "gy")
        .agg(F.sum("cnt").alias("nsum"))
    )
    area = float(np.pi) * radius * radius
    return spread.withColumn("density", F.col("nsum").cast("double") / F.lit(area))


# ---------------------------------------------------------------------------
# Decode + per-row invariant validation (input_hint contract)
# ---------------------------------------------------------------------------

VALIDATE_SCHEMA = (
    "image_id string, fmt string, psnr double, pixels_ok boolean, "
    "caption_ok boolean, phash_ok boolean"
)


def decode_validate(df: DataFrame, psnr_floor: float = 40.0) -> DataFrame:
    """Decode every image and check the per-row invariants:

    decoded pixels ≈ expected (PSNR ≥ 40 dB for lossy, exact for
    lossless), caption equality, stored phash == phash(decoded).
    Runs in ``mapInPandas`` over Arrow batches (binary-heavy path);
    executors never hold more than one batch of decoded pixels.
    """
    from . import codecs

    def check(batches):
        for pdf in batches:
            yield _validate_pdf(pdf, psnr_floor)

    return df.mapInPandas(check, VALIDATE_SCHEMA)


_VALIDATE_COLUMNS = ["image_id", "bytes", "fmt", "caption", "phash"]


def decode_validate_direct(
    spark,
    table_path: str,
    psnr_floor: float = 40.0,
    batch_rows: int = 2000,
    n_tasks: int | None = None,
) -> DataFrame:
    """Decode-validate where executors read their parquet splits
    DIRECTLY via pyarrow instead of receiving the bytes column through
    the JVM.

    Identical output to :func:`decode_validate` over
    ``spark.read.parquet(table_path)`` (same kernel, pinned by tests).
    The difference is purely physical: the standard path ships every
    image byte parquet → JVM scan → Arrow IPC → Python worker, which
    costs two extra traversals of the payload plus this build's large
    fixed per-task Python-bridge overhead.  Here the driver bin-packs
    the table's (file, row-group) splits into ``n_tasks`` row-balanced
    groups (footer metadata only), parallelizes ONE spec row per task,
    and each worker streams its row groups straight from the files in
    ``batch_rows`` Arrow batches — the same direct-from-storage split
    assignment a cluster decode job uses against an object store, where
    the image bytes also never route through a central scan.  Column
    pruning is explicit (`_VALIDATE_COLUMNS`), and the kernel working
    set stays cache-bound via ``batch_rows`` exactly like the Arrow
    maxRecordsPerBatch knob on the shipped path.

    ``n_tasks`` defaults to one wave (defaultParallelism) because this
    build's bridge handshake is the dominant per-task cost and the
    row-balanced bin-packing keeps the wave even.  On a real cluster
    with preemption/stragglers, set 2-4 waves (the handshake there is
    amortized by per-task data volume) — the knob exists precisely so
    that choice is per-deployment config, not a code change.

    The driver reads parquet footers to learn per-row-group row counts;
    at warehouse scale (millions of files) that lookup belongs to the
    table format's metadata layer instead — Iceberg manifests carry
    per-file/row-group record counts, so the same bin-packing runs off
    a manifest scan without opening a single data file.
    """
    import glob as _glob
    import json as _json

    import pyarrow.parquet as _pq

    files = sorted(_glob.glob(os.path.join(table_path, "**", "*.parquet"), recursive=True))
    if not files:
        raise ValueError(f"no parquet files under {table_path}")
    if n_tasks is None:
        n_tasks = spark.sparkContext.defaultParallelism
    # one (path, row_group, rows) unit per row group; greedy bin-pack
    # into n_tasks row-balanced groups (largest-first)
    units: list[tuple[str, int, int]] = []
    for f in files:
        md = _pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            units.append((f, rg, md.row_group(rg).num_rows))
    units.sort(key=lambda u: -u[2])
    n_groups = min(n_tasks, len(units))
    loads = [0] * n_groups
    groups: list[list[tuple[str, int]]] = [[] for _ in range(n_groups)]
    for f, rg, rows in units:
        i = loads.index(min(loads))
        loads[i] += rows
        groups[i].append((f, rg))
    specs = [_json.dumps(g) for g in groups]
    floor = float(psnr_floor)
    brows = int(batch_rows)

    def check(batches):
        for pdf in batches:
            for spec in pdf["spec"]:
                by_file: dict[str, list[int]] = {}
                for f, rg in _json.loads(spec):
                    by_file.setdefault(f, []).append(rg)
                for f, rgs in by_file.items():
                    pf = _pq.ParquetFile(f)
                    for rb in pf.iter_batches(
                        batch_size=brows, row_groups=sorted(rgs), columns=_VALIDATE_COLUMNS
                    ):
                        yield _validate_pdf(rb.to_pandas(), floor)

    # one spec per partition: parallelize with numSlices=len(specs)
    # places exactly one element in each partition, so every task owns
    # one balanced group of row groups
    rdd = spark.sparkContext.parallelize([(s,) for s in specs], len(specs))
    manifest = spark.createDataFrame(rdd, "spec string")
    return manifest.mapInPandas(check, VALIDATE_SCHEMA)




def _validate_pdf(pdf: pd.DataFrame, psnr_floor: float) -> pd.DataFrame:
    """Chunked validate kernel — one Arrow batch in, one out, same row
    order.  Decode stays per-image (variable formats/sizes); everything
    downstream runs over same-(h, w) chunks sized to stay cache-bound
    (`synth.px_batch_chunk`): expected pixels are synthesized as one
    channel-MAJOR (k, 3, h, w) int16 stack on the exact sixty-fourths
    lattice (`synth.expected_pixels_batch_i16_cm` — bit-identical per
    element to the float64 scalar path), the decoded stack is built
    ONCE in the same layout and shared by the PSNR diff and the phash
    check, and the id hashes / caption index math are vectorized per
    batch.  PSNR uses exact integer sums — equal to the float64 mean
    bit-for-bit (every partial sum is an exact integer < 2⁵³, in any
    summation order)."""
    from . import codecs

    n = len(pdf)
    psnr_arr = np.empty(n, dtype=np.float64)
    pix_ok = np.empty(n, dtype=bool)
    ph_ok = np.empty(n, dtype=bool)
    fmts = pdf["fmt"].to_numpy()
    phashes = pdf["phash"].to_numpy()
    ids = list(pdf["image_id"])

    hp = synth.id_hashes(ids, "#px")
    imgs: list = [None] * n
    for i, (data, fmt) in enumerate(zip(pdf["bytes"], fmts)):
        imgs[i] = codecs.decode(bytes(data), fmt)

    is_tdc = fmts == "tdc"
    # id-derived expected shape (ADVICE r5 medium): a payload whose
    # decoded size differs from what the image_id implies must FAIL
    # pixels_ok even if it perfectly matches a re-synthesis at its own
    # (wrong) size — the diff below groups by DECODED shape, so without
    # this check the id→size invariant was no longer validated.
    sizes_arr = np.array(synth.IMAGE_SIZES, dtype=np.int64)
    exp_w = sizes_arr[(hp % np.uint64(3)).astype(np.int64)]
    exp_h = sizes_arr[((hp >> np.uint64(2)) % np.uint64(3)).astype(np.int64)]
    by_size: dict[tuple[int, int], list[int]] = {}
    for i, img in enumerate(imgs):
        hh, ww = img.shape[:2]
        if hh != exp_h[i] or ww != exp_w[i]:
            # wrong-size payload: pixel check fails by definition and
            # synthesis is skipped; phash is still checked against the
            # decoded pixels (scalar path — mismatches are exceptional)
            psnr_arr[i] = 0.0
            pix_ok[i] = False
            ph_ok[i] = int(phashes[i]) == codecs.phash(img)
            continue
        by_size.setdefault((hh, ww), []).append(i)
    for (hh, ww), idxs in by_size.items():
        npx = float(hh * ww * 3)
        chunk = synth.px_batch_chunk(hh, ww)
        # sort by checker period so each synthesis chunk holds at most
        # 8 contiguous period runs (the batch kernel's checker add then
        # touches each run once); results scatter back through grp
        arr = np.asarray(idxs)
        per = (hp[arr] >> np.uint64(5)) % np.uint64(8)
        arr = arr[np.argsort(per, kind="stable")]
        for c0 in range(0, len(arr), chunk):
            grp = arr[c0 : c0 + chunk]
            # channel-MAJOR stack (k, 3, h, w): broadcast adds in the
            # synthesis and the checker merge their inner w axis (the
            # (h, w, 3) layout runs 3-element inner loops, ~13× slower)
            stack = np.empty((len(grp), 3, hh, ww), dtype=np.uint8)
            for j, i in enumerate(grp):
                stack[j] = imgs[i].transpose(2, 0, 1)
            # expected pixels on the exact int16 sixty-fourths lattice
            # (bit-identical to the float64 scalar path — see
            # synth.expected_pixels_batch_i16_cm); the diff, squares,
            # and sums are all exact integers, so sq equals the float64
            # scalar loop's value bit-for-bit in any summation order
            q = synth.expected_pixels_batch_i16_cm(hp[grp], hh, ww)
            ph_ok[grp] = phashes[grp].astype(np.int64) == codecs.phash_batch(
                stack, channel_major=True
            )
            np.subtract(stack, q, out=q)
            d32 = np.multiply(q, q, dtype=np.int32)
            sq = np.einsum("ij->i", d32.reshape(len(grp), -1), dtype=np.int64).astype(np.float64)
            zero = sq == 0.0
            p = np.where(
                zero, 1e9, 10.0 * np.log10(255.0 * 255.0 / (np.maximum(sq, 1.0) / npx))
            )
            psnr_arr[grp] = p
            # lossless formats demand exact pixels; only tdc may pass
            # on PSNR
            pix_ok[grp] = zero | (is_tdc[grp] & (p >= psnr_floor))

    hc = synth.id_hashes(ids, "#cap")
    adj_i = (hc % np.uint64(len(synth._ADJS))).astype(np.int64)
    noun_i = ((hc >> np.uint64(8)) % np.uint64(len(synth._NOUNS))).astype(np.int64)
    place_i = ((hc >> np.uint64(16)) % np.uint64(len(synth._PLACES))).astype(np.int64)
    cap_ok = np.array(
        [
            c == f"a {synth._ADJS[a]} {synth._NOUNS[b]} near {synth._PLACES[p_]}"
            for c, a, b, p_ in zip(pdf["caption"], adj_i, noun_i, place_i)
        ],
        dtype=bool,
    )
    return pd.DataFrame(
        {
            "image_id": pdf["image_id"],
            "fmt": pdf["fmt"],
            "psnr": psnr_arr,
            "pixels_ok": pix_ok,
            "caption_ok": cap_ok,
            "phash_ok": ph_ok,
        }
    )


# ---------------------------------------------------------------------------
# Distance-predicate join (J8 — WITHIN_A_DISTANCE, Partitioning.pyt:104)
# ---------------------------------------------------------------------------


def within_distance_join(
    points: DataFrame,
    centers: pd.DataFrame,  # columns: center_id, cx, cy
    radius: float,
    res: int | None = None,
    grid: GridConfig = DEFAULT_GRID,
) -> DataFrame:
    """All (point, center) pairs within ``radius`` — the one-to-many
    radius join.  Same broadcast k-ring candidate machinery as
    knn_assign, but keeps every qualifying pair instead of the argmin.
    Fully JVM-side.
    """
    spark = points.sparkSession
    if res is None:
        res = 1
        while grid.cell_size(res + 1) >= radius and res < 20:
            res += 1
    cs = grid.cell_size(res)
    k = int(np.ceil(radius / cs))
    offs = k_ring_offsets(k)
    from .cells import encode_colrow, xy_to_colrow

    cxy = centers[["cx", "cy"]].to_numpy(dtype=np.float64)
    ix, iy = xy_to_colrow(cxy[:, 0], cxy[:, 1], res, grid)
    n = 1 << res
    reps = offs.shape[0]
    cand_ix = np.repeat(ix, reps) + np.tile(offs[:, 0], len(ix))
    cand_iy = np.repeat(iy, reps) + np.tile(offs[:, 1], len(iy))
    ok = (cand_ix >= 0) & (cand_ix < n) & (cand_iy >= 0) & (cand_iy < n)
    cand = pd.DataFrame(
        {
            "cell": encode_colrow(cand_ix[ok], cand_iy[ok], res),
            "center_id": np.repeat(centers["center_id"].to_numpy(np.int64), reps)[ok],
            "cx": np.repeat(cxy[:, 0], reps)[ok],
            "cy": np.repeat(cxy[:, 1], reps)[ok],
        }
    )
    cand_df = local_df(spark, cand, "cell long, center_id long, cx double, cy double")
    pts = points.withColumn("__kcell", encode_col(F.col("x"), F.col("y"), res, grid))
    joined = pts.join(F.broadcast(cand_df), pts["__kcell"] == cand_df["cell"], "inner").drop(
        cand_df["cell"]
    )
    dx = F.col("x") - F.col("cx")
    dy = F.col("y") - F.col("cy")
    d2 = dx * dx + dy * dy
    return (
        joined.withColumn("dist", F.sqrt(d2))
        .filter(F.col("dist") <= F.lit(float(radius)))
        .drop("__kcell", "cx", "cy")
    )


# ---------------------------------------------------------------------------
# Hex ("H3-style") cell ops — isotropic density neighborhoods
# ---------------------------------------------------------------------------


def with_hex_cell(df: DataFrame, res: int = 10, grid: GridConfig = DEFAULT_GRID) -> DataFrame:
    """Attach the hex axial cell id (Arrow-vectorized numpy kernel —
    hex rounding is branchy math that stays in numpy; the quadkey path
    covers the pure-JVM case)."""
    from .cells import hex_encode

    @F.pandas_udf(T.LongType())
    def enc(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(hex_encode(x.to_numpy(np.float64), y.to_numpy(np.float64), res, grid))

    return df.withColumn("hex_cell", enc(F.col("x"), F.col("y")))


def hex_density(
    points: DataFrame, res: int = 10, k: int = 1, grid: GridConfig = DEFAULT_GRID
) -> DataFrame:
    """Per-hex-cell count with a k-ring neighborhood sum — the hex
    counterpart of density_grid (hex rings are the isotropic
    neighborhoods the reference's circular PointDensity kernel
    assumes).  Same agg-then-ring-sum shape: the explode happens on
    aggregated cells, shuffle volume is O(occupied cells × ring)."""
    from .cells import hex_k_ring_offsets, _HEX_BITS, _HEX_MASK, _HEX_OFF, _RES_SHIFT

    binned = (
        with_hex_cell(points, res, grid)
        .groupBy("hex_cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    offs = hex_k_ring_offsets(k)
    # unpack axial (q, r), shift by each ring offset in JVM bit math,
    # repack — no Python in the spread stage
    q = F.shiftrightunsigned(F.col("hex_cell"), _HEX_BITS).bitwiseAND(F.lit(_HEX_MASK))
    r = F.col("hex_cell").bitwiseAND(F.lit(_HEX_MASK))
    res_bits = F.col("hex_cell").bitwiseAND(F.lit(((1 << 63) - 1) ^ ((1 << _RES_SHIFT) - 1)))
    shifted_rows = (
        binned.withColumn(
            "o",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(int(dq)).alias("dq"), F.lit(int(dr)).alias("dr"))
                        for dq, dr in offs
                    ]
                )
            ),
        )
        .select(
            res_bits.bitwiseOR(
                F.shiftleft(q + F.col("o.dq"), _HEX_BITS)
            ).bitwiseOR(r + F.col("o.dr")).alias("hex_cell"),
            F.col("cnt"),
        )
        .groupBy("hex_cell")
        .agg(F.sum("cnt").alias("nsum"))
    )
    return shifted_rows


# ---------------------------------------------------------------------------
# Exact polygon↔tile decomposition (J13 clip + the tiling layer's
# vector materialization)
# ---------------------------------------------------------------------------


def polygon_tile_clip(
    polygons: list[tuple[int, str, list[np.ndarray]]],
    tile_res: int,
    grid: GridConfig = DEFAULT_GRID,
) -> pd.DataFrame:
    """Cut every polygon into exact per-tile pieces (Clip_analysis per
    tile window).  Driver-side over the polygon set (small); the result
    is the broadcastable (sid, tile, rings, piece_area) table that lets
    per-tile consumers work with exact sub-geometries instead of cell
    approximations.  Σ piece_area == polygon area exactly (up to float
    associativity) — pinned by tests.
    """
    from .cells import encode_colrow
    from .geom import clip_polygon_rect, polygon_area, rings_bbox

    cs = grid.cell_size(tile_res)
    n = 1 << tile_res
    rows = []
    for sid, _name, rings in polygons:
        minx, miny, maxx, maxy = rings_bbox([np.asarray(r) for r in rings])
        t0x = max(0, int(np.floor((minx - grid.x0) / cs)))
        t1x = min(n - 1, int(np.floor((maxx - grid.x0) / cs)))
        t0y = max(0, int(np.floor((miny - grid.y0) / cs)))
        t1y = min(n - 1, int(np.floor((maxy - grid.y0) / cs)))
        for tx in range(t0x, t1x + 1):
            for ty in range(t0y, t1y + 1):
                wminx = grid.x0 + tx * cs
                wminy = grid.y0 + ty * cs
                clipped = clip_polygon_rect(rings, wminx, wminy, wminx + cs, wminy + cs)
                if not clipped:
                    continue
                # even-odd area: outer pieces positive, hole pieces
                # carry their own orientation after clipping
                area = polygon_area(clipped)
                rows.append(
                    {
                        "sid": sid,
                        "tile": int(encode_colrow([tx], [ty], tile_res)[0]),
                        "rings": [c.tolist() for c in clipped],
                        "piece_area": area,
                    }
                )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Distributed connected components over sparse cell sets
# ---------------------------------------------------------------------------


def dense_index_df(keys: DataFrame, key_col: str, out: str = "label") -> DataFrame:
    """Global 0-based dense index over a distinct-key DataFrame — equal
    output to ``dense_rank().over(Window.orderBy(key_col)) - 1`` but
    WITHOUT the single-partition WindowExec sort that a partition-less
    window forces (it serializes tens of millions of component/patch
    labels through one task at continent scale).

    Shape: range-partition the keys (globally ordered partitions), rank
    within each partition, then add each partition's global offset.  The
    offset map is one row per partition — a CONFIG constant, never
    data-scale — so the bounded driver collect matches the repo-wide
    bounded-collect contract (cf. edge_components_df's cap).

    The ranged frame is localCheckpoint-ed so the sampled range
    boundaries (and hence partition ids) are identical across the rank
    pass and the count pass."""
    spark = keys.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        keys.repartitionByRange(n, F.col(key_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_pid"]: r["n"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offs: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offs[pid] = acc
        acc += counts[pid]
    if not offs:
        return keys.withColumn(out, F.lit(None).cast("long")).limit(0)
    off_expr = F.create_map(
        *[x for pid, o in sorted(offs.items()) for x in (F.lit(pid), F.lit(o))]
    )[F.col("_pid")]
    local = ranged.withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy("_pid").orderBy(key_col)) - 1,
    )
    return local.withColumn(out, (F.col("_rn") + off_expr).cast("long")).drop(
        "_pid", "_rn"
    )


_CC_OFF = 1 << 30  # cell coords live in (-2^30, 2^30)

# Largest distinct input (cells or edge pairs) the component labelers
# fetch and label on the driver; larger inputs take the distributed plan.
DRIVER_LABEL_CAP = 65_536


def _cc_key_np(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """int64 cell key whose numeric order == lexicographic (gx, gy)."""
    return (gx.astype(np.int64) + _CC_OFF) * np.int64(1 << 31) + (
        gy.astype(np.int64) + _CC_OFF
    )


def cell_components_df(
    cells: DataFrame, super_size: int = 256, cap: int = DRIVER_LABEL_CAP
) -> DataFrame:
    """4-connected component labeling of a cell set.

    Input: (gx, gy) rows (duplicates tolerated).  Output: (gx, gy, comp)
    where ``comp`` is the rank of the component's lexicographically
    smallest (gx, gy) member — bit-identical to geom.cell_components'
    stable relabel, so driver-side call sites can switch over without
    changing any output.

    Two paths, with the same bound as edge_components_df's
    (``cap`` = DRIVER_LABEL_CAP distinct cells):

    - distinct cells ≤ ``cap``: one bounded Arrow collect
      (collect_bounded), labeled on the driver by geom.cell_components
      and returned as a ``LocalTableScan`` (ops.local_df), so no Python
      tasks run;
    - otherwise the super-cell plan of _super_cell_components, whose
      driver work is bounded by edge_components_df's cap over
      component-adjacency pairs.
    """
    distinct = _distinct_cells(cells)
    table = collect_bounded(distinct, cap)
    if table is not None:
        from . import geom

        xy = int64_columns(table)
        labels = geom.cell_components(xy[:, 0], xy[:, 1])
        rows = np.column_stack([xy, labels]).tolist()
        return local_df(cells.sparkSession, rows, "gx long, gy long, comp long")
    return _super_cell_components(distinct, super_size)


def _distinct_cells(cells: DataFrame) -> DataFrame:
    """The distinct (gx, gy) long pairs of a cell frame."""
    return cells.select(
        F.col("gx").cast("long").alias("gx"), F.col("gy").cast("long").alias("gy")
    ).distinct()


def _super_cell_components(distinct: DataFrame, super_size: int = 256) -> DataFrame:
    """cell_components_df's distributed path over distinct (gx, gy) rows.

    Super-cell plan (the 100 TB shape — replaces the reference's
    single-process dissolve and our round-1 ``toPandas()`` collects):
      1. local CC per ``super_size``² super-cell via applyInPandas —
         each group is bounded (≤ super_size² cells), work is
         parallel across super-cells;
      2. cross-border adjacency = two shifted equi-joins restricted to
         super-cell border cells (shuffle ∝ border cells, not cells);
      3. union-find over the *distinct component-adjacency pairs* on
         the driver — output-scale (components touching a border), not
         data-scale;
      4. global relabel = dense index over the distinct component keys
         via dense_index_df (two-stage rank — no single-partition sort).
    """
    S = int(super_size)
    c = (
        distinct.withColumn("sx", F.floor(F.col("gx") / F.lit(S)))
        .withColumn("sy", F.floor(F.col("gy") / F.lit(S)))
    )

    def local_cc(pdf: pd.DataFrame) -> pd.DataFrame:
        from . import geom

        gx = pdf["gx"].to_numpy(np.int64)
        gy = pdf["gy"].to_numpy(np.int64)
        labels = geom.cell_components(gx, gy)
        key = _cc_key_np(gx, gy)
        # provisional component key = min cell key within the local comp
        comp = pd.Series(key).groupby(labels).transform("min").to_numpy()
        return pd.DataFrame({"gx": gx, "gy": gy, "comp": comp})

    labeled = c.groupBy("sx", "sy").applyInPandas(local_cc, "gx long, gy long, comp long")
    labeled = labeled.persist()

    # 4-connectivity across super-cell borders: east (gx+1) and north
    # (gy+1) neighbor pairs where the neighbor falls in the next
    # super-cell.  pmod keeps the border test correct for negative
    # coordinates.
    base = labeled.select("gx", "gy", "comp")
    east = base.filter(F.pmod(F.col("gx"), F.lit(S)) == S - 1).select(
        (F.col("gx") + 1).alias("gx"), "gy", F.col("comp").alias("comp_a")
    )
    north = base.filter(F.pmod(F.col("gy"), F.lit(S)) == S - 1).select(
        "gx", (F.col("gy") + 1).alias("gy"), F.col("comp").alias("comp_a")
    )
    pairs = (
        east.join(base, ["gx", "gy"], "inner")
        .select("comp_a", F.col("comp").alias("comp_b"))
        .unionByName(
            north.join(base, ["gx", "gy"], "inner").select(
                "comp_a", F.col("comp").alias("comp_b")
            )
        )
        .filter(F.col("comp_a") != F.col("comp_b"))
        .distinct()
    )
    # union-by-min over provisional keys (root = global min cell key of
    # the merged component) — edge_components_df bounds driver work by a
    # constant cap and falls over to distributed min-label propagation
    # beyond it, so no unbounded collect remains here
    mapping = edge_components_df(
        pairs.select(F.col("comp_a").alias("src"), F.col("comp_b").alias("dst"))
    ).select(F.col("id").alias("comp"), F.col("comp").alias("root"))
    # no broadcast hint: mapping is usually tiny (AQE broadcasts it),
    # but a continent-scale border graph may not be
    merged = labeled.join(mapping, "comp", "left").select(
        "gx", "gy", F.coalesce("root", "comp").alias("comp")
    )

    # stable relabel (rank of min member) — distributed two-stage rank
    # over the components-sized distinct-key table (dense_index_df; no
    # single-partition window even at tens of millions of components)
    ranks = dense_index_df(merged.select("comp").distinct(), "comp", out="label")
    out = (
        merged.join(F.broadcast(ranks), "comp", "inner")
        .select("gx", "gy", "label")
        .withColumnRenamed("label", "comp")
    )
    # materialize, then drop the intermediate cache (ADVICE r2: repeated
    # pipeline calls accumulated `labeled` partitions on executors)
    out = out.localCheckpoint(eager=True)
    labeled.unpersist()
    return out


def with_geom_hash(
    df: DataFrame, rings_col: str = "rings", out: str = "geom_hash", quantum: float = 1e-6
) -> DataFrame:
    """Canonical geometry-identity hash per row (geom.canonical_ring_hash
    in an Arrow batch UDF): equal ring sets — regardless of vertex start,
    orientation, or sub-quantum float noise — get equal int64 hashes."""

    @F.pandas_udf(T.LongType())
    def h(rs: pd.Series) -> pd.Series:
        from . import geom

        return pd.Series(
            [geom.canonical_ring_hash(_np_rings(r), quantum) for r in rs],
            dtype=np.int64,
        )

    # provably-non-null wrapper (see with_geom_canon): without it the
    # isnotnull(geom_hash) join constraint duplicates the hash UDF as a
    # pushed-down pre-filter — the full-table hash pass would run TWICE
    return df.withColumn(out, F.coalesce(h(F.col(rings_col)), F.lit(0).cast("long")))


def with_geom_canon(
    df: DataFrame, rings_col: str = "rings", out: str = "canon", quantum: float = 1e-6
) -> DataFrame:
    """Canonical geometry bytes per row (geom.canonical_ring_bytes in an
    Arrow batch UDF) — the exact identity key whose XXH64 is
    :func:`with_geom_hash`'s column."""

    @F.pandas_udf(T.BinaryType())
    def c(rs: pd.Series) -> pd.Series:
        from . import geom

        return pd.Series(
            [geom.canonical_ring_bytes(_np_rings(r), quantum) for r in rs]
        )

    # coalesce with a non-null literal: the UDF never returns null, and
    # the provably-non-null wrapper stops Catalyst's inferred
    # isnotnull(canon) join constraint from being pushed BELOW the
    # candidate semi-join — which would re-evaluate the canon UDF over
    # the full table just to pre-filter nulls (observed in the r5 plan
    # audit: a duplicated full-table ArrowEvalPython under each side)
    return df.withColumn(
        out, F.coalesce(c(F.col(rings_col)), F.lit(b""))
    )


def identity_join(
    left: DataFrame, right: DataFrame, quantum: float = 1e-6, _hash_mod: int | None = None
) -> DataFrame:
    """J9 — ARE_IDENTICAL_TO spatial join (IB-Tool2.py:1730-31;
    Error_Classification.py:361-399): rows pair iff their geometries are
    identical as point sets (vertex rotation / winding / <quantum noise
    ignored).  Shape: per-row hash (Arrow batches, no pairwise work),
    then a plain equi-join on the 64-bit hash — the candidate join
    shuffles 16 bytes/row, never geometry — then an EXACT refine: the
    (small) candidate pair set re-attaches each side's canonical ring
    bytes by id and keeps pairs whose bytes are equal (a JVM-side binary
    comparison), so a 64-bit birthday collision (~1 expected per ~5×10⁹
    hashed geometries — real at the nominal 10¹²-row scale) cannot
    fabricate a pair; the reference's ARE_IDENTICAL_TO is exact.

    ``_hash_mod`` (tests only) degrades the hash to ``hash mod N`` to
    force candidate collisions through the refine.  Input: (id, rings)
    on both sides; output (lid, rid, geom_hash)."""
    l = with_geom_hash(left.select(F.col("id").alias("lid"), "rings"), quantum=quantum)
    r = with_geom_hash(right.select(F.col("id").alias("rid"), "rings"), quantum=quantum)
    if _hash_mod is not None:
        l = l.withColumn("geom_hash", F.pmod(F.col("geom_hash"), F.lit(int(_hash_mod))))
        r = r.withColumn("geom_hash", F.pmod(F.col("geom_hash"), F.lit(int(_hash_mod))))
    cand = l.select("lid", "geom_hash").join(
        r.select("rid", "geom_hash"), "geom_hash", "inner"
    )
    # cand feeds three consumers (two semi-joins + the final pair join);
    # a lazy localCheckpoint materializes the candidate id set once — 24
    # bytes/row at ~match scale — so the FULL-TABLE hash pass runs
    # exactly once per side instead of once per consumer subtree
    cand = cand.localCheckpoint(eager=False)
    # Canonical BYTES exist only for hash-matched ids: semi-join each side
    # down to the (collision-scale) candidate set first, so the binary canon
    # column is computed for and shuffled by ~|cand| rows, never the full
    # 10^12-row table.  The hash pass above stays full-table — it must.
    l_hit = left.select(F.col("id").alias("lid"), "rings").join(
        cand.select("lid"), "lid", "left_semi"
    )
    r_hit = right.select(F.col("id").alias("rid"), "rings").join(
        cand.select("rid"), "rid", "left_semi"
    )
    lc = with_geom_canon(l_hit, quantum=quantum).select(
        "lid", F.col("canon").alias("_lc")
    )
    rc = with_geom_canon(r_hit, quantum=quantum).select(
        "rid", F.col("canon").alias("_rc")
    )
    return (
        cand.join(lc, "lid", "inner")
        .join(rc, "rid", "inner")
        .filter(F.col("_lc") == F.col("_rc"))
        .select("lid", "rid", "geom_hash")
    )


def edge_components_df(
    edges: DataFrame, cap: int = DRIVER_LABEL_CAP, max_rounds: int = 64
) -> DataFrame:
    """Distributed connected components over an arbitrary (src, dst)
    edge list.  Returns (id, comp) with one row per distinct endpoint
    and ``comp`` = the smallest id in its component (the same
    union-by-min semantics every call site's driver union-find had).

    Two paths, so driver work is bounded by a CONSTANT, never by the
    data (``cap`` = DRIVER_LABEL_CAP, the bound cell_components_df
    shares):

    - distinct pairs ≤ ``cap``: one bounded Arrow collect
      (collect_bounded) + union-find on the driver, returned as a
      ``LocalTableScan`` (ops.local_df);
    - otherwise: min-label propagation with pointer doubling — each
      round every endpoint takes the min label over itself and its
      neighbors, then jumps to its label's label, so convergence is
      O(log n) rounds of two bounded shuffles (not the BFS-speed plain
      propagation that crawls along chains).  Rounds are
      ``localCheckpoint``-ed to keep the lineage flat.
    """
    spark = edges.sparkSession
    pairs = (
        edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    table = collect_bounded(pairs, cap)
    if table is not None:
        head = int64_columns(table)
        parent: dict[int, int] = {}

        def find(k: int) -> int:
            r = k
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(k, k) != k:
                parent[k], k = r, parent[k]
            return r

        for a, b in head.tolist():
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(i, find(i)) for i in np.unique(head).tolist()]
        return local_df(spark, out, "id long, comp long")

    und = pairs.select(F.col("src").alias("id"), F.col("dst").alias("nb")).unionByName(
        pairs.select(F.col("dst").alias("id"), F.col("src").alias("nb"))
    )
    und = und.localCheckpoint(eager=True)
    labels = und.select("id").distinct().select("id", F.col("id").alias("comp"))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        nbmin = (
            und.join(labels.select(F.col("id").alias("nb"), F.col("comp").alias("nbc")), "nb")
            .groupBy("id")
            .agg(F.min("nbc").alias("nbc"))
        )
        cand = labels.join(nbmin, "id", "left").select(
            "id", F.least("comp", F.coalesce("nbc", "comp")).alias("comp")
        )
        jump = cand.select(F.col("id").alias("comp"), F.col("comp").alias("jc"))
        new = cand.join(jump, "comp", "left").select(
            "id", F.coalesce("jc", "comp").alias("comp")
        )
        new = new.localCheckpoint(eager=True)
        changed = (
            new.join(labels.select("id", F.col("comp").alias("old")), "id")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels.unpersist()
        labels = new
        if changed == 0:
            break
    return labels


# ---------------------------------------------------------------------------
# Exact polygon overlay joins (J12 Intersect / J14+U4 Erase / U2 SymDiff)
# ---------------------------------------------------------------------------

_OVERLAY_RINGS = "array<array<array<double>>>"


def _with_bbox_cells(polys: DataFrame, cell: float, prefix: str) -> DataFrame:
    """Attach exploded coarse-cell keys covering each polygon's bbox —
    pure Column math (flatten + transform + sequence), no Python."""
    flat = F.flatten(F.col("rings"))
    xs = F.transform(flat, lambda p: F.element_at(p, 1))
    ys = F.transform(flat, lambda p: F.element_at(p, 2))
    out = (
        polys.withColumn("__minx", F.array_min(xs))
        .withColumn("__maxx", F.array_max(xs))
        .withColumn("__miny", F.array_min(ys))
        .withColumn("__maxy", F.array_max(ys))
        .withColumn(
            "gx",
            F.explode(
                F.sequence(
                    F.floor(F.col("__minx") / F.lit(cell)),
                    F.floor(F.col("__maxx") / F.lit(cell)),
                )
            ),
        )
        .withColumn(
            "gy",
            F.explode(
                F.sequence(
                    F.floor(F.col("__miny") / F.lit(cell)),
                    F.floor(F.col("__maxy") / F.lit(cell)),
                )
            ),
        )
        .drop("__minx", "__maxx", "__miny", "__maxy")
    )
    return out.select(
        F.col("id").alias(f"{prefix}id"), F.col("rings").alias(f"{prefix}rings"), "gx", "gy"
    )


def _overlay_pairs(left: DataFrame, right: DataFrame, cell: float) -> DataFrame:
    """Candidate polygon pairs whose bbox cells overlap: (lid, l_rings,
    rid, r_rings), deduplicated.  The shuffle moves one row per
    (polygon, covered coarse cell) — candidate-then-refine, same shape
    as pip_join.

    The ring payloads are attached AFTER the (lid, rid) dedup by plain
    id joins: aggregating a deeply nested array column (first/collect)
    produces corrupt Arrow buffers that segfault the grouped-UDF
    deserializer in this Spark/pyarrow combination, and id joins also
    keep the pair shuffle narrow."""
    lc = _with_bbox_cells(left.select("id", "rings"), cell, "l").select("lid", "gx", "gy")
    rc = _with_bbox_cells(right.select("id", "rings"), cell, "r").select("rid", "gx", "gy")
    ids = lc.join(rc, ["gx", "gy"], "inner").select("lid", "rid").distinct()
    return (
        ids.join(left.select(F.col("id").alias("lid"), F.col("rings").alias("l_rings")), "lid")
        .join(right.select(F.col("id").alias("rid"), F.col("rings").alias("r_rings")), "rid")
    )


def _np_rings(obj) -> list:
    return [np.vstack([np.asarray(p, dtype=np.float64) for p in ring]) for ring in obj]


def overlay_intersect_join(left: DataFrame, right: DataFrame, cell: float = 256.0) -> DataFrame:
    """Exact geometric intersection join (Intersect_analysis,
    IB-Tool2.py:664, 2085, 2153): one row per intersecting (lid, rid)
    pair with the clipped even-odd rings and exact area.  Candidate
    pairs come from the coarse-cell bbox join; the Martinez–Rueda
    kernel refines each pair."""
    from . import boolean, geom

    pairs = _overlay_pairs(left, right, cell)

    def run(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                out = boolean.polygon_boolean(_np_rings(r.l_rings), _np_rings(r.r_rings), "and")
                if out:
                    a = geom.polygon_area(out)
                    if a > 0.0:
                        rows.append(
                            {
                                "lid": r.lid,
                                "rid": r.rid,
                                "rings": [x.tolist() for x in out],
                                "area": a,
                            }
                        )
            yield pd.DataFrame(rows, columns=["lid", "rid", "rings", "area"])

    return pairs.mapInPandas(
        run, f"lid long, rid long, rings {_OVERLAY_RINGS}, area double"
    )


def overlay_erase(left: DataFrame, right: DataFrame, cell: float = 256.0) -> DataFrame:
    """Exact geometric erase (Erase_analysis, IB-Tool2.py:1873-74):
    each left polygon minus ALL overlapping right polygons (folded
    difference, deterministic rid order).  Left polygons with no
    candidate pair pass through unchanged.  Output: (lid, rings, area);
    fully-erased polygons emit area=0 with empty rings."""
    from . import boolean, geom

    pairs = _overlay_pairs(left, right, cell)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        lid = int(pdf["lid"].iloc[0])
        subject = _np_rings(pdf["l_rings"].iloc[0])
        clips = sorted(
            ((int(r.rid), _np_rings(r.r_rings)) for r in pdf.itertuples()),
            key=lambda t: t[0],
        )
        out = subject
        for _rid, clip in clips:
            if not out:
                break
            out = boolean.polygon_boolean(out, clip, "not")
        area = geom.polygon_area(out) if out else 0.0
        return pd.DataFrame(
            {"lid": [lid], "rings": [[x.tolist() for x in out]], "area": [area]}
        )

    erased = pairs.groupBy("lid").applyInPandas(
        run, f"lid long, rings {_OVERLAY_RINGS}, area double"
    )

    # left features with no candidate pair pass through with their area
    def passthrough(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples():
                rr = _np_rings(r.rings)
                rows.append(
                    {
                        "lid": int(r.id),
                        "rings": [x.tolist() for x in rr],
                        "area": geom.polygon_area(rr),
                    }
                )
            yield pd.DataFrame(rows, columns=["lid", "rings", "area"])

    untouched = (
        left.join(pairs.select("lid").distinct(), left["id"] == F.col("lid"), "left_anti")
        .select("id", "rings")
        .mapInPandas(passthrough, f"lid long, rings {_OVERLAY_RINGS}, area double")
    )
    return erased.unionByName(untouched)


def overlay_symdiff(left: DataFrame, right: DataFrame, cell: float = 256.0) -> DataFrame:
    """Exact symmetric difference between two polygon layers
    (SymDiff_analysis, IB-Tool2.py:1844, 2156;
    Error_Classification.py:258): (left erase right) ⊎ (right erase
    left), each surviving feature tagged by side.  Output: (side, fid,
    rings, area) with area > 0 rows only."""
    a = overlay_erase(left, right, cell).withColumn("side", F.lit("LEFT"))
    b = overlay_erase(right, left, cell).withColumn("side", F.lit("RIGHT"))
    return (
        a.unionByName(b)
        .filter(F.col("area") > 0.0)
        .select("side", F.col("lid").alias("fid"), "rings", "area")
    )
