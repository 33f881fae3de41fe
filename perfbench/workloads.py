"""The workloads.  Each calls only the public API of ib_tool_spark.

A workload object is built once per process and then executed many
times.  ``execute`` runs one workload execution and returns its digest;
every output column goes into ``count`` plus ``bit_xor(xxhash64(...))``,
an order-independent digest that cannot overflow (a bare count lets
Catalyst prune columns, and a sum of 64-bit hashes overflows under ANSI
mode).  ``check`` returns mismatch messages against the numpy mirrors
and runs outside the timed region; ``layers`` runs the traced
per-layer probes.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ib_tool_spark import checkpoint, delineate, ops, pipeline, synth

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def digest_cols(df, prefix: str = "") -> list:
    return [
        F.count(F.lit(1)).alias(f"{prefix}n"),
        F.coalesce(F.bit_xor(F.xxhash64(*df.columns)), F.lit(0)).alias(f"{prefix}h"),
    ]


def digest(df) -> tuple:
    """(rows, xor of row hashes) over every column.  A new DataFrame per
    call, so no materialised adaptive stage of an earlier run is reused."""
    return tuple(df.select(*digest_cols(df)).collect()[0])


def hash_sample(df, m: int):
    return df.filter(F.xxhash64(F.col("image_id")) % F.lit(m) == 0)


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


class Workload:
    name = ""
    n = 0  # input rows, 0 when the input is fixed inside the program
    warmup = 0  # untimed executions before the first timed one

    def __init__(self, spark, data: dict[str, str], work: str, seed: int, tracer):
        self.spark = spark
        self.data = data
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.errors: list[str] = []  # failed checks found while tracing

    def build(self) -> None:
        """Open the inputs and build the plans (part of set-up)."""

    def execute(self) -> tuple:
        raise NotImplementedError

    def check(self, first_digest: tuple) -> list[str]:
        return []

    def layers(self) -> dict[str, float]:
        return {}


class GeoPoints(Workload):
    """JVM/codegen path: flagship PIP join + tiling, knn against the 48
    scene centres and the density grid over the same geocoded points."""

    name = "geo_points"
    n = gen.INPUTS["geo_points"]["ids"]
    warmup = 4
    knn_cutoff = 3000.0
    density_cell = 150.0
    density_radius = 300.0
    sample_m = 125  # about 2,000 sampled ids
    density_m = 97

    def build(self):
        spark = self.spark
        scene = synth.default_scene()
        self.images = spark.read.parquet(self.data["ids"])
        self.flag, self.flag_build_s = timed(
            lambda: pipeline.flagship(spark, images=self.images, scene=scene)
        )
        self.points = ops.with_cell(ops.with_geocode(self.images.select("image_id"), scene), checks.CELL_RES)
        self.centers = pd.DataFrame(
            {"center_id": np.arange(len(scene.cx), dtype=np.int64), "cx": scene.cx, "cy": scene.cy}
        )
        self.knn, self.knn_build_s = timed(
            lambda: ops.knn_assign(self.points, self.centers, self.knn_cutoff)
        )
        self.dens = ops.density_grid(self.points, self.density_cell, self.density_radius)

    def execute(self):
        f, k, d = self.flag, self.knn, self.dens
        one = (
            f.select(*digest_cols(f, "f"))
            .crossJoin(k.select(*digest_cols(k, "k")))
            .crossJoin(d.select(*digest_cols(d, "d")))
        )
        return tuple(one.collect()[0])

    def check(self, first_digest):
        ids = np.asarray(gen.image_ids(self.seed, self.n))
        sample = ids[checks.sampled(ids, self.sample_m)]
        errs = checks.compare_rows(
            "flagship",
            hash_sample(self.flag, self.sample_m).collect(),
            checks.expected_flagship(sample),
        )
        knn_cols = ["image_id", "x", "y", "cell", "nearest_id", "nearest_dist"]
        errs += checks.compare_rows(
            "knn_assign",
            hash_sample(self.knn, self.sample_m).select(*knn_cols).collect(),
            checks.expected_knn(sample, self.centers, self.knn_cutoff),
        )
        got = self.dens.filter(
            F.pmod(F.col("gx") * 31 + F.col("gy"), F.lit(self.density_m)) == 0
        ).select("gx", "gy", "nsum", "density").collect()
        area = float(np.pi) * self.density_radius * self.density_radius
        errs += [f"density_grid: density != nsum / area at {r[:2]}" for r in got if r[3] != r[2] / area][:5]
        errs += checks.compare_density(
            got,
            checks.expected_density(ids, self.density_cell, self.density_radius),
            self.density_m,
            first_digest[4],
        )
        return errs

    def layers(self):
        from ib_tool_spark import geom

        tr = self.tracer
        out = {
            "pipeline.flagship.build_s": self.flag_build_s,
            "ops.knn_assign.build_s": self.knn_build_s,
        }
        scene = synth.default_scene()
        with tr.span("geom.cover_cells_with_edges"):
            for _sid, _name, rings in scene.polygons:
                geom.cover_cells_with_edges(rings, checks.CELL_RES)
        out["geom.cover_cells_with_edges.ms"] = 1e3 * tr.duration("geom.cover_cells_with_edges")
        geocoded = ops.with_geocode(self.images.select("image_id"), scene)
        probes = {
            "ops.with_geocode": geocoded,
            "ops.pip_join": ops.pip_join(ops.with_cell(geocoded, checks.CELL_RES), scene.polygons, checks.CELL_RES),
            "pipeline.flagship": self.flag,
            "ops.knn_assign": self.knn,
            "ops.density_grid": self.dens,
        }
        rows = {}
        for name, df in probes.items():
            with tr.span(name):
                rows[name] = digest(df)[0]
            out[f"{name}.s"] = tr.duration(name)
        out["ops.pip_join.rows"] = rows["ops.pip_join"]
        out["ops.knn_assign.rows"] = rows["ops.knn_assign"]
        out["ops.density_grid.cells"] = rows["ops.density_grid"]
        vt = ValidateTile(self.spark, self.data, self.work, self.seed, tr)
        out.update(vt.layers())
        self.errors += vt.errors
        return out


class ValidateTile(Workload):
    """Layer probes for the production job shape of
    ``jobs/run_flagship.py --validate``: decode + validate + PIP + tile,
    staged durably partitioned by tile, then read back.  Not an
    end-to-end workload (see README.md); its layers are measured in the
    traced geo_points run, on its own seeded image table."""

    n = gen.TRACE_INPUTS["geo_points"]["images"]
    stage_name = "validated_tiles"

    def _stage(self, root: str, compute):
        ck = checkpoint.StageCheckpoint(self.spark, root)
        df = ck.stage(self.stage_name, self.fingerprint, compute, partition_by=["tile"])
        return ck, df

    def layers(self):
        spark, tr, path = self.spark, self.tracer, self.data["images"]
        self.fingerprint = f"perfbench:validate_tile:seed={self.seed}:n={self.n}"

        def compute():
            return pipeline.flagship_validated(spark, direct_path=path)

        roots = [os.path.join(self.work, "checkpoints", f"e{k}") for k in range(2)]
        digest(self._stage(roots[0], compute)[1])  # warm-up: first decode pays worker start
        with tr.span("checkpoint.stage"):
            _ck, df = self._stage(roots[1], compute)
        first = digest(df)
        with open(os.path.join(roots[1], f"{self.stage_name}.{checkpoint.MANIFEST}")) as f:
            m = json.load(f)
        out = {
            "checkpoint.stage.s": tr.duration("checkpoint.stage"),
            "checkpoint.stage.files": m["n_files"],
            "checkpoint.stage.bytes": m["bytes_total"],
        }
        v = ops.decode_validate_direct(spark, path)
        all_ok = F.col("pixels_ok") & F.col("caption_ok") & F.col("phash_ok")
        with tr.span("ops.decode_validate_direct"):
            row = v.select(*digest_cols(v), F.count_if(all_ok).alias("ok")).collect()[0]
        out["ops.decode_validate_direct.s"] = tr.duration("ops.decode_validate_direct")
        out["ops.decode_validate_direct.rows_ok"] = row["ok"]

        def must_not_run():
            raise RuntimeError("stage recomputed although its fingerprint matched")

        ck, df = self._stage(roots[1], must_not_run)
        if ck.events[-1]["action"] != "resume" or digest(df) != first:
            self.errors.append("checkpoint: second stage() did not resume with the same digest")
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)
        return out


class Delineate(Workload):
    """``delineate.full_delineation``: tiny data, ~90 jobs per execution,
    so per-job, per-task and grouped-UDF fixed costs dominate.  The scene
    is fixed inside the program; the seed does not change this input."""

    name = "delineate"
    per_cluster = 30
    cell_size = 16.0
    expected_path = os.path.join(HERE, "expected_delineate.json")

    def execute(self):
        return digest(delineate.full_delineation(self.spark, per_cluster=self.per_cluster))

    def check(self, first_digest):
        with open(self.expected_path) as f:
            want = tuple(json.load(f)["digest"])
        if tuple(first_digest) != want:
            return [f"delineate: digest {list(first_digest)} != stored {list(want)}"]
        return []

    def layers(self):
        """Each stage of the chain forced and checkpointed on its own,
        with the same arguments ``full_delineation`` passes.  Forcing
        changes the plan, so the stage times need not add up to job_s;
        ``delineate.rest.s`` is the traced execution minus their sum."""
        from ib_tool_spark.config import filter_predicate

        spark, tr, cs = self.spark, self.tracer, self.cell_size

        def force(name, fn):
            with tr.span(name):
                return fn().localCheckpoint(eager=True)

        b = synth.buildings_df(spark, per_cluster=self.per_cluster)
        b = b.filter(filter_predicate(F.col("fkt"), list(synth.POS_FKT)) & (F.col("area") >= 35.0))
        cent = b.select("bid", F.col("cx").alias("x"), F.col("cy").alias("y"))
        with tr.span("staged"):
            parts = force(
                "delineate.density_partitions_df",
                lambda: delineate.density_partitions_df(
                    cent.withColumn("image_id", F.col("bid").cast("string")), 150.0, 300.0, 1e-5
                ),
            )
            bp = force(
                "delineate.assign_partitions_df",
                lambda: delineate.assign_partitions_df(
                    b.withColumn("x", F.col("cx")).withColumn("y", F.col("cy")), parts, 150.0
                ).filter(F.col("part_name").isNotNull()).withColumnRenamed("part_name", "part"),
            )
            roads = synth.roads_df(spark).select("rid", "line")
            clustered = force(
                "delineate.mst_cluster",
                lambda: delineate.mst_cluster(bp, coverage_thresh=12.0, roads=roads),
            )
            singles = (
                b.join(clustered.select("bid"), "bid", "left_anti")
                .filter(F.col("area") > 300.0)
                .select("bid", F.col("bid").alias("cluster_id"))
            )
            with tr.span("delineate.cluster_cells"):
                cells_main = delineate.cluster_cells(
                    b.join(clustered.select("bid", "cluster_id"), "bid"), 25.0, cs
                ).localCheckpoint(eager=True)
                cells_single = delineate.cluster_cells(
                    b.join(singles, "bid"), 25.0, cs
                ).localCheckpoint(eager=True)
            kept = force(
                "delineate.patch_remove",
                lambda: delineate.patch_remove(cells_main, b, cs, min_bdg_count=5, min_patch_cells=4),
            )
            force("delineate.gap_fix", lambda: delineate.gap_fix(kept.unionByName(cells_single)))
        stages = [
            "density_partitions_df", "assign_partitions_df", "mst_cluster",
            "cluster_cells", "patch_remove", "gap_fix",
        ]
        out = {f"delineate.{s}.s": tr.duration(f"delineate.{s}") for s in stages}
        out["delineate.rest.s"] = tr.duration("execution") - sum(out.values())
        return out


WORKLOADS = {w.name: w for w in (GeoPoints, Delineate)}
