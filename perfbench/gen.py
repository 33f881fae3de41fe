"""Seeded input generator for the benchmark (runs outside the timed process).

    python3 perfbench/gen.py --kind ids --seed 7 --n 250000 --out DIR

The seed selects the image-id offset: ids are ``img_{offset + i:012d}``
for ``i < n`` with ``offset = (seed % 1000) * 10**9``, and every row is
the pure function ``synth.make_row`` of its index, so a (seed, n) pair
always yields the same table.  The layout is the one
``synth.ensure_images_table`` writes: one ``pcell=<v>`` directory per
resolution-3 parent of the resolution-10 cell, one parquet file per
pcell, row groups of at most 8 MB.  ``ids`` is the id-only table (the
flagship scan reads nothing else); ``images`` is the full payload
table that decode-validate reads.  ``pcell`` comes from the numpy mirrors of the
Spark geocode/cell expressions, which the repository's tests pin as
bit-identical.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import sys
import time

ROW_GROUP_BYTES = 8 * 1024 * 1024
ID_OFFSET_STRIDE = 10**9

# generated inputs per workload, {kind: rows}; a traced geo_points run
# also reads the image table its validate_tile layer probes decode
INPUTS = {"geo_points": {"ids": 250_000}, "delineate": {}}
TRACE_INPUTS = {"geo_points": {"images": 4_000}, "delineate": {}}


def id_offset(seed: int) -> int:
    return (seed % 1000) * ID_OFFSET_STRIDE


def image_ids(seed: int, n: int) -> list[str]:
    off = id_offset(seed)
    return [f"img_{off + i:012d}" for i in range(n)]


def _rows(bounds: tuple[int, int]) -> list[dict]:
    from ib_tool_spark import synth

    return [synth.make_row(i) for i in range(*bounds)]


def _payload_rows(seed: int, n: int) -> list[dict]:
    off = id_offset(seed)
    procs = len(os.sched_getaffinity(0))
    step = max(1, -(-n // (procs * 8)))
    chunks = [(off + a, off + min(n, a + step)) for a in range(0, n, step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        return [r for part in pool.map(_rows, chunks) for r in part]


def _pcells(ids: list[str]):
    import numpy as np

    from ib_tool_spark import cells, synth

    x, y = synth.geocode_np(np.asarray(ids))
    return cells.parent(cells.encode(x, y, 10), 3)


def write_table(table, pcell, out: str) -> None:
    """One file per pcell under ``out/pcell=<v>/``, row groups ≤ 8 MB."""
    import numpy as np
    import pyarrow.parquet as pq

    row_bytes = max(1, table.nbytes // max(1, table.num_rows))
    rg_rows = max(1, ROW_GROUP_BYTES // row_bytes)
    for v in np.unique(pcell):
        d = os.path.join(out, f"pcell={int(v)}")
        os.makedirs(d)
        idx = np.flatnonzero(pcell == v)
        pq.write_table(
            table.take(idx), os.path.join(d, "part-00000.snappy.parquet"),
            row_group_size=rg_rows, compression="snappy",
        )


def generate(kind: str, seed: int, n: int, out: str) -> None:
    import pyarrow as pa

    if kind == "ids":
        ids = image_ids(seed, n)
        table = pa.table({"image_id": pa.array(ids, pa.string())})
    else:
        rows = _payload_rows(seed, n)
        ids = [r["image_id"] for r in rows]
        schema = pa.schema(
            [("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
             ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
             ("phash", pa.int64())]
        )
        table = pa.Table.from_pylist(rows, schema)
    write_table(table, _pcells(ids), out)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--kind", choices=("ids", "images"), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--n", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    sys.path.insert(0, os.getcwd())
    # build under a temporary name; _SUCCESS and the rename come last, so
    # a table that exists is complete
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    generate(a.kind, a.seed, a.n, tmp)
    with open(os.path.join(tmp, "_gen.json"), "w") as f:
        json.dump({"gen_s": time.perf_counter() - t0, "n": a.n, "seed": a.seed}, f)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(a.out, ignore_errors=True)
    os.replace(tmp, a.out)


if __name__ == "__main__":
    main()
