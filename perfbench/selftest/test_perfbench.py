"""Self-test of the benchmark's own checks (no Spark session needed).

    python3 -m pytest -q perfbench/selftest

Shows that a deliberately corrupted copy of an output fails its
correctness check, that every metric name is well formed, that span
self times are non-negative, and that the entry point refuses to run
without the program.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import checks  # noqa: E402
import gen  # noqa: E402
from tracing import Tracer  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def sample():
    ids = np.asarray(gen.image_ids(5, 4000))
    return ids, ids[checks.sampled(ids, 8)]


def test_sample_is_the_hash_subset(sample):
    ids, s = sample
    assert 0 < len(s) < len(ids)
    # the mirror of Spark's signed xxhash64 % m == 0: a multiple of m
    # as a signed value is not one as an unsigned value in general
    h = np.array([int(v) for v in checks.codecs.xxh64_strings(s).astype(np.uint64)], dtype=object)
    signed = [v - (1 << 64) if v >= (1 << 63) else v for v in h]
    assert all(v % 8 == 0 for v in signed)


def test_flipped_sid_fails_flagship_check(sample):
    _ids, s = sample
    want = checks.expected_flagship(s)
    got = sorted(want)
    assert checks.compare_rows("flagship", got, want) == []
    r = got[0]
    got[0] = r[:5] + ((r[5] + 1) % 48,) + r[6:]
    assert checks.compare_rows("flagship", got, want)


def test_duplicate_row_fails_check(sample):
    _ids, s = sample
    want = checks.expected_flagship(s)
    got = sorted(want)
    assert checks.compare_rows("flagship", got + got[:1], want)


def test_wrong_nearest_centre_fails_knn_check(sample):
    import pandas as pd

    from ib_tool_spark import synth

    _ids, s = sample
    scene = synth.default_scene()
    centers = pd.DataFrame({"center_id": np.arange(len(scene.cx)), "cx": scene.cx, "cy": scene.cy})
    want = checks.expected_knn(s, centers, 3000.0)
    got = sorted(want)
    assert checks.compare_rows("knn_assign", got, want) == []
    r = got[-1]
    got[-1] = r[:4] + (r[4] + 1, r[5])
    assert checks.compare_rows("knn_assign", got, want)


def test_changed_cell_count_fails_density_check(sample):
    ids, _s = sample
    want = checks.expected_density(ids, 150.0, 300.0)
    keys = np.array(list(want), dtype=np.int64)
    mask = checks.density_sampled(keys[:, 0], keys[:, 1], 7)
    got = [(int(gx), int(gy), want[(int(gx), int(gy))]) for gx, gy in keys[mask]]
    assert checks.compare_density(got, want, 7, len(want)) == []
    assert checks.compare_density(got, want, 7, len(want) + 1)
    bad = [got[0][:2] + (got[0][2] + 1,)] + got[1:]
    assert checks.compare_density(bad, want, 7, len(want))


def test_wrong_digest_fails_delineate_check():
    from workloads import Delineate

    d = Delineate(None, {}, "", 0, Tracer())
    with open(Delineate.expected_path) as f:
        good = tuple(json.load(f)["digest"])
    assert d.check(good) == []
    assert d.check((good[0], good[1] ^ 1))


def test_span_self_times_are_non_negative():
    tr = Tracer()
    with tr.span("execution"):
        with tr.span("a"):
            with tr.span("a.1"):
                pass
        with tr.span("b"):
            pass
    selfs = tr.self_times()
    assert len(selfs) == 4 and min(selfs.values()) >= 0
    assert [r["parent"] for r in tr.spans] == [None, 0, 1, 0]


def test_metric_names_and_units_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "geo_points", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_stop_all_reaps_orphaned_descendants():
    # a grandchild whose parent exits is re-parented to the subreaper,
    # the way the JVM's Python daemon is when the JVM ends first
    script = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
import run
run.become_subreaper()
pid = int(subprocess.run(["sh", "-c", "sleep 300 >/dev/null 2>&1 & echo $!"],
                         capture_output=True, text=True).stdout)
assert pid in run.process_tree(os.getpid())[1]
assert run.stop_all(grace_s=0.5)
assert pid not in run._proc_table()
print(pid)
"""
    p = subprocess.run([sys.executable, "-c", script, BENCH],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    assert not os.path.exists(f"/proc/{int(p.stdout)}")
