"""The timed process: one per run, started by run.py.

    python3 perfbench/measure.py --workload W --seed S --seconds T \
        --trace 0|1 --data JSON --work DIR --t0 EPOCH --out FILE

Untraced (``--trace 0``): set up (session start, opening the inputs,
building the plans, the workload's fixed warm-up executions), then time
executions until ``--seconds`` have passed.  ``setup_s`` runs from
``--t0`` (taken by run.py just before it started this process) to the
first timed execution; ``job_s`` is the median execution.  The
correctness checks run after the timed region.

Traced (``--trace 1``): the same set-up with the Spark event log on,
then traced executions under job groups (alternating with untraced ones
where ``trace.overhead_pct`` is measured), the per-layer probes, and the
event-log reduction after the session stops.  Spans go
to ``spans.json`` in the work directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

# untraced/traced execution pairs in a traced run, after the workload's
# warm-up.  delineate runs no warm-up and no pair: its one traced
# execution is the first in the session, as its untraced job_s is, and a
# warm execution (25-30 s) would not fit the time budget of the runs.
# spark.jobs, stages, tasks and the event-log sums describe the last
# traced execution.
TRACED_PAIRS = {"geo_points": 3, "delineate": 0}


def session(work: str, trace: bool):
    from ib_tool_spark import pipeline

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    extra = {
        "spark.driver.memory": "3g",
        "spark.local.dir": local,
        # keep the JVM's temporary files and perf counters out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:+PerfDisableSharedMem",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    cores = len(os.sched_getaffinity(0))
    return pipeline.get_spark(app="perfbench", cores=cores, extra=extra)


def stop_jvm(timeout_s: float = 20.0) -> None:
    """End the session's JVM and wait for it.  ``spark.stop()`` leaves the
    gateway JVM running until its stdin closes; closing it here makes the
    JVM exit (and with it the Python daemon and workers) before this
    process does."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def median_time(fn, repeats: int) -> float:
    ts = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def driver_probes(spark, seed: int) -> dict[str, float]:
    """In-driver per-item timings on fixed inputs: the first 240 images
    of this seed's id range, and the building centroids of the fixed
    delineation scene; plus a no-op mapInPandas with one task per core."""
    import numpy as np

    from ib_tool_spark import codecs, geom, synth

    import gen

    off = gen.id_offset(seed)
    rows = [synth.make_row(off + i) for i in range(240)]
    out = {}
    for fmt in synth.FORMATS:
        sel = [r["bytes"] for r in rows if r["fmt"] == fmt]
        t = median_time(lambda: [codecs.decode(b, fmt) for b in sel], 3)
        out[f"codecs.decode.{fmt}_us"] = 1e6 * t / len(sel)
    groups: dict = {}
    for r in rows:
        img = codecs.decode(r["bytes"], r["fmt"])
        groups.setdefault(img.shape[:2], []).append((r["image_id"], img))
    stacks = [
        (hw, np.stack([im.transpose(2, 0, 1) for _, im in g]), synth.id_hashes([i for i, _ in g], "#px"))
        for hw, g in groups.items()
    ]
    t = median_time(lambda: [codecs.phash_batch(s, channel_major=True) for _, s, _ in stacks], 3)
    out["codecs.phash_batch.us"] = 1e6 * t / len(rows)
    t = median_time(
        lambda: [synth.expected_pixels_batch_i16_cm(hp, h, w) for (h, w), _, hp in stacks], 3
    )
    out["synth.expected_pixels_batch_i16_cm.us"] = 1e6 * t / len(rows)

    b = synth.buildings_pdf(per_cluster=30)
    pts = b[["cx", "cy"]].to_numpy(np.float64)[:400]
    edges = geom.delaunay_edges(pts)
    out["geom.delaunay_edges.ms"] = 1e3 * median_time(lambda: geom.delaunay_edges(pts), 3)
    d = pts[edges[:, 0]] - pts[edges[:, 1]]
    wedges = np.column_stack([edges.astype(np.float64), np.hypot(d[:, 0], d[:, 1])])
    out["geom.kruskal_mst.ms"] = 1e3 * median_time(lambda: geom.kruskal_mst(len(pts), wedges), 3)

    n = spark.sparkContext.defaultParallelism
    noop = lambda: spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").collect()
    noop()
    out["spark.python_noop.s"] = median_time(noop, 3)
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", required=True, help="JSON {input kind: path}")
    p.add_argument("--work", required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)

    from tracing import Tracer, group_counts, job_group, reduce_event_log
    from workloads import WORKLOADS

    trace = bool(a.trace)
    tracer = Tracer()  # spans are only opened in traced runs
    spark = session(a.work, trace)
    info_session_s = time.time() - a.t0
    wl = WORKLOADS[a.workload](spark, json.loads(a.data), a.work, a.seed, tracer)
    digests: list = []
    attempted = failed = 0
    info: dict = {"n_input": wl.n}

    def run_one():
        nonlocal attempted, failed
        attempted += 1
        t = time.perf_counter()
        try:
            d = wl.execute()
        except Exception:
            traceback.print_exc()
            failed += 1
            raise
        dt = time.perf_counter() - t
        if digests and d != digests[0]:
            failed += 1
        digests.append(d)
        return dt

    metrics: dict = {}
    errors: list[str] = []
    try:
        wl.build()
        info.update(session_s=info_session_s, build_done_s=time.time() - a.t0)
        info["warmup_times"] = [run_one() for _ in range(wl.warmup)]
        setup_s = time.time() - a.t0
        if not trace:
            times = []
            ticks = cpu_ticks()
            start = time.perf_counter()
            while not times or time.perf_counter() - start < a.seconds:
                times.append(run_one())
            steal, total = (y - x for x, y in zip(ticks, cpu_ticks()))
            # CPU time the hypervisor gave to other guests while timing
            info["steal_pct"] = 100.0 * steal / max(total, 1)
            metrics["job_s"] = statistics.median(times)
            metrics["setup_s"] = setup_s
            info.update(samples=len(times), times=times, warmup=wl.warmup)
        else:
            # alternate untraced and traced executions so that warm-up
            # drift does not bias the overhead
            pairs = TRACED_PAIRS[a.workload]
            base, traced = [], []
            for i in range(max(pairs, 1)):
                if pairs:
                    base.append(run_one())
                group = f"traced-{i}"
                with job_group(spark, group), tracer.span("execution"):
                    traced.append(run_one())
                metrics.update(group_counts(spark, group))
            if base:
                b = statistics.median(base)
                metrics["trace.overhead_pct"] = 100.0 * (statistics.median(traced) - b) / b
            with tracer.span("layers"):
                metrics.update(wl.layers())
            metrics.update(driver_probes(spark, a.seed))
        info["digest"] = list(digests[0])
        t = time.perf_counter()
        errors = wl.errors + wl.check(digests[0])
        info["check_s"] = time.perf_counter() - t
        if failed:
            errors.append(f"{failed} executions failed or changed digest")
    except Exception as e:  # report the failure; the result says correct=false
        traceback.print_exc()
        errors.append(f"{type(e).__name__}: {e}")
    finally:
        spark.stop()
        stop_jvm()
    if trace and not errors:
        metrics.update(reduce_event_log(os.path.join(a.work, "eventlog"), group))
        min_self = tracer.write(os.path.join(a.work, "spans.json"))
        if min_self < 0:
            errors.append(f"span with negative self time {min_self}")
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "metrics": metrics,
        "info": info,
    }
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
