"""Benchmark entry point; run from the root of a checkout.

    python3 perfbench/run.py --workload geo_points --seed 1 --seconds 10 --trace 0

1. Checks that the program (``ib_tool_spark/``) is in the current
   directory; exits 2 without a result when it is not.
2. Materialises the seeded input once per (workload, seed, size) under
   ``.perfbench/data`` with perfbench/gen.py, in its own process, so
   input generation is never part of the timed process.
3. Starts the timed process (perfbench/measure.py), samples the resident
   memory of its process tree (driver Python, driver JVM, Python
   workers), and waits for it.  This process is the subreaper of the
   run: whatever the timed process leaves behind is re-parented here,
   and every descendant is stopped and reaped before the result is
   printed, and on every other way out.
4. Prints one information line, then the result as the last line:
   {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
STATE = ".perfbench"
TIMEOUT_S = 150.0
PR_SET_CHILD_SUBREAPER = 36


def declared_metrics(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, state, resident bytes) for every process."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            table[int(d)] = (int(fields[1]), fields[0], int(fields[21]) * page)
    return table


def process_tree(root_pid: int) -> tuple[int, set[int]]:
    """(resident bytes, pids) of a process and all its descendants."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _state, _rss) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, pids, todo = 0, set(), [root_pid]
    while todo:
        pid = todo.pop()
        if pid in table:
            total += table[pid][2]
            pids.add(pid)
            todo.extend(children.get(pid, []))
    return total, pids


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants.  Spark's
    JVM outlives the timed process by its shutdown hooks, and the JVM's
    Python daemon and workers outlive the JVM; without this they would be
    re-parented to init, out of reach of stop_all."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace_s: float = 20.0, limit_s: float = 15.0) -> bool:
    """Stop every descendant of this process and wait until each has
    ended and been reaped.  Descendants first get ``grace_s`` to end by
    themselves (the JVM exits when its driver's pipe closes, the Python
    daemon when the JVM's does), then they are killed.  Returns whether
    none is left."""
    me = os.getpid()
    killed_at = None
    end = time.time() + grace_s
    while True:
        _reap()
        pids = process_tree(me)[1] - {me}
        if not pids:
            return True
        now = time.time()
        if killed_at is None and now >= end:
            killed_at = now
        if killed_at is not None:
            if now - killed_at > limit_s:
                return False
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def ensure_input(kind: str, seed: int, n: int) -> tuple[str, float]:
    """Absolute path of a seeded input, generated on first use, and its
    generation time (recorded, never gated on)."""
    path = os.path.abspath(os.path.join(STATE, "data", f"{kind}-seed{seed}-n{n}"))
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--kind", kind,
             "--seed", str(seed), "--n", str(n), "--out", path],
            check=True, timeout=TIMEOUT_S,
        )
    with open(os.path.join(path, "_gen.json")) as f:
        return path, json.load(f)["gen_s"]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isfile(os.path.join("ib_tool_spark", "__init__.py")):
        print("perfbench: no ib_tool_spark/ in the current directory; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import gen

    if a.workload not in gen.INPUTS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    become_subreaper()
    try:
        return run(a, gen)
    finally:
        stop_all(grace_s=0.0)


def run(a, gen) -> int:
    inputs = dict(gen.INPUTS[a.workload], **(gen.TRACE_INPUTS[a.workload] if a.trace else {}))
    data, gen_s = {}, {}
    for kind, n in inputs.items():
        data[kind], gen_s[kind] = ensure_input(kind, a.seed, n)

    work = os.path.abspath(os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"))
    os.makedirs(env["TMPDIR"])
    cmd = [sys.executable, os.path.join(HERE, "measure.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", out, "--data", json.dumps(data)]
    t0 = time.time()
    proc = subprocess.Popen(cmd + ["--t0", repr(t0)], env=env, stdout=sys.stderr)
    peak = [0]
    done = threading.Event()

    def sample():
        # every descendant: the timed process, and whatever it left
        # behind that was re-parented here
        me = os.getpid()
        while not done.wait(1.0):
            own = _proc_table().get(me, (0, "", 0))[2]
            peak[0] = max(peak[0], process_tree(me)[0] - own)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    grace_s = 20.0
    try:
        proc.wait(timeout=TIMEOUT_S - (time.time() - t0))
    except subprocess.TimeoutExpired:
        print("perfbench: timed process exceeded its time limit", file=sys.stderr)
        proc.kill()
        proc.wait()
        grace_s = 0.0
    finally:
        done.set()
        sampler.join()
    if not stop_all(grace_s):
        print("perfbench: a process of the run could not be stopped", file=sys.stderr)
        return 1
    if not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(out) as f:
        res = json.load(f)
    spans = os.path.join(work, "spans.json")
    if os.path.exists(spans):
        os.makedirs(os.path.join(STATE, "spans"), exist_ok=True)
        shutil.copy(spans, os.path.join(STATE, "spans", f"{a.workload}-seed{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    declared = declared_metrics(a.trace)
    info = dict(res["info"], workload=a.workload, seed=a.seed, gen_s=gen_s,
                peak_rss_mb=peak[0] / 2**20, errors=res["errors"],
                unmeasured=sorted(set(declared) - set(res["metrics"])))
    print(json.dumps({"info": info}))
    # a metric the workload does not measure reads 0
    metrics = {k: {"value": res["metrics"].get(k, 0), "unit": u} for k, u in declared.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
