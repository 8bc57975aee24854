"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload pkb_query --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload runs in a fresh child process
with a pinned session environment (Spark cores, driver heap, local dirs,
PYTHONPATH for executor Python workers); this process samples the memory of
the child's whole process tree (proportional set size, reported as
peak_rss_mb) and reads the JVM's collector log for the heap in use after
each collection (peak_heap_mb), enforces a time limit and prints one
detail line, then the
result line: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the per-layer
metrics of a traced run (``--trace 1``). Units come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pkb_query", "pkb_mixed", "catalog_batch")  # pkb_mixed: by hand only
TIME_LIMIT_S = 170.0
# reading the proportional set size walks every page table of the JVM:
# sampled much more often, it takes a noticeable share of a core
SAMPLE_EVERY_S = 0.5


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while scanning
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants: resident
    memory with each shared page divided among its sharers, so a child
    forked from the JVM is not counted twice."""
    tree, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        todo += tree.get(pid, [])
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass  # exited while scanning
    return total


# a G1 pause in the unified GC log: "... Pause Young (Normal) (...) 52M->9M(128M) 3.1ms"
GC_PAUSE = re.compile(r"Pause (?:Young|Full).* \d+M->(\d+)M\(\d+M\)")


def peak_heap_after_gc_mb(gc_log: str) -> float:
    """Largest heap in use after a young or full collection: the live data
    plus what the collector could not yet free, independent of how far the
    heap grew before it collected. 0 when no collection ran."""
    try:
        with open(gc_log) as f:
            return float(max((int(m.group(1)) for m in map(GC_PAUSE.search, f) if m), default=0))
    except OSError:
        return 0.0


def session_env(work_dir: str, gc_log: str) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) // (1024 * 1024)
    heap_gb = max(1, min(2, total_gb // 6))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # 1-2 GB (the stores here are megabytes), well below the machine's
        # memory; the session default (16g) can exceed it
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # no progress bars; keep every job's status for per-operation
        # counts; log collections; temporary files stay in the checkout
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
                               "--conf spark.ui.retainedJobs=100000 "
                               "--conf spark.ui.retainedStages=100000 "
                               f"--driver-java-options '-Xlog:gc:file={gc_log} "
                               f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}' "
                               "pyspark-shell",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "thymeflow_back_spark")):
        print(f"perfbench: no thymeflow_back_spark package under {ROOT}", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    out = os.path.join(work_dir, f"result-{os.getpid()}.json")
    gc_log = os.path.join(work_dir, f"gc-{os.getpid()}.log")
    env = session_env(work_dir, gc_log)
    cmd = [sys.executable, "-m", "perfbench.worker", args.workload, str(args.seed),
           str(args.seconds), str(args.trace), out, work_dir]
    # a SIGTERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    peak, deadline = 0, time.monotonic() + TIME_LIMIT_S
    try:
        while child.poll() is None:
            peak = max(peak, tree_pss_bytes(child.pid))
            if time.monotonic() > deadline:
                print(f"perfbench: {args.workload} exceeded {TIME_LIMIT_S:.0f} s", file=sys.stderr)
                break
            time.sleep(SAMPLE_EVERY_S)
    finally:
        # the worker's JVM and Python workers share its process group
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
    if child.returncode != 0 or not os.path.exists(out):
        print(f"perfbench: {args.workload} failed (exit {child.returncode})", file=sys.stderr)
        return 1
    with open(out) as f:
        result = json.load(f)
    os.remove(out)
    peak_heap = peak_heap_after_gc_mb(gc_log)
    if os.path.exists(gc_log):
        os.remove(gc_log)

    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    values = dict(result["metrics"], peak_rss_mb=peak / 2**20, peak_heap_mb=peak_heap)
    if args.trace:
        values = result["layers"]
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    detail = dict(result["detail"], environment={k: env[k] for k in (
        "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_LOCAL_DIRS", "PYTHONPATH")},
        end_to_end=values if not args.trace else None)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
